"""Fused document-annotation operator.

One mapInPandas stage runs sanitize -> segment -> tokenize -> tag -> NER
per Arrow batch (stage order mirrors the reference's NewDocument pipeline,
document.go:199-250). Fusing all NLP stages into a single Python stage
avoids one Arrow round-trip per stage (SURVEY.md §4.3); models load once
per Python worker via module-level lazy singletons.

Scale notes:
- the stage is embarrassingly parallel across documents — no shuffle;
- put native filters (lang = 'en', length guards) BEFORE annotate() so
  Catalyst pushes them into the scan instead of below a Python stage;
- Arrow batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  so a worker holds at most ~2k docs of nested output at once;
- size partitions COARSE for Python stages: each mapInPandas task pays
  ~0.2-0.3s of fixed setup regardless of size (measured on this host),
  so target >= several hundred docs per task — over-partitioning to
  cores*6 cost ~25% throughput and ~0.15 scaling efficiency at
  local[8] vs cores*2.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from prose_spark.schemas import ANNOTATION_FIELDS


class DocumentTimeout(TimeoutError):
    """Raised when a per-document time budget expires between stages —
    the Python analogue of the reference's ctx.Err() return
    (document.go:179-184)."""


@dataclass(frozen=True)
class AnnotateConfig:
    """Document options (document.go:29-148; defaults match
    defaultOpts:139-148).

    - ``timeout_sec`` (WithTimeout/WithContext): cooperative per-document
      budget, checked BEFORE each stage exactly like the reference's
      ctx.Done() selects — an in-flight stage is never interrupted.
      ``timeout_sec <= 0`` means NO timeout, matching the reference's
      gate (NewDocument arms a deadline only when Timeout > 0,
      document.go:168-172). Default None also means no timeout — a
      DELIBERATE divergence from the reference's single-doc default of
      30s (defaultOpts, document.go:139-148): the bulk Spark path must
      never silently shed slow documents on a noisy host, so budgets are
      strictly opt-in here (pass a positive timeout_sec to get the
      reference's 30s behavior);
    - ``progress_callback`` (WithProgressCallback): called with
      0.25/0.5/0.75/1.0 after segment/tokenize/tag/NER;
    - ``tokenizer`` (UsingTokenizer), ``tagger``/``ner`` (UsingModel):
      custom kernels for local use — e.g. a PRODUCT-trained MaxentNER;
    - ``ner_path``: UsingModel by artifact path, resolved lazily inside
      each Spark worker (keeps multi-MB weight matrices out of task
      closures; loaded once per worker process).

    TokenPool (WithTokenPool) is n/a under Arrow batching.
    """

    segment: bool = True
    tag: bool = True
    extract: bool = True
    max_text_bytes: int = 1 << 20  # defensive cap per document
    timeout_sec: float | None = None
    progress_callback: Callable[[float], None] | None = None
    tokenizer: object | None = None
    tagger: object | None = None
    ner: object | None = None
    ner_path: str | None = None


# plan nodes that carry a layout the caller chose; Project and Filter
# above one keep it (both are map-side)
_LAYOUT_NODES = frozenset(("Repartition", "RepartitionByExpression",
                           "InMemoryRelation"))
_PASS_THROUGH_NODES = frozenset(("Project", "Filter"))
_log = logging.getLogger("prose_spark")
_spread_warned = False


def _caller_chose_layout(df: DataFrame) -> bool:
    """True when the optimized plan's top node, looking through Project
    and Filter, is a Repartition (``repartition``/``coalesce``), a
    RepartitionByExpression or a cached InMemoryRelation."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in _PASS_THROUGH_NODES:
        node = node.child()
    return node.getClass().getSimpleName() in _LAYOUT_NODES


def spread_compute_input(df: DataFrame) -> DataFrame:
    """Repartition a compute-bound stage's input to the session's
    parallelism when it arrives under-partitioned — a small parquet
    input loads as 1-2 byte-split partitions and would serialize the
    Python kernel onto 1-2 cores (AQE coalesces by BYTES and cannot see
    compute weight).

    Deliberately honors the caller's partitioning: if the plan's top
    node (through Project/Filter) is an explicit Repartition/Coalesce
    or a cached (InMemoryRelation) frame, the caller chose that layout
    — e.g. a concurrency-controlled measurement leg or a co-location
    contract — and the spread must not override it. A layout buried
    under a join, union or aggregate no longer sets the partition
    count, so such inputs are spread. At scale inputs carry enough
    partitions and this whole function is a no-op."""
    global _spread_warned
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= p or _caller_chose_layout(df):
            return df
    except Exception:
        # the spread is an optimization: a plan it cannot read keeps the
        # caller's partitioning instead of failing the job
        if not _spread_warned:
            _spread_warned = True
            _log.warning("input spread skipped: cannot inspect the plan; "
                         "the input keeps its partitioning", exc_info=True)
        return df
    return df.repartition(p)


_NER_BY_PATH: dict[str, object] = {}


def _resolve_ner(cfg: AnnotateConfig):
    from prose_spark.nlp.ner import MaxentNER, default_ner

    if cfg.ner is not None:
        return cfg.ner
    if cfg.ner_path is not None:
        model = _NER_BY_PATH.get(cfg.ner_path)
        if model is None:
            model = _NER_BY_PATH[cfg.ner_path] = MaxentNER.load(cfg.ner_path)
        return model
    return default_ner()


def annotate_document(text: str, cfg: AnnotateConfig = AnnotateConfig()):
    """Pure per-document kernel -> (sentences, tokens, entities).

    sentences: (text, start, end) byte offsets into ORIGINAL text;
    tokens: (text, tag, label, start, end, confidence, sent_idx) byte
    offsets into SANITIZED text; entities coalesced from IOB runs.
    Raises DocumentTimeout if cfg.timeout_sec expires between stages.
    """
    from prose_spark.nlp.ner import chunk as ner_chunk
    from prose_spark.nlp.segmenter import default_segmenter
    from prose_spark.nlp.tagger import default_tagger
    from prose_spark.nlp.tokenizer import sanitize, tokenize_with_offsets

    if text is None:
        text = ""
    if len(text) > cfg.max_text_bytes:
        text = text[: cfg.max_text_bytes]

    # resolve models BEFORE starting the clock: one-time per-worker model
    # loads must not count against the first document's budget
    segmenter = default_segmenter() if cfg.segment else None
    tagger = cfg.tagger if cfg.tagger is not None else default_tagger()
    ner = _resolve_ner(cfg) if cfg.extract else None

    # armed only for POSITIVE budgets — the reference treats Timeout <= 0
    # as "no timeout" (document.go:168-172) and so do we
    deadline = (
        time.monotonic() + cfg.timeout_sec
        if cfg.timeout_sec is not None and cfg.timeout_sec > 0 else None
    )

    def check_deadline():
        if deadline is not None and time.monotonic() > deadline:
            raise DocumentTimeout(
                f"document processing exceeded {cfg.timeout_sec}s"
            )

    report = cfg.progress_callback or (lambda p: None)

    check_deadline()
    sentences = segmenter.segment(text) if cfg.segment else []
    if cfg.segment:
        report(0.25)

    check_deadline()
    if cfg.tokenizer is not None:
        toks = cfg.tokenizer.tokenize(text)
    else:
        toks = tokenize_with_offsets(text)
    words = [t for t, _, _ in toks]
    report(0.5)

    tag_stage = cfg.tag or cfg.extract
    if tag_stage:
        check_deadline()
    tags = tagger.tag(words) if tag_stage else [""] * len(words)
    if tag_stage:
        report(0.75)

    # sentence spans in sanitized-byte space, for token->sentence assignment
    sent_spans_clean: list[tuple[int, int]] = []
    if sentences:
        from prose_spark.nlp.tokenizer import _SANITIZE_RE

        if _SANITIZE_RE.search(text) is None:
            # fast path: no sanitize target anywhere in the document, so
            # sanitize() is the identity on every substring and the
            # sentence byte offsets ARE the sanitized-space spans
            sent_spans_clean = [(s, e) for _, s, e in sentences]
        else:
            orig_b = text.encode("utf-8")
            cursor = 0
            clean_cursor = 0
            for _, s, e in sentences:
                gap = orig_b[cursor:s].decode("utf-8", "surrogateescape")
                clean_cursor += len(
                    sanitize(gap).encode("utf-8", "surrogateescape"))
                seg = orig_b[s:e].decode("utf-8", "surrogateescape")
                clean_len = len(
                    sanitize(seg).encode("utf-8", "surrogateescape"))
                sent_spans_clean.append(
                    (clean_cursor, clean_cursor + clean_len))
                clean_cursor += clean_len
                cursor = e

    def sent_of(start: int) -> int:
        for i, (s, e) in enumerate(sent_spans_clean):
            if s <= start < e:
                return i
        return -1

    # NER runs over the whole token stream (document.go:239-250)
    if cfg.extract and words:
        check_deadline()
        labels, confs = ner.classify(words, tags)
    else:
        labels, confs = ["O"] * len(words), [0.0] * len(words)

    # binary-search-free sent assignment: tokens & sentences are both
    # ordered, walk with a moving index
    tokens = []
    si = 0
    n_spans = len(sent_spans_clean)
    for (w, s, e), tag, label, conf in zip(toks, tags, labels, confs):
        while si < n_spans and s >= sent_spans_clean[si][1]:
            si += 1
        idx = si if si < n_spans and sent_spans_clean[si][0] <= s else -1
        tokens.append(
            {"text": w, "tag": tag, "label": label, "start": s, "end": e,
             "confidence": conf, "sent_idx": idx}
        )

    entities = []
    if cfg.extract:
        for ent in ner_chunk(tokens):
            ent["sent_idx"] = sent_of(ent["start"])
            entities.append(ent)
        report(1.0)

    sents = [{"text": t, "start": s, "end": e} for t, s, e in sentences]
    return sents, tokens, entities


def annotate(
    df: DataFrame,
    text_col: str = "text",
    cfg: AnnotateConfig = AnnotateConfig(),
    timeout_acc=None,
) -> DataFrame:
    """Add sentences/tokens/entities nested columns to ``df``, plus an
    ``annotate_error`` column (NULL on success, 'timeout' when the
    per-document budget expired) — a timed-out doc is observable, never
    indistinguishable from a genuinely empty one. ``timeout_acc``: an
    optional ``spark.sparkContext.accumulator(0)`` incremented once per
    timed-out document, for job-level counts across all partitions."""
    # compute-bound Python stage: spread an under-partitioned input to
    # the session's parallelism (explicit caller partitioning is
    # honored — see spread_compute_input)
    df = spread_compute_input(df)

    out_schema = T.StructType(
        list(df.schema.fields) + list(ANNOTATION_FIELDS)
        + [T.StructField("annotate_error", T.StringType())]
    )

    def run(batches):
        for pdf in batches:
            sents_col, toks_col, ents_col, err_col = [], [], [], []
            for text in pdf[text_col]:
                try:
                    s, t, e = annotate_document(text, cfg)
                    err = None
                except DocumentTimeout:
                    # per-document failure semantics (the reference's
                    # NewDocument returns an error for THAT document):
                    # emit empty annotations + the error, never abort
                    s, t, e, err = [], [], [], "timeout"
                    if timeout_acc is not None:
                        timeout_acc.add(1)
                sents_col.append(s)
                toks_col.append(t)
                ents_col.append(e)
                err_col.append(err)
            pdf = pdf.copy()
            pdf["sentences"] = sents_col
            pdf["tokens"] = toks_col
            pdf["entities"] = ents_col
            pdf["annotate_error"] = err_col
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
