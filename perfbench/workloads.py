"""The three workloads: set-up, one timed operation, output checks and
the traced phase of each.

Every workload is a closed loop with one caller in one driver process:
the next operation starts when the previous one has returned.

- ``doc_api``: the per-document library API, no Spark. One operation is
  one page through ``annotate_document`` and ``extract_triples_doc``.
- ``crawl_batch``: the batch KG job at ``local[2]`` as
  ``scripts/run_kg_job.py --canonicalize --entity-stats`` runs it, plus
  ``triple_support``. One operation is one pass over the pages table.
- ``entity_increments``: small page increments folded one after another
  into a growing KG. One operation is one increment.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import subprocess
import sys
import time
from collections import Counter
from contextlib import nullcontext
from pathlib import Path

import corpus
from layers import SPARK_SPAN_MOVES

# the program's layers, as imported by the calls below
from prose_spark.nlp import ner as ner_mod
from prose_spark.nlp import segmenter as seg_mod
from prose_spark.nlp import tagger as tagger_mod
from prose_spark.nlp import tokenizer as tok_mod
from prose_spark.operators import annotate as annotate_mod
from prose_spark.operators import triples as triples_mod

SPARK_CORES = 2
SETUP_REPEATS = 3

# spans around Spark layers; each records the status-store counters
# of the jobs it starts
SPARK_SPANS = tuple(SPARK_SPAN_MOVES)
SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "gc_s",
                  "sched_wait_s")
BOUNDARY = ("kernel_task_s", "kernel_task_cpu_s", "py_rows_in",
            "py_bytes_in", "py_bytes_out")
CANON_COUNTS = ("forms", "components", "pairs", "new_forms", "vocab_forms")
WRITE_COUNTS = ("canon_triples_rewritten", "rows_written_per_new_form",
                "useful_write_ratio")
NLP_SPANS = (
    # metric name, span name
    ("segmenter.ms_per_kdoc", "segmenter.segment"),
    ("tokenizer.ms_per_kdoc", "tokenizer.tokenize_with_offsets"),
    ("tagger.ms_per_kdoc", "tagger.tag"),
    ("ner.classify_ms_per_kdoc", "ner.classify"),
    ("ner.chunk_ms_per_kdoc", "ner.chunk"),
    ("triples.ms_per_kdoc", "triples.extract_triples_doc"),
)
NLP_COUNTS = ("segmenter.sentences", "tokenizer.tokens", "ner.entities",
              "triples.triples")


def doc_triples(text: str) -> list[dict]:
    """The per-document API: NewDocument's analogue, then extraction.
    Looked up on the modules at call time, so the traced phase's
    wrappers see every call."""
    _, tokens, _ = annotate_mod.annotate_document(text)
    return triples_mod.extract_triples_doc(tokens)


def digest(triples: list[dict]) -> str:
    return hashlib.sha256(
        json.dumps(triples, sort_keys=True).encode()).hexdigest()


def kernel_profile(tracer, texts: list[str]) -> tuple[dict, list[str]]:
    """Run the per-document kernel over ``texts`` with every NLP layer
    wrapped; returns per-layer figures per 1,000 documents and the
    per-document triple digests."""
    counts = dict.fromkeys(NLP_COUNTS, 0)
    # one-time model loads are set-up, not per-document work
    seg_mod.default_segmenter()
    tagger_mod.default_tagger()
    ner_mod.default_ner()

    def counter(key):
        def after(out):
            counts[key] += len(out)
            return out
        return after

    tracer.wrap(annotate_mod, "annotate_document",
                "annotate.annotate_document")
    tracer.wrap(seg_mod.PunktSegmenter, "segment",
                "segmenter.segment", after=counter("segmenter.sentences"))
    tracer.wrap(tok_mod, "tokenize_with_offsets",
                "tokenizer.tokenize_with_offsets",
                after=counter("tokenizer.tokens"))
    tracer.wrap(tagger_mod.PerceptronTagger, "tag", "tagger.tag")
    tracer.wrap(ner_mod.MaxentNER, "classify", "ner.classify")
    tracer.wrap(ner_mod, "chunk", "ner.chunk",
                after=counter("ner.entities"))
    tracer.wrap(triples_mod, "extract_triples_doc",
                "triples.extract_triples_doc",
                after=counter("triples.triples"))
    try:
        digests = [digest(doc_triples(t)) for t in texts]
    finally:
        tracer.close()
    per_k = 1000.0 / max(len(texts), 1)
    out = {metric: tracer.total_s(span) * 1000 * per_k
           for metric, span in NLP_SPANS}
    out["annotate.self_ms_per_kdoc"] = (
        tracer.self_s("annotate.annotate_document") * 1000 * per_k)
    out.update(counts)
    out["ner.memo_entries"] = len(
        getattr(ner_mod.default_ner(), "_static_memo", ()))
    out["segmenter.memo_entries"] = len(
        getattr(seg_mod.default_segmenter(), "_fp_memo", ()))
    return out, digests


def zero_layers() -> dict:
    """Every Spark-layer metric at zero, for workloads that do not reach
    those layers."""
    out = {f"{s}_s": 0.0 for s in SPARK_SPANS
           if s != "checkpoints.update_canonical_tables"}
    out["checkpoints.update_canonical_tables.self_s"] = 0.0
    out["checkpoints.post_write_s"] = 0.0
    for s in SPARK_SPANS:
        for c in SPARK_COUNTERS:
            out[f"{s}.{c}"] = 0
    out.update({f"triples.{k}": 0 for k in BOUNDARY})
    out.update({f"canonicalize.{k}": 0 for k in CANON_COUNTS})
    out.update({f"checkpoints.{k}": 0 for k in WRITE_COUNTS})
    return out


class Workload:
    """Base: ``setup`` is timed SETUP_REPEATS times, ``prime`` runs
    untimed before the timed loop, ``op`` is one timed operation
    returning the pages it completed (raising when it fails)."""

    name = ""
    # what attempted/failed count: pages, or increments
    units_per_op = 1

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.failures: list[str] = []
        self.notes: dict = {}  # check figures, for the diagnostic line
        self.spans: list[dict] = []  # the traced phase's spans

    def setup(self) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        """Undo the previous set-up; not part of the next one's time."""

    def timed_setup(self) -> float:
        self.teardown()
        t0 = time.perf_counter()
        self.setup()
        return time.perf_counter() - t0

    def clear_outputs(self) -> None:
        """Remove what an earlier run left behind."""

    def prime(self) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> None:
        """Append a message to ``self.failures`` for each failed check."""

    def traced(self, untraced_docs_per_s: float) -> dict:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def fail(self, msg: str) -> None:
        self.failures.append(f"{self.name}: {msg}")


# -- doc_api ---------------------------------------------------------------


class DocApi(Workload):
    """Pages with ~50% templated sentences whose names come from a large
    generated name space: the NER and segmenter memos keep missing and
    growing. Set-up runs in a fresh interpreter each time (import, model
    load, input generation, warm-up), since models load once per
    process."""

    name = "doc_api"
    N_DOCS = 20_000  # more than a run reaches
    N_WARM = 200
    N_TRACE = 1000
    N_CHECK = 50

    def setup(self) -> None:
        d = corpus.cached(self.work, self.name, self.seed, self._build)
        self.docs = json.loads((d / "docs.json").read_text())
        for text in self.docs[-self.N_WARM:]:
            doc_triples(text)
        self.digests: list[str] = []

    def _build(self, d: Path) -> None:
        (d / "docs.json").write_text(
            json.dumps(corpus.doc_api_docs(self.seed, self.N_DOCS)))

    def timed_setup(self) -> float:
        """One set-up in a fresh interpreter, timed from its launch."""
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, str(Path(__file__).with_name("run.py")),
             "--workload", self.name, "--seed", str(self.seed),
             "--seconds", "0", "--trace", "0", "--setup-only"],
            check=True, stdout=subprocess.DEVNULL)
        return time.perf_counter() - t0

    def prime(self) -> None:
        self.setup()  # this process's own

    def op(self, i: int) -> int:
        self.digests.append(digest(doc_triples(self.docs[i])))
        return 1

    def check(self) -> None:
        # memoized kernels must give the same triples on a second visit
        rng = random.Random(self.seed)
        for i in rng.sample(range(len(self.digests)),
                            min(self.N_CHECK, len(self.digests))):
            if digest(doc_triples(self.docs[i])) != self.digests[i]:
                self.fail(f"doc {i}: triples differ on a second run")

    def traced(self, untraced_docs_per_s: float) -> dict:
        from trace import Tracer

        n = min(self.N_TRACE, len(self.digests))
        texts = self.docs[:n]
        # untraced and traced passes over the same, already-seen pages,
        # so both find the memos equally warm
        t0 = time.perf_counter()
        rerun = [digest(doc_triples(t)) for t in texts]
        plain_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        kernel = Tracer("doc_api")
        out, traced = kernel_profile(kernel, texts)
        self.spans = kernel.spans
        traced_s = time.perf_counter() - t0
        if not (traced == rerun == self.digests[:n]):
            self.fail("per-document triple digests differ between the "
                      "timed and the traced run")
        out.update(zero_layers())
        out["trace.overhead_docs_per_s"] = n / traced_s - n / plain_s
        return out


# -- Spark workloads -------------------------------------------------------


class SparkWorkload(Workload):
    """Session handling shared by the Spark workloads. Each set-up stops
    the previous session (its Python workers end with it) and starts a
    new one, so every set-up pays worker spawn and model load."""

    spark = None
    extra_conf: dict[str, str] = {}

    def teardown(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self) -> None:
        from prose_spark.session import get_spark

        tmp = self.work / "tmp"
        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every job of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
            **self.extra_conf,
        }
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               cores=SPARK_CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def fresh_dir(self, tag: str) -> str:
        """A new output directory. Nothing is deleted while a run
        measures (unlinking is slow and erratic on some disks): the
        previous run's outputs go in clear_outputs()."""
        self._dirs = getattr(self, "_dirs", 0) + 1
        d = self.work / "out" / f"{tag}-{self._dirs}"
        d.parent.mkdir(parents=True, exist_ok=True)
        return str(d)

    def clear_outputs(self) -> None:
        shutil.rmtree(self.work / "out", ignore_errors=True)

    def close(self) -> None:
        from pyspark import SparkContext

        self.teardown()
        gw = SparkContext._gateway
        if gw is not None:
            # the JVM exits when its stdin closes; wait for it
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def spark_layers(self, tracer, n_ops: int) -> dict:
        """Span times and status-store counters per operation."""
        out = zero_layers()
        for s in SPARK_SPANS:
            if s != "checkpoints.update_canonical_tables":
                out[f"{s}_s"] = tracer.total_s(s) / n_ops
            for k, v in tracer.spark_counters(self.spark, s).items():
                out[f"{s}.{k}"] = v / n_ops
        out["checkpoints.update_canonical_tables.self_s"] = (
            tracer.self_s("checkpoints.update_canonical_tables") / n_ops)
        from trace import python_boundary

        jobs = tracer.job_ids(self.spark, "checkpoints.write_triples_sink")
        for k, v in python_boundary(self.spark, jobs).items():
            out[f"triples.{k}"] = v / n_ops
        return out

    def wrap_spark_layers(self, tracer) -> dict:
        """Install the Spark-layer wrappers; returns the live counts the
        canonicalization wrappers fill in."""
        from prose_spark.operators import canonicalize as canon_mod
        from prose_spark.sources import checkpoints as ckpt_mod

        live = {"pairs": 0}

        def materialize_pairs(df):
            # the band join is lazy; run it inside its own span (the
            # caller's next checkpoint then reads the cached result)
            df = df.localCheckpoint()
            live["pairs"] += df.count()
            return df

        for owner, attr, name in (
            (ckpt_mod, "run_kg_job", "checkpoints.run_kg_job"),
            (ckpt_mod, "write_triples_sink",
             "checkpoints.write_triples_sink"),
            (ckpt_mod, "update_canonical_tables",
             "checkpoints.update_canonical_tables"),
            (canon_mod, "canonicalize_mentions",
             "canonicalize.canonicalize_mentions"),
            (canon_mod, "merge_canonicalize",
             "canonicalize.merge_canonicalize"),
            (canon_mod, "connected_components",
             "canonicalize.connected_components"),
        ):
            tracer.wrap(owner, attr, name, spark=True)
        tracer.wrap(canon_mod, "lsh_candidate_pairs",
                    "canonicalize.lsh_candidate_pairs", spark=True,
                    after=materialize_pairs)
        return live


def _span(tracer, name):
    return tracer.span(name, spark=True) if tracer else nullcontext()


class CrawlBatch(SparkWorkload):
    """Crawl-like pages through the batch job: the kernel, the Arrow
    boundary and the parquet sink dominate; the memos mostly hit."""

    name = "crawl_batch"
    N_PAGES = 1000
    N_WARM = 60
    N_BUCKETS = 8
    N_PROFILE = 200  # pages of the traced kernel profile
    RECALL_FLOOR = 0.95  # tests/ pin the same floor on templated gold

    def setup(self) -> None:
        self.start_session()
        d = corpus.cached(self.work, self.name, self.seed, self._build)
        self.pages_path = str(d / "pages.parquet")
        self.units_per_op = corpus.count_english(self.pages_path)
        self.pass_counts: list[int] = []
        self.last_out = None
        # worker spawn and model load; the pass's later stages are
        # warmed by prime()
        self.kg_job(str(d / "warm.parquet"), self.fresh_dir("warm"))

    def _build(self, d: Path) -> None:
        rows, gold = corpus.crawl_pages(self.seed, self.N_PAGES)
        corpus.write_pages(rows, d / "pages.parquet")
        corpus.write_pages(rows[:self.N_WARM], d / "warm.parquet")
        (d / "gold.json").write_text(json.dumps(gold))

    def kg_job(self, pages_path: str, out: str) -> list:
        """run_kg_job over the pages; returns its done markers."""
        from prose_spark.sources import checkpoints as ckpt_mod
        from prose_spark.sources.pages import read_pages

        return ckpt_mod.run_kg_job(
            self.spark, read_pages(self.spark, pages_path), out,
            n_buckets=self.N_BUCKETS, source_path=pages_path).collect()

    def crawl_pass(self, pages_path: str, out: str, tracer=None) -> int:
        from pyspark.sql import functions as F

        from prose_spark.operators import graph as graph_mod
        from prose_spark.sources import checkpoints as ckpt_mod

        spark = self.spark
        done = self.kg_job(pages_path, out)
        triples = ckpt_mod.read_triples(spark, out)
        n_triples = triples.count()
        with _span(tracer, "triples.triple_support"):
            triples_mod.triple_support(triples).write.parquet(
                out + "/triple_support")
        ckpt_mod.update_canonical_tables(
            spark, out, new_buckets={r.bucket for r in done})
        tri = spark.read.parquet(out + "/triples_canonical")
        with _span(tracer, "graph.entity_degrees"):
            graph_mod.entity_degrees(
                tri, subj_col="subj_id", obj_col="obj_id",
            ).write.parquet(out + "/entity_degrees")
        with _span(tracer, "graph.pagerank"):
            graph_mod.pagerank(
                tri.select(F.col("subj_id").cast("string").alias("src"),
                           F.col("obj_id").cast("string").alias("dst"))
                .distinct(),
                iterations=5,
            ).write.parquet(out + "/entity_pagerank")
        self.pass_counts.append(n_triples)
        self.last_out = out
        return sum(r.n_docs for r in done)

    def prime(self) -> None:
        # two whole passes: the workers' memos fill on the first, the
        # JVM's compiled code settles on the second
        for _ in range(2):
            self.crawl_pass(self.pages_path, self.fresh_dir("prime"))

    def op(self, i: int) -> int:
        return self.crawl_pass(self.pages_path, self.fresh_dir(f"pass{i}"))

    def check(self) -> None:
        counts = self.pass_counts
        if not counts or counts[0] == 0 or len(set(counts)) != 1:
            self.fail(f"triple count differs between passes: {counts}")
        cols = [f.name for f in triples_mod.TRIPLE_TYPE.fields]
        written = Counter(map(tuple, self.spark.read.parquet(
            self.last_out + "/triples").select("url", *cols).collect()))
        # every page's written triples equal the in-process kernel's on
        # the same text
        want = Counter(
            (p["url"],) + tuple(t[c] for c in cols)
            for p in corpus.read_rows(self.pages_path) if p["lang"] == "en"
            for t in doc_triples(p["text"]))
        if written != want:
            self.fail(f"{sum((written - want).values())} written triples "
                      f"not from the in-process kernel, "
                      f"{sum((want - written).values())} missing")
        gold = json.loads(
            (Path(self.pages_path).parent / "gold.json").read_text())
        at = ["url", *cols].index
        got = {(t[0], t[at("subj")], t[at("pred")], t[at("obj")])
               for t in written}
        recall = sum(tuple(g) in got for g in gold) / max(len(gold), 1)
        self.notes["gold_recall"] = recall
        if recall < self.RECALL_FLOOR:
            self.fail(f"templated-gold recall {recall:.3f} < "
                      f"{self.RECALL_FLOOR}")

    def traced(self, untraced_docs_per_s: float) -> dict:
        from trace import Tracer

        tracer = Tracer("crawl_batch", self.spark)
        live = self.wrap_spark_layers(tracer)
        out_dir = self.fresh_dir("traced")
        t0 = time.perf_counter()
        try:
            n_docs = self.crawl_pass(self.pages_path, out_dir, tracer)
        finally:
            tracer.close()
        traced_s = time.perf_counter() - t0
        out = self.spark_layers(tracer, 1)
        out["checkpoints.post_write_s"] = (
            tracer.last_end("checkpoints.run_kg_job")
            - tracer.last_end("checkpoints.write_triples_sink"))
        canon = self.spark.read.parquet(out_dir + "/entities_canonical")
        out["canonicalize.forms"] = canon.count()
        out["canonicalize.components"] = canon.select("entity_id") \
            .distinct().count()
        out["canonicalize.pairs"] = live["pairs"]
        texts = [p["text"] for p in corpus.read_rows(self.pages_path)
                 if p["lang"] == "en"]
        texts = random.Random(self.seed).sample(
            texts, min(self.N_PROFILE, len(texts)))
        kernel = Tracer("crawl_batch-kernel")
        nlp, _ = kernel_profile(kernel, texts)
        self.spans = tracer.spans + kernel.spans
        out.update(nlp)
        out["trace.overhead_docs_per_s"] = (
            n_docs / traced_s - untraced_docs_per_s)
        return out


class EntityIncrements(SparkWorkload):
    """Freshness: small increments of templated pages whose names come
    from surface-variant families, folded one after another into a KG
    that already holds a base of earlier increments. Canonicalization's
    many small jobs dominate; the kernel does little."""

    name = "entity_increments"
    N_BASE = 8          # increments in the KG before the first fold
    PAGES_PER_INC = 25
    N_INCREMENTS = 200  # more than a run reaches
    N_TRACED = 3
    extra_conf = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}

    base = None

    def setup(self) -> None:
        self.start_session()
        self.inputs = corpus.cached(self.work, self.name, self.seed,
                                    self._build)
        if self.base is None:
            # the base KG is built once per run, by the first set-up;
            # later set-ups start from a copy of it
            self.base = self.fresh_dir("base")
            self.fold(self.base, list(range(self.N_BASE)))
        self.out = self.new_kg()

    def _build(self, d: Path) -> None:
        incs = corpus.increment_pages(
            self.seed, self.N_INCREMENTS, self.PAGES_PER_INC)
        for i, rows in enumerate(incs):
            corpus.write_pages(rows, d / f"inc_{i:05d}.parquet")

    def _pages(self, incs):
        from pyspark.sql import functions as F

        from prose_spark.sources.pages import read_pages

        frames = [read_pages(self.spark,
                             str(self.inputs / f"inc_{i:05d}.parquet"))
                  .select("url", "text",
                          F.lit(i).cast("int").alias("bucket"))
                  for i in incs]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    def fold(self, out: str, incs: list[int]) -> None:
        from prose_spark.sources import checkpoints as ckpt_mod

        tri = triples_mod.annotate_and_extract_triples(
            self._pages(incs), key_cols=("url", "bucket"))
        ckpt_mod.write_triples_sink(self.spark, tri, out)
        ckpt_mod.update_canonical_tables(self.spark, out,
                                         new_buckets=set(incs),
                                         incremental=True)

    def new_kg(self) -> str:
        """A copy of the base KG (batch-canonicalized, as no table existed
        yet) after one warm-up fold through the incremental path."""
        out = self.fresh_dir("kg")
        shutil.copytree(self.base, out)
        self.fold(out, [self.N_BASE])
        self.next_inc = self.N_BASE + 1
        return out

    def op(self, i: int) -> int:
        self.fold(self.out, [self.next_inc])
        self.next_inc += 1
        return self.PAGES_PER_INC

    def check(self) -> None:
        from prose_spark.sources import checkpoints as ckpt_mod

        # merge contract: the folded tables equal one batch
        # canonicalization over the union of every increment
        batch = self.fresh_dir("batch")
        self.spark.read.parquet(self.out + "/triples").write \
            .partitionBy("bucket").parquet(batch + "/triples")
        ckpt_mod.update_canonical_tables(self.spark, batch)
        for table in ("entities_canonical", "triples_canonical"):
            inc, full = (Counter(map(tuple, self.spark.read.parquet(
                f"{d}/{table}").collect())) for d in (self.out, batch))
            if not inc or inc != full:
                self.fail(f"incremental {table} differs from batch over the "
                          f"union in {sum((inc - full).values())} + "
                          f"{sum((full - inc).values())} rows")

    def traced(self, untraced_docs_per_s: float) -> dict:
        from trace import Tracer

        out_dir = self.new_kg()
        tracer = Tracer("entity_increments", self.spark)
        live = self.wrap_spark_layers(tracer)
        stats = dict.fromkeys(("new_forms", "vocab_forms", "canon_rows",
                               "written", "useful"), 0)
        fold_s = 0.0
        incs = list(range(self.next_inc, self.next_inc + self.N_TRACED))
        try:
            for i in incs:
                ent0, canon0 = self._tables(out_dir)
                t0 = time.perf_counter()
                self.fold(out_dir, [i])
                fold_s += time.perf_counter() - t0
                ent1, canon1 = self._tables(out_dir)
                n_ent0, n_ent1 = sum(ent0.values()), sum(ent1.values())
                n_canon = sum(canon1.values())
                stats["vocab_forms"] += n_ent0
                stats["new_forms"] += n_ent1 - n_ent0
                stats["canon_rows"] += n_canon
                stats["written"] += n_ent1 + n_canon
                stats["useful"] += (sum((ent1 - ent0).values())
                                    + sum((canon1 - canon0).values()))
        finally:
            tracer.close()
        k = len(incs)
        out = self.spark_layers(tracer, k)
        canon = self.spark.read.parquet(out_dir + "/entities_canonical")
        out["canonicalize.forms"] = canon.count()
        out["canonicalize.components"] = canon.select("entity_id") \
            .distinct().count()
        out["canonicalize.pairs"] = live["pairs"] / k
        out["canonicalize.new_forms"] = stats["new_forms"] / k
        out["canonicalize.vocab_forms"] = stats["vocab_forms"] / k
        out["checkpoints.canon_triples_rewritten"] = stats["canon_rows"] / k
        out["checkpoints.rows_written_per_new_form"] = (
            stats["written"] / max(stats["new_forms"], 1))
        out["checkpoints.useful_write_ratio"] = (
            stats["useful"] / max(stats["written"], 1))
        texts = [r.text for r in self._pages(incs).collect()]
        kernel = Tracer("entity_increments-kernel")
        nlp, _ = kernel_profile(kernel, texts)
        self.spans = tracer.spans + kernel.spans
        out.update(nlp)
        out["trace.overhead_docs_per_s"] = (
            k * self.PAGES_PER_INC / fold_s - untraced_docs_per_s)
        return out

    def _tables(self, out_dir: str) -> list[Counter]:
        """The canonical tables' rows as they are now."""
        return [Counter(map(tuple, self.spark.read.parquet(
            f"{out_dir}/{t}").collect()))
            for t in ("entities_canonical", "triples_canonical")]


WORKLOADS = {w.name: w for w in (DocApi, CrawlBatch, EntityIncrements)}
