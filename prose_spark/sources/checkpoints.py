"""Checkpoint/resume + per-partition lineage & metrics (SURVEY.md §2.K
K6/K7).

The KG job processes the pages corpus in URL-hash buckets (at production
scale: Iceberg partitions of days(warc_ts) x bucket(url)). Each bucket is
an independent unit of work:

- output triples land under  <out>/triples/bucket=<b>/   (partitioned
  parquet; Iceberg append at production);
- a done-marker row with lineage + metrics is appended to
  <out>/_done/bucket=<b>/ after the bucket's write completes (marker
  written AFTER data => crash between the two re-processes the bucket,
  overwrite semantics make that idempotent);
- on restart, finished buckets are skipped via an anti-join of the work
  list against the done markers.

Metrics per bucket: row counts in/out, triples, wall time, input lineage
(source path + bucket id + code version) — queryable as a plain DataFrame.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prose_spark import __version__
from prose_spark.session import iceberg_on_classpath

DONE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_triples", T.LongType()),
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("source_path", T.StringType()),
        T.StructField("engine_version", T.StringType()),
        T.StructField("finished_at", T.TimestampType()),
        # vs-gold quality metrics (null when no gold table was supplied)
        T.StructField("precision", T.DoubleType()),
        T.StructField("recall", T.DoubleType()),
        # docs dropped by the per-document timeout budget (0 when the job
        # runs with the default no-timeout config; null in pre-r3 markers)
        T.StructField("n_doc_timeouts", T.LongType()),
        # input lineage: order-independent, multiplicity-aware sum of
        # xxhash64(url, text) over the bucket's input docs (decimal sum
        # folded into a long) — a resume against an input that changed
        # under the same path shows a different fingerprint in the new
        # markers (null in pre-r4 markers)
        T.StructField("input_fingerprint", T.LongType()),
    ]
)


def kg_gold_metrics(
    spark: SparkSession, out_dir: str, gold: DataFrame, n_buckets: int
) -> dict[int, tuple[float, float]]:
    """Per-bucket precision/recall of the WRITTEN triples against a gold
    (url, subj, pred, obj) table — set semantics over distinct triples,
    matching the repo's recall oracle. All joins distributed; only the
    tiny per-bucket counts reach the driver.

    Note: when the gold table covers only a subset of true triples (the
    synthetic generator's gold lists only TEMPLATED sentences), recall is
    the meaningful signal and precision is a floor — extra correct
    extractions from non-templated text count against it."""
    t = (
        read_triples(spark, out_dir)
        .select("bucket", "url", "subj", "pred", "obj")
        .dropDuplicates(["url", "subj", "pred", "obj"])
    )
    g = (
        with_bucket(gold, n_buckets)
        .select("bucket", "url", "subj", "pred", "obj")
        .dropDuplicates(["url", "subj", "pred", "obj"])
    )
    t_cnt = t.groupBy("bucket").agg(F.count("*").alias("n_pred"))
    g_cnt = g.groupBy("bucket").agg(F.count("*").alias("n_gold"))
    m_cnt = (
        t.join(g.drop("bucket"), ["url", "subj", "pred", "obj"])
        .groupBy("bucket")
        .agg(F.count("*").alias("n_match"))
    )
    rows = (
        g_cnt.join(t_cnt, "bucket", "full")
        .join(m_cnt, "bucket", "left")
        .fillna(0)
        .collect()
    )
    return {
        r["bucket"]: (
            r["n_match"] / r["n_pred"] if r["n_pred"] else 0.0,
            r["n_match"] / r["n_gold"] if r["n_gold"] else 1.0,
        )
        for r in rows
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the classpath AND a Spark
    catalog is configured to use it — the capability check gating the
    production sink (this sandbox image has neither, so the parquet
    fallback runs)."""
    if not iceberg_on_classpath(spark):
        return False
    pairs = spark.sparkContext.getConf().getAll()
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in pairs
    )


def write_triples_sink(spark: SparkSession, triples: DataFrame,
                       out_dir: str, iceberg_table: str | None = None) -> None:
    """Sink dispatch for one write wave.

    Production path (Iceberg catalog configured): `writeTo(table)
    .overwritePartitions()` — a bucket-partitioned Iceberg table gets
    atomic dynamic-partition replacement with snapshot isolation, and
    resume reads the table's own metadata. Sandbox path: dynamic
    partition-overwrite parquet under <out_dir>/triples (same
    idempotent-overwrite semantics, directory-level).

    Passing ``iceberg_table`` without an Iceberg catalog raises
    immediately with a clear message rather than silently writing
    parquet somewhere else.
    """
    if iceberg_table is not None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg_table requested but no Iceberg catalog is "
                "configured in this session (set spark.sql.catalog.* to "
                "org.apache.iceberg.spark.SparkCatalog and add the "
                "iceberg-spark-runtime jar); in this sandbox use the "
                "parquet fallback (iceberg_table=None)"
            )
        # Dispatch on explicit table existence, NOT on write failure: a
        # bare try/except here would turn any transient commit conflict /
        # schema mismatch on wave N into a createOrReplace that destroys
        # waves 0..N-1 while their done markers still say complete. First
        # write creates (never replaces); after that, every failure from
        # overwritePartitions propagates and aborts the wave before its
        # done marker is recorded, so resume re-runs it.
        if not spark.catalog.tableExists(iceberg_table):
            (triples.writeTo(iceberg_table)
             .partitionedBy(F.col("bucket")).create())
        else:
            triples.writeTo(iceberg_table).overwritePartitions()
        return
    triples.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{out_dir}/triples"
    )


def with_bucket(df: DataFrame, n_buckets: int, key_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    done_path = Path(out_dir) / "_done"
    if not done_path.exists():
        return set()
    df = spark.read.schema(DONE_SCHEMA).json(str(done_path))
    return {r.bucket for r in df.select("bucket").distinct().collect()}


def record_done(out_dir: str, metrics: dict) -> None:
    """Append one done-marker JSON line (atomic rename per bucket)."""
    done_dir = Path(out_dir) / "_done"
    done_dir.mkdir(parents=True, exist_ok=True)
    tmp = done_dir / f".bucket_{metrics['bucket']}.tmp"
    final = done_dir / f"bucket_{metrics['bucket']}.json"
    tmp.write_text(json.dumps(metrics) + "\n")
    tmp.rename(final)


def run_kg_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    gold: DataFrame | None = None,
    timeout_sec: float | None = None,
    iceberg_table: str | None = None,
    source_path: str = "pages",
) -> DataFrame:
    """Resumable KG-construction job, single-pass: pages -> triples
    parquet partitioned by bucket.

    ONE scan of pages computes and writes ALL pending buckets via
    dynamic-partition-overwrite (Iceberg append at production) — no
    per-bucket driver loop re-filtering the full input. Per-bucket
    metrics after the write: triple counts come from the just-written
    partitions (partition-pruned, parquet-footer counts); doc counts and
    the input-lineage fingerprint share one aggregation that re-reads
    url + text for the wave's buckets — one extra scan of the text
    column per wave, the price of content-addressed lineage (at
    production, fold the hash during the annotate pass or keep a
    content-hash column in the Iceberg table to put the metrics pass
    back on metadata). Done markers land after the write, so a crash between write
    and marker re-overwrites only those partitions on resume
    (idempotent); finished buckets are skipped via the marker set.

    ``fail_after_bucket`` switches to one-bucket waves and injects a
    crash for the pytest kill/restart test.

    ``timeout_sec`` opts into a per-document budget; dropped docs are
    counted via a Spark accumulator and recorded as ``n_doc_timeouts``
    in every done marker, so a slow-host wave that sheds documents is
    visible in the lineage, not silently "done".
    """
    from prose_spark.operators.annotate import AnnotateConfig
    from prose_spark.operators.triples import annotate_and_extract_triples

    en = pages.filter(F.col("lang") == "en").select("url", "text")
    work = with_bucket(en, n_buckets)
    finished = done_buckets(spark, out_dir)
    pending = [b for b in range(n_buckets) if b not in finished]
    # normal path: one wave = one scan; crash-injection path keeps the
    # old bucket-at-a-time granularity so the kill lands mid-job
    if fail_after_bucket is not None:
        waves = [[b] for b in pending]
    else:
        waves = [pending] if pending else []

    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run_metrics = []
    try:
        for wave in waves:
            t0 = time.time()
            part = work.filter(F.col("bucket").isin(wave))
            timeout_acc = (
                spark.sparkContext.accumulator(0)
                if timeout_sec is not None else None
            )
            triples = annotate_and_extract_triples(
                part, key_cols=("url", "bucket"),
                cfg=AnnotateConfig(timeout_sec=timeout_sec),
                timeout_acc=timeout_acc,
            )
            write_triples_sink(spark, triples, out_dir,
                               iceberg_table=iceberg_table)
            wall = round(time.time() - t0, 3)
            n_timeouts = timeout_acc.value if timeout_acc is not None else 0
            try:
                written = (
                    spark.read.table(iceberg_table) if iceberg_table
                    else spark.read.parquet(f"{out_dir}/triples")
                )
                tri_counts = {
                    r["bucket"]: r["n"]
                    for r in written
                    .filter(F.col("bucket").isin(wave))
                    .groupBy("bucket")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            except AnalysisException as e:
                # benign ONLY when zero triples were ever written: the
                # path is missing, or it holds no parquet footers to
                # infer from (an all-empty partitioned write). Anything
                # else (corruption, permission) aborts the wave rather
                # than recording n_triples=0 done markers.
                cond = getattr(e, "getCondition", lambda: None)() or str(e)
                benign = ("PATH_NOT_FOUND" in cond
                          or "UNABLE_TO_INFER_SCHEMA" in cond
                          or "Path does not exist" in str(e))
                if not benign:
                    raise
                tri_counts = {}
            # doc counts + input lineage fingerprint in ONE agg pass:
            # SUM of xxhash64(url, text) in decimal (order-independent
            # AND multiplicity-aware — an xor fold would cancel
            # even-multiplicity duplicates, letting pair-swapped input
            # keep its fingerprint), wrapped into the marker's long via
            # pmod. A resume against input that changed under the same
            # path is detectable from the markers alone.
            fp_sum = F.sum(
                F.xxhash64("url", "text").cast("decimal(38,0)")
            )
            doc_stats = {
                r["bucket"]: (r["n"], r["fp"])
                for r in part.groupBy("bucket")
                .agg(
                    F.count("*").alias("n"),
                    F.pmod(
                        fp_sum, F.lit(2 ** 62).cast("decimal(38,0)")
                    ).cast("long").alias("fp"),
                )
                .collect()
            }
            # optional per-bucket quality metrics vs a gold triple table
            # (SURVEY §2.K K6: "P/R vs golden" per partition)
            pr = (
                kg_gold_metrics(spark, out_dir, gold, n_buckets)
                if gold is not None else {}
            )
            finished_at = time.strftime("%Y-%m-%dT%H:%M:%S")
            for b in wave:
                p, r = pr.get(b, (None, None))
                n_docs_b, fp_b = doc_stats.get(b, (0, None))
                metrics = {
                    "bucket": b,
                    "n_docs": n_docs_b,
                    "n_triples": tri_counts.get(b, 0),
                    "wall_sec": wall,
                    "source_path": source_path,
                    "engine_version": __version__,
                    "finished_at": finished_at,
                    "precision": round(p, 4) if p is not None else None,
                    "recall": round(r, 4) if r is not None else None,
                    # accumulators are wave-scoped: this is the count for
                    # the write wave that produced this marker (== the
                    # bucket itself in one-bucket waves)
                    "n_doc_timeouts": n_timeouts,
                    "input_fingerprint": fp_b,
                }
                record_done(out_dir, metrics)
                run_metrics.append(metrics)
            if fail_after_bucket is not None and wave[-1] >= fail_after_bucket:
                raise RuntimeError(
                    f"injected failure after bucket {wave[-1]}"
                )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )

    if not run_metrics:
        return spark.createDataFrame([], DONE_SCHEMA)
    return spark.createDataFrame(
        [
            (
                m["bucket"], m["n_docs"], m["n_triples"], m["wall_sec"],
                m["source_path"], m["engine_version"], None,
                m.get("precision"), m.get("recall"),
                m.get("n_doc_timeouts", 0),
                m.get("input_fingerprint"),
            )
            for m in run_metrics
        ],
        DONE_SCHEMA,
    )


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/triples")


# one row per normalized surface form (canonicalize.py); a fixed read
# schema spares every read of the table a footer-inference job
CANON_SCHEMA = T.StructType([
    T.StructField("entity_id", T.LongType()),
    T.StructField("canonical_text", T.StringType()),
    T.StructField("norm", T.StringType()),
    T.StructField("n_mentions", T.LongType()),
])


def update_canonical_tables(
    spark: SparkSession,
    out_dir: str,
    new_buckets: set[int] | None = None,
    incremental: bool = False,
    max_bucket_size: int | None = None,
) -> dict:
    """Build or refresh ``<out>/entities_canonical`` and
    ``<out>/triples_canonical`` from the job's triples table.

    ``incremental=True`` is the marker-driven re-canonicalization path:
    only the mentions from ``new_buckets`` (the buckets THIS run
    processed, i.e. the run_kg_job metrics) are folded into the existing
    canonical table via merge_canonicalize — the accumulated vocabulary
    is never re-paired against itself, which at crawl scale is the
    difference between |new| x |vocab| band collisions per increment and
    a full |vocab|^2 re-canonicalization (canonicalize.py
    merge_canonicalize docstring). A missing existing table falls back
    to the batch path (an empty one folds like any other: the merge
    over no existing forms is the batch result over the increment).
    Uncapped incremental output is row-for-row equal to a batch run over
    the union (the pytest-pinned merge contract); capped mode keeps
    committed clusters stable by design.

    The canonical-TRIPLES projection is always rebuilt over the full
    triples table: entity ids are content-addressed on the canonical
    surface, and folding new mentions into a cluster can re-pick its
    canonical form — old rows' ids must follow. That rebuild is two
    broadcast hash joins over already-extracted triples (no annotate
    re-run), linear in triples with no shuffle skew from hot entities.

    Returns ``{"path": "batch"|"incremental"|"noop", "n_forms": int,
    "n_canon_triples": int}``; the counts are observed during the
    writes.
    """
    from pyspark.sql import Observation

    from prose_spark.operators.canonicalize import (
        canonicalize_mentions,
        merge_canonicalize,
        norm_col,
    )

    canon_path = f"{out_dir}/entities_canonical"
    triples_path = f"{out_dir}/triples_canonical"
    triples = read_triples(spark, out_dir)

    existing = None
    if incremental:
        try:
            existing = spark.read.schema(CANON_SCHEMA).parquet(canon_path)
        except AnalysisException:
            existing = None

    if incremental and existing is not None and not new_buckets:
        # fully-resumed run: nothing new to fold; keep the table as-is
        # (still build the triples projection if a crash left it missing).
        # Report the EXISTING tables' real counts — zeros here read as a
        # failed canonicalization in job logs (r6 ADVICE)
        if Path(triples_path, "_SUCCESS").exists():
            return {
                "path": "noop",
                "n_forms": existing.count(),
                "n_canon_triples": spark.read.parquet(triples_path).count(),
            }
        canon = existing
        path_taken = "noop"
    elif incremental and existing is not None:
        new_triples = triples.filter(
            F.col("bucket").isin(list(new_buckets))
        )
        new_mentions = new_triples.select(
            F.col("subj").alias("text")
        ).unionAll(new_triples.select(F.col("obj").alias("text")))
        # materialize BEFORE overwriting the parquet the merge reads:
        # its output lineage scans canon_path (the accumulated table is
        # never copied into the fold), so writing the lazy result over
        # that path would fail. The checkpoint also feeds the triples
        # rebuild below without a re-read.
        canon = merge_canonicalize(
            new_mentions, existing, max_bucket_size=max_bucket_size
        ).localCheckpoint()
        path_taken = "incremental"
    else:
        mentions = triples.select(
            F.col("subj").alias("text")
        ).unionAll(triples.select(F.col("obj").alias("text")))
        canon = canonicalize_mentions(
            mentions, max_bucket_size=max_bucket_size
        )
        path_taken = "batch"

    if path_taken == "noop":
        n_forms = canon.count()
    else:
        forms = Observation()
        canon.observe(forms, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(canon_path)
        n_forms = forms.get["n"]
        if path_taken == "batch":
            canon = spark.read.schema(CANON_SCHEMA).parquet(canon_path)

    # join surfaces through the SAME normalization that built the
    # canonical table (plain lower() would never match punctuated
    # surfaces like "Acme Corp."); the canonical table is small ->
    # broadcast, so hot entities cause no shuffle skew. norm is unique
    # in it, and both joins use the SAME frame, so one broadcast serves
    # both.
    ids = F.broadcast(canon.select("norm", "entity_id"))
    subj, obj = ids.alias("s"), ids.alias("o")
    written = Observation()
    (
        triples
        .join(subj, norm_col("subj") == F.col("s.norm"), "left")
        .join(obj, norm_col("obj") == F.col("o.norm"), "left")
        .select(F.col("s.entity_id").alias("subj_id"), "pred_norm",
                F.col("o.entity_id").alias("obj_id"), "url", "confidence")
        .observe(written, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite").parquet(triples_path)
    )
    return {
        "path": path_taken,
        "n_forms": n_forms,
        "n_canon_triples": written.get["n"],
    }
