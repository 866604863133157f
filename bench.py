"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS], printing ONE COMPACT JSON line:

  {"metric": "triples_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ...,
   "scaling": {...summary...}, "detail_file": "BENCH_DETAIL.json"}

Full measurement detail (kg lo/hi runs, per-triplet efficiencies,
hardware control, fixed-pool scaling, the scale-up block) goes to the
BENCH_DETAIL.json sidecar — the driver's stdout capture keeps only the
final ~2000 characters, and r3's all-in-one line overflowed it, so the
stdout line stays small by construction.

The headline metric is KG-construction throughput (triples/sec) over the
synthetic Common-Crawl-style pages corpus (annotate -> triple extraction),
per BASELINE.json. The scaling block evidences the north rule's N->4N
criterion at two parallelism levels on identical input (sandbox proxy —
no real cluster here; see BASELINE.md for the pair choice rationale).
Timed passes that land in a contended host window (hypervisor steal
above STEAL_RETRY CPUs) are re-measured once while the wall-clock budget
allows — the r3 artifact was a pure host-tenancy sample.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "6000"))
# the scaling triplets run on a 2x corpus: at 6000 pages the local[8]
# pass finishes in ~2.3s, where the ~0.5s of fixed per-run overhead
# (task dispatch, Arrow batch setup, first-wave ramp) caps the
# measurable 2->8 efficiency near 0.74 regardless of how well the
# kernel scales; doubling the corpus doubles the measurement window
# and the same pair reads 0.79-0.96 (steal~0, r5 experiment grid:
# 6k/12k x cores*1/cores*2). Scaling efficiency is about SUSTAINED
# throughput — the north rule's 100 TB case never runs 2-second jobs.
N_PAGES_SCALING = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES",
                                     str(N_PAGES * 2)))
# Scaling-efficiency pair (N -> 4N). A mapInPandas task occupies ~2 cores
# (JVM Arrow feeder thread + Python worker), so on this 32-core box any
# pair whose high side nears 16 slots saturates the machine and a low side
# with idle cores gets free turbo/JVM headroom. 2 -> 8 keeps BOTH runs
# far from saturation so the ratio measures framework scaling, not core
# borrowing; override with SPARK_GRAFT_SCALING_LO/HI.
SCALING_LO = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "2"))
SCALING_HI = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "8"))
# a timed lo/hi pair whose worst steal exceeds this many CPUs is a
# host-tenancy sample, not a measurement: re-run it (bounded by
# RETRY_BUDGET_SEC of elapsed wall clock and MAX_RETRIES total)
STEAL_RETRY = float(os.environ.get("SPARK_GRAFT_STEAL_RETRY", "0.2"))
MAX_RETRIES = 3
# r8: raised 150 -> 240 per the r7 verdict — with the query sweep now
# LAST (it sheds under deadline, the scale legs don't), retry time
# comes out of regression-tracking repetitions instead of the round's
# new scale evidence, so a longer window is affordable
RETRY_BUDGET_SEC = 240.0
# The 2-core leg is the CONTENTION CONTROL: two threads never saturate
# the socket, so across every quiet run since r5 it reads 8.3-8.4k t/s
# regardless of tenancy visible in `steal` — when it lands below this
# band at steal~0, the host is in the documented steal-blind whole-host
# slowdown mode (BASELINE.md run 4; the r6 official artifact) and the
# sample is re-measured after a short sleep. Only meaningful at the
# default lo=2 / 12k-page scaling corpus; any override disables it.
# Set SPARK_GRAFT_CONTROL_BAND_LOW=0 to disable explicitly.
# 7200, re-pinned for the r8 kernel (r5-r7 band was 7700): the r8
# guard batches cost ~6% at chain level (BASELINE.md round-8 kernel
# note), so the quiet 2-core control now reads ~7.4-7.5k t/s — the r8
# first official run read 7478 at steal 0.0 and burned its whole retry
# budget against the stale 7700 floor
CONTROL_BAND_LOW = float(
    os.environ.get("SPARK_GRAFT_CONTROL_BAND_LOW", "7200"))
CONTENTION_SLEEP_SEC = 20.0
# hard self-deadline: the artifact MUST exist — when a contended host
# pushes the run near the external timeout, optional legs are shed
# (query-loop truncation first — the sweep is regression tracking;
# the scale legs are each round's new evidence and run before it —
# then zipf) and the JSON line still prints with everything measured
BENCH_DEADLINE_SEC = float(
    os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "570"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cpu_seconds() -> tuple[float, float]:
    """(busy, steal) CPU seconds for this VM. ``steal`` is time the
    hypervisor withheld vCPUs (field 8 of /proc/stat) — reported per
    phase so host-tenancy noise in the scaling ratio is attributable
    in-artifact."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    busy = (int(parts[1]) + int(parts[2]) + int(parts[3])) / 100.0
    steal = int(parts[8]) / 100.0
    return busy, steal


def kg_throughput(cores: int, pages_path: str) -> dict:
    """Annotate -> triples over the pages corpus at a given parallelism;
    returns docs/sec + triples/sec (workers warmed up before timing)."""
    from pyspark.sql import functions as F

    from prose_spark.operators.triples import annotate_and_extract_triples
    from prose_spark.session import get_spark

    spark = get_spark(app_name=f"bench{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    try:
        pages = spark.read.parquet(pages_path)
        en = pages.filter(F.col("lang") == "en").select("url", "text")
        # cores*2 partitions: a Python (mapInPandas) task costs ~0.2-0.3s
        # of fixed overhead regardless of size, so fine-grained tasks
        # bleed throughput at high parallelism (measured: cores*6 cost
        # ~25% at local[8] and capped scaling efficiency at ~0.65; with
        # cores*2 the same pair measures 0.81-0.86). Random repartition
        # keeps the 2 waves statistically balanced at >500 docs/task.
        en = en.repartition(cores * 2).cache()
        n_docs = en.count()

        # one full untimed pass: loads models once per worker AND fully
        # populates the per-worker memo caches (span/tag/NER-feature)
        annotate_and_extract_triples(en).count()

        c0, s0 = _cpu_seconds()
        t0 = time.time()
        tr = annotate_and_extract_triples(en)
        n_triples = tr.count()
        dt = time.time() - t0
        c1, s1 = _cpu_seconds()
        return {
            "cores": cores,
            "n_docs": n_docs,
            "n_triples": n_triples,
            "seconds": round(dt, 3),
            "docs_per_sec": round(n_docs / dt, 2),
            "triples_per_sec": round(n_triples / dt, 2),
            "cpus_busy": round((c1 - c0) / dt, 2),
            "cpus_steal": round((s1 - s0) / dt, 2),
        }
    finally:
        spark.stop()


def fixed_pool_scaling(pages_path: str, lo: int, hi: int,
                       repeats: int = 2) -> dict:
    """Supplementary scaling evidence with JVM effects held constant: ONE
    local[hi] session, concurrency controlled by partition count
    (coalesce(lo) vs coalesce(hi)), workers warmed once. Isolates the
    framework's parallel-region scaling from session startup, model
    loads, and per-session memo warmup; interleaved repeats + medians
    cancel host-tenancy drift."""
    from pyspark.sql import functions as F

    from prose_spark.operators.triples import annotate_and_extract_triples
    from prose_spark.session import get_spark

    spark = get_spark(app_name="bench_pool", cores=hi,
                      shuffle_partitions=hi)
    try:
        pages = spark.read.parquet(pages_path)
        en = pages.filter(F.col("lang") == "en").select("url", "text")
        en_lo = en.coalesce(lo).cache()
        en_hi = en.coalesce(hi).cache()
        n_docs = en_hi.count()
        en_lo.count()
        # warm all workers at full parallelism
        annotate_and_extract_triples(en_hi).count()

        def timed(df) -> tuple[float, float, float]:
            c0, s0 = _cpu_seconds()
            t0 = time.time()
            n = annotate_and_extract_triples(df).count()
            dt = time.time() - t0
            c1, s1 = _cpu_seconds()
            return n / dt, (c1 - c0) / dt, (s1 - s0) / dt

        lo_runs, hi_runs = [], []
        for _ in range(repeats):
            lo_runs.append(timed(en_lo))
            hi_runs.append(timed(en_hi))
        # symmetric means (a "median" of 2 would silently pick the max)
        avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
        lo_thr = avg([r[0] for r in lo_runs])
        hi_thr = avg([r[0] for r in hi_runs])
        eff = (hi_thr / lo_thr) / (hi / lo)
        return {
            "cores_lo": lo,
            "cores_hi": hi,
            "n_docs": n_docs,
            "thr_lo_triples_per_sec": round(lo_thr, 2),
            "thr_hi_triples_per_sec": round(hi_thr, 2),
            "efficiency": round(eff, 3),
            "cpus_busy_lo": round(avg([r[1] for r in lo_runs]), 2),
            "cpus_busy_hi": round(avg([r[1] for r in hi_runs]), 2),
            "cpus_steal_lo": round(avg([r[2] for r in lo_runs]), 2),
            "cpus_steal_hi": round(avg([r[2] for r in hi_runs]), 2),
        }
    finally:
        spark.stop()


def _pure_worker(docs, out, idx):
    from prose_spark.operators.annotate import annotate_document
    from prose_spark.operators.triples import extract_triples_doc

    for t in docs[:40]:  # warm: model load + memo caches
        _, toks, _ = annotate_document(t)
        extract_triples_doc(toks)
    t0 = time.time()
    n = 0
    for t in docs:
        _, toks, _ = annotate_document(t)
        n += len(extract_triples_doc(toks))
    out[idx] = (n, time.time() - t0)


def hardware_control(pages_path: str, lo: int, hi: int,
                     n_docs: int = 1200) -> dict:
    """Framework-free control: the SAME kernel in bare multiprocessing at
    lo and hi process counts. Whatever efficiency THIS loses from lo->hi
    is the host's own concurrency penalty (memory bandwidth / SMT /
    frequency scaling — invisible to the steal counter); dividing the
    Spark efficiency by it isolates the framework's contribution."""
    import multiprocessing as mp

    import pyarrow.parquet as pq

    tb = pq.read_table(pages_path, columns=["text", "lang"])
    texts = [t for t, lg in zip(tb["text"].to_pylist(),
                                tb["lang"].to_pylist())
             if lg == "en"][:n_docs]

    def run(nproc: int) -> float:
        chunk = len(texts) // nproc
        mgr = mp.Manager()
        out = mgr.dict()
        ps = [
            mp.Process(target=_pure_worker,
                       args=(texts[i * chunk:(i + 1) * chunk], out, i))
            for i in range(nproc)
        ]
        for p in ps:
            p.start()
        for p in ps:
            p.join()
        total = sum(v[0] for v in out.values())
        wall = max(v[1] for v in out.values())
        return total / wall

    # one adjacent pair (callers interleave + median across triplets)
    lo_thr, hi_thr = run(lo), run(hi)
    eff = (hi_thr / lo_thr) / (hi / lo)
    return {
        "procs_lo": lo,
        "procs_hi": hi,
        "thr_lo_triples_per_sec": round(lo_thr, 2),
        "thr_hi_triples_per_sec": round(hi_thr, 2),
        "efficiency": round(eff, 3),
    }


def _exec_shuffle_bytes(store, eid) -> int:
    """'shuffle bytes written' summed across Exchange nodes of ONE SQL
    execution (the UI's numbers; '12.3 MiB' parsed back to bytes)."""
    units = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
             "TiB": 1 << 40}
    vals = store.executionMetrics(eid)
    total = 0
    nit = store.planGraph(eid).allNodes().iterator()
    while nit.hasNext():
        node = nit.next()
        mit = node.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            if m.name() != "shuffle bytes written":
                continue
            if not vals.contains(m.accumulatorId()):
                continue
            # "total (min, med, max ...)\n448.0 B (56.0 B, ...)"
            text = vals.apply(m.accumulatorId()).split("\n")[-1]
            num, unit = text.split(" ")[0], text.split(" ")[1]
            total += int(float(num) * units.get(unit.strip("("), 1))
    return total


def _last_exec_shuffle_bytes(spark) -> int:
    """Shuffle bytes of the MOST RECENT SQL execution — right for
    single-action measurements (the minhash legs)."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        return _exec_shuffle_bytes(
            store, store.executionsList().last().executionId())
    except Exception:
        return -1  # metric extraction is best-effort, never fails bench


def _exec_marker(spark) -> int:
    """Latest SQL execution id, for _shuffle_bytes_since."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        lst = store.executionsList()
        return lst.last().executionId() if lst.size() > 0 else -1
    except Exception:
        return -1


def _shuffle_bytes_since(spark, marker: int) -> int:
    """Shuffle bytes summed over EVERY SQL execution after ``marker`` —
    required for multi-action pipelines (canonicalize_mentions runs
    checkpoint/gate/collect executions before its final count; the
    last-execution number alone understates its shuffle)."""
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        total = 0
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() > marker:
                total += _exec_shuffle_bytes(store, ex.executionId())
        return total
    except Exception:
        return -1


def _ensure_scale_corpus_path() -> str:
    return f"/tmp/prose_spark_bench_pages_{N_PAGES * 10}_twins"


def _ensure_scale_corpus(spark) -> None:
    """Materialize the 10x pages corpus with planted near-dup twins
    (idempotent). Called from main()'s corpus-gen step so the ~100s
    cold-/tmp cost is paid BEFORE the retry window, and again from
    scale_up() as a no-op safety."""
    from pyspark.sql import functions as F

    from prose_spark.sources.pages import write_pages_parquet

    n10 = N_PAGES * 10
    path10 = f"/tmp/prose_spark_bench_pages_{n10}"
    path10t = _ensure_scale_corpus_path()
    if os.path.exists(path10t + "/_SUCCESS"):
        return
    if not os.path.exists(path10 + "/_SUCCESS"):
        write_pages_parquet(spark, path10, n10)
    base = (
        spark.read.parquet(path10)
        .filter(F.col("lang") == "en").select("url", "text")
        # slice bucket BEFORE twinning: a twin inherits its base's
        # bucket, so every 1x/4x slice keeps base+twin together and
        # emits verified near-dup pairs
        .withColumn("slice_bucket",
                    F.pmod(F.xxhash64("url"), F.lit(10))
                    .cast("int"))
    )
    twins = base.filter(
        F.pmod(F.xxhash64("url", F.lit(7)), F.lit(50)) == 0
    ).select(
        F.concat(F.col("url"), F.lit("#twin")).alias("url"),
        F.concat(F.col("text"), F.lit(" addendum")).alias("text"),
        "slice_bucket",
    )
    # overwrite: a run killed mid-write leaves the dir without
    # _SUCCESS, and errorifexists would wedge every later run
    base.unionByName(twins).write.mode("overwrite").parquet(path10t)


def scale_up(cores: int, deadline: float | None = None) -> dict:
    """Scale-up extrapolation evidence (north rule: 'would still work at
    1000x'): the fused KG path at 1x and 10x the bench corpus and the
    native banded-MinHash join at 1x and 4x, in ONE local[cores]
    session — reporting throughput at each scale plus the band-join
    shuffle bytes. Flat-or-better per-doc throughput and linearly
    scaling (not quadratic) shuffle bytes are the two claims a 100 TB
    run depends on.

    The corpus is PLANTED with near-duplicate twins (every ~50th doc, one
    appended word, co-sliced with its base via the hash bucket) so both
    minhash points exercise the candidate-pair/verify leg — r3 measured
    n_pairs=0, i.e. only the band exchange. Shuffle bytes are also
    DECOMPOSED: a bands-only groupBy on the same keys measures the
    one-sided band-exchange leg, so the pair-join contribution
    (total - 2 x band side) is visible in-artifact instead of leaving
    superlinear growth unexplained."""
    from pyspark.sql import functions as F

    from prose_spark.operators.dedup import (
        _banded_keys,
        _shingles,
        minhash_near_dup_pairs_native,
    )
    from prose_spark.operators.triples import annotate_and_extract_triples
    from prose_spark.session import get_spark
    from prose_spark.sources.pages import write_pages_parquet

    n10 = N_PAGES * 10
    path10t = _ensure_scale_corpus_path()
    # entry guard: the kg+pagerank part needs ~55s; the twins corpus
    # is PRE-GENERATED in main()'s corpus-gen step (r8: on a cold /tmp
    # its ~100s generation inside this budget check used to kill the
    # whole block whenever contention retries ate the window)
    need = 55 if os.path.exists(path10t + "/_SUCCESS") else 155
    if deadline is not None and time.time() > deadline - need:
        log("deadline near: skipping scale-up block entirely")
        return {"cores": cores, "skipped_for_deadline": True}
    spark = get_spark(app_name="bench_scale", cores=cores,
                      shuffle_partitions=max(32, cores * 2))
    try:
        _ensure_scale_corpus(spark)
        allp = spark.read.parquet(path10t)
        en10 = allp.select("url", "text").repartition(cores * 2).cache()
        en1 = (allp.filter(F.col("slice_bucket") == 0)
               .select("url", "text").repartition(cores * 2).cache())
        en4 = (allp.filter(F.col("slice_bucket") < 4)
               .select("url", "text").repartition(cores * 2).cache())
        n_docs10, n_docs1, n_docs4 = (en10.count(), en1.count(),
                                      en4.count())
        annotate_and_extract_triples(en1).count()  # warm workers

        out: dict = {"cores": cores}

        def kg_point(df, n_docs, tag):
            t0 = time.time()
            n = annotate_and_extract_triples(df).count()
            dt = time.time() - t0
            out[f"kg_{tag}"] = {
                "n_docs": n_docs, "n_triples": n,
                "seconds": round(dt, 2),
                "triples_per_sec": round(n / dt, 1),
            }

        kg_point(en1, n_docs1, "1x")
        kg_point(en10, n_docs10, "10x")
        out["kg_throughput_ratio_10x_vs_1x"] = round(
            out["kg_10x"]["triples_per_sec"]
            / out["kg_1x"]["triples_per_sec"], 3)

        # graph-analytics leg (r6 verdict #6): join-based PageRank at
        # 1x/4x edges with Zipf-skewed in-degree (hub entities, the
        # real KG shape). The persisted projections are pre-partitioned
        # on their join keys, so each iteration shuffles only the
        # contribs side — shuffle bytes should grow ~linearly in edges;
        # wall time carries a fixed per-iteration scheduling floor at
        # this scale, so sub-4x time growth is expected and the shuffle
        # ratio is the attributable number.
        from prose_spark.operators.graph import pagerank

        def pr_edges(n_edges, seed=13):
            nsrc = max(n_edges // 4, 1)
            u = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)),
                        F.lit(1_000_000)) / 1e6)
            dst_rank = F.floor(F.pow(F.lit(3000.0), u)).cast("int")
            return spark.range(n_edges).select(
                F.concat(
                    F.lit("s"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)),
                           F.lit(nsrc)).cast("string")).alias("src"),
                F.concat(F.lit("d"),
                         dst_rank.cast("string")).alias("dst"),
            ).distinct()

        def pr_point(n_edges, tag):
            edges = pr_edges(n_edges)
            n_e = edges.count()
            marker = _exec_marker(spark)
            t0 = time.time()
            n_nodes = pagerank(edges, iterations=3).count()
            dt = time.time() - t0
            out[f"pagerank_{tag}"] = {
                "n_edges": n_e, "n_nodes": n_nodes,
                "seconds": round(dt, 2),
                "edges_per_sec": round(n_e / dt, 1),
                "shuffle_bytes": _shuffle_bytes_since(spark, marker),
            }

        # 8 shuffle partitions: the leg's jobs are iteration-bound, and
        # 32 partitions x 3 iterations of sub-MB tasks measures the
        # scheduler, not the operator
        _prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            pr_point(50_000, "1x")
            pr_point(200_000, "4x")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", _prev_parts)
        p1, p4 = out["pagerank_1x"], out["pagerank_4x"]
        out["pagerank_time_growth_4x_vs_1x"] = round(
            p4["seconds"] / max(p1["seconds"], 1e-9), 2)
        if p1["shuffle_bytes"] > 0 and p4["shuffle_bytes"] >= 0:
            out["pagerank_shuffle_growth_4x_vs_1x"] = round(
                p4["shuffle_bytes"] / p1["shuffle_bytes"], 2)

        def band_exchange_bytes(df) -> tuple[int, int]:
            """One-sided band-exchange cost: shuffle the SAME
            (k, band, bkey) rows the pair join exchanges, minus the join
            itself (a groupBy on the join keys). Also returns the
            band-bucket pair term sum C(n_bucket, 2) — the number of
            candidate id pairs the band join emits before DISTINCT and
            verify, which is the quantity that must stay ~linear in docs
            for the pair leg to stay linear."""
            d = df.select(
                F.col("url").alias("k"),
                F.array_distinct(_shingles("text", 3)).alias("g"),
            )
            row = (
                _banded_keys(d, 32, 8, "xxhash64")
                .groupBy("band", "bkey").agg(F.count("*").alias("n"))
                .agg(F.sum(
                    (F.col("n") * (F.col("n") - 1) / 2).cast("long")
                ).alias("cand"))
                .collect()[0]
            )
            return _last_exec_shuffle_bytes(spark), int(row["cand"] or 0)

        def mh_point(df, n_docs, tag, max_bucket_size=None):
            t0 = time.time()
            n_pairs = minhash_near_dup_pairs_native(
                df, "url", jaccard_max_distance=0.3,
                max_bucket_size=max_bucket_size).count()
            dt = time.time() - t0
            total = _last_exec_shuffle_bytes(spark)
            point = {
                "n_docs": n_docs, "n_pairs": n_pairs,
                "seconds": round(dt, 2),
                "docs_per_sec": round(n_docs / dt, 1),
                "shuffle_bytes": total,
            }
            if max_bucket_size is None:
                band_side, cand_terms = band_exchange_bytes(df)
                point.update({
                    "band_exchange_bytes_one_side": band_side,
                    # join = 2 band sides; remainder = pair-id dedup +
                    # two payload re-attach exchanges (the pair leg)
                    "pair_leg_bytes_approx": max(total - 2 * band_side, 0),
                    # pre-distinct candidate pairs from the band join
                    "band_bucket_pair_terms": cand_terms,
                })
            else:
                point["max_bucket_size"] = max_bucket_size
            out[f"minhash_{tag}"] = point

        # canonicalization leg: 1x/4x mention VOCABULARY through the
        # full canonicalize_mentions pipeline (normalize -> band join ->
        # CC -> label/pick), the one operator family that had no
        # scale-up datapoint. The synthetic vocabulary plants near-dup
        # variants (base + 's'; 'the '+base) so the LSH/verify/CC legs
        # all do real work, plus 5x exact-duplicate mentions per form so
        # the pre-dedup mention collapse is exercised. Reports rounds +
        # gate path from connected_components and the execution's
        # shuffle bytes; ~linear time/shuffle growth in vocabulary is
        # the 100 TB claim.
        from prose_spark.operators.canonicalize import (
            canonicalize_mentions,
        )

        def md5_base(n_forms, prefix):
            # md5-diverse surfaces (shingle sets mostly unique across
            # forms, so band buckets stay small — a real entity
            # vocabulary is diverse; a shared-template vocabulary would
            # make every form a near-dup of every other and measure a
            # pathological quadratic instead of the production shape)
            return spark.range(n_forms).select(
                F.regexp_replace(
                    F.md5(F.concat(F.lit(prefix),
                                   F.col("id").cast("string"))),
                    "(....)", "$1 ").alias("text"))

        def md5_mentions(base):
            variants = base.select(
                F.concat(F.col("text"), F.lit("s")).alias("text")
            ).union(
                base.select(
                    F.concat(F.lit("the "), F.col("text")).alias("text"))
            )
            return (
                base.union(variants)
                .crossJoin(spark.range(5).select(
                    F.col("id").alias("rep")))
                .select(F.concat(F.lit("u"), F.col("rep")).alias("url"),
                        "text")
                .repartition(cores * 2)
            )

        def canon_point(n_forms, tag, keep=False, probe=True):
            mentions = md5_mentions(md5_base(n_forms, "form"))
            stats: dict = {}
            marker = _exec_marker(spark)
            t0 = time.time()
            result = canonicalize_mentions(mentions, stats=stats)
            if keep:
                # materialize inside the timed region (it IS the
                # compute) so the fold leg below can reuse the table
                # without a recompute
                result = result.localCheckpoint(eager=True)
            n_out = result.count()
            dt = time.time() - t0
            out[f"canonicalize_{tag}"] = {
                "n_forms": n_forms * 3, "n_entities": n_out,
                "seconds": round(dt, 2),
                "forms_per_sec": round(n_forms * 3 / dt, 1),
                "cc_rounds": stats.get("rounds"),
                "cc_path": stats.get("path"),
                # summed over ALL executions of this call (the pipeline
                # checkpoints/aggregates before its final count)
                "shuffle_bytes": _shuffle_bytes_since(spark, marker),
            }
            # _shuffle_bytes_since returns -1 when metrics extraction
            # fails (best-effort REST probe); propagating the sentinel
            # into per-form / growth ratios would report nonsense
            # negatives, so derived numbers are only computed from a
            # real measurement
            if out[f"canonicalize_{tag}"]["shuffle_bytes"] >= 0:
                out[f"canonicalize_{tag}"]["shuffle_bytes_per_form"] = round(
                    out[f"canonicalize_{tag}"]["shuffle_bytes"]
                    / (n_forms * 3), 1)
            # decompose (same method as the minhash leg): one-sided
            # band-exchange cost + pre-distinct candidate pair terms of
            # the 30x10 banding canonicalize uses, so super-linear
            # total-shuffle growth is attributable to the pair leg
            # rather than left unexplained. probe=False skips it (the
            # 16x point exists for the fold TREND; its 1x/4x siblings
            # carry the decomposition)
            if not probe:
                return result
            from prose_spark.operators.canonicalize import _char_grams
            from prose_spark.operators.canonicalize import (
                normalize_mentions as _nm,
            )

            forms = _nm(mentions).select("norm").distinct().select(
                F.col("norm").alias("k"),
                _char_grams("norm").alias("g"),
            )
            row = (
                _banded_keys(forms, 30, 10, "xxhash64")
                .groupBy("band", "bkey").agg(F.count("*").alias("n"))
                .agg(F.sum(
                    (F.col("n") * (F.col("n") - 1) / 2).cast("long")
                ).alias("cand"))
                .collect()[0]
            )
            out[f"canonicalize_{tag}"].update({
                "band_exchange_bytes_one_side":
                    _last_exec_shuffle_bytes(spark),
                "band_bucket_pair_terms": int(row["cand"] or 0),
            })
            return result

        if deadline is not None and time.time() > deadline - 100:
            log("deadline near: skipping canonicalize/fold/minhash/zipf "
                "legs")
            out["canon_skipped_for_deadline"] = True
            return out
        # pin the at-scale physical plan for BOTH points (same rationale
        # as the minhash leg): under the default threshold AQE
        # broadcasts the small sides at 1x but shuffles them at 4x,
        # which would compare two different plans and read as ~15x
        # shuffle growth when the data only grew 4x
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            canon_point(5000, "1x")
            existing4 = canon_point(20000, "4x", keep=True)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # incremental-canonicalization fold leg (r6 verdict #8): fold a
        # 1/16-size NEW vocabulary into the 4x accumulated canonical
        # table via merge_canonicalize — the job-layer incremental
        # path, in its production shape: under the default broadcast
        # threshold the increment measures small, so its frames (band
        # keys included) broadcast, and with the touched-component
        # restriction the accumulated vocabulary is scanned map-side
        # but never re-shuffled or re-clustered. The comparison target
        # is the just-measured full 4x batch rebuild at the same
        # accumulated scale.
        from prose_spark.operators.canonicalize import (
            merge_canonicalize,
        )

        new_mentions = md5_mentions(md5_base(1250, "newform"))
        marker = _exec_marker(spark)
        t0 = time.time()
        merged = merge_canonicalize(new_mentions, existing4)
        n_merged = merged.count()
        dt = time.time() - t0
        out["merge_canonicalize_fold_4x"] = {
            "n_existing_forms": out["canonicalize_4x"]["n_forms"],
            "n_new_forms": 1250 * 3,
            "n_merged_forms": n_merged,
            "seconds": round(dt, 2),
            "shuffle_bytes": _shuffle_bytes_since(spark, marker),
        }
        c1x, c4x = out["canonicalize_1x"], out["canonicalize_4x"]
        out["canonicalize_time_growth_4x_vs_1x"] = round(
            c4x["seconds"] / max(c1x["seconds"], 1e-9), 2)
        if c1x["shuffle_bytes"] >= 0 and c4x["shuffle_bytes"] >= 0:
            out["canonicalize_shuffle_growth_4x_vs_1x"] = round(
                c4x["shuffle_bytes"] / max(c1x["shuffle_bytes"], 1), 2)
        fold = out["merge_canonicalize_fold_4x"]
        out["merge_fold_vs_batch_4x_seconds_ratio"] = round(
            fold["seconds"] / max(c4x["seconds"], 1e-9), 3)
        if fold["shuffle_bytes"] >= 0 and c4x["shuffle_bytes"] > 0:
            out["merge_fold_vs_batch_4x_shuffle_ratio"] = round(
                fold["shuffle_bytes"] / c4x["shuffle_bytes"], 3)

        # 16x point on the incremental-fold curve (r7 verdict #8): the
        # SAME-SIZE 1250-form increment folded into a 16x accumulated
        # table, so the O(increment) claim rests on a TREND — fold wall
        # ~flat from the 4x to the 16x point while the batch rebuild at
        # the same accumulated scale grows ~4x — not on one ratio.
        if deadline is not None and time.time() > deadline - 80:
            log("deadline near: skipping fold16/minhash/zipf legs")
            out["fold16_skipped_for_deadline"] = True
            return out
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            existing16 = canon_point(80000, "16x", keep=True,
                                     probe=False)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        new16 = md5_mentions(md5_base(1250, "newform16"))
        marker = _exec_marker(spark)
        t0 = time.time()
        merged16 = merge_canonicalize(new16, existing16)
        n_merged16 = merged16.count()
        dt = time.time() - t0
        c16x = out["canonicalize_16x"]
        out["merge_canonicalize_fold_16x"] = {
            "n_existing_forms": c16x["n_forms"],
            "n_new_forms": 1250 * 3,
            "n_merged_forms": n_merged16,
            "seconds": round(dt, 2),
            "shuffle_bytes": _shuffle_bytes_since(spark, marker),
        }
        fold16 = out["merge_canonicalize_fold_16x"]
        out["canonicalize_time_growth_16x_vs_4x"] = round(
            c16x["seconds"] / max(c4x["seconds"], 1e-9), 2)
        out["merge_fold_vs_batch_16x_seconds_ratio"] = round(
            fold16["seconds"] / max(c16x["seconds"], 1e-9), 3)
        if fold16["shuffle_bytes"] >= 0 and c16x["shuffle_bytes"] > 0:
            out["merge_fold_vs_batch_16x_shuffle_ratio"] = round(
                fold16["shuffle_bytes"] / c16x["shuffle_bytes"], 3)
        # the trend claim itself: same increment, 4x the accumulated
        # table -> fold wall ratio ~1 (vs the batch's ~4x growth)
        out["merge_fold_wall_16x_vs_4x"] = round(
            fold16["seconds"] / max(fold["seconds"], 1e-9), 2)
        if fold16["shuffle_bytes"] >= 0 and fold["shuffle_bytes"] > 0:
            out["merge_fold_shuffle_16x_vs_4x"] = round(
                fold16["shuffle_bytes"] / fold["shuffle_bytes"], 2)

        if deadline is not None and time.time() > deadline - 55:
            log("deadline near: skipping minhash/zipf legs")
            out["minhash_canon_skipped_for_deadline"] = True
            return out
        # pin the band join to its at-scale physical form (shuffle join):
        # under the default threshold AQE broadcasts the banded side at
        # 1x but not 4x, which would compare two different plans
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        minhash_near_dup_pairs_native(  # warm the join/codegen path
            en1.limit(300), "url", jaccard_max_distance=0.3).count()
        mh_point(en1, n_docs1, "1x")
        mh_point(en4, n_docs4, "4x")
        # the production guard's effect on the densification the
        # candidate-terms ratio exposes: same 4x corpus with the
        # quadratic-bucket cap engaged (planted twins live in buckets of
        # ~2, so recall of true near-dups survives the cap)
        mh_point(en4, n_docs4, "4x_capped", max_bucket_size=20)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        m1, m4 = out["minhash_1x"], out["minhash_4x"]
        out["minhash_docs_per_sec_ratio_4x_vs_1x"] = round(
            m4["docs_per_sec"] / m1["docs_per_sec"], 3)
        if m1["shuffle_bytes"] > 0 and m4["shuffle_bytes"] > 0:
            # linear-in-n shuffle (banded keys), not quadratic pairs
            out["minhash_shuffle_growth_4x_vs_1x"] = round(
                m4["shuffle_bytes"] / m1["shuffle_bytes"], 2)
            out["minhash_band_exchange_growth_4x_vs_1x"] = round(
                m4["band_exchange_bytes_one_side"]
                / max(m1["band_exchange_bytes_one_side"], 1), 2)
            # pair-leg growth above ~4x is candidate-pair growth, which
            # this ratio pins down (bucket densification, bounded by the
            # max_bucket_size guard in production paths)
            out["minhash_candidate_terms_growth_4x_vs_1x"] = round(
                m4["band_bucket_pair_terms"]
                / max(m1["band_bucket_pair_terms"], 1), 2)
            m4c = out.get("minhash_4x_capped")
            if m4c:
                out["minhash_capped_shuffle_vs_uncapped_4x"] = round(
                    m4c["shuffle_bytes"] / max(m4["shuffle_bytes"], 1), 2)
                out["minhash_capped_pair_recall_4x"] = round(
                    m4c["n_pairs"] / max(m4["n_pairs"], 1), 3)


        # Zipfian-vocabulary canonicalize leg (r5 verdict item #3): the
        # md5-diverse leg above measures RANDOM band collisions (tiny
        # buckets, an n^2 term with a small constant); a real crawl
        # vocabulary is Zipfian — hot surface tokens repeat across
        # forms, whole band buckets densify, and the HOT-BUCKET pair
        # term dominates. That is the regime max_bucket_size exists
        # for, so this leg measures it directly: seeded Zipf(s=1)
        # token-pair surfaces at 1x/4x, uncapped vs capped, reporting
        # the candidate-pair growth (super-linear by construction),
        # the cap's shuffle reduction, and the cap's recall cost on
        # planted near-dup variants (base+'s' must share entity_id
        # with base).
        def zipf_base(n_forms, vocab=2000, toks=2, seed=11):
            # inverse-CDF Zipf rank = floor(vocab^u) gives p(rank) ~
            # 1/rank; rank -> md5-prefix token so hot ranks share an
            # exact 6-char token without spurious prefix overlap
            cols = []
            for j in range(toks):
                u = (F.pmod(
                    F.xxhash64(F.col("id"), F.lit(j), F.lit(seed)),
                    F.lit(1_000_000)) / 1_000_000.0)
                rank = F.floor(
                    F.pow(F.lit(float(vocab)), u)).cast("int")
                cols.append(F.substring(
                    F.md5(F.concat(F.lit("z"), rank.cast("string"))),
                    1, 6))
            return spark.range(n_forms).select(
                F.concat_ws(" ", *cols).alias("text"))

        def zipf_mentions(base):
            variants = base.select(
                F.concat(F.col("text"), F.lit("s")).alias("text")
            ).union(base.select(
                F.concat(F.lit("the "), F.col("text")).alias("text")))
            return (
                base.union(variants)
                .crossJoin(spark.range(5).select(
                    F.col("id").alias("rep")))
                .select(F.concat(F.lit("u"), F.col("rep")).alias("url"),
                        "text")
                .repartition(cores * 2)
            )

        def zipf_point(n_forms, tag, max_bucket_size=None):
            from prose_spark.operators.canonicalize import _char_grams
            from prose_spark.operators.canonicalize import (
                normalize_mentions as _nm,
            )

            base = zipf_base(n_forms)
            mentions = zipf_mentions(base)
            stats: dict = {}
            marker = _exec_marker(spark)
            t0 = time.time()
            result = canonicalize_mentions(
                mentions, stats=stats, max_bucket_size=max_bucket_size)
            n_ent = result.select("entity_id").distinct().count()
            dt = time.time() - t0
            shuffle = _shuffle_bytes_since(spark, marker)
            point = {
                "n_forms": n_forms * 3, "n_entities": n_ent,
                "seconds": round(dt, 2),
                "forms_per_sec": round(n_forms * 3 / dt, 1),
                "cc_rounds": stats.get("rounds"),
                "cc_path": stats.get("path"),
                "shuffle_bytes": shuffle,
            }
            if max_bucket_size is not None:
                point["max_bucket_size"] = max_bucket_size
            # planted-variant recall: each base form's +'s' variant
            # must land in the same entity (the cap's recall cost —
            # uncapped this is 1.0 by the verify contract)
            norm_ent = result.select("norm", "entity_id")
            pairs_bv = _nm(base.select("text")).select(
                F.col("norm").alias("bn"),
                F.concat(F.col("norm"), F.lit("s")).alias("vn"),
            ).distinct()
            row = (
                pairs_bv
                .join(norm_ent.select(F.col("norm").alias("bn"),
                                      F.col("entity_id").alias("be")),
                      "bn")
                .join(norm_ent.select(F.col("norm").alias("vn"),
                                      F.col("entity_id").alias("ve")),
                      "vn")
                .agg(F.count("*").alias("n"),
                     F.sum(F.when(F.col("be") == F.col("ve"), 1)
                           .otherwise(0)).alias("hit"))
                .collect()[0]
            )
            point["planted_variant_recall"] = round(
                int(row["hit"] or 0) / max(int(row["n"] or 0), 1), 4)
            # hot-bucket decomposition (same probe as the md5 leg):
            # pre-distinct candidate pair terms + the max bucket size
            # the cap would bite on
            forms = _nm(mentions).select("norm").distinct().select(
                F.col("norm").alias("k"), _char_grams("norm").alias("g"))
            brow = (
                _banded_keys(forms, 30, 10, "xxhash64")
                .groupBy("band", "bkey").agg(F.count("*").alias("n"))
                .agg(F.sum(
                    (F.col("n") * (F.col("n") - 1) / 2).cast("long")
                ).alias("cand"), F.max("n").alias("maxb"))
                .collect()[0]
            )
            point.update({
                "band_bucket_pair_terms": int(brow["cand"] or 0),
                "max_band_bucket": int(brow["maxb"] or 0),
            })
            out[f"canonicalize_zipf_{tag}"] = point

        if deadline is not None and time.time() > deadline - 45:
            # the zipf legs are standing r5/r6 evidence (recorded in
            # BENCH_DETAIL r5/r6 and BASELINE.md); on a contended run
            # they are the first thing shed so the new legs and the
            # query table survive inside the external timeout
            log("deadline near: skipping zipf canonicalize legs")
            out["zipf_skipped_for_deadline"] = True
            return out
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            zipf_point(2500, "1x")
            zipf_point(10000, "4x")
            zipf_point(10000, "4x_capped", max_bucket_size=20)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        z1, z4 = (out["canonicalize_zipf_1x"],
                  out["canonicalize_zipf_4x"])
        z4c = out["canonicalize_zipf_4x_capped"]
        out["canonicalize_zipf_time_growth_4x_vs_1x"] = round(
            z4["seconds"] / max(z1["seconds"], 1e-9), 2)
        out["canonicalize_zipf_candidate_terms_growth_4x_vs_1x"] = round(
            z4["band_bucket_pair_terms"]
            / max(z1["band_bucket_pair_terms"], 1), 2)
        if z1["shuffle_bytes"] >= 0 and z4["shuffle_bytes"] >= 0:
            out["canonicalize_zipf_shuffle_growth_4x_vs_1x"] = round(
                z4["shuffle_bytes"] / max(z1["shuffle_bytes"], 1), 2)
        if z4["shuffle_bytes"] > 0 and z4c["shuffle_bytes"] >= 0:
            out["canonicalize_zipf_capped_shuffle_vs_uncapped_4x"] = (
                round(z4c["shuffle_bytes"] / z4["shuffle_bytes"], 2))
        out["canonicalize_zipf_capped_entity_inflation_4x"] = round(
            z4c["n_entities"] / max(z4["n_entities"], 1), 4)
        return out
    finally:
        spark.stop()


def run_queries(sf_dir: str, cores: int,
                deadline: float | None = None) -> dict[str, float]:
    """Time a representative subset of __spark_entry__ queries."""
    import __spark_entry__ as entrymod
    from prose_spark.session import get_spark

    names = [
        "nlp_token_counts", "nlp_triples", "kg_triple_support",
        "ta_quality", "ta_fingerprint",
        "ta_bpe_token_counts",
        "dedup_exact_groups", "dedup_minhash_pairs", "dedup_simhash",
        "dedup_embedding_pairs",
        "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
        "rel_q1", "rel_top_customers", "rel_window_topk",
        "rel_events_hourly", "rel_nation_rollup",
        # runs over the FIXED 500-page entity corpus (not sf-scaled):
        # timed so the incremental-canonicalization path can't regress
        # silently, stable across sf choices by construction
        "kg_merge_canonical",
    ]
    qs = entrymod.queries()
    spark = get_spark(app_name="bench_queries", cores=cores)
    out: dict[str, float] = {}
    try:
        # warm python workers once
        qs["nlp_token_counts"](spark, sf_dir).count()
        for name in names:
            if deadline is not None and time.time() > deadline - 5:
                log(f"deadline near: query timings truncated at {name}")
                out["queries_truncated_at_deadline"] = -1.0
                break
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            out[name] = round(time.time() - t0, 3)
            log(f"  {name}: {out[name]}s ({n} rows)")
        # dedup_fuzzy_clusters is timed at a REDUCED scale (sf0.01, the
        # oracle-gate corpus): at the bench sf its doubled-corpus input
        # is the longest, most host-noise-sensitive query (~28s), which
        # would dominate the timed set — but leaving it untimed is where
        # a regression hides, so it gets its own reduced-scale entry.
        # resolve the sf0.01 dir EXPLICITLY (sibling of sf_dir named
        # sf0.01) and never fall back to sf_dir itself: a substring
        # replace would silently time the FULL corpus under the
        # "@sf0.01" label whenever sf_dir isn't literally ".../sf0.1"
        sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
        if (os.path.isdir(sf001)
                and not (deadline is not None
                         and time.time() > deadline - 5)):
            t0 = time.time()
            n = qs["dedup_fuzzy_clusters"](spark, sf001).count()
            out["dedup_fuzzy_clusters@sf0.01"] = round(time.time() - t0, 3)
            log(f"  dedup_fuzzy_clusters@sf0.01: "
                f"{out['dedup_fuzzy_clusters@sf0.01']}s ({n} rows)")
    finally:
        spark.stop()
    return out


def main() -> None:
    t_start = time.time()
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    # materialize the pages corpora once (deterministic, seed=42):
    # N_PAGES for the per-query timings, 2x for the scaling triplets
    # (see N_PAGES_SCALING above)
    pages_path = f"/tmp/prose_spark_bench_pages_{N_PAGES}"
    pages_path_scaling = f"/tmp/prose_spark_bench_pages_{N_PAGES_SCALING}"
    if not (os.path.exists(pages_path + "/_SUCCESS")
            and os.path.exists(pages_path_scaling + "/_SUCCESS")
            and os.path.exists(_ensure_scale_corpus_path()
                               + "/_SUCCESS")):
        from prose_spark.session import get_spark
        from prose_spark.sources.pages import write_pages_parquet

        spark = get_spark(app_name="bench_gen", cores=CPUS)
        if not os.path.exists(pages_path + "/_SUCCESS"):
            write_pages_parquet(spark, pages_path, N_PAGES)
        if not os.path.exists(pages_path_scaling + "/_SUCCESS"):
            write_pages_parquet(spark, pages_path_scaling,
                                N_PAGES_SCALING)
        # the scale-up twins corpus too: its generation must not sit
        # inside scale_up()'s deadline budget (r8 lesson)
        _ensure_scale_corpus(spark)
        spark.stop()
        log(f"generated pages at {pages_path} / {pages_path_scaling}")

    # Measure in 3 time-local triplets: (spark lo, spark hi, bare-python
    # control pair). This VM's vCPU throughput drifts minute-to-minute
    # with host tenancy (in a band wider than the thing being measured),
    # so the only fair normalization is PAIRED — each triplet yields one
    # spark efficiency and one framework-free control efficiency from
    # adjacent-in-time runs, and framework efficiency is their per-triplet
    # ratio. Medians over triplets shed one bad-tenancy outlier.
    runs: list[dict] = []
    controls: list[dict] = []
    retries_left = MAX_RETRIES
    # budget anchored HERE, not at process start: corpus generation and
    # session warmup must not eat the retry window, or triplets 2-3
    # silently lose their contended-host re-measurement whenever setup
    # plus the first triplet exceed the budget
    t_retry_anchor = time.time()
    band_applies = (SCALING_LO == 2 and N_PAGES_SCALING == 12000
                    and CONTROL_BAND_LOW > 0)
    # the triplet phase gets its own SUB-BUDGET (r8 lesson: two
    # contended official runs burned the whole 570s on triplet
    # retries and skipped every scale leg + the query sweep — the
    # round's NEW evidence must never be starved by re-measurement
    # of the standing headline). At least one triplet always runs;
    # later triplets shed when the phase budget is gone.
    triplet_deadline = t_start + float(
        os.environ.get("SPARK_GRAFT_TRIPLET_BUDGET", "240"))
    for rep in range(3):
        if runs and time.time() > triplet_deadline:
            log(f"triplet budget exhausted after {rep} triplets: "
                "keeping what was measured")
            break
        log(f"== triplet {rep + 1}/3 ==")
        while True:
            r_lo = kg_throughput(SCALING_LO, pages_path_scaling)
            log(str(r_lo))
            r_hi = kg_throughput(SCALING_HI, pages_path_scaling)
            log(str(r_hi))
            steal = max(r_lo["cpus_steal"], r_hi["cpus_steal"])
            band_ok = (not band_applies
                       or r_lo["triples_per_sec"] >= CONTROL_BAND_LOW)
            if ((steal <= STEAL_RETRY and band_ok) or retries_left <= 0
                    or time.time() - t_retry_anchor > RETRY_BUDGET_SEC
                    or time.time() > triplet_deadline):
                break
            retries_left -= 1
            if not band_ok and steal <= STEAL_RETRY:
                # steal-blind whole-host contention: the steal counter
                # cannot see it, the control leg can. Give the window a
                # chance to pass before burning the re-measure.
                log(f"control leg {r_lo['triples_per_sec']} t/s below "
                    f"its {CONTROL_BAND_LOW} quiet band at steal "
                    f"{steal}: invisible contention, sleeping "
                    f"{CONTENTION_SLEEP_SEC}s then re-measuring "
                    f"({retries_left} retries left)")
                time.sleep(CONTENTION_SLEEP_SEC)
            else:
                log(f"steal {steal} > {STEAL_RETRY} CPUs: contended "
                    f"host window, re-measuring triplet ({retries_left} "
                    "retries left)")
        c = hardware_control(pages_path_scaling, SCALING_LO, SCALING_HI)
        log(str(c))
        runs.extend([r_lo, r_hi])
        controls.append(c)
    lo_runs = runs[0::2]
    hi_runs = runs[1::2]
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    lo_thr = med([r["triples_per_sec"] for r in lo_runs])
    hi_thr = med([r["triples_per_sec"] for r in hi_runs])
    lo_busy = med([r["cpus_busy"] for r in lo_runs])
    hi_busy = med([r["cpus_busy"] for r in hi_runs])
    lo = dict(lo_runs[-1], triples_per_sec=round(lo_thr, 2))
    hi = dict(hi_runs[-1], triples_per_sec=round(hi_thr, 2))
    ideal = SCALING_HI / SCALING_LO
    # PAIRED efficiency: each triplet's lo and hi are adjacent in time, so
    # the per-triplet ratio cancels minute-scale host drift; the median
    # over triplets sheds one bad-tenancy outlier. (Medians of lo and hi
    # taken independently would compare runs from different minutes.)
    per_triplet_eff = [
        (h["triples_per_sec"] / max(l["triples_per_sec"], 1e-9)) / ideal
        for l, h in zip(lo_runs, hi_runs)
    ]
    efficiency = med(per_triplet_eff)
    ratio = efficiency * ideal
    # per-delivered-CPU-second productivity ratio: cancels hypervisor
    # steal/throttling, measuring the framework's own scaling behavior
    cpu_norm_eff = (hi_thr / max(hi_busy, 1e-9)) / (
        lo_thr / max(lo_busy, 1e-9)
    )
    # per-triplet spark-efficiency ÷ control-efficiency, then median
    per_triplet_fw = []
    for i, c in enumerate(controls):
        se = (hi_runs[i]["triples_per_sec"]
              / max(lo_runs[i]["triples_per_sec"], 1e-9)) / ideal
        per_triplet_fw.append(se / max(c["efficiency"], 1e-9))
    framework_eff = round(min(med(per_triplet_fw), 1.0), 3)
    control = {
        "per_triplet_efficiency": [c["efficiency"] for c in controls],
        "median_efficiency": med([c["efficiency"] for c in controls]),
        "procs_lo": SCALING_LO,
        "procs_hi": SCALING_HI,
    }

    # supplementary: same-JVM fixed-pool scaling (isolates the parallel
    # region from per-session effects)
    log("== fixed-pool scaling ==")
    pool = fixed_pool_scaling(pages_path_scaling, SCALING_LO, SCALING_HI)
    log(str(pool))

    # scale-up block BEFORE the query sweep (r7 verdict #1: the r7
    # driver run skipped the minhash/canonicalize legs on its deadline
    # while spending 45s+ on the sweep — but the scale legs are each
    # round's NEW evidence, the sweep is regression tracking, so under
    # deadline pressure the sweep is what sheds)
    deadline = t_start + BENCH_DEADLINE_SEC
    log("== scale-up block (1x/4x/10x/16x) ==")
    scale = scale_up(int(os.environ.get("SPARK_GRAFT_SCALE_CORES", "16")),
                     deadline=deadline)
    log(str(scale))

    log("== per-query timings ==")
    queries = run_queries(SF_DIR, CPUS, deadline=deadline)

    wall = round(time.time() - t_start, 1)
    scaling_full = {
        "cores_lo": SCALING_LO,
        "cores_hi": SCALING_HI,
        "thr_lo_triples_per_sec": lo["triples_per_sec"],
        "thr_hi_triples_per_sec": hi["triples_per_sec"],
        "speedup": round(ratio, 3),
        "ideal": ideal,
        "efficiency": round(efficiency, 3),
        "per_triplet_efficiency": [
            round(x, 3) for x in per_triplet_eff
        ],
        "cpus_busy_lo": round(lo_busy, 2),
        "cpus_busy_hi": round(hi_busy, 2),
        "cpus_steal_lo": med([r["cpus_steal"] for r in lo_runs]),
        "cpus_steal_hi": med([r["cpus_steal"] for r in hi_runs]),
        "cpu_normalized_efficiency": round(cpu_norm_eff, 3),
        # spark efficiency ÷ bare-multiprocessing efficiency on the
        # same kernel+host: the framework's own scaling behavior
        "framework_efficiency": framework_eff,
        "retries_used": MAX_RETRIES - retries_left,
        # the 2-core control leg vs its pinned quiet band: when the
        # final accepted median still sits below the band, every number
        # in this artifact is a contended-mode reading and must be read
        # against BASELINE.md's quiet-window table
        "control_band_low_tps": CONTROL_BAND_LOW if band_applies else None,
        "contended_mode": bool(band_applies and lo_thr < CONTROL_BAND_LOW),
    }
    detail = {
        "kg": {"lo": lo, "hi": hi},
        "scaling": scaling_full,
        "scaling_fixed_pool": pool,
        "scaling_hardware_control": control,
        "scale_up": scale,
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "wall_clock_sec": wall,
    }
    detail_path = str(Path(__file__).resolve().parent
                      / "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    log(f"full detail -> {detail_path}")

    # the ONE stdout line stays compact (the driver keeps only the last
    # ~2000 chars of stdout; r3's all-in-one line overflowed it and the
    # round's headline metric was lost)
    result = {
        "metric": "triples_per_sec",
        "value": hi["triples_per_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "scaling": {
            "cores_lo": SCALING_LO,
            "cores_hi": SCALING_HI,
            # throughput at BOTH parallelism levels on the compact line
            # (the north rule's two-cluster-size criterion), not just hi
            "thr_lo_triples_per_sec": scaling_full[
                "thr_lo_triples_per_sec"],
            "thr_hi_triples_per_sec": scaling_full[
                "thr_hi_triples_per_sec"],
            "efficiency": round(efficiency, 3),
            "framework_efficiency": framework_eff,
            "cpus_steal_hi": scaling_full["cpus_steal_hi"],
            "contended_mode": scaling_full["contended_mode"],
        },
        "detail_file": "BENCH_DETAIL.json",
        "wall_clock_sec": wall,
    }
    line = json.dumps(result)
    # hard guarantee against a recurrence of the r3 truncation
    if len(line) > 1900:
        result["queries"] = {
            k: v for k, v in sorted(queries.items())[:10]
        }
        result["queries_truncated_see_detail_file"] = True
        line = json.dumps(result)
    print(line, flush=True)


if __name__ == "__main__":
    main()
