"""Physical-plan checks: the things that matter at 100 TB.

- native filters placed BEFORE Python stages reach the parquet scan as
  PushedFilters (lang gate never runs behind the UDF);
- only consumed columns are read (ReadSchema pruning);
- small dimension joins go broadcast;
- the fused KG pipeline contains exactly one Python stage and no shuffle.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_path(spark, kg_pages_df, tmp_path_factory):
    """The hermetic pages table as two small parquet files: it scans as
    two partitions, the under-partitioned shape of a small input that
    the input spread exists for."""
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    kg_pages_df.coalesce(2).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_lang_filter_pushed_down(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    # html/warc_ts are never read from the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_fused_pipeline_single_python_stage(spark, docs_path):
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    plan = _plan(annotate_and_extract_triples(en))
    # exactly one Python stage node in the plan tree
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    # the ONLY exchange permitted is the input-spread round-robin BELOW
    # the Python stage (r9: an under-partitioned local scan is spread to
    # the session's parallelism so the compute-bound kernel uses every
    # core); the kernel's OUTPUT never shuffles
    assert tree.count("Exchange") <= 1
    if "Exchange" in tree:
        assert "RoundRobinPartitioning" in plan


def test_fused_pipeline_no_spread_when_well_partitioned(spark, docs_path):
    """A well-partitioned input (the 100 TB shape) keeps the map-only
    plan: the r9 conditional spread must be a no-op, so the only
    Exchange is the caller's own repartition."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    en = en.repartition(spark.sparkContext.defaultParallelism)
    plan = _plan(annotate_and_extract_triples(en))
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") == 1  # the caller's own, none added


def test_fused_pipeline_honors_caller_coalesce(spark, docs_path):
    """An EXPLICITLY under-partitioned input (coalesce + cache — e.g. a
    concurrency-controlled measurement leg, or any caller that chose its
    layout) must NOT be re-spread: the conditional spread exists to fix
    accidental byte-split scans, not to override caller intent."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    lo = en.coalesce(2).cache()
    try:
        lo.count()
        out = annotate_and_extract_triples(lo)
        tree = _plan(out).split("\n\n")[0]
        assert "RoundRobinPartitioning" not in tree
        assert out.rdd.getNumPartitions() == 2
    finally:
        lo.unpersist()


def test_fused_pipeline_spreads_layout_free_composites(spark, docs_path):
    """A cached frame or a scan BELOW a join or union no longer sets the
    partition count, so the under-partitioned input is spread (the
    spread decides from the plan's top node, not from any cached node
    anywhere in the plan)."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    p = spark.sparkContext.defaultParallelism
    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    assert en.rdd.getNumPartitions() < p
    urls = en.select("url").limit(20).cache()
    try:
        urls.count()
        joined = en.join(F.broadcast(urls), "url")
        unioned = en.unionByName(spark.read.parquet(docs_path)
                                 .select("url", "text"))
        for inp in (joined, unioned):
            assert inp.rdd.getNumPartitions() < p
            out = annotate_and_extract_triples(inp)
            assert "RoundRobinPartitioning" in _plan(out)
            assert out.rdd.getNumPartitions() == p
    finally:
        urls.unpersist()


def test_fused_pipeline_honors_coalesce_under_filter(spark, docs_path):
    """A caller's coalesce stays the layout when a Filter sits above it:
    the spread looks through Project and Filter to the Repartition. The
    filter samples (nondeterministic), so the optimizer cannot push it
    below the coalesce as it would a deterministic predicate."""
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = spark.read.parquet(docs_path)
    en = pages.filter(F.col("lang") == "en").select("url", "text")
    lo = en.coalesce(2).filter(F.rand(seed=3) < 0.9)
    top = lo._jdf.queryExecution().optimizedPlan()
    assert top.getClass().getSimpleName() == "Filter"
    out = annotate_and_extract_triples(lo)
    assert "RoundRobinPartitioning" not in _plan(out)
    assert out.rdd.getNumPartitions() == 2


def test_broadcast_join_for_small_dim(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_whole_stage_codegen_native_stats(spark, docs_path):
    from prose_spark.operators.textstats import add_quality_scores

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_quality_scores(pages.select("url", "text")))
    # all-native: no Python eval nodes anywhere (the lambda-based stopword
    # filter is a JVM higher-order function — outside whole-stage codegen
    # but still columnar/JVM-side)
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_simhash_is_map_only(spark, docs_path):
    from prose_spark.operators.dedup import add_simhash

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_simhash(pages.select("url", "text")))
    # per-row higher-order-function computation: no shuffle, no Python,
    # no generated row id — stays a narrow projection over the scan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "monotonically_increasing_id" not in plan


def test_native_minhash_shuffles_only_on_band_keys(spark, docs_path):
    from prose_spark.operators.dedup import minhash_near_dup_pairs_native

    pages = spark.read.parquet(docs_path)
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    df = minhash_near_dup_pairs_native(docs, "doc_id",
                                       jaccard_max_distance=0.3)
    plan = _plan(df)
    # signature computation is native (no ML fit/UDF); the join keys are
    # (band, bkey) so partition sizes stay bounded at any corpus size
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    tree = plan.split("\n\n")[0]
    n_joins = sum(tree.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    # one band-key self-join over IDS ONLY + two key-attach joins that
    # bring the shingle arrays back for the exact verify: the arrays
    # never ride the 8x band explosion through the shuffle
    assert n_joins == 3, tree
    # the band self-join inputs are id+key projections — the shingle
    # array column g never appears in any node output alongside the
    # band keys (it re-attaches later, keyed by id)
    bkey_outputs = [ln for ln in plan.splitlines()
                    if ln.strip().startswith("Output") and "bkey#" in ln]
    assert bkey_outputs
    assert all("g#" not in ln for ln in bkey_outputs), bkey_outputs


def test_embedding_near_dup_pair_join_is_id_only(spark):
    """The LSH near-dup candidate self-join must carry ids+signature
    keys only — vectors re-attach by key AFTER dedup, so the pair
    explosion never moves embedding payloads through a shuffle."""
    from pyspark.sql import functions as F

    from prose_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = embedding_near_dup_pairs(
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>")
                   .alias("embedding")))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # signature stage is Arrow-vectorized (exactly one Python stage in
    # the checkpointed lineage is not visible here; the main plan must
    # have none — signatures were materialized by localCheckpoint)
    sig_outputs = [ln for ln in plan.splitlines()
                   if ln.strip().startswith("Output") and "sig#" in ln]
    assert sig_outputs
    # no vector column next to the signature keys anywhere in the plan
    assert all("v#" not in ln for ln in sig_outputs), sig_outputs


def test_sentiment_udf_single_python_stage(spark, docs_path):
    from prose_spark.operators.sentiment_ops import add_sentiment

    pages = spark.read.parquet(docs_path)
    plan = _plan(add_sentiment(pages.select("url", "text"), use_ml=True))
    tree = plan.split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1  # one vectorized stage
    assert "Exchange" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Co-located joins via bucketing: two tables bucketed+sorted on the
    join key join with NO Exchange — the 100 TB pattern for repeated
    joins on the same key (bucket once at ingest, join shuffle-free
    forever)."""
    import uuid

    # warehouse.dir is a static conf; managed tables land in the session
    # default warehouse and are dropped (with files) in the finally
    suffix = uuid.uuid4().hex[:8]
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    t_o, t_c = f"orders_b_{suffix}", f"cust_b_{suffix}"
    try:
        (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
         .mode("overwrite").saveAsTable(t_o))
        (cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
         .mode("overwrite").saveAsTable(t_c))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_o).join(
            spark.table(t_c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucket-pruned: no shuffle
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_linguistic_gate_all_jvm(spark):
    """The run_kg_job --min-stopword-ratio pre-gate (keyword-soup /
    boilerplate hygiene): real prose passes, stopword-free soup drops,
    and the gate runs entirely JVM-side (no Python stage in the plan)
    so at crawl scale it costs one scan and saves the whole annotate
    stage per dropped page."""
    from prose_spark.operators.textstats import add_quality_scores

    df = spark.createDataFrame(
        [
            ("p1", "The quick brown fox jumped over the lazy dog and "
                   "it was glad of the exercise."),
            ("p2", "batch window spark order data column agg join "
                   "small line customer query line value"),
        ],
        "url string, text string",
    )
    gated = (add_quality_scores(df, "text")
             .filter(F.col("stopword_ratio") >= 0.2)
             .drop("n_tokens", "n_chars_obs", "avg_word_len",
                   "punct_ratio", "stopword_ratio"))
    rows = gated.collect()
    assert [r.url for r in rows] == ["p1"]
    assert gated.columns == ["url", "text"]
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEvalPython" not in plan


class _PlanRecorder:
    """QueryExecutionListener (a py4j callback) that keeps the executed
    plan of every successful action."""

    def __init__(self):
        self.plans = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.plans.append(qe.executedPlan())

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _descendants(node):
    """Every physical node below ``node``, looking through adaptive
    plans, query stages and reused exchanges."""
    for child in _children(node):
        yield child
        yield from _descendants(child)


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    return _seq(node.children())


def _scans_table(node, table: str) -> bool:
    return (node.getClass().getSimpleName() == "FileSourceScanExec"
            and table in node.relation().location().rootPaths()
            .mkString(","))


@pytest.fixture(scope="module")
def kg_before_fold(spark, kg_pages_df, tmp_path_factory):
    """A KG whose first two buckets are canonicalized, with two more
    buckets written but not yet folded in."""
    from prose_spark.sources.checkpoints import (
        done_buckets,
        run_kg_job,
        update_canonical_tables,
    )

    out = str(tmp_path_factory.mktemp("fold") / "kg")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_kg_job(spark, kg_pages_df, out, n_buckets=4, fail_after_bucket=1)
    first = done_buckets(spark, out)
    update_canonical_tables(spark, out, new_buckets=first, incremental=True)
    metrics = run_kg_job(spark, kg_pages_df, out, n_buckets=4)
    return out, {r.bucket for r in metrics.collect()}


@pytest.mark.parametrize("threshold, shuffled", [(None, False), ("-1", True)])
def test_incremental_fold_never_shuffles_accumulated_table(
        spark, kg_before_fold, tmp_path, threshold, shuffled):
    """With an increment under spark.sql.autoBroadcastJoinThreshold the
    fold only streams the accumulated entities_canonical table through
    broadcast joins: no ShuffleExchangeExec of any executed plan has a
    scan of it below. With broadcasting disabled the optimizer plans
    shuffle joins, which shows the check can see such a shuffle."""
    import shutil

    from pyspark.java_gateway import ensure_callback_server_started

    from prose_spark.sources.checkpoints import update_canonical_tables

    src, new_buckets = kg_before_fold
    out = str(tmp_path / "kg")
    shutil.copytree(src, out)
    ensure_callback_server_started(spark.sparkContext._gateway)
    recorder = _PlanRecorder()
    listeners = spark._jsparkSession.listenerManager()
    listeners.register(recorder)
    if threshold is not None:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try:
        stats = update_canonical_tables(
            spark, out, new_buckets=new_buckets, incremental=True)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        listeners.unregister(recorder)
    assert stats["path"] == "incremental"

    table = "entities_canonical"
    nodes = [n for p in recorder.plans for n in [p, *_descendants(p)]]
    assert any(_scans_table(n, table) for n in nodes)
    shuffles_of_table = [
        n for n in nodes
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        and any(_scans_table(d, table) for d in _descendants(n))
    ]
    assert bool(shuffles_of_table) == shuffled, [
        n.toString() for n in shuffles_of_table]
