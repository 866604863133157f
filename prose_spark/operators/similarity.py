"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: native F.aggregate/F.zip_with dot products —
  exact baseline, O(Q x N) but fully codegen'd and shuffle-free except the
  final top-k window;
- multi-table hyperplane LSH (OR-construction over independent signature
  tables): candidates only join within matching (table, signature)
  buckets; recall@5 >= 0.9 asserted vs brute force;
- IVF (inverted-file) variant: deterministic hash-seeded k-means coarse
  quantizer; queries exact-rerank only their n_probe nearest Voronoi
  cells. At scale the cell id is a partition key — fit once, write the
  cell column, probe-prune forever.

Everything is deterministic (hash-derived randomness, decimal-exact
centroid means) so driver goldens stay stable across runs/partitionings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a compute-bound frame to the session's parallelism
    when it arrives under-partitioned. Small parquet inputs
    load as ONE partition, which serializes every downstream
    signature/verify expression onto one core; AQE won't fix it (it
    coalesces by BYTES, and these stages are compute-heavy on tiny
    bytes). Explicit caller partitioning is honored and at-scale inputs
    already carry enough partitions — no-op in both cases (see
    annotate.spread_compute_input)."""
    from prose_spark.operators.annotate import spread_compute_input

    return spread_compute_input(df)


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    -> (query_id, neighbor_id, cosine, rank). The corpus side should be
    the big one; queries are broadcast when small.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = _spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_fit(corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id",
            vec_col: str = "embedding", lloyd_iters: int = 1,
            hash_fn: str = "xxhash64") -> list[list[float]]:
    """Deterministic IVF coarse quantizer: seeds = the n_cells rows with
    the smallest hash(id) (hash-ordered sample — no RNG), refined by
    ``lloyd_iters`` k-means steps run as DataFrame jobs (assign via
    native argmax-dot, re-center via posexplode + groupBy avg). Returns
    L2-normalized centroids (driver-side list: n_cells x dim floats —
    tiny, broadcast into the assignment expressions).

    ``hash_fn``: 'xxhash64' (default — fastest, JVM-native) or 'md5'
    (portable seed order: conv(md5-hex[0:15], 16, 10), the same
    cross-engine family the dedup sketches use, so a DuckDB oracle can
    recompute the ENTIRE fit — seeds, Lloyd step, assignment — from the
    raw table; see __spark_entry__ sim_topk_ivf)."""
    import math

    def normalize(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    if hash_fn == "md5":
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64(F.col(id_col))
    seeds = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"),
                      h.alias("h"), F.col(id_col).alias("_id"))
        .orderBy("h", "_id")
        .limit(n_cells)
        .collect()
    )
    centroids = [normalize(list(r["v"])) for r in seeds]
    # the Lloyd assignment is a compute-bound interpreted argmax: spread
    # an under-partitioned scan across the session (row order is
    # irrelevant — assignment is per-row and the re-center mean uses the
    # partition-order-insensitive decimal accumulator below)
    base = _spread(corpus.select(
        F.col(vec_col).cast("array<double>").alias("v")))
    for _ in range(lloyd_iters):
        # materialize the assignment BEFORE the explode: projection
        # collapse would otherwise inline the (interpreted higher-order)
        # argmax into the post-explode projection and re-evaluate it once
        # per vector ELEMENT instead of once per vector
        assigned = base.withColumn(
            "cell", _argmax_cell("v", centroids)
        ).localCheckpoint()
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            # decimal accumulator: exact, partition-order-insensitive
            # (float avg would make the centroids nondeterministic)
            .agg(F.avg(F.col("x").cast("decimal(28,14)"))
                 .cast("double").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        dim = len(centroids[0])
        centroids = [
            normalize([by_cell.get(c, {}).get(p, centroids[c][p])
                       for p in range(dim)])
            for c in range(len(centroids))
        ]
    return centroids


def _cell_dots(vec_col: str, centroids: list[list[float]]):
    """Array of dot products with each centroid (parallel to cell ids).
    One transform over a literal centroid matrix — a single aggregate
    node regardless of n_cells, instead of n_cells unrolled aggregates
    (which blow up codegen size and compile time)."""
    cents = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])
    return F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _argmax_cell(vec_col: str, centroids: list[list[float]]):
    """Native argmax over centroid dot products -> cell id column (ties
    -> first index, deterministic)."""
    dots = _cell_dots(vec_col, centroids)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _top_cells(vec_col: str, centroids: list[list[float]], n_probe: int):
    """Array of the n_probe nearest cell ids (native sort desc)."""
    dots = _cell_dots(vec_col, centroids)
    pairs = F.zip_with(
        dots,
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda d, i: F.struct(d.alias("dot"), i.alias("cell")),
    )
    return F.slice(
        F.transform(F.sort_array(pairs, asc=False),
                    lambda s: s.getField("cell")),
        1, n_probe,
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is bucketed into
    Voronoi cells around ivf_fit centroids; each query exact-reranks only
    its n_probe nearest cells. At scale the cell column is a partition
    key (write once, probe-prune forever); recall tunes via n_probe.
    Deterministic end to end (hash-seeded k-means, no RNG)."""
    if centroids is None:
        centroids = ivf_fit(corpus, n_cells, id_col, vec_col,
                            hash_fn=hash_fn)
    c = _spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )).withColumn("cell", _argmax_cell("cv", centroids))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn(
        "cell", F.explode(_top_cells("qv", centroids, n_probe))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    dim: int = 64,
    n_planes: int = 16,
    n_tables: int = 96,
    brute_force: bool = False,
    allow_all_pairs: bool = False,
    all_pairs_row_limit: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, cosine >= threshold).

    Default path: multi-table hyperplane-LSH candidate blocking + exact
    cosine verify. Near-dup blocking needs FINE buckets — unlike top-k,
    where coarse buckets just add rerank work, coarse buckets here blow
    up quadratically with the candidate rate: at 8 planes a RANDOM pair
    collides in some table with prob ~24·2^-8 ≈ 9%, which means the
    exact verify runs on ~10% of ALL pairs — O(n^2) smuggled back in
    (measured: 832k candidate pairs for a 4k corpus). The defaults are
    therefore 16-bit signatures × 96 tables: random-pair candidate rate
    ~96·2^-16 ≈ 0.15%, while at min_cosine 0.9 (per-plane agreement
    p = 1 - θ/π ≈ 0.857) the per-pair miss rate stays
    (1-0.857^16)^96 ≈ 2e-4. Rule of thumb at other scales: planes ≈
    log2(n) + 4 so buckets stay O(1), tables to hit the recall target.
    The banded self-join carries IDS ONLY; vectors re-attach to the
    deduped candidates by key, so the shuffle never moves vector
    payloads through the pair explosion.

    The (tbl, sig) signature frame is computed ONCE (numpy matmul in an
    Arrow-batched pandas UDF — see _signatures_pandas) and
    localCheckpointed before the self-join, so nothing re-evaluates it on
    the second join side. The production analogue at 100 TB is the same
    move — persist the signature table once, self-join the materialized
    keys. The candidate ids are re-spread across the session's
    parallelism before vectors re-attach, so the JVM exact verify (which
    must match the oracle's float-for-float) runs on all cores instead
    of one AQE-coalesced partition.

    ``brute_force=True`` switches to the all-pairs exact join — the
    verification path for small inputs and the DuckDB-oracle twin. Its
    FIRST ACTION raises above ``all_pairs_row_limit`` input rows unless
    ``allow_all_pairs=True`` (an accidental all-pairs cross join at web
    scale is a ~10^18-row plan); the check rides the plan itself
    (dedup.attach_all_pairs_guard) — a broadcast 1-row count over
    limit(k+1), no separate probe job per call. NOTE the raise is a
    Spark execution error at the first action, NOT a call-time
    ValueError (changed in r4); wrap the action in
    ``dedup.guard_errors_as_value_error()`` for the old exception type.
    """
    d = _spread(df.select(
        F.col(key_col).alias("k"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ))
    if brute_force:
        if not allow_all_pairs:
            from prose_spark.operators.dedup import attach_all_pairs_guard

            d = attach_all_pairs_guard(
                d, all_pairs_row_limit,
                f"embedding_near_dup_pairs(brute_force=True) on >"
                f"{all_pairs_row_limit} rows is an all-pairs cross "
                "join; use the LSH path (brute_force=False) or pass "
                "allow_all_pairs=True if the quadratic cost is "
                "intentional",
            )
        cand = (
            d.alias("x").crossJoin(d.alias("y"))
            .filter(F.col("x.k") < F.col("y.k"))
            .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"),
                    F.col("x.v").alias("va"), F.col("y.v").alias("vb"))
        )
    else:
        sigs = _signatures_pandas(dim, n_planes, n_tables)
        banded = d.select(
            "k", F.posexplode(sigs("v")).alias("tbl", "sig")
        )
        # materialize the signatures so the Python stage runs once, not
        # once per join side
        banded = banded.localCheckpoint(eager=True)
        pair_ids = (
            banded.alias("x")
            .join(banded.alias("y"), ["tbl", "sig"])
            .filter(F.col("x.k") < F.col("y.k"))
            .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"))
            .dropDuplicates(["a", "b"])
        )
        # unconditional respread: AQE coalesces the id-only dedup output
        # to ~1 partition by BYTES, which would serialize the verify
        nparts = df.sparkSession.sparkContext.defaultParallelism
        cand = (
            pair_ids.repartition(nparts)
            .join(d.select(F.col("k").alias("a"), F.col("v").alias("va")),
                  "a")
            .join(d.select(F.col("k").alias("b"), F.col("v").alias("vb")),
                  "b")
        )
    return (
        cand.withColumn("cosine", _cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= min_cosine)
        .select("a", "b", "cosine")
    )


def _plane_weights(dim: int, n_planes: int, salt: str = "p") -> list[list[float]]:
    """Deterministic ±1 hyperplane weights from md5 parity of
    (salt, plane, index) — computed in Python once per signature stage,
    so signature evaluation is pure arithmetic (no per-element hashing
    at runtime)."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{salt}{p}:{i}".encode()).digest()[0] & 1
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _signatures_pandas(dim: int, n_planes: int, n_tables: int):
    """Arrow-vectorized hyperplane signatures: one numpy matmul per
    batch computes ALL L x r plane projections ((batch, dim) @ (dim,
    L*r)), sign bits fold into per-table signature ints. An interpreted
    higher-order-function path costs ~2.5 ms/row at 192 planes (measured
    — Catalyst evaluates literal-matrix lambdas per element); numpy
    does the same arithmetic in ~2 µs/row. Signatures only GATE
    candidates — the exact cosine verify stays JVM-side — so float
    summation-order differences can only perturb which candidates are
    probed, never a verified value."""
    import numpy as np

    flat = np.array(
        [w for t in range(n_tables)
         for w in _plane_weights(dim, n_planes, salt=f"t{t}p")],
        dtype=np.float64,
    )  # (n_tables*n_planes, dim)
    powers = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vecs.to_numpy())                      # (n, dim)
        bits = (V @ flat.T) >= 0                           # (n, L*r)
        B = bits.reshape(len(V), n_tables, n_planes)
        S = (B * powers).sum(axis=2).astype(np.int32)      # (n, L)
        return pd.Series(list(S))

    return sigs


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 10,
    n_tables: int = 6,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH
    (OR-construction over ``n_tables`` independent ``n_planes``-bit
    signatures): candidates are pairs colliding in >=1 table, deduped,
    then exact-cosine re-ranked. At scale the (tbl, sig) equi-join
    replaces the cross join; recall tunes via n_planes (fewer ->
    bigger buckets) and n_tables (more -> more probes). Signatures run
    as one numpy matmul per Arrow batch (_signatures_pandas); the exact
    rerank stays JVM-side."""
    sigs = _signatures_pandas(dim, n_planes, n_tables)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).select("query_id", "qv",
             F.posexplode(sigs("qv")).alias("tbl", "sig"))
    c = _spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )).select("neighbor_id", "cv",
              F.posexplode(sigs("cv")).alias("tbl", "sig"))
    cand = (
        c.join(F.broadcast(q), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair colliding in several tables must score once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cosine", _cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
