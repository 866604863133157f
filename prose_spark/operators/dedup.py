"""Deduplication operators for training-data pipelines.

- exact dedup: hash-groupBy on normalized text (one shuffle on the hash);
- MinHash near-dup: shingle -> MinHashLSH -> banded bucket join
  (pyspark.ml), O(n) + bucket-local joins instead of O(n^2);
- SimHash near-dup: 64-bit simhash of token features computed natively
  (xxhash64 per token + bit-vote aggregation), candidate pairs by banding
  the fingerprint into 4x16-bit keys — Hamming<=k pairs collide on >=1 band;
- n-gram Jaccard: exact verification on candidate pairs (or small inputs).

All operators shuffle on hash/band keys only — never on raw text — so
partition sizes stay bounded at 100 TB inputs. AQE skew-join covers hot
buckets (empty/boilerplate docs).
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the portable minhash rehash family: products
# a_i * (h mod P) stay < 2^62, so the arithmetic is exact in a 64-bit long
# on Spark AND in DuckDB — no 128-bit intermediate needed on either engine
_P31 = 2147483647


def _norm(text_col: str):
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def minhash_salts(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) salt pairs for the portable minhash
    family h_i = (a_i * (h mod P) + b_i) mod P — derived from md5 so both
    engines inline the SAME literal constants."""
    A, B = [], []
    for i in range(n_hashes):
        a = int.from_bytes(
            hashlib.md5(f"mh_a{i}".encode()).digest()[:8], "big"
        ) % (_P31 - 1) + 1
        b = int.from_bytes(
            hashlib.md5(f"mh_b{i}".encode()).digest()[:8], "big"
        ) % _P31
        A.append(a)
        B.append(b)
    return A, B


def exact_duplicate_groups(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: one row per duplicated
    hash with the group size and the kept (min) key."""
    h = df.select(F.col(key_col), F.md5(_norm(text_col)).alias("text_hash"))
    return (
        h.groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(key_col).alias("keep_" + key_col))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-key doc per identical normalized text."""
    w = Window.partitionBy(F.md5(_norm(text_col))).orderBy(F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _shingles(text_col: str, n: int = 3):
    """Word n-gram shingles as an array column (native). The word array
    is let-bound via a single-element transform so the text is
    normalized+split ONCE per row, not once per shingle."""
    words = F.split(_norm(text_col), " ")

    def make(ws):
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", ws)))

    return F.transform(F.array(words), make).getItem(0)


def minhash_near_dup_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    jaccard_max_distance: float = 0.2,
    num_hash_tables: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate (a, b, dist) pairs via MinHash LSH over word
    n-gram shingles."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = df.select(F.col(key_col).alias("k"), _shingles(text_col, shingle_n).alias("grams"))
    tf = HashingTF(inputCol="grams", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs)
    mh = MinHashLSH(inputCol="features", outputCol="hashes",
                    numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, jaccard_max_distance, "dist")
    return (
        pairs.select(
            F.col("datasetA.k").alias("a"),
            F.col("datasetB.k").alias("b"),
            F.col("dist").alias("jaccard_dist"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def banded_minhash_pairs(
    d: DataFrame,
    jaccard_max_distance: float,
    n_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Core native banded-MinHash join: d(k, g: array of distinct
    shingles) -> (a, b, jaccard_dist) — no pyspark.ml, no model fit,
    every step codegen'd:

    1. per row, i-th minhash = min over salted rehashes of the
       once-hashed shingles (array_min over transform — map-only);
    2. band keys = one key per r-signature group (AND within a band,
       OR across bands: collision prob = 1-(1-s^r)^bands);
    3. band-local self-equi-join over (k, band, bkey) — IDS ONLY: the
       shingle arrays never ride the 8x band explosion through the
       shuffle (at web scale the arrays dominate row width, so carrying
       them per-band would multiply the dominant shuffle by the band
       count); band keys bound partition sizes at any scale;
    4. shingle arrays re-attach to the deduped candidate pairs by key
       (each doc's array moves once per candidate side, not once per
       band), then exact Jaccard verify + filter (jaccard_verify).

    Steps 1-3 are banded_pair_ids; a caller whose shingle set is a pure
    function of the key (entity canonicalization) recomputes the arrays
    on the pair rows instead of step 4's re-join.

    ``hash_fn``: 'xxhash64' (default, fastest JVM hash; band key is an
    xxhash64 chain) or 'md5' — the PORTABLE family (md5-derived 60-bit
    base hash, (a_i*h+b_i) mod 2^31-1 rehash, comma-joined band-key
    string) that DuckDB recomputes end-to-end, making the driver oracle
    an independent cross-engine recomputation rather than a pinned
    golden. Same algorithm, same guarantees; only the hash primitive
    differs.

    ``max_bucket_size``: optional cap on band-bucket membership. A
    boilerplate-heavy corpus (thousands of near-identical docs) makes a
    single band key quadratic — AQE splits the partition but not the
    O(n^2) pair explosion. Buckets larger than the cap are DROPPED from
    candidate generation (their members still pair via their other,
    discriminating bands; a bucket that big is boilerplate, not signal —
    the standard MinHash-LSH production guard). Count dropped buckets
    via ``oversized_band_buckets`` for observability.

    ``probe``: optional (k, g) frame, REQUIRED to be a key-subset of
    ``d`` with identical g per key. When given, the band join becomes
    ASYMMETRIC — probe-side keys against the full side — so only pairs
    with at least one probe member are generated or verified. This is
    the incremental path: merging a small set of new items into a large
    existing corpus pays for new x all collisions, never re-materializes
    the old x old explosion. The pair set equals the self-join's pairs
    restricted to those touching a probe key (identical hashing ⇒
    identical band collisions).
    """
    pair_ids = banded_pair_ids(d, n_hashes, bands, hash_fn,
                               max_bucket_size, probe)
    pairs = (
        pair_ids
        .join(d.select(F.col("k").alias("a"), F.col("g").alias("ga")), "a")
        .join(d.select(F.col("k").alias("b"), F.col("g").alias("gb")), "b")
    )
    return jaccard_verify(pairs, jaccard_max_distance)


def banded_pair_ids(
    d: DataFrame,
    n_hashes: int,
    bands: int,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Steps 1-3 of banded_minhash_pairs: the DISTINCT band-collision
    candidates (a, b), a < b, unverified. Same ``probe`` /
    ``max_bucket_size`` contract.

    A broadcast hint on ``probe`` carries through the band-key
    projection to the probe join: the full side is then streamed
    map-side and never shuffled. The probe path materializes its raw
    candidates (ids only, probe-sized) before the distinct: the
    distinct's exchange then reads the candidates, not a plan over the
    full side's scan, so a retried shuffle stage never re-scans it."""
    banded = _banded_keys(d, n_hashes, bands, hash_fn)
    if probe is None:
        # the self-join consumes banded TWICE, and under the default
        # broadcast threshold the build side is a separate evaluation
        # (no exchange to reuse) — materialize the id+key projection
        # once so the signature stage runs once. Ids and band keys
        # only: tiny relative to the corpus at any scale.
        banded = banded.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        # window over the SAME keys the join shuffles on: the count
        # reuses the join's exchange, so the guard adds no extra shuffle
        wb = Window.partitionBy("band", "bkey")
        banded = (
            banded.withColumn("_bn", F.count("*").over(wb))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    if probe is None:
        return (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bkey"])
            .filter(F.col("x.k") < F.col("y.k"))
            .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"))
            .dropDuplicates(["a", "b"])
        )
    return (
        _banded_keys(probe, n_hashes, bands, hash_fn).alias("x")
        .join(banded.alias("y"), ["band", "bkey"])
        .filter(F.col("x.k") != F.col("y.k"))
        .select(
            F.least(F.col("x.k"), F.col("y.k")).alias("a"),
            F.greatest(F.col("x.k"), F.col("y.k")).alias("b"),
        )
        .localCheckpoint()
        .dropDuplicates(["a", "b"])
    )


def jaccard_verify(pairs: DataFrame,
                   jaccard_max_distance: float) -> DataFrame:
    """pairs(a, b, ga, gb: distinct-shingle arrays) -> (a, b,
    jaccard_dist), keeping the pairs within the exact Jaccard distance
    threshold (the verify step of banded_minhash_pairs)."""
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        pairs.withColumn(
            "jaccard_dist", 1.0 - inter / F.greatest(union, F.lit(1))
        )
        .filter(F.col("jaccard_dist") <= jaccard_max_distance)
        .select("a", "b", "jaccard_dist")
    )


# worker-local shingle -> (60-bit md5 prefix % P31) memo: shingle vocabularies
# are Zipfian across documents, so repeated shingles skip the md5
_MD5_SHINGLE_MEMO: dict[str, int] = {}


def _banded_keys_md5_arrow(d: DataFrame, n_hashes: int,
                           bands: int) -> DataFrame:
    """Arrow-vectorized twin of the md5-family banded-key projection —
    identical output (exact integer arithmetic end to end; see the
    dispatch comment in _banded_keys)."""
    import numpy as np
    from pyspark.sql import types as T

    r = n_hashes // bands
    A, B = minhash_salts(n_hashes)
    Aa = np.asarray(A, dtype=np.int64)[:, None]
    Bb = np.asarray(B, dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def bkeys(gs: pd.Series) -> pd.Series:
        import hashlib

        memo = _MD5_SHINGLE_MEMO
        out = []
        for g in gs:
            if g is None:
                out.append(None)
                continue
            n = len(g)
            if n == 0:
                # concat_ws over all-null signature slices -> "" per band
                out.append([""] * bands)
                continue
            hs = np.empty(n, dtype=np.int64)
            for j in range(n):
                s = g[j]
                h = memo.get(s)
                if h is None:
                    h = int(hashlib.md5(s.encode("utf-8"))
                            .hexdigest()[:15], 16) % _P31
                    if len(memo) < 2_000_000:
                        memo[s] = h
                hs[j] = h
            sig = ((Aa * hs + Bb) % _P31).min(axis=1)
            out.append([
                ",".join(map(str, sig[b * r:(b + 1) * r]))
                for b in range(bands)
            ])
        return pd.Series(out)

    return d.select("k", F.posexplode(bkeys("g")).alias("band", "bkey"))


def _banded_keys(d: DataFrame, n_hashes: int, bands: int,
                 hash_fn: str) -> DataFrame:
    """d(k, g: array of distinct shingles) -> (k, band, bkey): the
    map-only minhash-signature + band-key projection shared by the pair
    join and the bucket-stats observability query. Deliberately drops
    ``g`` so the band self-join shuffles ids+keys only.

    One nested let-bound expression (via single-element transforms, so
    nothing is re-evaluated after projection collapse):
    1. hash each shingle STRING once (n_hashes x fewer string hashes);
    2. i-th minhash = min over salted rehashes of those longs;
    3. band key = one key per r signature longs.
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands

    if hash_fn == "md5":
        # Arrow-vectorized signature stage (guide §4.2): the former
        # all-expression path evaluated n_hashes x n_shingles interpreted
        # higher-order lambdas per row (HOFs are CodegenFallback) and was
        # the dominant cost of the md5 pipeline (measured 1.7s of the
        # 3.1s sf0.1 query). Every operation here is EXACT integer
        # arithmetic — md5-hex parse, (a*h+b) mod 2^31-1 in int64 (no
        # overflow: a,h < 2^31), min, decimal string join — so the band
        # keys are byte-identical to the expression path and to the
        # DuckDB oracle's independent recomputation. The verify stage
        # (exact Jaccard) stays JVM-side.
        return _banded_keys_md5_arrow(d, n_hashes, bands)
    else:
        gh = F.transform(F.col("g"), lambda s: F.xxhash64(s))

        def sigs_of(ghv):
            return F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(ghv, lambda h: F.xxhash64(i, h))
                ),
            )

        def band_key(sig_slice):
            return F.aggregate(
                sig_slice, F.lit(0).cast("long"),
                lambda acc, x: F.xxhash64(acc, x),
            )

    def bands_of(sg):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                band_key(F.slice(sg, b * r + 1, r)).alias("bkey"),
            ),
        )

    bd = F.transform(
        F.array(gh),
        lambda ghv: F.transform(F.array(sigs_of(ghv)), bands_of)
        .getItem(0),
    ).getItem(0)

    return d.select(
        "k", F.explode(bd).alias("bd")
    ).select(
        "k",
        F.col("bd.band").alias("band"), F.col("bd.bkey").alias("bkey"),
    )


def minhash_near_dup_pairs_native(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    jaccard_max_distance: float = 0.2,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate (a, b, jaccard_dist) pairs over word n-gram
    shingles via the native banded-MinHash core. Same output contract as
    minhash_near_dup_pairs (verified identical pair sets at threshold
    0.3 on the sf0.1 documents table) with ~2-3x less overhead — no ML
    fit/transform — and a plain shuffle-on-band-key plan at scale.
    See banded_minhash_pairs for ``hash_fn`` / ``max_bucket_size``."""
    # compute-bound signature stage: a small parquet input arrives as
    # 1-2 partitions (AQE coalesces by BYTES) and would serialize the
    # shingle+minhash projection onto 2 cores; spread it to the
    # session's parallelism first (no-op when the input already carries
    # enough partitions — e.g. the bench scale legs' repartitioned
    # corpora, whose shuffle-bytes evidence is therefore unchanged —
    # and explicit caller partitioning is honored)
    from prose_spark.operators.annotate import spread_compute_input

    df = spread_compute_input(df)
    d = df.select(
        F.col(key_col).alias("k"),
        F.array_distinct(_shingles(text_col, shingle_n)).alias("g"),
    )
    return banded_minhash_pairs(d, jaccard_max_distance, n_hashes, bands,
                                hash_fn=hash_fn,
                                max_bucket_size=max_bucket_size)


def oversized_band_buckets(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    max_bucket_size: int = 1000,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Observability twin of the ``max_bucket_size`` guard: one row per
    band bucket that the guard would drop, with its member count — so a
    truncated run can LOG what it skipped instead of silently shedding
    boilerplate clusters. Same signature plan as the pair join; a
    groupBy on the same keys (no pair explosion)."""
    d = df.select(
        F.col(key_col).alias("k"),
        F.array_distinct(_shingles(text_col, shingle_n)).alias("g"),
    )
    return (
        _banded_keys(d, n_hashes, bands, hash_fn)
        .groupBy("band", "bkey")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )


def add_simhash(df: DataFrame, text_col: str = "text",
                out_col: str = "simhash",
                hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over word tokens, computed per-row with native
    higher-order functions: one 64-bit hash per token, bit votes
    accumulated into a 64-long array, sign fold back into one long (bit
    63 lands on Long.MIN via shiftleft wrap, i.e. two's-complement
    reinterpret of the unsigned fingerprint).

    ``hash_fn``: 'xxhash64' (default, fastest JVM hash) or 'md5' — the
    portable token hash (first 16 md5 hex chars as a signed 64-bit long
    via conv(...,16,-10)) whose bit pattern DuckDB reproduces exactly
    (('0x'||substr(md5(t),1,16))::UBIGINT), so the driver oracle
    recomputes the whole fingerprint independently.

    Map-only — no explode, no shuffle, no generated row id — so it stays a
    narrow projection inside whatever stage consumes it, at any scale.
    """
    tok_hash = (
        "cast(conv(substring(md5(t),1,16),16,-10) as bigint)"
        if hash_fn == "md5" else "xxhash64(t)"
    )
    norm_sql = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    expr = f"""
      aggregate(
        transform(split({norm_sql}, ' '), t -> {tok_hash}),
        array_repeat(0L, 64),
        (acc, h) -> zip_with(
            acc,
            transform(sequence(0, 63),
                      b -> IF((shiftright(h, b) & 1) = 1, 1L, -1L)),
            (a, v) -> a + v),
        acc -> aggregate(
            zip_with(acc, sequence(0, 63),
                     (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
            0L, (s, x) -> s + x)
      )
    """
    return df.withColumn(
        out_col, F.coalesce(F.expr(expr), F.lit(0).cast("long"))
    )


def simhash_candidate_pairs(df_with_simhash: DataFrame, key_col: str,
                            simhash_col: str = "simhash",
                            max_hamming: int = 3,
                            max_bucket_size: int | None = None) -> DataFrame:
    """Candidate pairs whose simhashes agree on >=1 of 4 16-bit bands
    (guaranteed to cover all pairs with Hamming distance <= 3), verified
    by exact popcount on the XOR.

    ``max_bucket_size`` drops band buckets above the cap (same quadratic
    guard as banded_minhash_pairs: a 16-bit band shared by thousands of
    near-identical boilerplate docs would explode the self-join; capped
    buckets are dropped, members still pair via their other 3 bands).
    The window counts on the join's own shuffle keys — no extra shuffle.
    """
    d = df_with_simhash.select(F.col(key_col).alias("k"), F.col(simhash_col).alias("sh"))
    bands = d.select(
        "k", "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("sh"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bkey"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bd"),
    ).select("k", "sh", F.col("bd.band").alias("band"), F.col("bd.bkey").alias("bkey"))
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bkey")
        bands = (
            bands.withColumn("_bn", F.count("*").over(wb))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    joined = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bkey"])
        .filter(F.col("x.k") < F.col("y.k"))
        .select(
            F.col("x.k").alias("a"), F.col("y.k").alias("b"),
            F.col("x.sh").alias("sha"), F.col("y.sh").alias("shb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        joined.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


ALL_PAIRS_GUARD_MARKER = "ALL_PAIRS_GUARD:"


@contextmanager
def guard_errors_as_value_error():
    """Restore the pre-r4 ``ValueError`` contract for callers that want
    it: wrap the FIRST ACTION on a guarded plan (``.count()``,
    ``.collect()``, ``.write...``) and any Spark execution error carrying
    the guard marker is re-raised as ``ValueError`` with the original
    guard message::

        with guard_errors_as_value_error():
            ngram_jaccard_pairs(df, "id").count()

    (The in-plan guard itself cannot raise ValueError at call time —
    that is the point: it costs zero jobs until the caller runs an
    action, so the failure surfaces wherever the action is.)"""
    try:
        yield
    except Exception as exc:  # noqa: BLE001 - re-raise filtered below
        text = str(exc)
        idx = text.find(ALL_PAIRS_GUARD_MARKER)
        if idx < 0:
            raise
        msg = text[idx + len(ALL_PAIRS_GUARD_MARKER):].split("\n")[0].strip()
        raise ValueError(msg) from exc


def attach_all_pairs_guard(df: DataFrame, row_limit: int,
                           msg: str) -> DataFrame:
    """In-plan quadratic foot-gun guard: crossJoin a broadcast 1-row
    count over ``limit(row_limit+1)`` (bounded scan, never a full count)
    and ``assert_true``-raise DURING the caller's first action when the
    input exceeds the cap — no separate probe job per call, which the
    eager ``limit(k+1).count()`` guard used to cost even on tiny inputs.
    The assert lives inside a filter condition on a column the plan needs,
    so Catalyst can neither prune nor constant-fold it away.

    FAILURE CONTRACT (changed in r4 when the guard moved in-plan): an
    over-limit input no longer raises ``ValueError`` at call time; it
    raises a Spark execution error at the caller's first action, after
    the quadratic stage briefly launches (the failing filter is evaluated
    with the first rows, so the join dies within its first tasks, not
    after doing the quadratic work). The message is prefixed with
    ``ALL_PAIRS_GUARD_MARKER`` so ``guard_errors_as_value_error()`` can
    restore the old exception type around any action."""
    probe = df.limit(row_limit + 1).agg(F.count("*").alias("_n"))
    msg = ALL_PAIRS_GUARD_MARKER + " " + msg
    return (
        df.crossJoin(F.broadcast(probe))
        .filter(
            F.when(
                F.col("_n") > row_limit,
                F.assert_true(F.lit(False), F.lit(msg)).isNull(),
            ).otherwise(F.lit(True))
        )
        .drop("_n")
    )


def ngram_jaccard_pairs(
    df: DataFrame, key_col: str, text_col: str = "text",
    shingle_n: int = 3, min_jaccard: float = 0.8,
    block_col: str | None = None,
    allow_all_pairs: bool = False,
    all_pairs_row_limit: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs, blocked by ``block_col``
    (or all-pairs when None — small inputs / verification of LSH
    candidates). Jaccard computed natively with array_intersect/union.

    Foot-gun guard: ``block_col=None`` is O(n^2). Above
    ``all_pairs_row_limit`` input rows the FIRST ACTION raises unless the
    caller sets ``allow_all_pairs=True`` — at web scale an accidental
    unblocked call would otherwise launch a ~10^18-pair self-join. The
    check rides the plan itself (attach_all_pairs_guard): a broadcast
    1-row count over limit(k+1), no separate probe job. NOTE the raise
    is a Spark execution error at the first action, NOT a call-time
    ValueError (changed in r4); wrap the action in
    ``guard_errors_as_value_error()`` for the old exception type."""
    d = df.select(
        F.col(key_col).alias("k"),
        F.array_distinct(_shingles(text_col, shingle_n)).alias("g"),
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")] ),
    )
    if block_col is None and not allow_all_pairs:
        d = attach_all_pairs_guard(
            d, all_pairs_row_limit,
            f"ngram_jaccard_pairs(block_col=None) on >"
            f"{all_pairs_row_limit} rows is an all-pairs self-join; "
            "pass a block_col (or allow_all_pairs=True if the "
            "quadratic cost is intentional)",
        )
    j = (
        d.alias("x").join(d.alias("y"), "blk")
        .filter(F.col("x.k") < F.col("y.k"))
        .select(
            F.col("x.k").alias("a"), F.col("y.k").alias("b"),
            (
                F.size(F.array_intersect("x.g", "y.g"))
                / F.size(F.array_union("x.g", "y.g"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= min_jaccard)


def near_dup_doc_clusters(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    jaccard_max_distance: float = 0.2,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: (key, keep_key) for every document that
    belongs to a near-duplicate cluster, where keep_key is the cluster
    representative (minimum key — the standard keep-first policy).
    Documents with no near-duplicate are omitted (they keep themselves).

    Pipeline: banded-MinHash candidate pairs (exact-Jaccard verified)
    -> alternating star-contraction connected components (O(log n)
    rounds — transitive near-dup chains collapse into ONE cluster, so
    'A~B, B~C' dedups to a single survivor even when A!~C) -> comp id,
    which IS the min key by the CC contract. This is the operation a
    training-data pipeline actually runs; pair listing is its debug
    view."""
    from prose_spark.operators.canonicalize import connected_components

    pairs = minhash_near_dup_pairs_native(
        df, key_col, text_col, jaccard_max_distance, n_hashes, bands,
        shingle_n, hash_fn=hash_fn, max_bucket_size=max_bucket_size,
    )
    # near-dup graphs are tiny relative to the corpus (edges only between
    # actual near-dups): the ≤2M-edge driver union-find gate replaces
    # ~2 shuffles+1 collect per contraction round with one collect; the
    # distributed star-contraction path runs unchanged above the gate
    comp = connected_components(pairs.select("a", "b"),
                                driver_threshold=2_000_000)
    return comp.select(
        F.col("node").alias(key_col),
        F.col("comp").alias("keep_" + key_col),
    )
