"""Entity canonicalization: MinHash-LSH blocking + connected components
(SURVEY.md §2.K K3-K5).

Pipeline:
1. mentions -> normalized surface forms (lowercase, squeezed whitespace);
2. candidate edges = exact-match edges (same normalized form) plus
   near-duplicate edges from native banded MinHash over char 3-gram
   shingles (exact Jaccard distance <= threshold after band blocking;
   operators.dedup.banded_minhash_pairs). Banding turns the O(n^2)
   similarity join into an equi-join on band keys — the only shuffle
   whose size matters at 10^12-document scale;
3. connected components over the edge set by alternating small-star /
   large-star label propagation (Kiveris et al., "Connected Components in
   MapReduce and Beyond") expressed as DataFrame self-joins, with
   localCheckpoint per round to cut lineage;
4. canonical surface per cluster = most frequent member (ties -> lexico
   smallest), canonical id = xxhash64(canonical_text).

Skew: hot surface forms ("the company", country names) all hash to one
normalized form FIRST (exact dedup), so CC vertices are distinct forms —
the heavy-hitter mention counts never enter the join. AQE skew-join
handles residual bucket skew; spark.sql.adaptive.skewJoin stays enabled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# closed-class surfaces that are never canonical entities (pronouns,
# determiners); found dominating the cluster table on narrative corpora
PRONOUNS = frozenset(
    "i you he she it we they me him her us them my your his its our their "
    "this that these those who whom which what".split()
)


def norm_col(text_col: str = "text"):
    """The canonical surface normalization (lowercase, punctuation ->
    space, squeeze): use this SAME expression everywhere a surface must
    join against the ``norm`` column of the canonical table."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^\w\s]", " ")
    return F.trim(F.regexp_replace(norm, r"\s+", " "))


def normalize_mentions(
    mentions: DataFrame, text_col: str = "text", drop_pronouns: bool = True
) -> DataFrame:
    """Add a ``norm`` column: lowercased, punctuation-stripped, squeezed;
    optionally drop closed-class (pronoun/determiner) surfaces."""
    out = mentions.withColumn("norm", norm_col(text_col)).filter(
        F.col("norm") != ""
    )
    if drop_pronouns:
        out = out.filter(~F.col("norm").isin(*PRONOUNS))
    return out


def _char_grams(col: str = "norm"):
    """Distinct char-3-gram array (whole string when shorter)."""
    return F.array_distinct(
        F.when(
            F.length(col) >= 3,
            F.expr(
                f"transform(sequence(1, length({col}) - 2),"
                f" i -> substring({col}, i, 3))"
            ),
        ).otherwise(F.array(F.col(col)))
    )


def lsh_candidate_pairs(
    forms: DataFrame,
    jaccard_max_distance: float = 0.3,
    n_hashes: int = 30,
    bands: int = 10,
    probe: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct normalized forms -> near-duplicate pairs (a, b) with true
    char-3-gram Jaccard distance <= threshold, via the native banded
    MinHash core (operators.dedup.banded_pair_ids) — exact-verified
    candidates, no pyspark.ml fit, shuffle only on band keys.

    forms: DataFrame with column ``norm`` (distinct).
    probe: optional ``norm`` subset — asymmetric band join yielding only
    pairs touching a probe form (the incremental-merge path); a
    broadcast hint on it keeps ``forms`` map-side.
    max_bucket_size: drop band buckets above this size before the pair
    join — the quadratic-densification guard for web-scale vocabularies
    (hot stop-word-like surfaces collide whole band buckets); None (the
    default) keeps exact blocking semantics.

    The grams are a pure function of the form, so the verify recomputes
    them on the deduplicated pair rows instead of re-joining ``forms``.
    """
    from prose_spark.operators.dedup import banded_pair_ids, jaccard_verify

    def keyed(df):
        return df.select(F.col("norm").alias("k"),
                         _char_grams("norm").alias("g"))

    pair_ids = banded_pair_ids(
        keyed(forms), n_hashes, bands, max_bucket_size=max_bucket_size,
        probe=keyed(probe) if probe is not None else None,
    )
    pairs = pair_ids.select(
        "a", "b", _char_grams("a").alias("ga"), _char_grams("b").alias("gb")
    )
    return jaccard_verify(pairs, jaccard_max_distance).select("a", "b")


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    """(count, sum of per-edge hashes) — an order-insensitive fingerprint
    of the (distinct) edge set, used as the fixed-point test."""
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(
            # decimal accumulator: exact, no ANSI long-overflow
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return row["n"], int(row["h"])


# driver memory one collected edge row costs beyond its id characters:
# its two Python id objects and the gate's set entries (measured ~340 B
# peak for two short string ids on CPython 3.11, collected as Arrow)
_DRIVER_ROW_BYTES = 400


def _union_find_local(spark, pairs: list, node_list: list, id_type,
                      stats: dict | None) -> DataFrame:
    """Driver-side union-find for small edge sets — identical output
    contract (comp = min member). Attaching the larger root under the
    smaller keeps every root the component minimum. The result is an
    Arrow-built local relation, so the planner sees its exact size."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    nodes = set(node_list)
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    if stats is not None:
        stats["rounds"] = 0
        stats["path"] = "local"
    schema = T.StructType([
        T.StructField("node", id_type), T.StructField("comp", id_type),
    ])
    ordered = sorted(nodes)
    arrow_type = to_arrow_type(id_type)
    table = pa.table({
        "node": pa.array(ordered, arrow_type),
        "comp": pa.array([find(n) for n in ordered], arrow_type),
    })
    return spark.createDataFrame(table, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
    driver_threshold: int = 0,
    driver_max_bytes: int = 64 << 20,
) -> DataFrame:
    """edges(a, b) -> (node, comp) with comp = min node id in the
    component (string ids compared lexicographically).

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") as DataFrame
    self-aggregations. Converges in O(log n) rounds — vs O(diameter) for
    plain label propagation — so a 10^9-node near-dup chain finishes in
    ~30 shuffles instead of ~10^9. Each round localCheckpoints to cut
    lineage. Raises RuntimeError if max_iter is exhausted before the
    fixed point (never returns silently-unconverged labels); pass
    ``stats`` to read back the round count.

    ``driver_threshold`` > 0 enables a size gate: when the distinct edge
    count is at or below it AND the estimated driver memory of the
    collected raw rows is under ``driver_max_bytes``, a driver-side
    union-find (same output contract) replaces ~2 shuffles+1 collect per
    round with one collect — the practical fast path for post-blocking
    entity graphs, which are tiny relative to the corpus. The estimate
    bounds bytes AND rows: the id characters plus _DRIVER_ROW_BYTES per
    raw row, so a long-surface vocabulary and a duplicate-heavy edge
    list both count against the cap (at the 64 MB default the local path
    takes at most ~170k raw rows). Above either bound (the 100 TB case)
    the distributed contraction runs unchanged.
    """
    from pyspark.sql import Observation
    from pyspark.sql import types as T

    # ONE materialization of the incoming edge set; everything below —
    # the deduped working set, the gate's collected node list, and the
    # distributed path's node frame — derives from this checkpoint, so
    # the (possibly expensive: NER annotate -> mentions -> band join)
    # upstream lineage is evaluated exactly once per call. The gate's
    # size is observed during that same job: sized on RAW, not the
    # deduped working set, because the local path collects raw rows.
    id_is_str = isinstance(edges.schema["a"].dataType, T.StringType)
    chars = (F.length("a") + F.length("b")).cast("long") if id_is_str \
        else F.lit(16).cast("long")
    size = Observation()
    raw = edges.select("a", "b").observe(
        size, F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(chars), F.lit(0)).alias("chars"),
    ).localCheckpoint()
    e_plan = raw.filter(F.col("a") != F.col("b")).distinct()
    if driver_threshold > 0:
        observed = size.get
        est_bytes = observed["chars"] + observed["n"] * _DRIVER_ROW_BYTES
        if est_bytes <= driver_max_bytes:
            # the estimate (checked above) bounds this collect. Collect
            # the RAW checkpointed edges as Arrow (no per-row Row
            # objects) in ONE shuffle-free job and do the self-loop
            # filter, ordered-pair dedup (the gate's distinct-edge
            # count) and node-set derivation driver-side. Union-find
            # output (comp = min member) is insensitive to edge order.
            pairs_set: set = set()
            nodes_set: set = set()
            table = raw.toArrow()
            for a, b in zip(table.column("a").to_pylist(),
                            table.column("b").to_pylist()):
                # node set from the raw (pre-self-loop-filter) edges so
                # self-loop-only nodes are kept, matching the
                # distributed path's contract
                nodes_set.add(a)
                nodes_set.add(b)
                if a != b:
                    pairs_set.add((a, b))
            if len(pairs_set) <= driver_threshold:
                spark = raw.sparkSession
                id_type = raw.schema["a"].dataType
                return _union_find_local(spark, list(pairs_set),
                                         list(nodes_set), id_type, stats)
    e = e_plan.localCheckpoint()
    # materialized only on the distributed path (the gate path never
    # uses the DataFrame form); derives from the checkpoint, not the
    # caller's lineage
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    prev = _edge_checksum(e)
    rounds = 0
    converged = prev[0] == 0
    while not converged and rounds < max_iter:
        # large-star: for each node u, m = min(N(u) ∪ {u}); connect every
        # strictly-larger neighbor v > u to m. Every edge is seen from
        # both endpoints, so the edge set stays connected.
        sym = e.union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
        mins = mins.select("a", F.least("mb", F.col("a")).alias("m"))
        e = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient each edge large->small, group by the large
        # endpoint u with m = min small neighbor; connect u and all its
        # small neighbors to m.
        d = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        cur = _edge_checksum(e)
        converged = cur == prev  # star forest is the unique fixed point
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["path"] = "distributed"
    # fixed point is a star forest: every non-root edge is (node, root)
    star = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


def canonicalize_mentions(
    mentions: DataFrame,
    jaccard_max_distance: float = 0.3,
    lsh_tables: int = 10,
    stats: dict | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """mentions(url, text, label, ...) ->
    entities_canonical(entity_id, canonical_text, norm, n_mentions).

    Returns one row per normalized surface form with its cluster's
    canonical text and id, ready to join back onto mentions/triples.
    ``lsh_tables`` = number of 3-row MinHash bands (more -> higher
    blocking recall, more candidates). ``max_bucket_size``: the
    web-scale quadratic-densification guard (see lsh_candidate_pairs) —
    None keeps exact blocking; at 10^12-document vocabularies set it
    (e.g. a few hundred) so one hot surface family cannot densify a
    band bucket into a quadratic join, at a bounded recall cost the
    dedup bench leg quantifies (capped recall 1.0 of verified pairs on
    the planted-twin corpus).
    """
    m = normalize_mentions(mentions)
    # eager checkpoint: the mentions lineage (typically the full NER
    # annotate kernel) is the dominant cost of the pipeline, and
    # form_counts feeds three separate action chains (band join, CC,
    # label/pick tail). Without this, each chain re-runs annotate —
    # measured ~6x on the incremental driver query. The checkpointed
    # frame is one row per distinct surface form: tiny relative to the
    # corpus at any scale.
    form_counts = (
        m.groupBy("norm").agg(F.count("*").alias("n_mentions"))
        .localCheckpoint()
    )

    # r=3 rows x lsh_tables bands: at the default 10 bands, collision
    # prob 0.985 at the s=0.7 threshold boundary, ~1e-3 for unrelated
    # forms; candidates are exact-verified
    pairs = lsh_candidate_pairs(
        form_counts.select("norm"), jaccard_max_distance,
        n_hashes=3 * lsh_tables, bands=lsh_tables,
        max_bucket_size=max_bucket_size,
    )
    # post-blocking entity-form graphs are orders of magnitude smaller
    # than the corpus; the gate keeps small graphs driver-local and
    # switches to distributed star contraction past 2M edges
    comp = connected_components(pairs, driver_threshold=2_000_000,
                                stats=stats)

    return _label_and_pick(form_counts, comp)


def _label_and_pick(form_counts: DataFrame, comp: DataFrame) -> DataFrame:
    """Shared tail of batch and incremental canonicalization: attach
    component labels (forms with no edges are their own component), pick
    the canonical surface (most frequent form, ties -> lexico smallest),
    derive the content-addressed entity id. Keeping this ONE code path
    is what makes merge_canonicalize's exact-equivalence contract a
    property of construction, not of luck."""
    labeled = (
        form_counts.join(comp, form_counts.norm == comp.node, "left")
        .select(
            "norm",
            "n_mentions",
            F.coalesce(F.col("comp"), F.col("norm")).alias("comp"),
        )
    )
    # canonical surface: most frequent form in the cluster, ties -> lexico
    w = Window.partitionBy("comp").orderBy(
        F.desc("n_mentions"), F.asc("norm")
    )
    canon = labeled.withColumn(
        "canonical_text", F.first("norm").over(w)
    ).withColumn("entity_id", F.xxhash64(F.col("canonical_text")))
    return canon.select("entity_id", "canonical_text", "norm", "n_mentions")


def _fits_broadcast(spark, rows: int, chars: int, bands: int) -> bool:
    """True when an increment of ``rows`` new forms (``chars`` total
    characters) fits spark.sql.autoBroadcastJoinThreshold in its widest
    broadcast shape: the probe's band keys, ``bands`` rows per form of
    ~40 fixed bytes plus the form itself. A threshold <= 0 (broadcast
    disabled) never fits."""
    limit = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return 0 < bands * (40 * rows + chars) <= limit


def merge_canonicalize(
    new_mentions: DataFrame,
    existing: DataFrame,
    jaccard_max_distance: float = 0.3,
    lsh_tables: int = 10,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """INCREMENTAL canonicalization: fold a new crawl's mentions into an
    existing canonical table without re-pairing the accumulated
    vocabulary against itself.

    existing: the output of a prior canonicalize_mentions /
    merge_canonicalize run — (entity_id, canonical_text, norm,
    n_mentions), one row per form — as a table scan or a checkpoint: it
    is scanned several times. new_mentions: raw (.., text) rows,
    evaluated once.

    Exact-equivalence contract (pytest-pinned):
    ``merge_canonicalize(new, canonicalize_mentions(old)) ==
    canonicalize_mentions(old UNION new)`` row-for-row, because

    - mention counts merge additively (same normalize/pronoun filter);
    - near-dup edges are recomputed ONLY for truly-new forms, via the
      asymmetric probe band join (identical hashing ⇒ identical band
      collisions, so the new-touching pair set matches the batch run's);
    - old connectivity re-enters as star edges (member form ->
      canonical form), whose transitive closure IS the old component
      partition — batch old x old pairs add nothing beyond it — and
      ONLY for TOUCHED components (a new-pair endpoint or a
      count-updated member); untouched components pass through
      byte-identically, which is safe because their membership and
      counts are unchanged so batch label/pick would re-emit them;
    - the labeling/canonical-pick tail is the shared _label_and_pick,
      run over the touched/new forms only.

    At 10^12-document scale this is the difference between paying for
    |new| x |vocabulary| band collisions per crawl and re-verifying the
    full |vocabulary|^2 candidate explosion. Entity ids are
    content-addressed (xxhash64 of the canonical surface), so clusters
    whose membership didn't change keep their ids across merges.

    Physical shape: the new side's form counts are checkpointed once,
    and their row count and characters are observed during that job.
    When the increment fits spark.sql.autoBroadcastJoinThreshold
    (_fits_broadcast), every increment-sized frame is broadcast, so the
    accumulated table is only ever SCANNED map-side — streamed through
    broadcast joins, never below a shuffle
    (test_plans.py::test_incremental_fold_never_shuffles_accumulated_table
    pins this on the executed plans). A larger increment (a whole crawl
    wave) leaves join planning to the optimizer and AQE.

    CAPPED MODE IS NOT EXACT-EQUIVALENT: with ``max_bucket_size`` set,
    old connectivity still re-enters as star edges even when NEW forms
    push a band bucket over the cap — a batch run over old UNION new
    would have dropped that bucket and split the cluster. This is the
    DESIRED incremental semantics (previously committed clusters stay
    stable instead of churning entity ids because new data densified a
    bucket), but it means capped merge output can differ from capped
    batch output; the divergence direction is pinned by
    test_merge_canonicalize_capped_keeps_old_clusters. Only the default
    uncapped mode carries the row-for-row equivalence contract. The cap
    counts band buckets with a window, which shuffles the band keys of
    the accumulated side."""
    from pyspark.sql import Observation

    size = Observation()
    new_counts = (
        normalize_mentions(new_mentions)
        .groupBy("norm").agg(F.count("*").alias("n_new"))
        .observe(size, F.count(F.lit(1)).alias("rows"),
                 F.coalesce(F.sum(F.length("norm")), F.lit(0))
                 .alias("chars"))
        .localCheckpoint()
    )
    observed = size.get
    fits = _fits_broadcast(existing.sparkSession, observed["rows"],
                           observed["chars"], lsh_tables)

    def small(df):  # an increment-sized frame
        return F.broadcast(df) if fits else df

    old_norms = existing.select("norm")
    # the increment's forms minus those already in the table: the hits
    # come from streaming the table against the increment (semi join)
    truly_new = (
        new_counts.join(
            small(old_norms.join(small(new_counts.select("norm")), "norm",
                                 "left_semi")),
            "norm", "left_anti")
        .select("norm")
        .localCheckpoint()
    )
    pairs = lsh_candidate_pairs(
        old_norms.unionByName(truly_new), jaccard_max_distance,
        n_hashes=3 * lsh_tables, bands=lsh_tables, probe=small(truly_new),
        max_bucket_size=max_bucket_size,
    ).localCheckpoint()

    # TOUCHED-COMPONENT restriction: only components that the increment
    # can actually change re-enter CC and the canonical re-pick —
    # components with a new-pair endpoint (membership may change) or a
    # count-updated member (the most-frequent-form pick may change).
    # Every other existing row passes through UNTOUCHED, so the fold's
    # work tracks the size of the increment, not the accumulated
    # vocabulary. Exact equivalence holds because an untouched
    # component has identical membership AND identical counts, so the
    # batch run's label/pick emits identical rows for it
    # (content-addressed ids included). Semi joins replace distincts:
    # duplicate keys on a semi join's build side change nothing.
    touch_forms = (
        pairs.select(F.col("a").alias("norm"))
        .unionByName(pairs.select(F.col("b").alias("norm")))
        .unionByName(new_counts.select("norm"))
    )
    touched_canon = (
        existing.join(small(touch_forms), "norm", "left_semi")
        .select("canonical_text").localCheckpoint()
    )
    touched_members = (
        existing.join(small(touched_canon), "canonical_text", "left_semi")
        .select("norm", "canonical_text", "n_mentions").localCheckpoint()
    )
    anchors = (
        touched_members.filter(F.col("norm") != F.col("canonical_text"))
        .select(F.col("norm").alias("a"),
                F.col("canonical_text").alias("b"))
    )
    comp = connected_components(
        pairs.unionByName(anchors), driver_threshold=2_000_000
    )
    # counts for the active (re-picked) forms only: existing members of
    # touched components carry their old count, truly-new forms start
    # at zero, and the increment's counts fold in additively
    active_counts = (
        touched_members.select(
            "norm", F.col("n_mentions").alias("n_old"))
        .unionByName(
            truly_new.select("norm", F.lit(0).alias("n_old")))
        .join(small(new_counts), "norm", "left")
        .select(
            "norm",
            (F.col("n_old")
             + F.coalesce(F.col("n_new"), F.lit(0))).alias("n_mentions"),
        )
    )
    labeled_active = _label_and_pick(active_counts, comp)
    untouched = existing.join(
        small(touched_canon), "canonical_text", "left_anti"
    ).select("entity_id", "canonical_text", "norm", "n_mentions")
    return labeled_active.unionByName(untouched)


def mentions_from_annotated(ann: DataFrame, key_col: str = "url") -> DataFrame:
    """Explode annotate() output into a long mentions table
    (url, sent_idx, start, end, text, label, confidence)."""
    e = ann.select(key_col, F.explode("entities").alias("ent"))
    return e.select(
        key_col,
        F.col("ent.sent_idx").alias("sent_idx"),
        F.col("ent.start").alias("start"),
        F.col("ent.end").alias("end"),
        F.col("ent.text").alias("text"),
        F.col("ent.label").alias("label"),
        F.col("ent.confidence").alias("confidence"),
    )
