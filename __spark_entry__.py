"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship KG query on sf0.001 (annotate -> triples).
queries()      — one callable per implemented operator family
                 (SURVEY.md §2): NLP kernels, text analysis, dedup,
                 similarity search, relational plumbing.
oracle_sql()   — DuckDB-equivalent SQL for every query. SQL-expressible
                 queries get independently-computed DuckDB oracles —
                 including the full minhash/simhash/winnowing sketch
                 pipelines, recomputed end-to-end via the portable
                 md5-derived hash family both engines share;
                 model-dependent queries (tagger/NER/triples/sentiment)
                 get PINNED-GOLDEN parquet oracles: the expected output
                 is committed under tests/goldens/driver/<PINNED_SF>/
                 <name>/ (re-pin with scripts/pin_driver_goldens.py,
                 hand-review the diff) and the oracle is read_parquet
                 over it, so rows+schema+values are hard-checked every
                 round. Pinned goldens are regression guards, not
                 independent recomputation — the distinction is explicit
                 in COVERAGE.md.

Entity-bearing queries run over the deterministic synthetic pages corpus
(sources/pages.py, seed=42) — the sf documents tables contain no capital
letters or punctuation, so NER/canonicalize would be vacuous there.

Column names/aliases match between Spark and SQL; doubles are rounded on
both sides; counts cast to long.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

GOLDEN_DIR = Path(__file__).resolve().parent / "tests" / "goldens" / "driver"

# Pinned goldens are pinned AT THIS SCALE FACTOR and live under
# GOLDEN_DIR/<PINNED_SF>/<name>/ — the sf is part of the path so running
# the gate at any other scale factor fails LOUDLY (read_parquet on a
# missing directory) instead of silently comparing against wrong-scale
# expectations. Queries reading ONLY the synthetic pages corpus are
# sf-independent but are pinned under the same directory for uniformity.
PINNED_SF = "sf0.01"

# queries whose oracle is a pinned-golden parquet (see module docstring).
# r3: dedup_minhash_pairs / dedup_simhash / dedup_simhash_pairs /
# ta_winnowing moved OFF this list — their operators now run the portable
# md5-derived hash family that DuckDB recomputes end-to-end, so their
# oracles are independent cross-engine recomputations. r4: sim_topk_lsh /
# sim_topk_ivf moved off the same way — DuckDB recomputes the hyperplane
# signatures (md5-parity planes) and the whole IVF fit (md5 seed order +
# Lloyd step + argmax assignment) from the raw table. Every remaining pin
# is model-dependent (tagger/NER/punkt/sentiment weights).
PINNED_QUERIES = (
    "nlp_pos_tag_dist", "nlp_entity_mentions", "nlp_canonical_entities",
    "nlp_triples", "kg_pages_triples", "nlp_pages_token_counts",
    "nlp_pages_sentence_counts", "nlp_sentiment",
    "nlp_sentiment_ml",
    # r7: the multimodal decode stages — feature values depend on the
    # in-repo decoders, which DuckDB cannot recompute (nlp_triples
    # pattern: pinned = hard rows+schema+value regression guard)
    "mm_image_stats", "mm_audio_stats",
)


def golden_path(name: str) -> Path:
    return GOLDEN_DIR / PINNED_SF / name

_PAGES_N = 500


def _pages_path() -> str:
    """Cache path for the synthetic pages corpus, keyed by the
    generator's source hash so a stale corpus never survives a generator
    change."""
    import hashlib

    import prose_spark.sources.pages as pages_mod

    src_key = hashlib.md5(
        Path(pages_mod.__file__).read_bytes()
    ).hexdigest()[:10]
    return f"/tmp/prose_spark_pages_{_PAGES_N}_s42_{src_key}"


def _pages(spark: SparkSession) -> DataFrame:
    """Deterministic entity-bearing pages corpus (seed=42), materialized
    once to parquet so repeated queries scan a real columnar source."""
    from prose_spark.sources.pages import write_pages_parquet

    path = _pages_path()
    if not os.path.exists(path + "/_SUCCESS"):
        write_pages_parquet(spark, path, _PAGES_N, seed=42)
    return spark.read.parquet(path)


def _oracle_pages_parquet() -> str:
    """DuckDB-side copy of the pages corpus, written with PYARROW from
    the same deterministic generator (seed=42) — no Spark involvement, so
    a pages-table oracle never depends on the Spark query having run
    first, and the oracle's input provably comes from the generator, not
    from the engine under test."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prose_spark.sources.pages import generate_pages_rows

    path = _pages_path() + "_oracle.parquet"
    if not os.path.exists(path):
        rows = [
            {"url": url, "text": text, "lang": lang}
            for url, _, _, text, lang, _ in
            generate_pages_rows(_PAGES_N, seed=42)
        ]
        pq.write_table(pa.Table.from_pylist(rows), path)
    return path


_MEDIA_N_IMAGES = 60
_MEDIA_N_AUDIO = 40


def _media_path() -> str:
    """Cache path for the synthetic media corpus (seeded encoders in
    sources/media.py), keyed by the generator's source hash."""
    import hashlib

    import prose_spark.sources.media as media_mod

    src_key = hashlib.md5(
        Path(media_mod.__file__).read_bytes()
    ).hexdigest()[:10]
    return (f"/tmp/prose_spark_media_{_MEDIA_N_IMAGES}i{_MEDIA_N_AUDIO}"
            f"a_s42_{src_key}.parquet")


def _media(spark: SparkSession) -> DataFrame:
    """Deterministic media corpus (seed=42): png/bmp/ppm/webp image blobs +
    PCM16 and IMA-ADPCM WAV blobs, written by pyarrow from the seeded product-side
    encoders — the REAL decoders (fake=False) consume them."""
    from prose_spark.sources.media import write_media_parquet

    path = _media_path()
    if not os.path.exists(path):
        write_media_parquet(path, _MEDIA_N_IMAGES, _MEDIA_N_AUDIO, seed=42)
    return spark.read.parquet(path)


def q_mm_image_stats(spark, sf_dir):
    """Multimodal image stage at the driver surface: real decode of the
    seeded png/bmp/ppm/webp/gif/tiff corpus through the map-only
    mapInPandas feature stage (blobs consumed in-stage, only (url, meta,
    feature scalars) projected out). Oracle: pinned golden (decode
    output is model-of-code-dependent, the nlp_triples pattern)."""
    from prose_spark.operators.multimodal import extract_image_features

    media = _media(spark).filter(F.col("kind") == "image")
    feats = extract_image_features(
        media, blob_col="blob", key_cols=("url",), fake=False)
    return feats.select(
        "url",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha1").alias("sha1"),
        F.round(F.col("features")[0].cast("double"), 5).alias("mean_r"),
        F.round(F.col("features")[1].cast("double"), 5).alias("mean_g"),
        F.round(F.col("features")[2].cast("double"), 5).alias("mean_b"),
        F.round(F.col("features")[3].cast("double"), 5).alias("std_r"),
        F.round(F.col("features")[4].cast("double"), 5).alias("std_g"),
        F.round(F.col("features")[5].cast("double"), 5).alias("std_b"),
    ).orderBy("url")


def q_mm_audio_stats(spark, sf_dir):
    """Multimodal audio stage at the driver surface: real WAV decode of
    the seeded PCM16 / IMA-ADPCM / MS-ADPCM corpus through the map-only
    feature stage. Oracle: pinned golden (same pattern as
    mm_image_stats). All six spectral/signal scalars are projected
    (r7 verdict #7); features[7] alone is excluded because it is the
    sample-rate TAG (sr/48000) and ``sample_rate`` is already projected
    verbatim from the metadata struct — including both would pin the
    same fact twice."""
    from prose_spark.operators.multimodal import extract_audio_features

    media = _media(spark).filter(F.col("kind") == "audio")
    feats = extract_audio_features(
        media, blob_col="blob", key_cols=("url",))
    return feats.select(
        "url",
        F.col("audio_meta.mime").alias("mime"),
        F.col("audio_meta.sample_rate").alias("sample_rate"),
        F.col("audio_meta.n_samples").alias("n_samples"),
        F.col("audio_meta.n_bytes").alias("n_bytes"),
        F.col("audio_meta.sha1").alias("sha1"),
        F.round(F.col("features")[0].cast("double"), 5).alias("duration"),
        F.round(F.col("features")[1].cast("double"), 5).alias("rms"),
        F.round(F.col("features")[2].cast("double"), 5).alias("zcr"),
        F.round(F.col("features")[3].cast("double"), 5).alias("centroid"),
        F.round(F.col("features")[4].cast("double"), 5).alias("peak"),
        F.round(F.col("features")[5].cast("double"), 5).alias("rolloff"),
        F.round(F.col("features")[6].cast("double"), 5).alias("flatness"),
    ).orderBy("url")


STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "but", "is", "are", "was", "were", "in",
    "on", "at", "to", "of", "for", "with", "by", "from", "that", "this",
    "it", "be", "as", "not", "have", "has", "had",
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# vectorized NLP column helpers (Arrow-batched; models load once per worker)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def ptb_token_count(texts: pd.Series) -> pd.Series:
    from prose_spark.nlp.tokenizer import tokenize

    return texts.map(lambda t: len(tokenize(t or "")))


@F.pandas_udf(T.LongType())
def sentence_count(texts: pd.Series) -> pd.Series:
    from prose_spark.nlp.segmenter import default_segmenter

    seg = default_segmenter()
    return texts.map(lambda t: len(seg.segment(t or "")))




# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_nlp_token_counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", ptb_token_count(F.col("text")).alias("n_tokens"))
        .orderBy("doc_id")
    )


def q_nlp_tokens_by_lang(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", ptb_token_count(F.col("text")).alias("n"))
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("total_tokens"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .orderBy("lang")
    )


def _annotated_cache_key() -> str:
    """Cache key covering EVERYTHING that can change annotate() output:
    the pages generator, the annotate kernel, every NLP kernel module,
    and the trained model artifacts. A stale cache would silently feed
    six NLP-chain queries, so the key errs maximal."""
    import hashlib

    import prose_spark

    pkg = Path(prose_spark.__file__).parent
    h = hashlib.md5()
    parts = sorted(
        list((pkg / "nlp").glob("*.py"))
        + list((pkg / "models").iterdir())
        + [pkg / "operators" / "annotate.py", pkg / "sources" / "pages.py"]
    )
    for p in parts:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:10]


def _annotated_pages(spark) -> DataFrame:
    """annotate() over the en pages corpus, materialized ONCE to parquet
    keyed by the kernel+model+generator hash: six NLP-chain queries
    (tag dist, mentions, triples x2, canonical x2) share this input, and
    before r5 each of them re-ran the full annotate kernel — the oracle
    gate paid the corpus ~6x over. The nested token/entity struct
    round-trips parquet exactly (strings/longs/doubles), so downstream
    hashes are unchanged (pinned goldens verify this every round)."""
    from prose_spark.operators.annotate import annotate

    path = f"/tmp/prose_spark_ann_{_PAGES_N}_s42_{_annotated_cache_key()}"
    if not os.path.exists(path + "/_SUCCESS"):
        pages = _pages(spark).filter(F.col("lang") == "en")
        annotate(pages.select("url", "text")).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def q_nlp_pos_tag_dist(spark, sf_dir):
    # pages corpus: punctuation + proper nouns give a REAL tag
    # distribution (NNP/CD/./, ...), unlike the caps-free documents table
    ann = _annotated_pages(spark)
    return (
        ann.select(F.explode("tokens").alias("tok"))
        .groupBy(F.col("tok.tag").alias("tag"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("tag")
    )


def q_nlp_entity_mentions(spark, sf_dir):
    from prose_spark.operators.canonicalize import mentions_from_annotated

    ann = _annotated_pages(spark)
    m = mentions_from_annotated(ann, key_col="url")
    return m.select(
        "url", "sent_idx", "start", "end", "text", "label",
        F.round("confidence", 6).alias("confidence"),
    ).orderBy("url", "start")


def q_nlp_pages_token_counts(spark, sf_dir):
    # PTB tokenizer over punctuation/abbreviation-rich text — unlike the
    # documents table, whitespace splitting would NOT reproduce this
    return (
        _pages(spark)
        .select("url", ptb_token_count(F.col("text")).alias("n_tokens"))
        .orderBy("url")
    )


def q_nlp_pages_sentence_counts(spark, sf_dir):
    # punkt segmentation over multi-sentence docs with abbreviations
    return (
        _pages(spark)
        .select("url", sentence_count(F.col("text")).alias("n_sentences"))
        .orderBy("url")
    )


def q_ta_pages_quality(spark, sf_dir):
    from prose_spark.operators.textstats import add_quality_scores

    d = add_quality_scores(_pages(spark))
    return d.select(
        "url",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    ).orderBy("url")


def q_ta_html_extract(spark, sf_dir):
    """North-rule per-row invariant: text extracted from the html column
    must be byte-identical to the source text per url (independently
    asserted against the source text column in
    tests/test_spark_pipeline.py::test_html_text_extraction_byte_identity;
    the driver oracle pins the extracted output)."""
    from prose_spark.operators.html import html_to_text

    pages = _pages(spark)
    return (
        pages.select("url", html_to_text(F.col("html")).alias("text"))
        .orderBy("url")
    )


def q_kg_pages_triples(spark, sf_dir):
    # the production KG path over the entity-bearing corpus
    from prose_spark.operators.triples import annotate_and_extract_triples

    pages = _pages(spark).filter(F.col("lang") == "en")
    tr = annotate_and_extract_triples(pages.select("url", "text"))
    return tr.select(
        "url", "sent_idx", "subj", "pred", "obj", "pred_norm",
        "subj_label", "obj_label",
        F.round("confidence", 6).alias("confidence"),
    ).orderBy("url", "sent_idx", "subj", "pred", "obj")


def q_kg_pagerank(spark, sf_dir):
    """Distributed PageRank over the customer->supplier purchase graph
    (orders x lineitem): the classic iterative join-based graph op, one
    shuffle per round. Fully cross-engine: the DuckDB oracle unrolls
    the same 5 damped iterations as CTEs over the same edge list, so
    every rank value is recomputed independently end-to-end."""
    from prose_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iterations=5, damping=0.85)
    # 5dp, not 6: the two engines sum float contributions in different
    # orders, so the last ulp differs; one digit of slack keeps the
    # cross-engine hash gate off rounding boundaries (r6 ADVICE)
    return pr.select(
        "node", F.round("rank", 5).alias("rank")
    ).orderBy("node")


def q_kg_entity_degree(spark, sf_dir):
    """Per-entity degree statistics over the SAME deterministic triple
    set as nlp_triples (aggregation verified cross-engine against the
    pinned golden, exactly the kg_triple_support pattern)."""
    from prose_spark.operators.graph import entity_degrees
    from prose_spark.operators.triples import annotate_and_extract_triples

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tr = annotate_and_extract_triples(
        docs.select("doc_id", "text"), key_cols=("doc_id",)
    )
    return (
        entity_degrees(tr)
        .orderBy("entity")
    )


def q_nlp_triples(spark, sf_dir):
    # fused single-stage path: text -> triples in one mapInPandas
    from prose_spark.operators.triples import annotate_and_extract_triples

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tr = annotate_and_extract_triples(
        docs.select("doc_id", "text"), key_cols=("doc_id",)
    )
    return tr.select(
        "doc_id", "sent_idx", "subj", "pred", "obj", "pred_norm",
        "subj_label", "obj_label", F.round("confidence", 6).alias("confidence"),
    ).orderBy("doc_id", "sent_idx", "subj", "pred", "obj")


def q_kg_triple_support(spark, sf_dir):
    """Weighted-edge materialization over the SAME deterministic triple
    set as nlp_triples: the aggregation itself is verified cross-engine
    (the DuckDB oracle aggregates the pinned nlp_triples golden — the
    identical input by the nlp_triples hash check), so only the input
    inherits the pin's model dependence."""
    from prose_spark.operators.triples import (
        annotate_and_extract_triples,
        triple_support,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tr = annotate_and_extract_triples(
        docs.select("doc_id", "text"), key_cols=("doc_id",)
    ).withColumn("confidence", F.round("confidence", 6))
    return (
        triple_support(tr, source_col="doc_id")
        .select(
            "subj", "pred_norm", "obj", "n_mentions", "n_sources",
            F.round("max_confidence", 6).alias("max_confidence"),
            F.col("first_source").cast("long").alias("first_source"),
        )
        .orderBy("subj", "pred_norm", "obj")
    )


def q_nlp_canonical_entities(spark, sf_dir):
    from prose_spark.operators.canonicalize import (
        canonicalize_mentions,
        mentions_from_annotated,
    )

    ann = _annotated_pages(spark)
    m = mentions_from_annotated(ann, key_col="url")
    canon = canonicalize_mentions(m)
    return canon.select(
        "entity_id", "canonical_text", "norm",
        F.col("n_mentions").cast("long").alias("n_mentions"),
    ).orderBy("canonical_text", "norm")


def q_kg_merge_canonical(spark, sf_dir):
    """INCREMENTAL canonicalization driver query: canonicalize 2/3 of
    the pages mentions, then merge_canonicalize the remaining third in.
    The oracle is the nlp_canonical_entities pinned golden — the BATCH
    result over all mentions — so the gate hash-checks the incremental
    path's exact-equivalence contract every round (a different code
    path must reproduce the batch table bit-for-bit)."""
    from prose_spark.operators.canonicalize import (
        canonicalize_mentions,
        mentions_from_annotated,
        merge_canonicalize,
    )

    ann = _annotated_pages(spark)
    m = mentions_from_annotated(ann, key_col="url")
    old = m.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    new = m.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    existing = canonicalize_mentions(old).localCheckpoint()
    inc = merge_canonicalize(new, existing)
    return inc.select(
        "entity_id", "canonical_text", "norm",
        F.col("n_mentions").cast("long").alias("n_mentions"),
    ).orderBy("canonical_text", "norm")


def q_ta_quality(spark, sf_dir):
    from prose_spark.operators.textstats import add_quality_scores

    d = add_quality_scores(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def q_ta_bpe_token_counts(spark, sf_dir):
    # BPE-ish pretokenizer count — the DuckDB oracle computes the SAME
    # regex independently (pattern restricted to the RE2 ∩ Java subset)
    from prose_spark.operators.textstats import bpe_token_count_col

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                bpe_token_count_col("text").cast("long")
                .alias("n_bpe_tokens"))
        .orderBy("doc_id")
    )


def q_ta_winnowing(spark, sf_dir):
    # winnowing fingerprint sketch over the punctuation-rich pages
    # corpus, in the portable md5-hash mode: the DuckDB oracle re-runs
    # the whole k-gram-hash -> window-min -> distinct selection itself
    from prose_spark.operators.textstats import winnowing_fingerprints

    w = winnowing_fingerprints(_pages(spark).select("url", "text"),
                               hash_fn="md5")
    return (
        w.select("url", F.explode("fingerprints").alias("fingerprint"))
        .orderBy("url", "fingerprint")
    )


def q_ta_unigram_logprob(spark, sf_dir):
    """Corpus-frequency unigram log-prob quality score; the DuckDB
    oracle recomputes vocab counts, OOV smoothing, and the per-doc mean
    independently."""
    from prose_spark.operators.textstats import unigram_logprob_scores

    d = unigram_logprob_scores(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", "n_tokens",
        F.round("avg_neg_log2_p", 6).alias("avg_neg_log2_p"),
    ).orderBy("doc_id")


def q_ta_fingerprint(spark, sf_dir):
    from prose_spark.operators.textstats import add_fingerprint

    d = add_fingerprint(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "fingerprint_md5").orderBy("doc_id")


def q_dedup_exact_groups(spark, sf_dir):
    from prose_spark.operators.dedup import exact_duplicate_groups

    docs = _t(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs.withColumn("doc_id", F.col("doc_id") + 1000000))
    g = exact_duplicate_groups(doubled, key_col="doc_id")
    return g.select(
        "text_hash",
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    ).orderBy("text_hash")


def q_dedup_ngram_jaccard(spark, sf_dir):
    from prose_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, key_col="doc_id", shingle_n=1, min_jaccard=0.5,
        block_col="source",
    )
    return pairs.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("a", "b")


def q_dedup_minhash_pairs(spark, sf_dir):
    # native banded-MinHash core (no pyspark.ml fit); the ML variant is
    # cross-checked against it in tests/test_spark_pipeline.py. Portable
    # md5 hash family: the DuckDB oracle recomputes shingling, minhash
    # signatures, banding, the candidate join AND the exact Jaccard
    # verify independently.
    from prose_spark.operators.dedup import minhash_near_dup_pairs_native

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs_native(
        docs, key_col="doc_id", jaccard_max_distance=0.3, n_hashes=32,
        bands=8, shingle_n=3, hash_fn="md5",
    )
    return pairs.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    ).orderBy("a", "b")


def q_dedup_fuzzy_clusters(spark, sf_dir):
    """End-to-end fuzzy dedup over the doubled corpus (each doc +
    its identical twin under a shifted id, plus the corpus's natural
    near-dups): banded-MinHash pairs -> star-contraction connected
    components -> (doc_id, keep_doc_id=min of cluster). The DuckDB
    oracle recomputes the pairs AND the components (recursive
    transitive closure) independently."""
    from prose_spark.operators.dedup import near_dup_doc_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    clusters = near_dup_doc_clusters(
        doubled, key_col="doc_id", jaccard_max_distance=0.3, hash_fn="md5"
    )
    return clusters.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    ).orderBy("doc_id")


def q_dedup_simhash(spark, sf_dir):
    # portable md5 token hash: DuckDB recomputes the 64-bit fingerprint
    # (per-token hash, bit votes, signed fold) bit-for-bit
    from prose_spark.operators.dedup import add_simhash

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        add_simhash(docs, hash_fn="md5")
        .select("doc_id", "simhash").orderBy("doc_id")
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    # banding candidate join + exact Hamming verify: near-dups are made by
    # appending one word to each doc under shifted ids (hamming <= ~3)
    from prose_spark.operators.dedup import add_simhash, simhash_candidate_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzgloss")).alias("text"),
    )
    sh = add_simhash(docs.unionByName(perturbed), hash_fn="md5")
    pairs = simhash_candidate_pairs(sh, "doc_id", max_hamming=3)
    return pairs.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("hamming").cast("long").alias("hamming"),
    ).orderBy("a", "b")


def q_sim_topk_bruteforce(spark, sf_dir):
    from prose_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    top = brute_force_topk(q, emb, k=5)
    return top.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def q_sim_topk_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH top-k. Oracle: INDEPENDENT — the
    md5-parity plane weights are a public cross-engine contract, so
    DuckDB recomputes signatures -> candidate buckets -> exact rerank
    end-to-end from the raw embeddings table (no pinned golden)."""
    from prose_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # OR-construction config with measured recall@5 >= 0.9 vs brute force
    top = lsh_topk(q, emb, k=5, dim=64, n_planes=3, n_tables=12)
    return top.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def q_dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH blocking + exact verify.
    Twins are synthesized with a value-dependent perturbation (both
    engines can compute it without indexed lambdas); the DuckDB oracle
    does the brute-force all-pairs cosine independently."""
    from prose_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    perturbed = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + 0.05 * F.sin(1000 * x)
        ).alias("embedding"),
    )
    pairs = embedding_near_dup_pairs(
        emb.unionByName(perturbed), min_cosine=0.9
    )
    return pairs.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("cosine", 6).alias("cosine"),
    ).orderBy("a", "b")


def q_sim_topk_ivf(spark, sf_dir):
    """IVF top-k with the portable md5 seed order (hash_fn='md5' — the
    same cross-engine hash family the dedup sketches use). Oracle:
    INDEPENDENT — DuckDB recomputes the ENTIRE fit from the raw table
    (md5-ordered seeds, one Lloyd step, argmax assignment, n_probe cell
    pruning, exact rerank); no pinned golden."""
    from prose_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    top = ivf_topk(q, emb, k=5, n_cells=16, n_probe=8, hash_fn="md5")
    return top.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def q_nlp_sentiment(spark, sf_dir):
    from prose_spark.operators.sentiment_ops import sentiment_lexicon_udf

    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return (
        d.select("doc_id", sentiment_lexicon_udf(F.col("text")).alias("s"))
        .select("doc_id", "s.polarity", "s.intensity", "s.confidence",
                "s.dominant")
        .orderBy("doc_id")
    )


# crafted corpus exercising negation windows, clause boundaries,
# modifiers, intensity classes, questions, and the ML combine path
SENTIMENT_ML_DOCS = [
    (1, "This product is absolutely amazing!"),
    (2, "The service was not good at all."),
    (3, "It is a very disappointing and terrible experience."),
    (4, "The hotel was nice, but the food was awful."),
    (5, "I slightly like the new design."),
    (6, "Is this the best phone ever?"),
    (7, "The package arrived on Tuesday and contains six items."),
    (8, "An utterly flawless, breathtaking performance."),
    (9, "This mediocre update is somewhat disappointing."),
    (10, "I can't believe how wonderful this is!!!"),
    (11, "The worst nightmare of a launch; a complete disaster."),
    (12, "The quick brown fox jumps over the lazy dog."),
]


def q_nlp_sentiment_ml(spark, sf_dir):
    from prose_spark.operators.sentiment_ops import sentiment_hybrid_udf

    d = spark.createDataFrame(SENTIMENT_ML_DOCS, "doc_id long, text string")
    return (
        d.select("doc_id", sentiment_hybrid_udf(F.col("text")).alias("s"))
        .select("doc_id", "s.polarity", "s.intensity", "s.confidence",
                "s.dominant")
        .orderBy("doc_id")
    )


def q_ta_langid(spark, sf_dir):
    from prose_spark.operators.textstats import detect_language

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", detect_language(F.col("text")).alias("l"))
        .select("doc_id", "l.lang_pred",
                F.round("l.lang_conf", 6).alias("lang_conf"))
        .orderBy("doc_id")
    )


def q_rel_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_rel_top_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_rel_window_topk(spark, sf_dir):
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("o_custkey", "rank")
    )


def q_rel_semi_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey,
                            "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey,
                        "left_anti")
    return with_orders.agg(
        F.count("*").cast("long").alias("n_with_orders")
    ).crossJoin(without.agg(F.count("*").cast("long").alias("n_without_orders")))


def q_rel_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_rel_nation_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


def q_rel_distinct_priorities(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderpriority", "o_orderstatus")
        .distinct()
        .orderBy("o_orderpriority", "o_orderstatus")
    )


def q_rel_asof_join(spark, sf_dir):
    from prose_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    j = asof_join(purchases, signups, on="user_id", ts="ts",
                  right_value_cols=("value",))
    return j.select(
        "event_id", "user_id",
        F.round("value", 4).alias("purchase_value"),
        F.round("value_asof", 4).alias("last_signup_value"),
    ).orderBy("event_id")


def q_rel_range_join(spark, sf_dir):
    """True range (theta) join: events bucketed into value bands via a
    BETWEEN condition against a small broadcast bands dimension."""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("tiny", 0.0, 1.0), ("small", 1.0, 10.0), ("medium", 10.0, 100.0),
         ("large", 100.0, 1e9)],
        "band string, lo double, hi double",
    )
    j = ev.join(
        F.broadcast(bands),
        (ev.value >= bands.lo) & (ev.value < bands.hi),
    )
    return (
        j.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("band")
    )


def q_rel_sessions(spark, sf_dir):
    """Batch sessionization (30-min gap rule) aggregated per session —
    promotes the sessionize operator from tests-only to oracle-verified:
    DuckDB recomputes the lag/cumulative-sum window logic independently."""
    from prose_spark.operators.streaming import sessionize_events

    ev = _t(spark, sf_dir, "events")
    s = sessionize_events(ev, gap_minutes=30)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_seq").cast("long").alias("session_seq"),
            "n_events", "total_value",
        )
        .orderBy("user_id", "session_seq")
    )


def q_rel_pivot(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("long"))
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 4))
        .orderBy("user_bucket")
    )


def q_rel_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_rel_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_rel_setops(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c_nations = cust.select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).distinct()
    s_nations = supp.select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    ).distinct()
    only_cust = c_nations.exceptAll(s_nations).withColumn(
        "src", F.lit("customer_only")
    )
    both = c_nations.intersect(s_nations).withColumn("src", F.lit("both"))
    return only_cust.unionByName(both).orderBy("src", "nationkey")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction over the sf0.001 documents corpus —
    annotate (segment/tokenize/tag/NER) -> POS-pattern triple extraction."""
    return q_nlp_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "nlp_token_counts": q_nlp_token_counts,
        "nlp_tokens_by_lang": q_nlp_tokens_by_lang,
        # (nlp_sentence_counts was dropped in r3: on the single-sentence
        # documents corpus its oracle was the constant 1 — vacuous; the
        # pages variant below carries the real punkt signal)
        "nlp_pages_token_counts": q_nlp_pages_token_counts,
        "nlp_pages_sentence_counts": q_nlp_pages_sentence_counts,
        "nlp_pos_tag_dist": q_nlp_pos_tag_dist,
        "nlp_entity_mentions": q_nlp_entity_mentions,
        "nlp_triples": q_nlp_triples,
        "kg_pages_triples": q_kg_pages_triples,
        "nlp_canonical_entities": q_nlp_canonical_entities,
        "kg_triple_support": q_kg_triple_support,
        "kg_merge_canonical": q_kg_merge_canonical,
        "kg_pagerank": q_kg_pagerank,
        "kg_entity_degree": q_kg_entity_degree,
        "nlp_sentiment": q_nlp_sentiment,
        "nlp_sentiment_ml": q_nlp_sentiment_ml,
        "ta_quality": q_ta_quality,
        "ta_pages_quality": q_ta_pages_quality,
        "ta_html_extract": q_ta_html_extract,
        "ta_bpe_token_counts": q_ta_bpe_token_counts,
        "ta_winnowing": q_ta_winnowing,
        "ta_langid": q_ta_langid,
        "ta_unigram_logprob": q_ta_unigram_logprob,
        "ta_fingerprint": q_ta_fingerprint,
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_fuzzy_clusters": q_dedup_fuzzy_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding_pairs": q_dedup_embedding_pairs,
        "sim_topk_bruteforce": q_sim_topk_bruteforce,
        "sim_topk_lsh": q_sim_topk_lsh,
        "sim_topk_ivf": q_sim_topk_ivf,
        "rel_q1": q_rel_q1,
        "rel_top_customers": q_rel_top_customers,
        "rel_window_topk": q_rel_window_topk,
        "rel_semi_anti": q_rel_semi_anti,
        "rel_events_hourly": q_rel_events_hourly,
        "rel_asof_join": q_rel_asof_join,
        "rel_range_join": q_rel_range_join,
        "rel_sessions": q_rel_sessions,
        "rel_pivot": q_rel_pivot,
        "rel_cube": q_rel_cube,
        "rel_rollup": q_rel_rollup,
        "rel_nation_rollup": q_rel_nation_rollup,
        "rel_setops": q_rel_setops,
        "rel_distinct_priorities": q_rel_distinct_priorities,
        "mm_image_stats": q_mm_image_stats,
        "mm_audio_stats": q_mm_audio_stats,
    }


# normalized whitespace expression shared by several DuckDB oracles
_D_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _minhash_pairs_ctes(source_sql: str) -> str:
    """CTE chain recomputing the FULL banded-MinHash path in DuckDB
    (portable md5 family, matching dedup.banded_minhash_pairs
    hash_fn='md5' at n_hashes=32, bands=8, shingle_n=3): shingling,
    60-bit md5 base hash, (a*h+b) mod 2^31-1 signatures, band-key
    strings, candidate self-join — ends with cand(a, b) and the shingle
    table d(doc_id, g) for the exact Jaccard verify."""
    from prose_spark.operators.dedup import minhash_salts

    A, B = minhash_salts(32)
    salts = ", ".join(f"({i}, {A[i]}, {B[i]})" for i in range(32))
    return f"""salts(i, sa, sb) AS (VALUES {salts}),
        w AS (SELECT doc_id, string_split({_D_NORM}, ' ') AS w
              FROM ({source_sql})),
        d AS (SELECT doc_id, list_distinct(
                CASE WHEN len(w) >= 3 THEN list_transform(
                       range(1, len(w)-1),
                       i -> array_to_string(w[i:i+2], ' '))
                     ELSE [array_to_string(w, ' ')] END) AS g FROM w),
        sh AS (SELECT doc_id,
                      ('0x'||substr(md5(s),1,15))::BIGINT % 2147483647 AS h
               FROM (SELECT doc_id, unnest(g) AS s FROM d)),
        sig AS (SELECT doc_id, s.i,
                       MIN((s.sa * h + s.sb) % 2147483647) AS m
                FROM sh CROSS JOIN salts s GROUP BY doc_id, s.i),
        banded AS (SELECT doc_id, i // 4 AS band,
                          string_agg(m::VARCHAR, ',' ORDER BY i) AS bkey
                   FROM sig GROUP BY doc_id, i // 4),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                 FROM banded x JOIN banded y
                   ON x.band = y.band AND x.bkey = y.bkey
                  AND x.doc_id < y.doc_id),
        j AS (SELECT c.a, c.b,
                     1.0 - len(list_intersect(dx.g, dy.g))::DOUBLE
                         / greatest(len(dx.g) + len(dy.g)
                                    - len(list_intersect(dx.g, dy.g)), 1)
                         AS jd
              FROM cand c JOIN d dx ON dx.doc_id = c.a
                          JOIN d dy ON dy.doc_id = c.b)"""


def _minhash_oracle_sql() -> str:
    return f"""
        WITH {_minhash_pairs_ctes("SELECT doc_id, text FROM documents")}
        SELECT a::BIGINT AS a, b::BIGINT AS b,
               ROUND(jd, 6) AS jaccard_dist
        FROM j WHERE jd <= 0.3 ORDER BY a, b
    """


def _fuzzy_clusters_oracle_sql() -> str:
    """Independent recomputation of the END-TO-END fuzzy-dedup pipeline:
    the minhash pair CTEs over the doubled corpus, then connected
    components as a recursive transitive closure with cluster id =
    MIN(reachable node) — the same contract as the star-contraction CC
    (comp = min node id in the component)."""
    doubled = ("SELECT doc_id, text FROM documents "
               "UNION ALL "
               "SELECT doc_id + 1000000, text FROM documents")
    return f"""
        WITH RECURSIVE {_minhash_pairs_ctes(doubled)},
        p AS (SELECT a, b FROM j WHERE jd <= 0.3),
        edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        reach(n, m) AS (
            SELECT a AS n, a AS m FROM edges
            UNION
            SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
        )
        SELECT n::BIGINT AS doc_id, MIN(m)::BIGINT AS keep_doc_id
        FROM reach GROUP BY n ORDER BY doc_id
    """


def _langid_oracle_sql() -> str:
    """Independent DuckDB recomputation of the language-ID heuristic
    (textstats._detect_lang_one: stopword-hit ratio x0.1x10 + 5x
    trigram-frequency dot product + 0.05x char-hint count, best lang =
    first max in ascending lang order, conf = score/total). The score
    tables (STOPWORDS, _LANG_TRIGRAMS, _CHAR_HINTS) are read from the
    kernel so the two sides can never drift silently; every float op is
    emitted in the kernel's exact order (left-assoc sums in table order)
    so the doubles match bit-for-bit, and ROUND(x, 6) matches Spark's
    HALF_UP (verified on the exact-binary 0.6640625 boundary case).
    Unicode notes: words split on '\\s+' == str.split() and
    [^\\p{L}] == ~isalpha on this generator's corpora; Python len() ==
    DuckDB length() (code points)."""
    from prose_spark.operators.textstats import (
        _CHAR_HINTS, _LANG_TRIGRAMS, STOPWORDS,
    )

    langs = ("en", "es", "fr", "de", "ja")  # kernel dict order
    needed: list[str] = []
    for lang in langs:
        for g in _LANG_TRIGRAMS[lang]:
            if g not in needed:
                needed.append(g)

    def gcol(g: str) -> str:
        return "g_" + "".join(c if c.isascii() else f"u{ord(c):04x}"
                              for c in g)

    gram_filters = ",\n               ".join(
        f"count(*) FILTER (g = '{g}')::BIGINT AS {gcol(g)}"
        for g in needed)

    def score(lang: str) -> str:
        sw = ", ".join(f"'{w}'" for w in sorted(STOPWORDS[lang]))
        s = (f"((0.1 * len(list_filter(words, w -> w IN ({sw}))))"
             f" / greatest(len(words), 1)) * 10")
        tris = _LANG_TRIGRAMS[lang]
        if tris:
            terms = " + ".join(
                f"COALESCE({gcol(g)}, 0) / ntri" for g in tris)
            s += (f" + 5.0 * (CASE WHEN ntri <= 0 THEN 0.0"
                  f" ELSE {terms} END)")
        else:
            s += " + 5.0 * 0.0"
        hints = _CHAR_HINTS.get(lang)
        if hints:
            cnt = " + ".join(
                f"(length(text) - length(replace(text, '{ch}', '')))"
                for ch in hints)
            s = f"({s}) + 0.05 * ({cnt})"
        return s

    scores_cols = ",\n               ".join(
        f"{score(lang)} AS s_{lang}" for lang in langs)
    # best = max(sorted(scores), key=score): FIRST max in asc lang order
    by_lang_asc = sorted(langs)
    pred_case = " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in by_lang_asc[:-1])
    sel_case = " ".join(
        f"WHEN s_{lang} = m THEN s_{lang}" for lang in by_lang_asc[:-1])
    return f"""
        WITH feat AS (
            SELECT doc_id, text, length(text) AS n_chars,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w != '') AS words,
                   regexp_replace(lower(text), '[^\\p{{L}}]', '', 'g')
                       AS letters
            FROM documents
        ),
        tri0 AS (
            SELECT *, greatest(length(letters) - 2, 0) AS ntri FROM feat
        ),
        grams AS (
            SELECT doc_id, g FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, ntri + 1),
                              i -> substr(letters, i::INT, 3))) AS g
                FROM tri0 WHERE ntri > 0
            ) WHERE g IN ({", ".join(f"'{g}'" for g in needed)})
        ),
        gcnt AS (
            SELECT doc_id,
               {gram_filters}
            FROM grams GROUP BY doc_id
        ),
        sc AS (
            SELECT t.doc_id, t.n_chars,
               {scores_cols}
            FROM tri0 t LEFT JOIN gcnt USING (doc_id)
        ),
        fin AS (
            SELECT *,
                   s_en + s_es + s_fr + s_de + s_ja AS total,
                   greatest(s_en, s_es, s_fr, s_de, s_ja) AS m
            FROM sc
        )
        SELECT doc_id,
               CASE WHEN n_chars < 10 THEN 'en'
                    {pred_case}
                    ELSE '{by_lang_asc[-1]}' END AS lang_pred,
               CAST(ROUND(CASE WHEN n_chars < 10 THEN 0.5
                               WHEN total > 0 THEN
                                   (CASE {sel_case}
                                         ELSE s_{by_lang_asc[-1]} END)
                                   / total
                               ELSE 0.5 END, 6) AS DOUBLE) AS lang_conf
        FROM fin ORDER BY doc_id
    """


# per-token 64-bit simhash vote pipeline over a `doubled` doc CTE (the
# signed fold mirrors Spark's shiftleft two's-complement wrap exactly)
_SIMHASH_FOLD = """
        toks AS (SELECT doc_id,
                        unnest(string_split({norm}, ' ')) AS t
                 FROM {src}),
        th AS (SELECT doc_id,
                      ('0x' || substr(md5(t),1,16))::UBIGINT AS h
               FROM toks),
        votes AS (SELECT doc_id, b,
                         SUM(CASE WHEN (h >> b) & 1 = 1
                             THEN 1 ELSE -1 END) AS v
                  FROM th, range(64) r(b) GROUP BY doc_id, b),
        folded AS (SELECT doc_id,
                          SUM(CASE WHEN v > 0
                              THEN (1::UBIGINT << b)::HUGEINT
                              ELSE 0::HUGEINT END) AS uval
                   FROM votes GROUP BY doc_id)
"""


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled PageRank CTE chain mirroring graph.pagerank exactly:
    same edge list, same (1-d)/N + d*sum(rank/out_deg) step, same
    no-dangling-redistribution convention — every rank recomputed
    independently by DuckDB."""
    ctes = [
        "edges AS (SELECT DISTINCT 'c' || o_custkey AS src,"
        " 's' || l_suppkey AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "outd AS (SELECT src, count(*)::DOUBLE AS d"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node, (SELECT 1.0/n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, sum(r.rank / o.d) AS c"
            f" FROM edges e JOIN outd o ON e.src = o.src"
            f" JOIN r{i - 1} r ON e.src = r.node GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nd.node,"
            f" (SELECT (1 - {damping})/n FROM nn)"
            f" + {damping} * coalesce(c{i}.c, 0) AS rank"
            f" FROM nodes nd LEFT JOIN c{i} ON nd.node = c{i}.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT node, CAST(ROUND(rank, 5) AS DOUBLE) AS rank"
        f" FROM r{iterations} ORDER BY node"
    )


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    pinned = {
        name: f"SELECT * FROM read_parquet('{golden_path(name)}/*.parquet')"
        for name in PINNED_QUERIES
    }
    simhash_docs = _SIMHASH_FOLD.format(norm=_D_NORM, src="documents")
    simhash_doubled = _SIMHASH_FOLD.format(norm=_D_NORM, src="doubled")
    return pinned | {
        # the aggregation is recomputed by DuckDB over the pinned
        # nlp_triples golden — the hash-verified identical input — so
        # the edge-weighting logic itself is cross-engine-checked even
        # though the triple set is model-pinned
        "kg_triple_support": f"""
            WITH tr AS (SELECT * FROM read_parquet(
                '{golden_path("nlp_triples")}/*.parquet'))
            SELECT subj, pred_norm, obj,
                   count(*)::BIGINT AS n_mentions,
                   count(DISTINCT doc_id)::BIGINT AS n_sources,
                   CAST(ROUND(max(confidence), 6) AS DOUBLE)
                       AS max_confidence,
                   min(doc_id)::BIGINT AS first_source
            FROM tr GROUP BY subj, pred_norm, obj
            ORDER BY subj, pred_norm, obj
        """,
        "kg_pagerank": _pagerank_sql(iterations=5, damping=0.85),
        # degree statistics recomputed by DuckDB over the pinned
        # nlp_triples golden (the hash-verified identical input),
        # exactly the kg_triple_support pattern
        "kg_entity_degree": f"""
            WITH tr AS (SELECT * FROM read_parquet(
                '{golden_path("nlp_triples")}/*.parquet')),
            outd AS (SELECT subj AS entity,
                            count(*)::BIGINT AS out_triples,
                            count(DISTINCT obj)::BIGINT AS out_neighbors
                     FROM tr GROUP BY subj),
            ind AS (SELECT obj AS entity,
                           count(*)::BIGINT AS in_triples,
                           count(DISTINCT subj)::BIGINT AS in_neighbors
                    FROM tr GROUP BY obj)
            SELECT coalesce(outd.entity, ind.entity) AS entity,
                   coalesce(out_triples, 0)::BIGINT AS out_triples,
                   coalesce(out_neighbors, 0)::BIGINT AS out_neighbors,
                   coalesce(in_triples, 0)::BIGINT AS in_triples,
                   coalesce(in_neighbors, 0)::BIGINT AS in_neighbors
            FROM outd FULL OUTER JOIN ind ON outd.entity = ind.entity
            ORDER BY entity
        """,
        # incremental canonicalization must reproduce the BATCH pinned
        # golden exactly (exact-equivalence contract, different code path)
        "kg_merge_canonical": (
            "SELECT * FROM read_parquet('"
            + str(golden_path("nlp_canonical_entities")) + "/*.parquet')"
        ),
        "ta_langid": _langid_oracle_sql(),
        "dedup_minhash_pairs": _minhash_oracle_sql(),
        "dedup_fuzzy_clusters": _fuzzy_clusters_oracle_sql(),
        "dedup_simhash": f"""
            WITH {simhash_docs}
            SELECT doc_id,
                   (CASE WHEN uval >= 9223372036854775808::HUGEINT
                         THEN uval - 18446744073709551616::HUGEINT
                         ELSE uval END)::BIGINT AS simhash
            FROM folded ORDER BY doc_id
        """,
        "dedup_simhash_pairs": f"""
            WITH doubled AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text || ' zzgloss' FROM documents
            ),
            {simhash_doubled},
            s AS (SELECT doc_id, uval::UBIGINT AS u FROM folded),
            pairs AS (
                SELECT x.doc_id AS a, y.doc_id AS b,
                       bit_count(xor(x.u, y.u))::BIGINT AS hamming
                FROM s x JOIN s y ON x.doc_id < y.doc_id AND (
                     ((x.u >> 0) & 65535) = ((y.u >> 0) & 65535)
                  OR ((x.u >> 16) & 65535) = ((y.u >> 16) & 65535)
                  OR ((x.u >> 32) & 65535) = ((y.u >> 32) & 65535)
                  OR ((x.u >> 48) & 65535) = ((y.u >> 48) & 65535)))
            SELECT a::BIGINT AS a, b::BIGINT AS b, hamming
            FROM pairs WHERE hamming <= 3 ORDER BY a, b
        """,
        # the north-rule per-row invariant IS the oracle: text extracted
        # from html must be byte-identical to the generator's source
        # text per url — DuckDB reads the pyarrow-written generator
        # corpus, so any extraction drift hash-mismatches
        "ta_html_extract": f"""
            SELECT url, text
            FROM read_parquet('{_oracle_pages_parquet()}')
            ORDER BY url
        """,
        "ta_pages_quality": f"""
            WITH d AS (
                SELECT url,
                       string_split(regexp_replace(trim(text), '\\s+', ' ',
                                                   'g'), ' ') AS words,
                       len(regexp_replace(text, '\\s+', '', 'g'))
                           AS n_nonspace,
                       length(text) AS n_chars,
                       length(regexp_replace(text, '[\\w\\s]+', '', 'g'))
                           AS n_punct,
                       text
                FROM read_parquet('{_oracle_pages_parquet()}')
            )
            SELECT url,
                   len(words)::BIGINT AS n_tokens,
                   CAST(ROUND(n_nonspace / len(words), 6) AS DOUBLE)
                       AS avg_word_len,
                   CAST(ROUND(n_punct / n_chars, 6) AS DOUBLE)
                       AS punct_ratio,
                   CAST(ROUND(len(list_filter(words,
                            w -> lower(w) IN ({stop_list})))
                         / len(words), 6) AS DOUBLE) AS stopword_ratio
            FROM d ORDER BY url
        """,
        "ta_winnowing": f"""
            WITH p AS (SELECT url, {_D_NORM} AS nm
                       FROM read_parquet('{_oracle_pages_parquet()}')),
            hs AS (SELECT url,
                     CASE WHEN length(nm) < 8
                          THEN [('0x'||substr(md5(nm),1,15))::BIGINT]
                          ELSE list_transform(range(1, length(nm) - 6),
                               i -> ('0x'||substr(md5(substr(nm, i, 8)),
                                                  1,15))::BIGINT)
                     END AS h FROM p),
            fp AS (SELECT url, list_distinct(list_transform(
                       range(1, greatest(len(h) - 3, 1) + 1),
                       j -> list_aggregate(h[j:j+3], 'min'))) AS f
                   FROM hs)
            SELECT url, unnest(f) AS fingerprint
            FROM fp ORDER BY url, fingerprint
        """,
        # documents text is single-space separated with no punctuation, so
        # the PTB tokenizer reduces to whitespace splitting on this corpus
        "nlp_token_counts": """
            SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "nlp_tokens_by_lang": """
            SELECT lang,
                   SUM(len(string_split(text, ' ')))::BIGINT AS total_tokens,
                   COUNT(*)::BIGINT AS n_docs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "ta_quality": f"""
            WITH d AS (
                SELECT doc_id,
                       string_split(text, ' ') AS words,
                       len(replace(text, ' ', '')) AS n_nonspace,
                       length(text) AS n_chars
                FROM documents
            )
            SELECT doc_id,
                   len(words)::BIGINT AS n_tokens,
                   CAST(ROUND(n_nonspace / len(words), 6) AS DOUBLE)
                       AS avg_word_len,
                   CAST(0.0 AS DOUBLE) AS punct_ratio,
                   CAST(ROUND(len(list_filter(words,
                            w -> lower(w) IN ({stop_list})))
                         / len(words), 6) AS DOUBLE) AS stopword_ratio
            FROM d ORDER BY doc_id
        """,
        "ta_bpe_token_counts": """
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0
                        ELSE len(regexp_extract_all(text,
                             '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
                   END::BIGINT AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "ta_unigram_logprob": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split({_D_NORM}, ' ')) AS w
                FROM documents
            ), t2 AS (SELECT doc_id, w FROM toks WHERE w != ''),
            counts AS (SELECT w, COUNT(*) AS c FROM t2 GROUP BY w),
            total AS (SELECT SUM(c) AS total FROM counts),
            vocab AS (SELECT w, c FROM counts WHERE c >= 5),
            scored AS (
                SELECT t2.doc_id,
                       -log2(COALESCE(v.c::DOUBLE, 0.5)
                             / (SELECT total FROM total)) AS nlp
                FROM t2 LEFT JOIN vocab v ON t2.w = v.w
            )
            SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                   CAST(ROUND(AVG(nlp), 6) AS DOUBLE) AS avg_neg_log2_p
            FROM scored GROUP BY doc_id ORDER BY doc_id
        """,
        "ta_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS fingerprint_md5
            FROM documents ORDER BY doc_id
        """,
        "dedup_exact_groups": """
            WITH doubled AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text FROM documents
            ), h AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                           AS text_hash
                FROM doubled
            )
            SELECT text_hash, COUNT(*)::BIGINT AS n_dups,
                   MIN(doc_id)::BIGINT AS keep_doc_id
            FROM h GROUP BY text_hash HAVING COUNT(*) > 1
            ORDER BY text_hash
        """,
        "dedup_ngram_jaccard": """
            WITH d AS (
                SELECT doc_id, source,
                       list_distinct(string_split(
                           regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                           ' ')) AS g
                FROM documents
            )
            SELECT x.doc_id::BIGINT AS a, y.doc_id::BIGINT AS b,
                   ROUND(len(list_intersect(x.g, y.g))
                         / (len(x.g) + len(y.g)
                            - len(list_intersect(x.g, y.g))), 6) AS jaccard
            FROM d x JOIN d y ON x.source = y.source AND x.doc_id < y.doc_id
            WHERE len(list_intersect(x.g, y.g))
                  / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
                  >= 0.5
            ORDER BY a, b
        """,
        "dedup_embedding_pairs": """
            WITH d AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), u AS (
                SELECT vec_id, v FROM d
                UNION ALL
                SELECT vec_id + 100000,
                       list_transform(v, x -> x + 0.05 * sin(1000 * x))
                FROM d
            )
            SELECT x.vec_id::BIGINT AS a, y.vec_id::BIGINT AS b,
                   CAST(ROUND(list_cosine_similarity(x.v, y.v), 6)
                        AS DOUBLE) AS cosine
            FROM u x JOIN u y ON x.vec_id < y.vec_id
            WHERE list_cosine_similarity(x.v, y.v) >= 0.9
            ORDER BY a, b
        """,
        "sim_topk_bruteforce": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[],
                                              c.embedding::DOUBLE[]) AS cos_raw
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id != c.vec_id
            ), ranked AS (
                SELECT query_id, neighbor_id, cos_raw,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cos_raw DESC, neighbor_id ASC
                       ) AS rank
                FROM scored
            )
            SELECT query_id::BIGINT AS query_id,
                   neighbor_id::BIGINT AS neighbor_id,
                   CAST(ROUND(cos_raw, 6) AS DOUBLE) AS cosine,
                   rank::BIGINT AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        # INDEPENDENT LSH oracle: recomputes the md5-parity hyperplane
        # weights (similarity._plane_weights: sign = md5("t{t}p{p}:{i}")
        # first-byte parity), the per-table sign-bit signatures, the
        # (table, signature) candidate buckets, and the exact-cosine
        # rerank — entirely from the raw embeddings table. Signature
        # parity holds because a sign bit flips only when a projection
        # sits within float-noise of 0 — QUANTIFIED, not assumed:
        # tests/test_sim_oracle_margins.py measures min |projection|
        # >= 1e-6 and min ROUND(cos,6) half-boundary distance 2.8e-3
        # ulp on this corpus, >= 1e6x the cross-engine drift bound.
        "sim_topk_lsh": """
            WITH emb AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), plane_w AS (
                SELECT t.t, p.p,
                       list_transform(range(0, 64), i ->
                           CASE WHEN (('0x' || substr(md5(
                                       't' || t.t || 'p' || p.p || ':' || i
                                      ), 1, 2))::INT % 2) = 1
                                THEN 1.0 ELSE -1.0 END) AS w
                FROM (SELECT unnest(range(0, 12)) AS t) t,
                     (SELECT unnest(range(0, 3)) AS p) p
            ), sigs AS (
                SELECT e.vec_id, pw.t,
                       SUM(CASE WHEN list_inner_product(e.v, pw.w) >= 0
                                THEN (1 << pw.p) ELSE 0 END)::INT AS sig
                FROM emb e CROSS JOIN plane_w pw
                GROUP BY e.vec_id, pw.t
            ), cand AS (
                SELECT DISTINCT q.vec_id AS query_id,
                                c.vec_id AS neighbor_id
                FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
                WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
            ), ranked AS (
                SELECT cd.query_id, cd.neighbor_id,
                       list_cosine_similarity(qe.v, ce.v) AS cos_raw,
                       ROW_NUMBER() OVER (
                           PARTITION BY cd.query_id
                           ORDER BY list_cosine_similarity(qe.v, ce.v) DESC,
                                    cd.neighbor_id ASC) AS rank
                FROM cand cd
                JOIN emb qe ON qe.vec_id = cd.query_id
                JOIN emb ce ON ce.vec_id = cd.neighbor_id
            )
            SELECT query_id::BIGINT AS query_id,
                   neighbor_id::BIGINT AS neighbor_id,
                   CAST(ROUND(cos_raw, 6) AS DOUBLE) AS cosine,
                   rank::BIGINT AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        # INDEPENDENT IVF oracle: recomputes the ENTIRE coarse-quantizer
        # fit from the raw table — seeds = 16 smallest md5-long(vec_id)
        # (the portable hash family), L2-normalize, ONE Lloyd step
        # (argmax-dot assignment -> elementwise means, empty cells keep
        # seed coords), re-normalize — then corpus assignment, per-query
        # n_probe=8 cell pruning, and exact-cosine rerank. Centroid float
        # drift vs Spark's decimal-mean path is ~1e-15 and can only
        # matter through argmax flips — QUANTIFIED in
        # tests/test_sim_oracle_margins.py: min assignment gap 8.4e-5,
        # min n_probe-cut gap 1.2e-3 on this corpus, >= 1e7x the drift.
        "sim_topk_ivf": """
            WITH emb AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), seeds AS (
                SELECT row_number() OVER (
                           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR),
                                                    1, 15))::BIGINT,
                                    vec_id
                       ) - 1 AS cell,
                       v
                FROM emb
                QUALIFY cell < 16
            ), seed_n AS (
                SELECT cell,
                       list_transform(v, x -> x /
                           CASE WHEN sqrt(list_inner_product(v, v)) > 0
                                THEN sqrt(list_inner_product(v, v))
                                ELSE 1.0 END) AS c
                FROM seeds
            ), assign0 AS (
                SELECT vec_id, v, cell FROM (
                    SELECT e.vec_id, e.v, s.cell,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_inner_product(e.v, s.c) DESC,
                                        s.cell ASC) AS rn
                    FROM emb e CROSS JOIN seed_n s
                ) WHERE rn = 1
            ), means AS (
                SELECT cell, pos, avg(x) AS m
                FROM (SELECT cell, generate_subscripts(v, 1) AS pos,
                             unnest(v) AS x
                      FROM assign0)
                GROUP BY cell, pos
            ), cent_raw AS (
                SELECT s.cell,
                       list(coalesce(m.m, s.c[g.pos]) ORDER BY g.pos) AS c
                FROM seed_n s
                CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) g
                LEFT JOIN means m ON m.cell = s.cell AND m.pos = g.pos
                GROUP BY s.cell
            ), cent AS (
                SELECT cell,
                       list_transform(c, x -> x /
                           CASE WHEN sqrt(list_inner_product(c, c)) > 0
                                THEN sqrt(list_inner_product(c, c))
                                ELSE 1.0 END) AS c
                FROM cent_raw
            ), corpus_cells AS (
                SELECT vec_id, v, cell FROM (
                    SELECT e.vec_id, e.v, ct.cell,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_inner_product(e.v, ct.c) DESC,
                                        ct.cell ASC) AS rn
                    FROM emb e CROSS JOIN cent ct
                ) WHERE rn = 1
            ), query_cells AS (
                -- n_probe=8 nearest cells; ties cell DESC mirrors
                -- Spark's sort_array(struct(dot, cell), asc=False)
                SELECT vec_id, v, cell FROM (
                    SELECT e.vec_id, e.v, ct.cell,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_inner_product(e.v, ct.c) DESC,
                                        ct.cell DESC) AS rn
                    FROM emb e CROSS JOIN cent ct
                    WHERE e.vec_id < 20
                ) WHERE rn <= 8
            ), ranked AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.v, c.v) AS cos_raw,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                    c.vec_id ASC) AS rank
                FROM query_cells q
                JOIN corpus_cells c
                  ON c.cell = q.cell AND c.vec_id != q.vec_id
            )
            SELECT query_id::BIGINT AS query_id,
                   neighbor_id::BIGINT AS neighbor_id,
                   CAST(ROUND(cos_raw, 6) AS DOUBLE) AS cosine,
                   rank::BIGINT AS rank
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "rel_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS DOUBLE) AS sum_disc_price,
                   CAST(ROUND(AVG(l_quantity), 4) AS DOUBLE) AS avg_qty,
                   COUNT(*)::BIGINT AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "rel_top_customers": """
            SELECT c_custkey, c_name,
                   CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS revenue,
                   COUNT(*)::BIGINT AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 10
        """,
        "rel_window_topk": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rank
                FROM orders
            )
            SELECT o_custkey, o_orderkey,
                   CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS totalprice, rank::BIGINT AS rank
            FROM ranked WHERE rank <= 3 ORDER BY o_custkey, rank
        """,
        "rel_semi_anti": """
            SELECT
              (SELECT COUNT(*) FROM customer
               WHERE c_custkey IN (SELECT o_custkey FROM orders))::BIGINT
                  AS n_with_orders,
              (SELECT COUNT(*) FROM customer
               WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))::BIGINT
                  AS n_without_orders
        """,
        "rel_asof_join": """
            WITH purchases AS (
                SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ), signups AS (
                SELECT user_id, ts, MAX(value) AS value FROM events
                WHERE event_type = 'signup' GROUP BY user_id, ts
            )
            SELECT p.event_id, p.user_id,
                   CAST(ROUND(p.value, 4) AS DOUBLE) AS purchase_value,
                   CAST(ROUND(s.value, 4) AS DOUBLE) AS last_signup_value
            FROM purchases p
            ASOF LEFT JOIN signups s
              ON p.user_id = s.user_id AND p.ts >= s.ts
            ORDER BY p.event_id
        """,
        "rel_range_join": """
            WITH bands(band, lo, hi) AS (
                VALUES ('tiny', 0.0, 1.0), ('small', 1.0, 10.0),
                       ('medium', 10.0, 100.0), ('large', 100.0, 1e9)
            )
            SELECT band, COUNT(*)::BIGINT AS n,
                   CAST(ROUND(SUM(value), 4) AS DOUBLE) AS total_value
            FROM events JOIN bands ON value >= lo AND value < hi
            GROUP BY band ORDER BY band
        """,
        "rel_sessions": """
            WITH g AS (
                SELECT user_id, ts, value,
                       CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                              OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, value,
                       SUM(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_seq
                FROM g
            )
            SELECT user_id::BIGINT AS user_id,
                   session_seq::BIGINT AS session_seq,
                   COUNT(*)::BIGINT AS n_events,
                   CAST(ROUND(SUM(value), 4) AS DOUBLE) AS total_value
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """,
        "rel_pivot": """
            SELECT (user_id % 10)::BIGINT AS user_bucket,
                   CAST(ROUND(SUM(value) FILTER (event_type = 'click'), 4) AS DOUBLE) AS click,
                   CAST(ROUND(SUM(value) FILTER (event_type = 'error'), 4) AS DOUBLE) AS error,
                   CAST(ROUND(SUM(value) FILTER (event_type = 'purchase'), 4) AS DOUBLE) AS purchase,
                   CAST(ROUND(SUM(value) FILTER (event_type = 'signup'), 4) AS DOUBLE) AS signup,
                   CAST(ROUND(SUM(value) FILTER (event_type = 'view'), 4) AS DOUBLE) AS view
            FROM events GROUP BY 1 ORDER BY user_bucket
        """,
        "rel_cube": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
                   COUNT(*)::BIGINT AS n
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "rel_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty,
                   COUNT(*)::BIGINT AS n
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "rel_events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS hour, event_type,
                   COUNT(*)::BIGINT AS n, CAST(ROUND(SUM(value), 4) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "rel_nation_rollup": """
            SELECT r_name, n_name, COUNT(*)::BIGINT AS n_customers,
                   CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
        "rel_setops": """
            WITH c AS (SELECT DISTINCT c_nationkey::BIGINT AS nationkey
                       FROM customer),
                 s AS (SELECT DISTINCT s_nationkey::BIGINT AS nationkey
                       FROM supplier)
            SELECT nationkey, 'customer_only' AS src
            FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
            UNION ALL
            SELECT nationkey, 'both' AS src
            FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
            ORDER BY src, nationkey
        """,
        "rel_distinct_priorities": """
            SELECT DISTINCT o_orderpriority, o_orderstatus
            FROM orders ORDER BY o_orderpriority, o_orderstatus
        """,
    }
