"""As-of join and the small text helpers (tagged-corpus reader, language ID,
winnowing, BPE counts)."""

import datetime as dt

import pytest


@pytest.fixture(scope="module")
def trades_quotes(spark):
    base = dt.datetime(2025, 1, 1)

    def t(m):
        return base + dt.timedelta(minutes=m)

    trades = spark.createDataFrame(
        [(1, t(5), 100.0), (1, t(20), 200.0), (2, t(3), 50.0), (3, t(9), 9.0)],
        ["user_id", "ts", "value"],
    )
    quotes = spark.createDataFrame(
        [(1, t(0), 1.0), (1, t(10), 2.0), (2, t(3), 7.0)],
        ["user_id", "ts", "value"],
    )
    return trades, quotes


EXPECTED = {
    (1, 100.0): 1.0,   # trade@5 -> quote@0
    (1, 200.0): 2.0,   # trade@20 -> quote@10
    (2, 50.0): 7.0,    # trade@3 -> quote@3 (>= semantics)
    (3, 9.0): None,    # no quotes for user 3
}


def test_asof_join_window(spark, trades_quotes):
    from prose_spark.operators.joins import asof_join

    trades, quotes = trades_quotes
    got = {
        (r.user_id, r.value): r.value_asof
        for r in asof_join(trades, quotes, on="user_id").collect()
    }
    assert got == EXPECTED


def test_read_tagged():
    from prose_spark.nlp.tagger import read_tagged

    got = read_tagged("Pierre|NNP Vinken|NNP ,|, 61|CD years|NNS")
    assert got == [(["Pierre", "Vinken", ",", "61", "years"],
                    ["NNP", "NNP", ",", "CD", "NNS"])]


def test_trigram_language_detection():
    from prose_spark.nlp.multilingual import detect_language

    assert detect_language(
        "der ich und den sich nicht eine werden"
    )[0] == "de"
    assert detect_language(
        "the thing is that the morning brought information"
    )[0] == "en"


def test_bpe_token_count(spark):
    from prose_spark.operators.textstats import bpe_token_count_col

    df = spark.createDataFrame(
        [(1, "I can't believe it's 2024! Great-stuff..."),
         (2, "short"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n for r in df.select(
        "doc_id", bpe_token_count_col("text").alias("n")).collect()}
    # I / ' + can / 't / believe / it / 's / 2024 / ! / Great / -stuff / ...
    assert out == {1: 12, 2: 1, 3: 0}


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing (k, w) guarantees: any shared substring of length
    >= k + w - 1 yields at least one shared fingerprint; disjoint texts
    share none."""
    from prose_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "unrelated prefix but the quick brown fox jumps again"),
         (3, "zzz completely disjoint qqq content vvv")],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: set(r.fingerprints)
           for r in winnowing_fingerprints(df, k=8, window=4).collect()}
    assert fps[1] & fps[2]          # share "the quick brown fox jumps"
    assert not (fps[1] & fps[3])    # nothing shared
    # short texts degrade to a single whole-string hash
    short = spark.createDataFrame([(1, "tiny")], ["doc_id", "text"])
    row = winnowing_fingerprints(short, k=8, window=4).collect()[0]
    assert len(row.fingerprints) == 1
