"""Tokenizer golden tests — 1:1 port of reference tokenize_test.go.

The treebank fixtures are read from the reference checkout's testdata
(read-only; skipped when absent); inline goldens reproduced from
tokenize_test.go:75-209.
"""

import json

import pytest

from conftest import REFERENCE_DIR, requires_reference
from prose_spark.nlp.tokenizer import (
    IterTokenizer,
    sanitize,
    tokenize,
    tokenize_with_offsets,
)

TESTDATA = REFERENCE_DIR / "testdata"


def test_empty():
    assert tokenize("") == []


def test_simple():
    # tokenize_test.go:75-86
    text = (
        "Vale is a natural language linter that supports plain text, markup "
        "(Markdown, reStructuredText, AsciiDoc, and HTML), and source code "
        "comments. Vale doesn't attempt to offer a one-size-fits-all "
        "collection of rules—instead, it strives to make customization "
        "as easy as possible."
    )
    expected = [
        "Vale", "is", "a", "natural", "language", "linter", "that", "supports",
        "plain", "text", ",", "markup", "(", "Markdown", ",", "reStructuredText",
        ",", "AsciiDoc", ",", "and", "HTML", ")", ",", "and", "source",
        "code", "comments", ".", "Vale", "does", "n't", "attempt", "to",
        "offer", "a", "one-size-fits-all", "collection", "of", "rules—instead",
        ",", "it", "strives", "to", "make", "customization", "as", "easy", "as",
        "possible", ".",
    ]
    assert tokenize(text) == expected


@requires_reference("testdata/treebank_sents.json",
                    "testdata/treebank_words.json")
def test_treebank_corpus():
    # tokenize_test.go:88-97 — 119 sentences, gold from NLTK
    # TreebankWordTokenizer.
    sents = json.loads((TESTDATA / "treebank_sents.json").read_text())
    words = json.loads((TESTDATA / "treebank_words.json").read_text())
    assert len(sents) == len(words)
    for s, gold in zip(sents, words):
        assert tokenize(s) == gold, f"mismatch on: {s!r}"


WEB = """Independent of current body composition, IGF-I levels at 5 yr were significantly
            associated with rate of weight gain between 0-2 yr (beta=0.19; P&lt;0.0005);
            and children who showed postnatal catch-up growth (i.e. those who showed gains in
            weight or length between 0-2 yr by >0.67 SD score) had higher IGF-I levels than other
\t\t\t\tchildren (P=0.02; http://univ.edu.es/study.html) [20-22]."""

WEB_EXPECTED = [
    "Independent", "of", "current", "body", "composition", ",", "IGF-I",
    "levels", "at", "5", "yr", "were", "significantly", "associated", "with",
    "rate", "of", "weight", "gain", "between", "0-2", "yr", "(", "beta=0.19",
    ";", "P&lt;0.0005", ")", ";", "and", "children", "who", "showed",
    "postnatal", "catch-up", "growth", "(", "i.e.", "those", "who", "showed",
    "gains", "in", "weight", "or", "length", "between", "0-2", "yr", "by",
    ">0.67", "SD", "score", ")", "had", "higher", "IGF-I", "levels", "than",
    "other", "children", "(", "P=0.02", ";", "http://univ.edu.es/study.html",
    ")", "[", "20-22", "]", ".",
]


def test_web():
    assert tokenize(WEB) == WEB_EXPECTED


def test_web_paragraph():
    text = WEB + "\n\n" + WEB + "\n\n" + WEB
    assert tokenize(text) == WEB_EXPECTED * 3


def test_twitter():
    assert tokenize("@twitter, what time does it start :-)") == [
        "@twitter", ",", "what", "time", "does", "it", "start", ":-)",
    ]
    assert tokenize("Mr. James plays basketball in the N.B.A., do you?") == [
        "Mr.", "James", "plays", "basketball", "in", "the", "N.B.A.", ",",
        "do", "you", "?",
    ]
    assert tokenize("ˌˌ kill the last letter") == [
        "ˌˌ", "kill", "the", "last", "letter",
    ]
    assert tokenize("ˌˌˌ kill the last letter") == [
        "ˌˌˌ", "kill", "the", "last", "letter",
    ]
    assert tokenize("March. July. March. June. January.") == [
        "March", ".", "July", ".", "March", ".", "June", ".", "January", ".",
    ]


def test_split_cases_custom():
    tok = IterTokenizer(split_cases=("(",))
    assert [t for t, _, _ in tok.tokenize("amount($)")] == ["amount", "(", "$", ")"]


def test_contractions():
    assert tokenize("He's happy") == ["He", "'s", "happy"]
    # the repo DEFAULT splits 've/'d as documented extensions
    # (tokenizer.py _DEFAULT); the reference's own contraction list
    # (tokenize.go:300) omits them, so the BASE config keeps parity
    assert tokenize("I've been better") == ["I", "'ve", "been", "better"]
    assert tokenize("He'd gone home") == ["He", "'d", "gone", "home"]
    base = IterTokenizer()
    assert [t for t, _, _ in base.tokenize("I've been better")] == [
        "I've", "been", "better",
    ]
    tok = IterTokenizer(contractions=("'ve",))
    assert [t for t, _, _ in tok.tokenize("I've been better")] == [
        "I", "'ve", "been", "better",
    ]
    assert [t for t, _, _ in tok.tokenize("He's happy")] == ["He's", "happy"]


def test_byte_offsets_index_sanitized_text():
    # Offsets are byte offsets into the sanitized text; curly quotes shrink
    # from 3 bytes to 1 on sanitize.
    text = "“Hi” there"
    clean_b = sanitize(text).encode("utf-8")
    toks = tokenize_with_offsets(text)
    assert [t for t, _, _ in toks] == ['"', "Hi", '"', "there"]
    for t, s, e in toks:
        assert clean_b[s:e].decode("utf-8") == t


def test_offsets_multibyte():
    text = "café bar"
    toks = tokenize_with_offsets(text)
    clean_b = sanitize(text).encode("utf-8")
    assert [(t, clean_b[s:e].decode()) for t, s, e in toks] == [
        ("café", "café"), ("bar", "bar"),
    ]
    # byte (not char) arithmetic: 'café' is 5 bytes
    assert toks[1][1] == 6


def test_offsets_tile_suffix_prefix():
    toks = tokenize_with_offsets("(N.B.A.), right?")
    assert [t for t, _, _ in toks] == ["(", "N.B.A.", ")", ",", "right", "?"]
    text_b = "(N.B.A.), right?".encode()
    for t, s, e in toks:
        assert text_b[s:e].decode() == t


def test_memo_equals_direct():
    # repeated spans go through the memo path — results must be identical
    # to tokenizing each occurrence independently
    text = "don't don't don't (a) (a)"
    toks = tokenize_with_offsets(text)
    texts = [t for t, _, _ in toks]
    assert texts == ["do", "n't", "do", "n't", "do", "n't", "(", "a", ")", "(", "a", ")"]
    b = text.encode()
    for t, s, e in toks:
        assert b[s:e].decode() == t
