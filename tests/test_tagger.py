"""POS tagger tests — port of reference tag_test.go + gob decode checks."""

import json

import pytest

from conftest import REFERENCE_DIR, requires_reference
from prose_spark.gobdec import decode_gob_file
from prose_spark.nlp.tagger import default_tagger, featurize, normalize
from prose_spark.nlp.tokenizer import tokenize

REF = REFERENCE_DIR
_TREEBANK = requires_reference("testdata/treebank_tokens.json",
                               "testdata/treebank_tags.json")


@requires_reference("model/AveragedPerceptron/classes.gob",
                    "model/AveragedPerceptron/tags.gob")
def test_gob_decode_small():
    classes = decode_gob_file(str(REF / "model/AveragedPerceptron/classes.gob"))
    assert len(classes) == 45 and "NNP" in classes and "VBZ" in classes
    tags = decode_gob_file(str(REF / "model/AveragedPerceptron/tags.gob"))
    assert isinstance(tags, dict) and len(tags) == 1549
    assert tags["the"] == "DT"


def test_normalize():
    assert normalize("catch-up") == "!HYPHEN"
    assert normalize("-") == "-"
    assert normalize("1984") == "!YEAR"
    assert normalize("12") == "!DIGITS"
    assert normalize("Hello") == "hello"
    assert normalize("") == ""


def test_tag_simple_pierre_vinken():
    # tag_test.go:24-38
    words = tokenize(
        "Pierre Vinken, 61 years old, will join the board as a "
        "nonexecutive director Nov. 29."
    )
    tags = default_tagger().tag(words)
    assert tags == [
        "NNP", "NNP", ",", "CD", "NNS", "JJ", ",", "MD", "VB", "DT", "NN",
        "IN", "DT", "JJ", "NN", "NNP", "CD", ".",
    ]


def test_hardcoded_rules():
    t = default_tagger()
    assert t.tag(["-"]) == ["-"]
    assert t.tag([":-)"]) == ["SYM"]
    assert t.tag(["@user"]) == ["NN"]
    assert t.tag(["*-1"]) == ["-NONE-"]
    assert t.tag(["-LRB-"]) == ["-LRB-"]


@_TREEBANK
def test_tag_treebank_accuracy_floor():
    # tag_test.go:40-61 — accuracy >= 0.957477 on the flat 100,676-token
    # fixture stream.
    toks = json.loads((REF / "testdata/treebank_tokens.json").read_text())
    words = [t["text"] for t in toks]
    expected = json.loads((REF / "testdata/treebank_tags.json").read_text())
    predicted = default_tagger().tag(words)
    acc = sum(p == e for p, e in zip(predicted, expected)) / len(expected)
    assert acc >= 0.957477, f"accuracy {acc:.6f} below floor"


def test_featurize_keys_shape():
    ctx = ["-START-", "-START2-", "pierre", "vinken", "-END-", "-END2-"]
    feats = featurize(0, ctx, "Pierre", "-START-", "-START2-")
    assert "bias" in feats
    assert "i suffix rre" in feats
    assert "i pref1 P" in feats
    assert len(feats) == 14


@_TREEBANK
def test_tag_heldout_generalization():
    """Held-out generalization (r4): the reference's own protocol
    (tag_test.go:40-61) trains and evaluates on the SAME fixture, so its
    0.9574 floor — and this repo's 0.9935 — are in-corpus numbers. This
    test trains a fresh tagger on 80% of the treebank pseudo-sentences
    (interleaved split: every 5th sentence held out) and tags the unseen
    20%: accuracy must hold >= 0.962 (r4 perceptron alone 0.9576; r7
    morph prior + pen2 tag dict 0.9610; r7 final pen8 + identical-form
    closure + suffix-support penalty 0.9652 — at 5 iterations, seed 42,
    deterministic). Recorded next to the in-corpus floor in
    BASELINE.md."""
    from prose_spark.nlp.tagger import PerceptronTagger

    toks = json.loads((REF / "testdata/treebank_tokens.json").read_text())
    words = [t["text"] for t in toks]
    tags = json.loads((REF / "testdata/treebank_tags.json").read_text())
    sents, cw, ct = [], [], []
    for w, t in zip(words, tags):
        cw.append(w)
        ct.append(t)
        if t == "." and len(cw) > 1:
            sents.append((cw, ct))
            cw, ct = [], []
    if cw:
        sents.append((cw, ct))
    train = [s for i, s in enumerate(sents) if i % 5 != 0]
    test = [s for i, s in enumerate(sents) if i % 5 == 0]

    classes = decode_gob_file(
        str(REF / "model/AveragedPerceptron/classes.gob"))
    tag_map = decode_gob_file(str(REF / "model/AveragedPerceptron/tags.gob"))
    tagger = PerceptronTagger(tag_map=dict(tag_map), classes=list(classes))
    tagger.train(train, iterations=5, seed=42, build_tag_map=False)

    held_w = [w for s in test for w in s[0]]
    held_t = [t for s in test for t in s[1]]
    pred = tagger.tag(held_w)
    acc = sum(p == e for p, e in zip(pred, held_t)) / len(held_t)
    assert acc >= 0.962, f"held-out accuracy {acc:.4f} below 0.962"


def test_headline_register_pass():
    """r8: a TITLECASE-RUN headline gets its main verb back (the
    per-token shape prior reads every word NNP), while ordinary prose
    and all-caps shouting are untouched by the register detector."""
    from prose_spark.nlp.tagger import default_tagger

    tagger = default_tagger()
    tags = tagger.tag(["NASA", "Sets", "News", "Conference", "on",
                       "Astrobiology", "Discovery"])
    assert tags[1] == "VBZ", tags
    assert tags[0] == "NNP", tags
    tags = tagger.tag(["Senate", "Passes", "Budget", "Bill", "After",
                       "Long", "Debate"])
    assert tags[1] == "VBZ", tags
    # ordinary prose: a lowercase content word blocks the register
    tags = tagger.tag(["Victor", "Hugo", "founded", "Acme", "Corp",
                       "in", "Boston"])
    assert tags[2] == "VBD", tags
    # ALL-CAPS tokens keep their surfaces (acronym reading)
    tags = tagger.tag(["NASA", "AND", "ESA", "SIGN", "DEAL"])
    assert "VBZ" not in tags[:1]
