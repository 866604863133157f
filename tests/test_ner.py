"""NER tests — port of reference extract_test.go + model-decode checks."""

import json

import numpy as np
import pytest

from conftest import REFERENCE_DIR, requires_reference
from prose_spark.nlp.ner import (
    chunk,
    coalesce,
    default_ner,
    extract_features,
    parse_entities,
    shape,
    simple_pos,
)
from prose_spark.nlp.ner_train import adjust_pos, model_from_data
from prose_spark.nlp.tagger import default_tagger
from prose_spark.nlp.tokenizer import tokenize

REF = REFERENCE_DIR / "testdata"


def test_sum_logs_equivalent():
    # TestSumLogs (extract_test.go:61-66): log2(3) ⊕ log2(5) == 3.0
    x = np.log2([3.0, 5.0])
    m = x.max()
    s = m + np.log2(np.exp2(x - m).sum())
    assert abs(s - 3.0) < 1e-12


def test_shape():
    assert shape("123") == "number"
    assert shape("1.5e3") == "number"
    assert shape("...") == "punct"
    assert shape("hello") == "downcase"
    assert shape("Hello") == "upcase"
    assert shape("McDonald") == "upcase"  # strings.Title("McDonald") == itself
    assert shape("iPhone") == "mixedcase"
    assert shape("café") == "punct"  # ASCII \W matches the trailing é


def test_simple_pos():
    assert simple_pos("VBZ") == "v"
    assert simple_pos("B-PERSON") == "B"
    assert simple_pos("O") == "O"


def test_parse_entities_precedence():
    assert parse_entities(["B-PERSON", "I-GPE"]) == "PERSON"
    assert parse_entities(["B-GPE"]) == "GPE"
    # shipped labels ORGANIZATION/FACILITY miss the precedence table keys
    # (ORG/FAC) and fall through to the first label's suffix
    assert parse_entities(["B-ORGANIZATION", "I-ORGANIZATION"]) == "ORGANIZATION"
    assert parse_entities(["O"]) == "MISC"
    assert parse_entities([]) == "MISC"


def test_adjust_pos():
    # "ab cd" span on "cd" = (3,5); non-space-adjusted = (2,4)
    assert adjust_pos("ab cd", 3, 5) == (2, 4)


def test_default_model_loads():
    ner = default_ner()
    assert len(ner.labels) == 13
    assert set(ner.labels) == {
        "O",
        "B-PERSON", "I-PERSON", "B-ORGANIZATION", "I-ORGANIZATION",
        "B-LOCATION", "I-LOCATION", "B-GPE", "I-GPE", "B-GSP", "I-GSP",
        "B-FACILITY", "I-FACILITY",
    }
    assert len(ner.enwords) == 850


def test_classify_matches_reference_scoring():
    # vectorized path == direct encode()+dot scoring on a real sentence
    ner = default_ner()
    words = tokenize("Barack Obama visited Paris.")
    tags = default_tagger().tag(words)
    labels, confs = ner.classify(words, tags)
    history: list[str] = []
    for i in range(len(words)):
        feats = extract_features(i, words, tags, history)
        scores = ner.score_features(feats)
        best = max(ner.labels, key=lambda l: scores[l])
        assert best == labels[i], f"token {words[i]}: {best} != {labels[i]}"
        history.append(simple_pos(labels[i]))
    assert all(0.0 <= c <= 1.0 for c in confs)


def test_entities_end_to_end():
    ner = default_ner()
    words = tokenize("The United Nations met in New York.")
    tags = default_tagger().tag(words)
    labels, confs = ner.classify(words, tags)
    toks = [
        dict(text=w, tag=t, label=l, confidence=c, start=0, end=0)
        for w, t, l, c in zip(words, tags, labels, confs)
    ]
    ents = chunk(toks)
    texts = {e["text"]: e["label"] for e in ents}
    assert texts.get("United Nations") == "ORGANIZATION"
    assert texts.get("New York") == "GPE"


def test_chunk_drops_open_entity_at_eos():
    # reference quirk: no flush after the loop (extract.go:160-189)
    toks = [
        dict(text="New", tag="NNP", label="B-GPE", confidence=1.0, start=0, end=3),
    ]
    assert chunk(toks) == []


@requires_reference("testdata/reddit_product.jsonl")
def test_ner_prodigy_train_eval():
    # extract_test.go:68-100 — train on 80% of reddit_product, eval on 20%.
    # The Go test's reflect.DeepEqual([]string, []Entity) is always false,
    # so its "correct" count is exactly the reject-entries with no detected
    # entities; we replicate that protocol for the 0.819444 floor.
    lines = (REF / "reddit_product.jsonl").read_text().strip().split("\n")
    data = [json.loads(l) for l in lines]
    cutoff = int(len(data) * 0.8)
    train = [
        {"text": d["text"], "spans": d.get("spans") or [],
         "accept": d["answer"] == "accept"}
        for d in data[:cutoff]
    ]
    ner = model_from_data(train)
    tagger = default_tagger()
    correct = 0
    test = data[cutoff:]
    for entry in test:
        words = tokenize(entry["text"])
        tags = tagger.tag(words)
        labels, confs = ner.classify(words, tags)
        toks = [
            dict(text=w, tag=t, label=l, confidence=c, start=0, end=0)
            for w, t, l, c in zip(words, tags, labels, confs)
        ]
        if entry["answer"] != "accept" and len(chunk(toks)) == 0:
            correct += 1
    rate = correct / len(test)
    assert rate >= 0.819444, f"rate {rate:.6f} below floor"
