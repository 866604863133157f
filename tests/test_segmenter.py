"""Segmenter tests — port of reference segment_test.go (active cases only;
the reference's FIXME-disabled golden rules 14, 15, 18, 43, 52 are skipped
there too)."""

import pytest

from prose_spark.nlp.segmenter import default_segmenter, has_sent_end_chars


def check(text, expected):
    got = [s for s, _, _ in default_segmenter().segment(text)]
    assert got == expected


def test_smart_quotes():
    check(
        "Here is a quote, ”a smart one.” Will this break properly?",
        ["Here is a quote, ”a smart one.”", "Will this break properly?"],
    )


def test_custom_abbrev():
    check(
        "One custom abbreviation is F.B.I.  The abbreviation, F.B.I. "
        "should properly break.",
        ["One custom abbreviation is F.B.I.",
         "The abbreviation, F.B.I. should properly break."],
    )
    check(
        "An abbreviation near the end of a G.D. sentence.  J.G. Wentworth "
        "was cool.",
        ["An abbreviation near the end of a G.D. sentence.",
         "J.G. Wentworth was cool."],
    )


def test_supervised_abbrev():
    check(
        "I am a Sgt. in the army.  I am a No. 1 student.  The Gov. of "
        "Michigan is a dick.",
        ["I am a Sgt. in the army.", "I am a No. 1 student.",
         "The Gov. of Michigan is a dick."],
    )


def test_semicolon():
    check(
        "I am here; you are over there.  Will the tokenizer output two "
        "complete sentences?",
        ["I am here; you are over there.",
         "Will the tokenizer output two complete sentences?"],
    )


def test_yahoo_exception():
    assert not has_sent_end_chars("Yahoo!")
    check(
        "She works at Yahoo! in the accounting department.",
        ["She works at Yahoo! in the accounting department."],
    )


GOLDEN = [
    ("1 simple period", "Hello World. My name is Jonas.",
     ["Hello World.", "My name is Jonas."]),
    ("2 question mark", "What is your name? My name is Jonas.",
     ["What is your name?", "My name is Jonas."]),
    ("3 exclamation", "There it is! I found it.",
     ["There it is!", "I found it."]),
    ("4 one-letter upper abbrev", "My name is Jonas E. Smith.",
     ["My name is Jonas E. Smith."]),
    ("5 one-letter lower abbrev", "Please turn to p. 55.",
     ["Please turn to p. 55."]),
    ("6 two-letter lower mid", "Were Jane and co. at the party?",
     ["Were Jane and co. at the party?"]),
    ("7 two-letter upper mid",
     "They closed the deal with Pitt, Briggs & Co. at noon.",
     ["They closed the deal with Pitt, Briggs & Co. at noon."]),
    ("8 two-letter lower end", "Let's ask Jane and co. They should know.",
     ["Let's ask Jane and co.", "They should know."]),
    ("9 two-letter upper end",
     "They closed the deal with Pitt, Briggs & Co. It closed yesterday.",
     ["They closed the deal with Pitt, Briggs & Co.", "It closed yesterday."]),
    ("10 prepositive", "I can see Mt. Fuji from here.",
     ["I can see Mt. Fuji from here."]),
    ("11 pre+postpositive",
     "St. Michael's Church is on 5th st. near the light.",
     ["St. Michael's Church is on 5th st. near the light."]),
    ("12 possessive abbrev", "That is JFK Jr.'s book.",
     ["That is JFK Jr.'s book."]),
    ("13 multi-period mid", "I visited the U.S.A. last year.",
     ["I visited the U.S.A. last year."]),
    ("16 US + capitalized", "I work for the U.S. Government in Virginia.",
     ["I work for the U.S. Government in Virginia."]),
    ("17 US non-boundary", "I have lived in the U.S. for 20 years.",
     ["I have lived in the U.S. for 20 years."]),
    ("19 number non-boundary", "She has $100.00 in her bag.",
     ["She has $100.00 in her bag."]),
    ("20 number boundary", "She has $100.00. It is in her bag.",
     ["She has $100.00.", "It is in her bag."]),
    ("21 parenthetical",
     "He teaches science (He previously worked for 5 years as an "
     "engineer.) at the local University.",
     ["He teaches science (He previously worked for 5 years as an "
      "engineer.) at the local University."]),
    ("22 email", "Her email is Jane.Doe@example.com. I sent her an email.",
     ["Her email is Jane.Doe@example.com.", "I sent her an email."]),
    ("23 web address",
     "The site is: https://www.example.50.com/new-site/"
     "awesome_content.html. Please check it out.",
     ["The site is: https://www.example.50.com/new-site/"
      "awesome_content.html.", "Please check it out."]),
    ("24 single quotes", "She turned to him, 'This is great.' she said.",
     ["She turned to him, 'This is great.' she said."]),
    ("25 double quotes mid", 'She turned to him, "This is great." she said.',
     ['She turned to him, "This is great." she said.']),
    ("26 double quotes end",
     'She turned to him, "This is great." She held the book out to show him.',
     ['She turned to him, "This is great."',
      "She held the book out to show him."]),
    ("27 !!", "Hello!! Long time no see.", ["Hello!!", "Long time no see."]),
    ("28 ??", "Hello?? Who is there?", ["Hello??", "Who is there?"]),
    ("29 !?", "Hello!? Is that you?", ["Hello!?", "Is that you?"]),
    ("30 ?!", "Hello?! Is that you?", ["Hello?!", "Is that you?"]),
    ("40 errant newline pdf",
     "This is a sentence\ncut off in the middle because pdf.",
     ["This is a sentence\ncut off in the middle because pdf."]),
    ("41 errant newline", "It was a cold \nnight in the city.",
     ["It was a cold \nnight in the city."]),
    ("44 Yahoo!", "She works at Yahoo! in the accounting department.",
     ["She works at Yahoo! in the accounting department."]),
    ("45 I as boundary and initial",
     "We make a good team, you and I. Did you see Albert I. Jones "
     "yesterday?",
     ["We make a good team, you and I.",
      "Did you see Albert I. Jones yesterday?"]),
    ("46 ellipsis end of quote",
     "Thoreau argues that by simplifying one’s life, “the laws of the "
     "universe will appear less complex. . . .”",
     ["Thoreau argues that by simplifying one’s life, “the laws of the "
      "universe will appear less complex. . . .”"]),
    ("47 ellipsis brackets",
     '"Bohr [...] used the analogy of parallel stairways [...]" (Smith 55).',
     ['"Bohr [...] used the analogy of parallel stairways [...]" '
      "(Smith 55)."]),
    ("48 spaced ellipsis boundary",
     "If words are left off at the end of a sentence, and that is all "
     "that is omitted, indicate the omission with ellipsis marks "
     "(preceded and followed by a space) and then indicate the end of "
     "the sentence with a period . . . . Next sentence.",
     ["If words are left off at the end of a sentence, and that is all "
      "that is omitted, indicate the omission with ellipsis marks "
      "(preceded and followed by a space) and then indicate the end of "
      "the sentence with a period . . . .", "Next sentence."]),
    ("49 4-dot ellipsis boundary", "I never meant that.... She left the store.",
     ["I never meant that....", "She left the store."]),
    ("50 ellipsis non-boundary",
     "I wasn’t really ... well, what I mean...see . . . what I'm saying, "
     "the thing is . . . I didn’t mean it.",
     ["I wasn’t really ... well, what I mean...see . . . what I'm "
      "saying, the thing is . . . I didn’t mean it."]),
    ("51 4-dot ellipsis",
     "One further habit which was somewhat weakened . . . was that of "
     "combining words into self-interpreting compounds. . . . The "
     "practice was not abandoned. . . .",
     ["One further habit which was somewhat weakened . . . was that of "
      "combining words into self-interpreting compounds. . . .",
      "The practice was not abandoned. . . ."]),
]


@pytest.mark.parametrize("name,text,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_rules(name, text, expected):
    check(text, expected)


def test_offsets_are_bytes_into_original():
    text = "“Smart quote.” Next sentence here."
    sents = default_segmenter().segment(text)
    raw = text.encode("utf-8")
    assert len(sents) == 2
    for s, start, end in sents:
        assert raw[start:end].decode("utf-8") == s


def test_empty_and_whitespace():
    assert default_segmenter().segment("") == []
    assert default_segmenter().segment("   \n\t ") == []


def test_segmenter_heldout():
    """GENERALIZATION floor (r6 protocol, r7 pool v2): 53 hand-labeled
    sentence boundaries over eight passages — two r6 survivors
    (dossier_interjections, von_kramm: they drove no fix), four fresh
    sherlock passages from previously-unused regions (offsets
    123k/150k/215k — attribution after !-quote, interrupted em-dash
    quotes, 'K. K. K.' initials, nested-single-quote inquest dialogue,
    Mr. + name) and two reddit web-register OOD passages (ellipsis
    run-ons, 'U.S. populace', 'etc...)' parentheticals). Labels were
    written BLIND (before running the segmenter on these passages) and
    never drove a rule or training decision; punkt's unsupervised
    training saw sherlock raw TEXT (train_punkt.py), which is the
    standard Kiss-Strunk protocol — the held-out property is about the
    boundary LABELS. History: r6 pool measured P 0.8511 / R 0.8889; the
    r7 fixes (Kiss-Strunk 4.1.2 collocation learning in the trainer,
    dialogue-attribution unbreak, nested-quote close) took the r6 pool
    to 45/45, its four driving passages migrated to
    segmenter_migrated.json per the protocol, and this fresh pool
    measured FIRST-RUN P = 1.000 / R = 1.000 (53/53). Floors set a few
    points under the measurement."""
    import json
    import re
    from collections import Counter
    from pathlib import Path

    from prose_spark.nlp.segmenter import default_segmenter

    gold_path = Path(__file__).parent / "goldens" / \
        "segmenter_heldout.json"
    doc = json.loads(gold_path.read_text())
    assert len(doc["passages"]) == 8

    def norm(s):
        return re.sub(r"\s+", " ", s).strip()

    tp = n_pred = n_gold = 0
    for p in doc["passages"]:
        pred = Counter(norm(s) for s, _, _ in
                       default_segmenter().segment(p["text"]))
        gold = Counter(norm(g) for g in p["gold"])
        tp += sum((pred & gold).values())
        n_pred += sum(pred.values())
        n_gold += sum(gold.values())
    assert n_gold == 53
    precision = tp / n_pred
    recall = tp / n_gold
    assert precision >= 0.92, (
        f"segmenter held-out precision {precision:.4f} ({tp}/{n_pred})")
    assert recall >= 0.92, (
        f"segmenter held-out recall {recall:.4f} ({tp}/{n_gold})")


def test_segmenter_migrated_passages():
    """The four r6 held-out passages that DROVE the r7 fixes, pinned as
    exact-segmentation regression goldens after migration out of the
    held-out pool (held-out protocol: a passage that motivates a fix
    stops being held out). Covers: Mr. Sherlock / Mr. Holmes collocation
    unbreak (Kiss-Strunk 4.1.2, learned by train_punkt.py), the
    dialogue-attribution unbreak ('"Seven!" I answered.'), and the
    nested-quote close (".' followed by a new quote on a capital)."""
    import json
    import re
    from collections import Counter
    from pathlib import Path

    from prose_spark.nlp.segmenter import default_segmenter

    doc = json.loads((Path(__file__).parent / "goldens" /
                      "segmenter_migrated.json").read_text())
    assert len(doc["passages"]) == 4

    def norm(s):
        return re.sub(r"\s+", " ", s).strip()

    for p in doc["passages"]:
        pred = Counter(norm(s) for s, _, _ in
                       default_segmenter().segment(p["text"]))
        gold = Counter(norm(g) for g in p["gold"])
        assert pred == gold, (p["id"], pred - gold, gold - pred)


def test_collocation_unbreak():
    """Mr./Dr. + proper name stays attached even when the name is a
    frequent sentence starter in the training corpus (the learned
    4.1.2 collocation wins over the 4.1.3 starter re-break)."""
    check(
        "I had called upon Mr. Sherlock Holmes one day. He was waiting.",
        ["I had called upon Mr. Sherlock Holmes one day.",
         "He was waiting."],
    )
    check(
        "It was kind of you, Mr. Holmes. The case is urgent.",
        ["It was kind of you, Mr. Holmes.", "The case is urgent."],
    )


def test_attribution_unbreak():
    """Quote-final ?/! + capitalized subject + reporting verb stays one
    sentence; a non-reporting continuation still breaks."""
    check('"Seven!" I answered. "Indeed, more."',
          ['"Seven!" I answered.', '"Indeed, more."'])
    check('"Good God!" I cried. "What can it mean?"',
          ['"Good God!" I cried.', '"What can it mean?"'])
    # non-reporting verb after the quote: boundary stands
    check('"Stop!" He ran away.', ['"Stop!"', "He ran away."])


def test_nested_quote_close():
    """.' followed by a new quote opening on a capital is a boundary;
    .' followed by a lowercase continuation is not (golden rule 24)."""
    # .' followed by a lowercase continuation: no boundary
    check("He said 'wait.' and then left the room.",
          ["He said 'wait.' and then left the room."])
    check(
        "\"'But,' said I, 'there would be millions who would apply.'\n\n"
        "\"'Not so many as you might think,' he answered.",
        ["\"'But,' said I, 'there would be millions who would apply.'",
         "\"'Not so many as you might think,' he answered."],
    )
