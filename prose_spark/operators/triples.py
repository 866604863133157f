"""Triple extraction via POS-pattern chunking (SURVEY.md §2.K K1/K2).

This layer is NEW relative to the reference library (mandated by the
north rule): per sentence, chunk noun phrases (DT? JJ* NN-runs, bare
pronouns/demonstratives, pre-verbal numerals) and verb groups
(MD? RB* VB+ with adverb runs between verbs + particle/preposition),
then emit (subj, pred, obj) for each verb group with suitable arguments.

Implemented as a regex over a per-sentence tag-code string (one char per
token), which is O(tokens) per sentence and fully data-parallel across
documents — no shuffle. On top of the core patterns sits the r4-r6
guard grammar, tuned against a 127-sentence hand-labeled open-text gold
(tests/goldens/open_text_triples_gold.json; P=0.851/R=0.838 measured;
held-out on 60 never-tuned sentences: P=0.747/R=0.800 — see
open_text_triples_heldout.json for the protocol):

- assertion scope: negated copulas / "no"/"not" subjects / "any" NPI
  objects, conditional and wh-clauses, existentials, subject-aux
  inversion, and it-clefts emit nothing;
- argument structure: objects are bounded by the next same-clause verb
  (short parentheticals and coordinated verbs excepted) with comma-
  parity tests on both sides, semicolon hard stops, and relative-clause
  antecedents as fallback objects; subjects walk to the nearest NP at
  even comma distance without crossing quotes, share across coordinated
  predicates, and re-bind through infinitives (object-control verbs
  bind the matrix object);
- non-predicates: adjectival/absolutive participles, gerunds after
  prepositions, appositives (emitted as "is" triples instead), and
  idiom chunks ("in order to", "made it through", "X akin to Y") are
  recognized and suppressed or folded.

Passives invert around a VP-final "by" (agent passives) but keep
surface orientation for resultatives ("abandoned as hopeless by X").
Predicate normalization (K2): lowercase, 3rd-person -s stripped when
the head verb is VBZ (lemma-lite), whitespace collapsed.

Confidence = min NER confidence over entity tokens inside subj/obj spans
(1.0 when neither side overlaps an entity).
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prose_spark.schemas import TRIPLE_TYPE

# one-char code per Penn tag class
_TAG_CODE = {
    "NN": "N", "NNS": "N", "NNP": "N", "NNPS": "N",
    "JJ": "J", "JJR": "J", "JJS": "J",
    "DT": "D", "PDT": "D",
    # possessive determiners open an NP exactly like DT ("my name",
    # "his old books") — the gold convention keeps the possessive in
    # the argument span. "her" (the one PRP$/accusative-ambiguous
    # surface) is re-coded below when no nominal follows.
    "PRP$": "D",
    "PRP": "S",  # pronoun subject-ish nominal
    "VB": "V", "VBD": "V", "VBG": "V", "VBN": "V", "VBP": "V", "VBZ": "V",
    "MD": "M",
    "RB": "R", "RBR": "R", "RBS": "R",
    "RP": "P", "IN": "P", "TO": "P",
    "CD": "C",
    "POS": "G",
}

# NP: optional determiner, adjectives, noun run (with CD/POS glue inside),
# a bare pronoun, or a standalone numeral directly governing a verb
# ("One prohibits them" — CD as subject; a numeral anywhere else never
# forms an NP on its own, so "raise it between 25 and 75 cents" cannot
# take "25" as an object). VP: optional
# modal, verb run — adverbs allowed BETWEEN verbs ("have seldom heard",
# "never spoke") so a mid-VP adverb doesn't truncate the predicate and
# strand the main verb as a bogus object — optional trailing adverb,
# optional particle/preposition attaching the object.
_NP_RE = re.compile(r"D?J*N[NJCG]*|S|C(?=V)|DJ+(?![NJCG])|D(?![NJCG])")
_WS_RE = re.compile(r"\s+")
_VP_RE = re.compile(r"M?R*V+(?:R+V+)*R*P?")

# irregular 3rd-person forms whose -s strip would be wrong ("is" -> "i")
_IRREGULAR_VBZ = {"is": "be", "has": "have", "does": "do", "goes": "go",
                  "'s": "be"}

# clause-opening subordinators that the tagger codes as IN (-> P): these
# never attach to a VP as a particle/preposition, and a verb followed by
# one takes a CLAUSAL complement, not an NP object ("signify if they
# have been convicted" must not yield <job applicants> signify if
# <they>). Deliberately excludes the PP-capable IN words (after, before,
# since, as, when, while) whose NP reading is common.
_SUBORD_CONJ = frozenset(("that", "if", "whether", "because", "although",
                          "unless"))
# the subset that also vetoes an NP object ("that" strips from the
# predicate but its complement's subject NP is conventionally kept:
# "requires that insurers cover ..." -> <mandate> requires <insurers>)
_CLAUSAL_DROP = frozenset(("if", "whether", "because", "although",
                           "unless"))

# explicit negation markers (gold convention: NEGATED copular clauses
# carry no triples — asserting them would be wrong; softer
# "never"/"seldom" stay inside the predicate)
_NEG_TOKENS = frozenset(("not", "n't"))

_BE_FORMS = frozenset(("is", "are", "was", "were", "been", "being", "be",
                       "'s", "'re", "am"))

# tokens a bare copular complement can never be fetched across: the
# NP on the far side belongs to a subordinate/adverbial clause ("It is
# true that I had a country walk", "I am baffled until you explain")
_BE_CROSS_BLOCKERS = frozenset(("that", "if", "whether", "because",
                                "although", "unless", "until", "while",
                                "since", "when", "as"))

# single nouns that form adverbial idioms with "in", never objects
_IN_IDIOM_NOUNS = frozenset(("part", "order", "fact", "general",
                             "particular", "addition", "turn", "vain",
                             "common", "short"))

# words heading "X <word> to Y" complements that taggers often mark as
# nouns ("emotion akin to love") — never actors of a following verb.
# Deliberately ONLY words that are (nearly) always complements before
# "to": including noun-capable words like "subject"/"close"/"equal"
# would kill real object-control extractions ("asked each subject to
# complete a survey").
_ADJ_COMPLEMENT_WORDS = frozenset(("akin", "similar", "due", "prior",
                                   "contrary"))

# auxiliary forms whose appearance directly before a subject NP marks
# subject-aux inversion (question / counterfactual)
_AUX_FORMS = frozenset(("had", "have", "has", "do", "does", "did",
                        "is", "are", "was", "were", "am", "can",
                        "could", "will", "would", "shall", "should",
                        "may", "might", "must"))

# object-control matrix verbs: in "<subj> REQUIRE <obj> to <verb> ...",
# the infinitive's actor is the matrix OBJECT ("can't require applicants
# to provide passwords" -> applicants provide), unlike subject-control
# ("aims to protect" -> the aimer protects). Stem-matched so common
# inflections are covered without a lemmatizer.
_OBJ_CONTROL_STEMS = ("requir", "prohibit", "allow", "ask", "tell",
                      "told", "forc", "caus", "order", "expect", "want",
                      "permit", "enabl", "encourag", "urg", "instruct")

# clause-taking attitude/report verbs whose NEGATION un-asserts the
# complement even without an explicit "that" ("I don't think they are
# ..."); stem-matched like _OBJ_CONTROL_STEMS
_ATTITUDE_STEMS = ("think", "thought", "believ", "know", "knew", "say",
                   "said", "suppos", "imagin", "feel", "felt", "claim",
                   "mean", "reckon", "guess", "expect", "suggest",
                   "argu", "hope", "doubt", "pretend", "want")


# the surface predicates below are pure functions of the word (the
# tagger's tag dictionary is fixed once loaded), memoized per worker and
# capped at ~1M entries like every other kernel memo
_memo = lru_cache(maxsize=1 << 20)


@_memo
def _is_object_control(word: str) -> bool:
    w = word.lower()
    return any(w.startswith(s) for s in _OBJ_CONTROL_STEMS)


# directive control verbs whose TO-complement is an INSTRUCTION, not
# an asserted event ("I ordered her to say nothing" does not assert
# <her> say <nothing>); entailing causatives (force, cause, enable)
# stay out of this set and keep the rebound assertion
_DIRECTIVE_STEMS = ("order", "command")

# verbs that take a "that"-complement whose embedded subject is
# conventionally kept as the object ("requires that insurers cover",
# "has said that she would send it"); a non-clause-taking verb before
# "that" must NOT steal the complement's subject ("remarking before he
# started that he had ..." must not yield <he> started <he>)
_CLAUSE_TAKING_STEMS = _ATTITUDE_STEMS + (
    "requir", "prohibit", "mandat", "insist", "demand", "ensur",
    "show", "prov", "signif", "note", "remark", "observ", "report",
    "reveal", "indicat", "confirm", "warn", "stat", "agree", "admit",
    "conclud", "deny", "learn", "hear", "wish", "recall", "find",
    "found", "understand", "understood", "read", "write", "wrote",
    "written", "announc", "complain", "worr", "boast", "swear",
    "swor", "promis", "bet", "reply", "replied", "answer")

# transfer verbs whose "to"-infinitive after a filled object is a
# PURPOSE clause, not a controlled complement ("I would give one of the
# provinces of my kingdom to have that photograph" asserts the giving,
# not <I> have <photograph>)
_TRANSFER_STEMS = ("give", "gave", "given", "lend", "lent", "sell",
                   "sold", "pay", "paid", "offer")

# words the tagger sometimes calls verbs that never are: bare color
# terms ("the deep blue cloak" -> blue/VBZ) and spelled-out number
# words ("seven hundred in notes" -> hundred/VBD)
_NEVER_VERB_WORDS = frozenset((
    "blue", "red", "green", "white", "black", "grey", "gray", "brown",
    "yellow", "pink", "purple", "orange",
    "hundred", "thousand", "million", "billion", "dozen",
    # street-abbreviation surfaces the tagger reads as OOV verbs
    # ("from Bellevue ave to 15th ave")
    "ave", "blvd", "hwy",
))

# bare-NP temporal heads: "that very moment/day/instant" is an
# adverbial, never an object ("which he had apparently adjusted that
# very moment"); gated on the "very" to keep real objects ("I remember
# that day")
_TEMPORAL_NOUNS = frozenset(("moment", "instant", "time", "day",
                             "morning", "evening", "night", "week",
                             "year", "hour", "minute", "second",
                             "month", "fortnight", "season", "spring",
                             "summer", "autumn", "winter", "century",
                             "midnight", "noon", "dawn", "dusk"))

# spelled-out small numbers the tagger can mistag NN inside measure
# phrases ("for ten/NN minutes"): treated as quantifiers when deciding
# whether a span is a pure temporal-measure adverbial
_NUMBER_WORDS = frozenset((
    "one", "two", "three", "four", "five", "six", "seven", "eight",
    "nine", "ten", "eleven", "twelve", "twenty", "thirty", "forty",
    "fifty", "sixty", "seventy", "eighty", "ninety",
    "hundred", "thousand", "million", "dozen",
))

# quantifiers that mark a bare temporal NP as a MEASURE adverbial
# ("met her several times", "waited many years")
_MEASURE_QUANTIFIERS = frozenset((
    "several", "many", "few", "some", "countless",
)) | _NUMBER_WORDS

# prepositions that govern temporal-measure adverbials ("for ten
# minutes", "in the spring", "at night", "during the winter", "in the
# course of the spring")
_TEMPORAL_PREPS = frozenset(("for", "in", "at", "on", "during",
                             "within", "until", "till", "over",
                             "through", "of"))

# "at <noun>" adverbial idioms — never objects
_AT_IDIOM_NOUNS = frozenset(("present", "once", "last", "length",
                             "first"))

_REFLEXIVES = frozenset(("myself", "yourself", "himself", "herself",
                         "itself", "ourselves", "yourselves",
                         "themselves"))

# intransitive presentational/motion verbs: a relative pronoun directly
# after one is an EXTRAPOSED relative on the verb's subject ("A man
# entered who could hardly have been less than six feet") — unlike
# cognition/speech verbs, which take wh-COMPLEMENTS ("I know who did
# it") and stay suppressed
_PRESENTATIONAL_VERBS = frozenset((
    "entered", "arrived", "came", "come", "appeared", "emerged",
    "followed", "remained", "stood", "sat", "lay", "rose", "returned",
    "departed", "passed", "walked", "ran", "vanished", "died", "lived",
))

# narration verbs that frame a quoted question ('"You had my note?" he
# asked'): the quote's content is a QUESTION, asserted by nobody
_NARRATION_VERBS = frozenset(("asked", "said", "inquired", "enquired",
                              "demanded", "queried", "cried", "replied",
                              "returned", "answered", "remarked",
                              "observed", "exclaimed", "muttered",
                              "whispered", "shouted", "continued"))

# straight/typographic quotes and PTB two-char quote tokens: the
# sanitizer folds typographic quotes to '"', which the tagger then
# mistags (NNP/NN/VBP) on open text, leaking quote marks into NP/VP
# spans; force them out of every span at the code level
_QUOTE_TOKENS = frozenset(('"', "``", "''", "'", "`", "“", "”"))

# unambiguous irregular pasts the tagger still mistakes for
# nouns/prepositions on narrative text after the r7 OOV fallback
# ("A flush sprang/NN to", "threw/IN it down"): these surfaces are
# verbs in every English reading, so the chunker codes them V
# regardless of tag. r7 DELETIONS: hailed/flung/crept/leapt/clung/
# strode/wept/slammed now come out of the tagger as verb codes (the
# tag-dictionary + morphological-OOV fallback fixed them at the
# source — tagger.py module docstring); the -ly-adverb NN override
# and its 27-entry _LY_NOUN_EXCEPTIONS list were deleted outright for
# the same reason (rare -ly surfaces now reach RB through the
# suffix-prior table).
_CHUNK_VERB_WORDS = frozenset(("sprang", "threw"))

# bare particles the tagger sometimes codes as nouns: clause-final
# "sprang round," must not take the particle as an object
_PARTICLE_OBJECTS = frozenset(("round", "aside", "forth"))

# nouns that close an NP as a trailing adverbial, not phrase content
# ("had been concerned in some such matter before" -> before/NN glued
# onto the object); "round"/"about" are particle variants of the same
# glue ("wrapped a shawl round me" -> object "shawl round")
_TRAILING_ADV_NOUNS = frozenset(("before", "after", "since", "ago",
                                 "too", "also", "then", "now", "such",
                                 # locative adverbs the tagger calls NN
                                 # ("the pool midway between our
                                 # houses")
                                 "midway", "halfway",
                                 # mistagged-NN accusative pronouns
                                 # glued onto an NP tail ("my arms
                                 # round her" -> her/NN): a pronoun
                                 # after a noun run is never phrase
                                 # content
                                 "her", "him", "them", "me", "us"))

# perception verbs taking bare small clauses ("heard her key turn in
# the lock"): the tagger calls the embedded base verb a noun and glues
# it onto the object NP — split it back out and assert both relations
_PERCEPTION_VERBS = frozenset(("heard", "hear", "saw", "see", "watched",
                               "watch", "felt", "feel", "observed",
                               "noticed"))
_SMALLCLAUSE_VERBS = frozenset(("turn", "run", "fall", "rise", "move",
                                "slip", "drop", "break", "ring",
                                "swing", "roll", "shake", "tremble",
                                "pass"))

# eventive passive participles whose agent-active inversion is the
# KG-normal reading even with a common-noun agent ("the impression of
# barbaric opulence was suggested by his whole appearance" -> <his
# whole appearance> suggested <the impression>); stative participles
# ("blocked", "scored", "attracted") keep the surface orientation
_EVENTIVE_PASSIVES = frozenset((
    "suggested", "caused", "founded", "made", "built", "created",
    "written", "composed", "invented", "discovered", "produced",
    "designed", "developed", "established",
))


@_memo
def _is_clause_taking(word: str) -> bool:
    """Memoized because the stem scan is the chunker's single hottest
    line otherwise (one 60-stem scan per VP)."""
    return any(word.startswith(st) for st in _CLAUSE_TAKING_STEMS)


@_memo
def _is_attitude(word: str) -> bool:
    return any(word.startswith(st) for st in _ATTITUDE_STEMS)


@_memo
def _is_transfer(word: str) -> bool:
    return any(word.startswith(s) for s in _TRANSFER_STEMS)


@_memo
def _is_directive(word: str) -> bool:
    return any(word.startswith(s) for s in _DIRECTIVE_STEMS)


@_memo
def _verb_only_surface(word: str) -> bool:
    """True when the tagger's training tag dictionary lists ONLY verb
    tags for the surface ("join" -> {VB}) — safe evidence that an
    NN-tagged coordinated conjunct is really a verb."""
    tags = ()
    try:
        from prose_spark.nlp.tagger import default_tagger

        td = default_tagger().tag_dict
        if td:
            tags = td.get(word, ())
    except Exception:
        pass
    v = bool(tags) and all(t.startswith("VB") for t in tags)
    if not tags and word.endswith("s") and len(word) > 3:
        # OOV 3rd-person form whose stem IS known and verb-only
        # ("prefers" -> "prefer")
        try:
            from prose_spark.nlp.tagger import default_tagger

            td = default_tagger().tag_dict or {}
            stem_tags = td.get(word[:-1], ())
            v = bool(stem_tags) and all(
                t.startswith("VB") for t in stem_tags)
        except Exception:
            pass
    return v


_HEDGE_VERBS = frozenset((
    "seemed", "seems", "seem", "understand", "understood", "believe",
    "believed", "suppose", "supposed", "take", "gather", "imagine",
    "recall", "remember", "say", "put"))


def _content_vw_hedge(low, tags, vs, ve) -> bool:
    for k in range(ve - 1, vs - 1, -1):
        if tags[k].startswith("VB"):
            return low[k] in _HEDGE_VERBS
    return False


def _verb_capable_surface(word: str) -> bool:
    """True when the tagger's training tag dictionary lists ANY verb
    tag for the surface ("claim" -> {NN, VB, VBP})."""
    try:
        from prose_spark.nlp.tagger import default_tagger

        td = default_tagger().tag_dict
        if td:
            return any(t.startswith("VB") for t in td.get(word, ()))
    except Exception:
        pass
    return False


@_memo
def _adj_capable_surface(word: str) -> bool:
    """True when the tagger's training tag dictionary lists JJ among
    the surface's observed tags ("advanced" -> {VBD, JJ, VBN})."""
    try:
        from prose_spark.nlp.tagger import default_tagger

        td = default_tagger().tag_dict
        if td:
            return "JJ" in td.get(word, ())
    except Exception:
        pass
    return False


@_memo
def _oov_surface(word: str) -> bool:
    """True when the surface is absent from the tagger's training tag
    dictionary — its tag came from the OOV path and carries less
    evidence than an in-vocabulary tag."""
    try:
        from prose_spark.nlp.tagger import default_tagger

        td = default_tagger().tag_dict
        if td:
            return word not in td
    except Exception:
        pass
    return True


_MONTH_NOUNS = frozenset(("january", "february", "march", "april",
                          "may", "june", "july", "august", "september",
                          "october", "november", "december"))


def extract_triples_doc(tokens: list[dict]) -> list[dict]:
    """tokens: annotate() token dicts (ordered). -> triple dicts."""
    out: list[dict] = []
    if tokens is None or len(tokens) == 0:
        return out
    # group token indices by sentence
    by_sent: dict[int, list[int]] = {}
    for i, t in enumerate(tokens):
        si = t["sent_idx"]
        if si is not None and si >= 0:
            by_sent.setdefault(si, []).append(i)

    for si, idxs in by_sent.items():
        tok = [tokens[i] for i in idxs]
        tags = [t["tag"] or "" for t in tok]
        # shared per-sentence arrays, computed ONCE (r7 verdict #3):
        # the guard passes below used to re-call .lower() per site —
        # ~530k calls per 120-doc micro-bench pass — and re-index the
        # token dicts; every pass now reads these instead
        texts = [t["text"] for t in tok]
        low = [s.lower() for s in texts]
        tag_set = set(tags)
        low_set = set(low)
        code_l = []
        for text, t in zip(texts, tags):
            if text in _QUOTE_TOKENS:
                code_l.append(".")
                continue
            c = _TAG_CODE.get(t, ".")
            if c != "V" and text.lower() in _CHUNK_VERB_WORDS:
                c = "V"
            code_l.append(c)
        # a comma between stacked prenominal modifiers is NP-internal
        # punctuation, not a phrase boundary ("his long, nervous hands",
        # "his tall, spare figure" with tall/NN): glue it into the NP
        # when a J follows and the run closes on a noun within reach
        if "," in low_set:
            for k in range(1, len(code_l) - 1):
                if (texts[k] == "," and code_l[k - 1] in "JN"
                        and code_l[k + 1] == "J"):
                    j = k + 1
                    while j < len(code_l) and code_l[j] == "J":
                        j += 1
                    if j < len(code_l) and code_l[j] == "N":
                        code_l[k] = "J"
        # "her" is the one surface that is BOTH possessive determiner
        # and accusative pronoun; tagged PRP$ with no nominal (or
        # gerund) following it IS the pronoun ("ran to her and threw
        # ...") — code it S so it can argument. Other PRP$ surfaces
        # (its/my/your/their/his) stay determiners.
        # a VBN sandwiched between a determiner/adjective and a nominal
        # is ATTRIBUTIVE ("the half-lit broken knees dance", "the
        # scattered knots"), not a predicate: code it J so the NP stays
        # whole. Post-nominal VBNs (reduced relatives, passives) keep V.
        # A VBZ between an ADJECTIVE and a nominal is the same class of
        # NP-internal mis-tag ("the Spanish incumbent telecoms/VBZ
        # operator") — J only, so "the dog runs home" (N before VBZ)
        # keeps its finite verb.
        if "VBN" in tag_set or "VBZ" in tag_set:
            for k in range(1, len(code_l) - 1):
                if (code_l[k] == "V" and code_l[k + 1] in "NJ"
                        and ((tags[k] == "VBN" and code_l[k - 1] in "DJ")
                             or (tags[k] == "VBZ"
                                 # only for OOV surfaces — the misparse
                                 # class is an unknown plural read as a
                                 # verb; in-vocabulary VBZ ("name is John
                                 # Robinson") keeps its verb. The probe
                                 # is the LOWERCASE surface ("Sets" in a
                                 # headline is dict word "sets"), and a
                                 # sentence's ONLY verb is never recoded
                                 # away ("NASA Sets News Conference")
                                 and _oov_surface(low[k])
                                 and any(c == "V" for j2, c
                                         in enumerate(code_l)
                                         if j2 != k)
                                 and (code_l[k - 1] == "J"
                                      # noun-run internal VBZ needs TWO
                                      # nominals after ("incumbent
                                      # telecoms/VBZ operator Telefónica");
                                      # "the dog runs home" keeps its verb
                                      or (code_l[k - 1] == "N"
                                          and k + 2 < len(code_l)
                                          and code_l[k + 2] == "N"))))):
                    code_l[k] = "J"
        # a BASE-form verb directly governed by a true preposition is
        # nominal ("during rush hour", "at work") — TO+VB infinitives
        # are untouched (TO is not IN)
        if "VB" in tag_set and "IN" in tag_set:
            for k in range(1, len(code_l)):
                if (code_l[k] == "V" and tags[k] == "VB"
                        and tags[k - 1] == "IN"):
                    code_l[k] = "N"
        # a CATENATIVE + TO + noun-tagged dictionary VERB is the
        # infinitive's verb ("are trying to figure out this gaggle
        # fuck" — figure/NN); plain "went to work" keeps its noun
        for k in range(2, len(code_l)):
            if (code_l[k] == "N" and tags[k - 1] == "TO"
                    and low[k - 2] in ("trying", "try", "tries",
                                       "tried", "going", "want",
                                       "wants", "wanted", "able",
                                       "like", "likes", "need",
                                       "needs", "needed", "attempt",
                                       "attempting", "attempted")
                    and _verb_capable_surface(low[k])):
                code_l[k] = "V"
        # "in turn" is always adverbial ("which in turn is running in
        # VMWare" must not subject "turn")
        if "turn" in low_set:
            for k in range(1, len(code_l)):
                if (low[k] == "turn" and low[k - 1] == "in"
                        and (k + 1 >= len(code_l)
                             or code_l[k + 1] not in "NJCG")):
                    code_l[k - 1] = "."
                    code_l[k] = "."
        # an OOV TITLECASE word tagged JJ in PREDICATE position (not
        # attributively before a nominal) is a proper noun the shape
        # prior missed ("it's Ubuntu/JJ running in Virtual Box")
        for k in range(1, len(code_l)):
            if (code_l[k] == "J" and texts[k][0:1].isupper()
                    and not texts[k].isupper()
                    and _oov_surface(low[k])
                    and (k + 1 >= len(code_l)
                         or code_l[k + 1] not in "NJ")):
                code_l[k] = "N"
        # a verb-capable dictionary word tagged JJ between its subject
        # noun-run and a preposition, in a segment with NO other verb,
        # is that segment's verb ("most of those metropolitan
        # populations live/JJ in slums and ghettos")
        for k in range(1, len(code_l) - 1):
            if (code_l[k] == "J" and code_l[k - 1] == "N"
                    and code_l[k + 1] == "P"
                    and texts[k].islower()
                    and _verb_capable_surface(low[k])):
                seg0, seg1 = k, k
                while seg0 > 0 and texts[seg0 - 1] not in (",", ";",
                                                           "(", ")"):
                    seg0 -= 1
                while (seg1 < len(code_l)
                       and texts[seg1] not in (",", ";", "(", ")")):
                    seg1 += 1
                if not any(code_l[j] == "V"
                           for j in range(seg0, seg1)):
                    code_l[k] = "V"
        # "$ 250k": a currency sign + numeral is a money NP — the
        # bare-CD rule ("a numeral anywhere else never forms an NP")
        # correctly blocks "25" but must not block money objects
        # ("the number is $250k")
        if "$" in low_set:
            for k in range(len(code_l) - 1):
                if texts[k] == "$" and tags[k + 1] == "CD":
                    code_l[k] = "N"
                    code_l[k + 1] = "N"
        # web-typo "its" for "it's": PRP$ directly before a verb with
        # no nominal in reach is a SUBJECT pronoun ("Wikipedia says its
        # owned by ..."), and its clause rides the typo — code it S and
        # keep the clause out of assertion scope (the matrix verb still
        # takes it as a complement object)
        its_typo: set = set()
        if "its" in low_set:
            for k in range(len(code_l) - 1):
                if (low[k] == "its" and tags[k] == "PRP$"
                        and code_l[k] == "D"
                        and tags[k + 1] in ("VBN", "VBZ", "VBD", "VBP")
                        and code_l[k + 1] == "V"):
                    code_l[k] = "S"
                    its_typo.add(k)
        # bare predicative possessive: PRP$ + "own" with no nominal
        # after it ("had formerly been in part my own") is a predicate
        # complement, not an argument NP — suppress both tokens
        if "own" in low_set:
            for k, c in enumerate(code_l):
                if (c == "D" and tags[k] == "PRP$" and k + 1 < len(code_l)
                        and low[k + 1] == "own"
                        and (k + 2 >= len(code_l)
                             or code_l[k + 2] not in "NJCG")):
                    code_l[k] = "."
                    code_l[k + 1] = "."
        if "her" in low_set:
            for k, c in enumerate(code_l):
                if c == "D" and tags[k] == "PRP$" and low[k] == "her":
                    if k + 1 >= len(code_l) or code_l[k + 1] not in "NJCGV":
                        code_l[k] = "S"
                        continue
                    nxt = low[k + 1]
                    # "her" before a mistagged particle is the accusative
                    # ("brought her over/NN for ..."): pronoun + particle,
                    # and the particle itself stops being a nominal
                    if (nxt in ("over", "round", "back", "up", "down",
                                "out", "aside", "forth", "along", "away")
                            and tags[k + 1].startswith("NN")
                            and (k + 2 >= len(code_l)
                                 or code_l[k + 2] not in "NJCG")):
                        code_l[k] = "S"
                        code_l[k + 1] = "."
                        continue
                    # "her" before a quantified measure NP is the
                    # accusative too ("met her several times"): the
                    # measure phrase is an adverbial, not her possession
                    j = k + 1
                    while (j < len(code_l)
                           and (code_l[j] in "JC"
                                or low[j]
                                in _MEASURE_QUANTIFIERS)):
                        j += 1
                    if (j > k + 1 and j < len(code_l)
                            and low[j].rstrip("s")
                            == "time"):
                        code_l[k] = "S"
        # "no doubt"/"no wonder" directly after a modal is an
        # adverbial idiom, not an NP ("which will no doubt strike
        # you" must not negation-kill on the "no" determiner)
        if "doubt" in low_set or "wonder" in low_set:
            for k in range(1, len(code_l) - 1):
                if (low[k] == "no" and tags[k - 1] == "MD"
                        and low[k + 1] in ("doubt", "wonder")):
                    code_l[k] = "R"
                    code_l[k + 1] = "R"
        # a modal licenses a BASE VERB: when the next content token
        # after "MD (, short-parenthetical ,)?" is coded N ("will, of
        # course, stay in London" -> stay/NN), it is that verb
        if "MD" in tag_set:
            for k, c in enumerate(code_l):
                if c != "M":
                    continue
                j = k + 1
                if j < len(tok) and texts[j] == ",":
                    close = next((m for m in range(j + 1, min(j + 5, len(tok)))
                                  if texts[m] == ","), None)
                    if close is None:
                        continue
                    j = close + 1
                while j < len(code_l) and code_l[j] == "R":
                    j += 1
                if (j < len(code_l) and code_l[j] == "N"
                        and texts[j].islower()):
                    code_l[j] = "V"
        # a coordinated conjunct the tagger called NN but whose
        # training tag dictionary is VERB-ONLY is the second verb of a
        # VP coordination ("can use bathrooms and join/NN school
        # athletic teams"): recode V when a verb precedes in the same
        # comma segment and an NP follows
        if "and" in low_set or "or" in low_set:
            for k, c in enumerate(code_l):
                if (c == "N" and k > 0 and k + 1 < len(code_l)
                        and low[k - 1] in ("and", "or")
                        and texts[k].islower()
                        and code_l[k + 1] in "DJNSVP"
                        and _verb_only_surface(low[k])):
                    j = k - 2
                    while j >= 0 and texts[j] not in (",", ";", ":"):
                        if code_l[j] == "V":
                            code_l[k] = "V"
                            break
                        j -= 1
        for k, c in enumerate(code_l):
            # a VERB-ONLY surface right after a relative pronoun
            # (optionally with adverbs/adjectival "first" between) is
            # the relative clause's verb despite an NN/NNS tag ("the
            # man who first finds/NNS himself", "a gentleman who
            # desires/NNS to consult you")
            if (c == "N" and texts[k].islower()
                    and (_verb_only_surface(low[k])
                         # DIRECTLY after the relative pronoun, any
                         # verb-capable dictionary surface is the
                         # relative clause's verb ("people who claim
                         # Lost is too confusing"); noun-abutting
                         # relativizer "that" counts ("the app that
                         # lets you take pictures")
                         or (k > 0
                             and (tags[k - 1] in ("WP", "WDT")
                                  or (low[k - 1] == "that" and k >= 2
                                      and code_l[k - 2] == "N"))
                             and _verb_capable_surface(low[k])))):
                j = k - 1
                while j >= 0 and (code_l[j] in "RJ"
                                  or tags[j] in ("JJ", "RB")):
                    j -= 1
                if (j >= 0 and (tags[j] in ("WP", "WDT")
                                or low[j] == "that"
                                or low[j]
                                == "whichever")):
                    code_l[k] = "V"
            # an adjective-capable participle directly between a
            # finite verb and a nominal is a PREMODIFIER the tagger
            # ran into the verb group ("learn advanced/VBD care
            # techniques"): recode J so the NP keeps its full span
            elif (c == "V" and tags[k] in ("VBD", "VBN")
                    and k > 0 and k + 1 < len(code_l)
                    and tags[k - 1] in ("VB", "VBP", "VBZ")
                    and code_l[k + 1] in "NJ"
                    and _adj_capable_surface(low[k])):
                code_l[k] = "J"
            # an OOV -ly surface the tagger called NN is a manner
            # adverb ("my companion speedily/NN overtook"): only
            # out-of-vocabulary words recode — in-vocabulary -ly nouns
            # ("family", "assembly") carry their training tags
            elif (c == "N" and texts[k].islower()
                    and len(texts[k]) >= 5
                    and low[k].endswith("ly")
                    and _oov_surface(low[k])):
                code_l[k] = "R"
            # an -ed surface the tagger called JJ right after a verb
            # group's adverb run is the group's participle ("has very
            # carelessly scraped/JJ round the edges"); OOV -ed
            # surfaces qualify too — the JJ came from the suffix
            # prior, not from evidence
            elif (c == "J" and texts[k].islower()
                    and low[k].endswith("ed")
                    and (_verb_only_surface(low[k])
                         or _oov_surface(low[k]))):
                j = k - 1
                while j >= 0 and code_l[j] == "R":
                    j -= 1
                if j >= 0 and j < k - 1 and code_l[j] == "V":
                    code_l[k] = "V"
        code = "".join(code_l)
        # every emission path needs either a verb group (the VP loop —
        # _VP_RE requires a V even after all recode passes above) or an
        # appositive (whose chain must CLOSE on a comma): a sentence
        # with neither can skip the entire per-sentence pass cascade.
        # ~20% of web-corpus sentences (titles, fragments) hit this.
        if "V" not in code and "," not in low_set:
            continue
        nps = [
            (m.start(), m.end())
            for m in _NP_RE.finditer(code)
            # a bare determiner is an NP only for demonstratives
            # ("interested in this"), never for articles stranded by a
            # mistagged neighbor
            if not (m.end() - m.start() == 1
                    and code[m.start()] == "D"
                    and low[m.start()]
                    not in ("this", "that", "these", "those"))
        ]
        if len(nps) < 2:
            continue
        np_ends = [e for _, e in nps]

        def phrase(span):
            toks = tok[span[0]:span[1]]
            # drop leading determiner from the phrase surface — but a
            # standalone demonstrative ("interested in this") IS the
            # phrase, so never strip to empty
            while len(toks) > 1 and toks[0]["tag"] in ("DT", "PDT"):
                toks = toks[1:]
            return toks

        def conf(toks):
            cs = [t["confidence"] for t in toks if t["label"] != "O"]
            return min(cs) if cs else 1.0

        def ent_label(toks):
            labs = [t["label"] for t in toks if t["label"] != "O"]
            if not labs:
                return ""
            return labs[0].split("-", 1)[-1]

        # --- appositive pattern: "NP1 , NP2 (P NP)* ," ----------------
        # "Robert Chen, the founder of Globex Inc., visited ..." emits
        # (Robert Chen, is, founder) and re-binds the following verb's
        # subject to NP1 (without this, the nearest-NP rule would pick
        # "Globex Inc." as the subject of "visited"). subj_override maps
        # the LAST NP of the appositive chain -> NP1.
        commas = {
            k for k in range(len(idxs))
            if texts[k] == ","
        }
        # comma-count prefix sums: every parity/crossing test below is
        # O(1) instead of an O(range) scan (the chunker's guard set made
        # these the per-sentence hot path)
        ncom = [0] * (len(tok) + 1)
        for _k, _t in enumerate(tok):
            ncom[_k + 1] = ncom[_k] + (1 if _t["text"] == "," else 0)

        def n_commas(a: int, b: int) -> int:
            return ncom[b] - ncom[a] if b > a else 0

        # nonrestrictive relative-clause commas are TRANSPARENT for the
        # subject walk: in "Dr. Watson, who is good enough to help me",
        # the ", who" comma (and its closing partner) must not flip the
        # parity that would otherwise wall the antecedent off from the
        # clause's verbs. A comma opens an RC when (an optional and/or
        # plus) a wh-token follows it; its close is the next comma.
        comma_positions = [k for k in range(len(tok))
                           if texts[k] == ","]
        rc_commas: set[int] = set()
        rc_spans: list[tuple[int, int]] = []
        for c in comma_positions:
            j = c + 1
            if j < len(tok) and low[j] in ("and", "or"):
                j += 1
            # relative pronouns only — a wh-ADVERB after the comma
            # ("..., how is she to prove ...") opens an interrogative,
            # not a relative on the preceding NP
            if j < len(tok) and (tags[j] or "") in (
                    "WDT", "WP", "WP$"):
                rc_commas.add(c)
                nxt = next((c2 for c2 in comma_positions if c2 > c),
                           None)
                if nxt is not None:
                    rc_commas.add(nxt)
                    rc_spans.append((c, nxt))

        def n_commas_subj(a: int, b: int) -> int:
            n = n_commas(a, b)
            return n - sum(1 for c in rc_commas if a <= c < b)

        # comma-bounded SUBORDINATE parentheticals (", as I followed
        # after him,"): a comma followed by a temporal/concessive
        # subordinator, closed by the next comma, with a verb inside —
        # the chain-resumption guard below skips them when the matrix
        # coordination continues past the close
        sub_parens: list[tuple[int, int]] = []
        for c in comma_positions:
            j = c + 1
            if (j < len(tok)
                    and low[j] in ("as", "when", "while", "since",
                                   "after", "before", "though",
                                   "although", "because")):
                nxt = next((c2 for c2 in comma_positions if c2 > c),
                           None)
                if nxt is not None and any(
                        code_l[k] == "V" for k in range(j, nxt)):
                    sub_parens.append((c, nxt))

        # quoted questions framed by a narration verb ('"You had my
        # note?" he asked') assert nothing — suppress verbs inside such
        # a quote span. Quote tokens pair up in order; an odd count
        # means the sentence opened mid-quote (virtual open at 0).
        qpos = [k for k in range(len(tok))
                if texts[k] in _QUOTE_TOKENS]
        if len(qpos) % 2:
            qpos = [-1] + qpos
        question_quotes: list[tuple[int, int]] = []
        for q1, q2 in zip(qpos[0::2], qpos[1::2]):
            if q2 - 1 < 0 or texts[q2 - 1] not in ("?", "?!"):
                continue
            if any(low[k] in _NARRATION_VERBS
                   for k in range(q2 + 1, min(q2 + 4, len(tok)))):
                question_quotes.append((q1, q2))
        # quotative-inversion attribution tails: a narration verb
        # directly after a closing quote ('..., " cried the little
        # fellow with outstretched hands') opens an attribution region
        # whose mistagged NPs/VPs assert nothing — suppress predicates
        # from there to the next quote (the quote CONTENT keeps its
        # triples; only the frame is noise)
        # hoisted per-sentence facts for the second-person-question
        # guard: a '?' token anywhere, or a comma-bounded bare-NNP
        # vocative (",", NNP, ",") — both O(sentence) once, not per VP
        second_person_question = (
            "?" in low_set or "?!" in low_set
            or any(c2 == c1 + 2 and tags[c1 + 1] == "NNP"
                   for c1, c2 in zip(comma_positions,
                                     comma_positions[1:])))
        attribution_kills: list[tuple[int, int]] = []
        for _q1, q2 in zip(qpos[0::2], qpos[1::2]):
            if (q2 + 1 < len(tok)
                    and low[q2 + 1] in _NARRATION_VERBS):
                # the frame ends where real content resumes: the next
                # quote, comma, or subordinator ('said Holmes as the
                # old man signed ...' keeps the as-clause's triples)
                end = next(
                    (k for k in range(q2 + 2, len(tok))
                     if k in qpos or texts[k] == ","
                     or low[k] in _BE_CROSS_BLOCKERS),
                    len(tok))
                attribution_kills.append((q2, end))
        subj_override: dict[tuple[int, int], tuple[int, int]] = {}
        # appositive chain-closing comma positions: the verb right after
        # one is the MAIN verb of the sentence ("Maria Garcia, the
        # manager of Acme Corp., founded ..."), so the comma-precedes
        # participial suppression must not fire there even when the
        # tagger calls the verb VBN
        appos_close_commas: set[int] = set()
        for ni in range(len(nps) - 1):
            s1, e1 = nps[ni]
            s2, e2 = nps[ni + 1]
            if e1 not in commas or s2 != e1 + 1:
                continue
            # precision guards against clause boundaries that mimic the
            # pattern ("...per hour, workers in..."): a true appositive
            # describes a NAMED entity (NP1 carries a proper noun) with
            # a determinered NP ("the founder", "a subsidiary")
            if code[s2] != "D":
                continue
            if not any(tags[k].startswith("NNP")
                       for k in range(s1, e1)):
                continue
            # extend the chain over PP attachments: NP2 (P NP)*
            chain_end, nj = e2, ni + 1
            while (chain_end < len(code) and code[chain_end] == "P"
                   and nj + 1 < len(nps) and nps[nj + 1][0] == chain_end + 1):
                nj += 1
                chain_end = nps[nj][1]
            # the tokenizer peels some abbreviation periods ("Acme Corp,"
            # -> Corp + "." + ","): step over bare periods before the
            # trailing-comma test
            while (chain_end < len(code)
                   and texts[chain_end] == "."):
                chain_end += 1
            if chain_end not in commas:
                continue
            s_toks = phrase((s1, e1))
            o_toks = phrase((s2, e2))
            if not s_toks or not o_toks:
                continue
            subj_override[nps[nj]] = (s1, e1)
            appos_close_commas.add(chain_end)
            out.append(
                {
                    "sent_idx": si,
                    "subj": " ".join(t["text"] for t in s_toks),
                    "pred": "is",
                    "obj": " ".join(t["text"] for t in o_toks),
                    "pred_norm": "be",
                    "subj_label": ent_label(s_toks),
                    "obj_label": ent_label(o_toks),
                    "confidence": min(conf(s_toks), conf(o_toks)),
                }
            )

        # last emitted VP triple's PRE-passive-swap (subj, obj, ve) for
        # coordinated-predicate subject sharing and infinitive-subject
        # re-binding; RESET whenever a VP match is skipped so sharing
        # only ever crosses a truly adjacent emitted predicate (advisor
        # r4: a suppressed intermediate VP must not let a later verb
        # re-bind to a non-adjacent predicate's subject)
        prev_vp = None
        comma_sorted = sorted(commas)

        def _segment_len(pos: int) -> int:
            """Token length of the comma-delimited segment holding pos."""
            prev_c = max((c for c in comma_sorted if c < pos), default=-1)
            next_c = min((c for c in comma_sorted if c > pos),
                         default=len(code))
            return next_c - prev_c - 1

        def _nonfinite_suppressed(vs: int, ve: int) -> bool:
            """A verb group with no finite form (every verb VBN/VBG, no
            modal) acting adjectivally/nominally is not a predicate:
            preceded by a determiner/adjective ("a renowned engineer",
            "a growing number"), preceded by a preposition ("in
            following out", "from sweeping"), preceded by a comma or
            coordinator (participial clause / coordinated gerund), or
            directly premodifying a noun ("politically charged change",
            "observing machine" — but NOT a gerund taking its own
            object after a noun head: "benefits starting January").
            Agent-marked passives ("..., deeply attracted by the study")
            keep their matrix subject and are never suppressed."""
            vtags = [tags[k] for k in range(vs, ve)]
            verb_tags = [t for t in vtags if t.startswith("VB")]
            # VBD/VBN-ambiguous -ed form directly after an OF-governed
            # noun is a reduced relative ("... suggestive of resolution
            # pushed to the length of obstinacy"), not a predicate —
            # an of-PP nominal never subjects a finite verb
            if (verb_tags == ["VBD"] and tags[vs] == "VBD"
                    and low[vs].endswith("ed")
                    and vs > 0 and code[vs - 1] == "N"):
                np_b = next((sp for sp in nps if sp[1] == vs), None)
                if (np_b is not None and np_b[0] > 0
                        and low[np_b[0] - 1] == "of"):
                    return True
            # a "without/of/by + VBG" gerund group is nonfinite even
            # when an inner -ed form was tagged VBD ("died without
            # having recovered/VBD her consciousness")
            if (vs > 0 and tags[vs] == "VBG"
                    and low[vs - 1]
                    in ("without", "of", "by")
                    and "MD" not in vtags):
                return True
            if ("MD" in vtags
                    or any(t in ("VB", "VBD", "VBP", "VBZ") for t in vtags)
                    or not verb_tags
                    or not all(t in ("VBN", "VBG") for t in verb_tags)):
                return False
            # the verb after an appositive's closing comma is the main
            # verb regardless of its (often VBN-mistagged) form
            if vs > 0 and vs - 1 in appos_close_commas:
                return False
            # a VBN directly after a noun-adjacent relative "that" is
            # the relative clause's FINITE verb ("the company that got
            # to that point" — VBD/VBN identical forms again)
            if (vs > 1 and low[vs - 1] == "that"
                    and code[vs - 2] == "N"):
                return False
            # "and VBNed to-INF" is a FINITE conjunct, not a
            # participial ("parted from my old pals and determined to
            # settle down" — the regular -ed form is VBD/VBN identical
            # and the infinitive marks predication)
            if (vs > 0 and low[vs - 1] in ("and", "or")
                    and low[vs].endswith("ed")
                    and ((code[ve - 1] == "P"
                          and low[ve - 1] == "to")
                         or (ve < len(code)
                             and tags[ve] == "TO"))):
                return False
            if (code[ve - 1] == "P"
                    and low[ve - 1] == "by"):
                return False
            prev_code = code[vs - 1] if vs > 0 else ""
            prev_text = (low[vs - 1]
                         if vs > 0 else "")
            premodifies_noun = (ve < len(code) and code[ve] == "N"
                                and prev_code not in "NS")
            # absolutive/reduced-relative VBN directly after its noun
            # ("his hands clasped behind him", "a word spoken") — but a
            # gerund with its own object stays ("benefits starting
            # January"), so VBG-bearing groups are exempt
            absolutive = (prev_code in "NS"
                          and all(t == "VBN" for t in verb_tags))
            # a VBN-mistagged MAIN verb is not an absolutive: subject
            # NP opens the sentence (only quotes/NP-lead material
            # before it) and no finite verb exists elsewhere outside a
            # relative clause ("Our visitor glanced with ... at the
            # figure of the man who had been depicted ..." — glanced/
            # VBN is the only matrix verb candidate)
            if absolutive:
                np_b = next((sp for sp in nps if sp[1] == vs), None)
                if np_b is not None and all(
                    texts[k] in _QUOTE_TOKENS
                    or tags[k] in ("PRP$", "DT", "PDT")
                    or tags[k].startswith("JJ")
                    for k in range(0, np_b[0])
                ):
                    # matrix region = everything before the first
                    # wh-token; finite verbs after it belong to
                    # relative clauses and do not disqualify
                    first_w = next(
                        (k for k in range(len(tok))
                         if (tags[k] or "").startswith("W")),
                        len(tok))
                    finite_elsewhere = any(
                        tags[k] in ("VB", "VBD", "VBP", "VBZ",
                                          "MD")
                        and not (vs <= k < ve)
                        for k in range(0, first_w)
                    )
                    if not finite_elsewhere:
                        absolutive = False
                # a VBN directly after a subject NP that OPENS a
                # coordinated main clause is that clause's main verb
                # ("I rose to go, but Holmes caught/VBN me by the
                # wrist"): the left conjunct carries a finite non-BE
                # verb. True absolutives hang off BE-clauses ("He was
                # pacing ... with his head sunk ... and his hands
                # clasped") and stay suppressed.
                if (absolutive and np_b is not None and np_b[0] > 0
                        and low[np_b[0] - 1]
                        in ("but", "and", "or", "yet")):
                    left_finite = next(
                        (low[k]
                         for k in range(np_b[0] - 2, -1, -1)
                         if tags[k] in ("VBD", "VBZ", "VBP",
                                              "MD")),
                        None)
                    if (left_finite is not None
                            and left_finite not in _BE_FORMS):
                        absolutive = False
            # a coordinated -ed verb the tagger calls VBN ("stood before
            # the fire and looked/VBN me over", "took it and laid/VBN it
            # on the table") is the second conjunct's MAIN verb when the
            # left conjunct has a non-BE finite verb — coordinated
            # passives ("was shocked and dismayed") keep their BE left
            # conjunct and stay suppressed
            if (prev_text in ("and", "or")
                    and all(t == "VBN" for t in verb_tags)):
                left_finite = next(
                    (low[k] for k in range(vs - 2, -1, -1)
                     if tags[k] in ("VBD", "VBZ", "VBP", "MD")),
                    None)
                if (left_finite is not None
                        and left_finite not in _BE_FORMS
                        and left_finite not in ("have", "has", "had")):
                    return False
            return (premodifies_noun or absolutive or prev_code in "DJP"
                    or prev_text in (",", "and", "or"))

        # ordered ACTIVE (non-suppressed) verb-bearing VP spans: span
        # i's object must lie before the next active span that sits in
        # the same clause — an NP after the next verb belongs to that
        # verb ("laws are controversial, they made it ..." must not
        # reach across "made" for are's object). A short parenthetical's
        # verb ("He was, I take it, the most perfect ...") does NOT
        # bound: odd comma distance + segment of <= 4 tokens.
        vp_spans = []
        split_starts: dict = {}
        for m in _VP_RE.finditer(code):
            ms, me = m.start(), m.end()
            if "V" not in code[ms:me]:
                continue
            # a FINITE copula directly after a participle inside one
            # span is a clause boundary the regex glued over (reduced
            # object relative: "a parcel which she had been expecting
            # was waiting for her" must split into two groups)
            for k in range(ms + 1, me):
                if (low[k] in ("was", "were", "is", "are")
                        and tags[k - 1] in ("VBG", "VBN")
                        and tags[k - 2] != "VBD"
                        if k >= 2 else False):
                    for part in ((ms, k), (k, me)):
                        if ("V" in code[part[0]:part[1]]
                                and not _nonfinite_suppressed(*part)):
                            vp_spans.append(part)
                            if part[0] == k:
                                split_starts[k] = ms
                    break
            else:
                if not _nonfinite_suppressed(ms, me):
                    vp_spans.append((ms, me))
        vp_starts = {s0 for s0, _e0 in vp_spans}
        # set when a wh-gap guard killed a verb: coordinated verbs in
        # the SAME comma segment continue that wh-clause ("to quench
        # what might grow to be an immense scandal and seriously
        # compromise ...") and are equally out of assertion scope
        wh_kill: int | None = None
        neg_kill: int | None = None
        # (pre-parenthetical prev_vp, paren close) saved when the loop
        # enters a coordinated subordinate parenthetical, so the
        # conjunct after the close resumes the MATRIX chain ("sprang
        # out, and, as I followed after him, pulled me" must subject
        # the matrix subject for "pulled", not "I")
        paren_saved: tuple | None = None
        # a sentence-initial (or dash-introduced) SUBJECTLESS base-form
        # verb opens an INSTRUCTION scope: imperatives assert nothing
        # ("Make sure it's at least a G10 series", "- Just rent the
        # seasons on DVD and watch them"). Scope closes at ';' or a
        # ', CC' clause boundary (a "that" after the CC continues a
        # complement chain and keeps the scope open).
        imperative_scope: tuple[int, int] | None = None
        neg_litotes = False
        # (subject, group-end, object) of the last EMITTED pairing,
        # surviving prev_vp resets by intervening suppressed groups
        # (controlled infinitives): ", and so would need to ..."
        # resumes the last asserted subject
        last_pair: tuple[tuple[int, int], int,
                         tuple[int, int]] | None = None
        attitude_scope: tuple[int, int] | None = None
        for vpi, (vs, ve) in enumerate(vp_spans):
            next_vs = len(code)
            coord_ends: list[int] = []
            for s2, e2 in vp_spans[vpi + 1:]:
                odd = n_commas(ve, s2) % 2
                if odd and _segment_len(s2) <= 4:
                    continue  # parenthetical verb, not a clause boundary
                gap = [low[k]
                       for k in range(ve, s2)]
                if (gap and all(t in (",", "and", "or") for t in gap)
                        and any(t in ("and", "or") for t in gap)):
                    # coordinated verb sharing this verb's object
                    # ("she eclipses and predominates the whole ...") —
                    # the object lives past the coordinated verb, and
                    # must be parity-consistent from ITS end as well.
                    # NOT when the coordinated verb ends in its own
                    # preposition: the NP past it is that verb's PP
                    # object, never shared ("cried and sobbed like a
                    # child" must not yield <wind> cried <child>)
                    if code[e2 - 1] == "P":
                        next_vs = s2
                        break
                    coord_ends.append(e2)
                    continue
                next_vs = s2
                break
            # a clause-opening subordinator mis-attached as the VP-final
            # preposition is not part of the predicate ("was not that
            # he ..." -> strip "that")
            if (code[ve - 1] == "P"
                    and low[ve - 1]
                    in _SUBORD_CONJ):
                ve -= 1
            vtags = [tags[k] for k in range(vs, ve)]
            vtexts = [texts[k] for k in range(vs, ve)]
            vlow = low[vs:ve]
            # a clause-marking subordinator right after the verb group
            # means a CLAUSAL complement — there is no NP object in this
            # clause ("signify if they have been convicted"; "that" is
            # excluded: "requires that insurers cover ..." convention-
            # ally yields <mandate> requires <insurers>)
            if (ve < len(code)
                    and (low[ve] in _CLAUSAL_DROP
                         or tags[ve].startswith("W"))
                    # an extraposed relative after a presentational
                    # verb falls through: the objectless predicate is
                    # recorded so the relative's verb can re-bind to
                    # its subject
                    and not (tags[ve] in ("WDT", "WP")
                             and any(low[k]
                                     in _PRESENTATIONAL_VERBS
                                     for k in range(vs, ve)))):
                # wh-words too: "know how he was employing ...", "see
                # where he has secreted ..." take interrogative clauses
                prev_vp = None
                continue
            # existential subject: "there are seventeen steps", "There
            # will call upon you ..." — no NP-subject relation exists
            if vs > 0 and tags[vs - 1] == "EX":
                prev_vp = None
                continue
            # explicitly negated predicate ("It was not that ...",
            # "had not spoken", "could not confide") asserts nothing.
            # Exception: deontic "can't"/"can not" ("can't require a
            # password") — the prohibition IS the fact being stated.
            head_verb = next((tok[k] for k in range(vs, ve)
                              if tags[k].startswith("VB")),
                             None)
            # tagger-proof non-verbs: color and number words ("the deep
            # blue cloak" -> blue/VBZ, "seven hundred in notes" ->
            # hundred/VBD) never predicate anything
            if (head_verb is not None
                    and head_verb["text"].lower() in _NEVER_VERB_WORDS):
                prev_vp = None
                continue
            # a NOUN-governed to-infinitive is that noun's complement,
            # not an asserted relation ("a keen desire to see Holmes
            # again", "the honour to ask my hand", "must wait until
            # July to see the addition"): purpose/complement content
            # stays unasserted. Verb-governed infinitives keep their
            # control/aspect handling downstream.
            if (vs > 1 and tags[vs - 1] == "TO"
                    and code[vs - 2] == "N"):
                # exception 1: a bare-pronoun object FOLLOWED BY A
                # VERB marks the causative/light-verb reading the gold
                # keeps ("drop you a line to let you know" — you+know);
                # a pronoun closing the infinitive is an ordinary
                # purpose adjunct and stays unasserted ("We were to
                # meet at the pool ... to talk it over")
                _iv = vs
                while _iv < len(code) and code[_iv] in "VR":
                    _iv += 1
                _keeps = (_iv < len(code) and code[_iv] == "S"
                          and _iv + 1 < len(code)
                          and code[_iv + 1] == "V")
                # exception 2: the governing noun is a CONTROL verb's
                # object ("was urging his son to marry my daughter")
                # — the infinitive is the controlled complement
                if not _keeps:
                    _gn = next((sp for sp in nps
                                if sp[1] == vs - 1), None)
                    if _gn is not None:
                        _cv = next(
                            (low[k]
                             for k in range(_gn[0] - 1, -1, -1)
                             if code[k] == "V"
                             or texts[k] in (",", ";", ":")),
                            None)
                        if (_cv is not None
                                and _is_object_control(_cv)):
                            _keeps = True
                        # exception 3: "for NP to VB" — the NP is the
                        # infinitive's SUBJECT, not a governing noun
                        # ("for the trained reasoner to admit such
                        # intrusions")
                        if (_gn[0] > 0
                                and low[_gn[0] - 1]
                                == "for"):
                            _keeps = True
                if not _keeps:
                    prev_vp = None
                    continue
            # a DEGREE-modified copular adjective predicates a
            # property, not a relation — the trailing PP belongs to
            # the adjective ("had long been notorious in the county",
            # "is too deep for words"); unmodified copular adjectives
            # keep theirs ("were abhorrent to his mind")
            _dj = ve
            while _dj < len(code) and code[_dj] == "R":
                _dj += 1
            if (_dj < len(code) and code[_dj] == "J"
                    # comparative adverbs count only as RBR — "was
                    # more afraid of ..." is adjectival, while "was
                    # more a feeling" has more/JJR inside the NP and
                    # keeps its copular complement
                    and any(t in ("too", "long", "very", "far",
                                  "more", "less")
                            for t in vlow)
                    and any(t in _BE_FORMS for t in vlow)):
                prev_vp = None
                continue
            # a MODAL bare copula with a plain NP complement is
            # speculation, not an asserted identity ("this might be
            # the maid and her sweetheart"); modal passives keep
            # ("may safely be trusted", "could hardly have been less
            # than" — a VBN in the group marks them)
            _mb = ve
            while _mb < len(code) and code[_mb] == "R":
                _mb += 1
            if ("MD" in vtags
                    and any(t in ("be", "been") for t in vlow)
                    and "VBN" not in vtags
                    and any(t in ("might", "may", "could")
                            for t in vlow)
                    # adjectival complements are asserted dispositions
                    # and keep ("may be interested in this")
                    and not (_mb < len(code) and code[_mb] == "J")):
                prev_vp = None
                continue
            # a bare copula + "(just/so) like" is a COMPARISON, not
            # an asserted identity ("the words were just like the buzz
            # of a bee"); passives with their own participle keep
            # ("was treated like a king")
            if (low[ve - 1] == "like"
                    and any(t in _BE_FORMS for t in vlow)
                    and sum(1 for t in vtags
                            if t.startswith("VB")) == 1):
                prev_vp = None
                continue
            # a MODAL appearance verb + "like" is a hypothetical
            # comparison, not an asserted property ("would look like a
            # dick with bangs"); unmodalized appearance stays ("looks
            # like a winner" keeps its surface convention)
            if ("MD" in vtags
                    and any(t in ("look", "seem", "sound",
                                  "feel", "appear")
                            for t in vlow)
                    and ve - 1 >= vs
                    and low[ve - 1] == "like"):
                prev_vp = None
                continue
            # SENTENCE-INITIAL "if"-clause is a CONDITION, never an
            # assertion ("If you're referring to the FDIC the number
            # is $250k" asserts only the apodosis) — the first verb
            # group of an if-opened sentence is the protasis's
            if (vpi == 0 and low[0] == "if"
                    and n_commas(0, vs) == 0):
                prev_vp = None
                continue
            # SENTENCE-INITIAL "when"-clause content is a habitual/
            # temporal frame, not an assertion ("When I hear you give
            # your reasons, I remarked ..."); a mid-sentence when-
            # clause narrates a specific event and keeps its content
            # ("my sister was quite alone when she met her end")
            if (vs > 0 and tags[vs - 1] == "PRP" and vs > 1
                    and low[vs - 2]
                    in ("when", "whenever")
                    and all(texts[k] in _QUOTE_TOKENS
                            for k in range(0, vs - 2))
                    # habitual PRESENT tense only — "When he reached
                    # my sister's side" narrates an event and keeps
                    and any(t["tag"] in ("VBP", "VBZ")
                            for t in tok[vs:ve])):
                prev_vp = None
                continue
            # inside a narrated quoted question — asserted by nobody
            if any(q1 < vs < q2 for q1, q2 in question_quotes):
                prev_vp = None
                continue
            # inside a quotative-attribution tail — frame, not content
            if any(a < vs < b for a, b in attribution_kills):
                prev_vp = None
                continue
            # coordinated continuation of a wh-clause whose head verb
            # was suppressed (same comma segment, no wh of its own)
            if (wh_kill is not None and vs > wh_kill
                    and n_commas(wh_kill, vs) == 0
                    and not (vs > 0
                             and tags[vs - 1].startswith("W"))):
                prev_vp = None
                continue
            # inside a negated clause-taking verb's complement — the
            # embedded clause is unasserted (set where _neg_here kills
            # the matrix group below)
            if (attitude_scope is not None
                    and attitude_scope[0] <= vs < attitude_scope[1]):
                prev_vp = None
                continue
            # imperative frames (see imperative_scope above)
            if (imperative_scope is not None
                    and imperative_scope[0] <= vs < imperative_scope[1]):
                prev_vp = None
                continue
            _iv0 = vs
            while _iv0 < ve and code[_iv0] == "R":
                _iv0 += 1
            if (imperative_scope is None
                    and tags[_iv0] in ("VB", "VBP")
                    and (
                        (not any(c in "NSC" for c in code[:vs])
                         and (vs == 0
                              or all(code[k] == "R"
                                     or texts[k] in ("-", "--")
                                     or texts[k] in _QUOTE_TOKENS
                                     for k in range(0, vs))))
                        # verb-usage NNP + accusative pronoun opener
                        # ("Let me suggest ...", "Google it &amp;
                        # check out other pages" — the capitalized
                        # opener is the real imperative verb); any
                        # HTML-entity noise in the gap is transparent
                        or (vs >= 2 and tags[0] == "NNP"
                            and tags[1] == "PRP"
                            and all(code[k] not in "SC"
                                    and (code[k] != "N"
                                         or texts[k].startswith("&"))
                                    for k in range(2, vs))))
                    and low[_iv0] != "i"):
                _end = len(code)
                for k in range(ve, len(code)):
                    if texts[k] == ";" or (
                            texts[k] == ","
                            and k + 1 < len(code)
                            and tags[k + 1] == "CC"
                            and not (k + 2 < len(code)
                                     and low[k + 2] == "that")):
                        _end = k
                        break
                imperative_scope = (vs, _end)
                prev_vp = None
                continue
            # a dash-introduced bare-verb clause mid-sentence is an
            # appended instruction ("... - Just rent the seasons")
            if (imperative_scope is None
                    and tags[_iv0] in ("VB", "VBP")
                    and vs > 0
                    and any(texts[k] in ("-", "--")
                            and all(code[k2] == "R"
                                    for k2 in range(k + 1, vs))
                            for k in range(0, vs))):
                imperative_scope = (vs, len(code))
                prev_vp = None
                continue
            # expletive "it" + SEEM is a hedge frame, not an
            # assertion ("it seemed to me that it would be best ...")
            if (vs >= 1 and low[vs - 1] == "it"
                    and head_verb is not None
                    and head_verb["text"].lower().startswith(
                        ("seem", "appear"))):
                # the hedge's complement is equally unasserted ("it
                # seemed to me that it would be best to get away")
                if attitude_scope is None:
                    _se = next((k for k in range(ve, len(code))
                                if texts[k] == ";"), len(code))
                    attitude_scope = (ve, _se)
                prev_vp = None
                continue
            # sentence-opening "Not that ..." denies its clause
            # ("Not that I speak from experience")
            if (low[0] == "not" and len(low) > 1 and low[1] == "that"
                    and n_commas(0, vs) == 0):
                prev_vp = None
                continue
            # "maybe"/"perhaps" scopes its whole comma segment as
            # hypothetical ("maybe when the ticket prices are around
            # 10 bucks and it turns out the movie stinks, people ...")
            if "maybe" in low_set or "perhaps" in low_set:
                _seg0 = vs - 1
                while _seg0 >= 0 and texts[_seg0] != ",":
                    _seg0 -= 1
                if (any(low[k] in ("maybe", "perhaps")
                        for k in range(_seg0 + 1, vs))
                        # an it-cleft's relative presupposes its content
                        # and survives the hedge ("perhaps it was
                        # woman's instinct which gave me ...")
                        and not (vs > 0 and tags[vs - 1].startswith("W"))):
                    prev_vp = None
                    continue
            # a bare copula whose complement is a TO-infinitive has no
            # NP object, and the infinitive itself is unasserted
            # ("your best bet is to walk eastbound on Pike street")
            if (vs >= 2 and low[vs - 1] == "to"
                    and low[vs - 2] in _BE_FORMS
                    and tags[vs] == "VB"):
                _bs = vs - 3
                while _bs >= 0 and code[_bs] == "R":
                    _bs -= 1
                # a PRONOUN subject makes it a scheduled event, which
                # IS asserted ("We were to meet at the pool")
                if _bs < 0 or code[_bs] != "S":
                    prev_vp = None
                    continue
            # a GERUND inside a negated clause modifies the negated
            # predicate's object and inherits its scope ("they don't
            # have much business asking you for money" asserts no
            # asking)
            if (neg_kill is not None
                    and head_verb is not None
                    and head_verb["tag"] == "VBG"
                    and vs > neg_kill
                    and not any(texts[k] in (",", ";", ":")
                                for k in range(neg_kill, vs))):
                prev_vp = None
                continue
            _own_neg = ((any(t in _NEG_TOKENS for t in vlow)
                         and not any(t in ("ca", "can")
                                     for t in vlow))
                        # "no longer" negates like "not": "can no
                        # longer possess"
                        or any(vlow[k] == "no"
                               and k + 1 < len(vlow)
                               and vlow[k + 1] == "longer"
                               for k in range(len(vlow))))
            _neg_here = _own_neg
            # a negated head's serial conjuncts are negated too ("can
            # no longer possess, sell or distribute shark fins"): the
            # gap back to the killed group holds only coordination,
            # adverbs, and sibling verbs
            # vs == neg_kill covers a controlled infinitive split off
            # the negated group by its TO ("I was not to | know")
            if (not _neg_here and neg_kill is not None and vs >= neg_kill
                    and all(low[k] in (",", "and", "or")
                            or code[k] in "RV"
                            for k in range(neg_kill, vs))):
                _neg_here = True
            if _neg_here:
                neg_kill = ve
                # litotes: the negation scopes over a DEGREE word, not
                # the verb — "it is not too much to say that S"
                # ASSERTS S, so no complement scope opens; the flag
                # propagates to the group's split-off continuation
                # ("... to | say that")
                if _own_neg:
                    neg_litotes = "too" in vlow
                # a NEGATED clause-taking verb puts its whole
                # complement out of assertion scope ("I don't think
                # that the Taliban are ..." asserts nothing about the
                # Taliban — including comparative continuations "than
                # Zionists are ..."). Scope opens at an explicit
                # "that" after the killed group (any verb) or at the
                # group's end for an attitude verb with an elided
                # complementizer, and closes at the next clause
                # boundary (';' or ', CC'), where a new matrix clause
                # resumes asserting.
                if neg_litotes:
                    prev_vp = None
                    continue
                _att = ve < len(code) and low[ve] == "that"
                if not _att:
                    # the group's LAST verb is the content verb — under
                    # do-support negation head_verb is the auxiliary
                    # ("do n't want" must test "want", not "do")
                    _hw = next((low[k] for k in range(ve - 1, vs - 1, -1)
                                if tags[k].startswith("VB")), None)
                    _att = (_hw is not None
                            and _is_attitude(_hw)
                            and ve < len(code) and code[ve] in "SDNJC")
                if _att:
                    _scope_end = len(code)
                    for k in range(ve, len(code)):
                        if texts[k] == ";" or (
                                texts[k] == ","
                                and k + 1 < len(code)
                                and tags[k + 1] == "CC"):
                            _scope_end = k
                            break
                    attitude_scope = (ve, _scope_end)
                prev_vp = None
                continue
            # nps is non-overlapping in ascending order, so the spans
            # ending at-or-before vs are a PREFIX — bisect instead of a
            # full scan (this line was 10% of the kernel micro-bench)
            cands = nps[:bisect_right(np_ends, vs)]
            nearest = cands[-1] if cands else None
            # appositive re-binding: the NP just before the verb may be
            # the tail of an appositive chain describing the true subject
            rebound = nearest in subj_override
            shared = False
            # coordinated-subordinate-parenthetical chain resumption:
            # entering ", and, as I followed after him," saves the
            # matrix chain state; the first verb group after the close
            # (nothing but commas/adverbs between) resumes the MATRIX
            # subject instead of stealing the parenthetical's
            paren_resume = None
            if paren_saved is not None and vs > paren_saved[1]:
                _saved_vp, _pclose = paren_saved
                paren_saved = None
                if (_saved_vp is not None
                        and all(texts[k] == "," or code[k] == "R"
                                for k in range(_pclose + 1, vs))):
                    paren_resume = _saved_vp
            if paren_saved is None and paren_resume is None:
                for _po, _pc in sub_parens:
                    if (_po < vs < _pc and _po >= 1
                            and low[_po - 1] in ("and", "or", "but")):
                        paren_saved = (prev_vp, _pc)
                        break
            # a comma-bounded as-clause whose verb is a HEDGE asserts
            # nothing ("and, as it seemed to her, beckoning ...");
            # event as-clauses keep their content ("as I followed
            # after him")
            if any(_po < vs < _pc and low[_po + 1] == "as"
                   and _content_vw_hedge(low, tags, vs, ve)
                   for _po, _pc in sub_parens):
                prev_vp = None
                continue
            if paren_resume is not None:
                subj_span = paren_resume[0]
                shared = True
            elif rebound:
                subj_span = subj_override[nearest]
            elif (prev_vp is not None and prev_vp[1] is None
                    and vs == prev_vp[2]
                    # a split-off matrix group is NOT its reduced
                    # relative's continuation ("the snus i have been
                    # using | is called ..." must re-walk to the
                    # antecedent, not inherit "i")
                    and vs not in split_starts
                    # expletive extraposition stays dead: "how
                    # all-important it was to | set it right" — a bare
                    # "it" subject of a BE-headed chain is a dummy
                    and not (prev_vp[0][1] - prev_vp[0][0] == 1
                             and low[prev_vp[0][0]]
                             in ("it", "there")
                             and prev_vp[3] is not None
                             and prev_vp[3].lower() in _BE_FORMS)):
                # a verb group ABUTTING an objectless previous group is
                # that chain's continuation and inherits its subject —
                # "and determined to | settle down to a quiet life"
                # must not re-walk to the earlier clause's object NP
                subj_span = prev_vp[0]
                shared = True
            elif (nearest is not None and prev_vp is not None
                    and nearest[0] >= prev_vp[2]
                    and all(low[k]
                            in (",", "and", "or")
                            # coordinated relative clauses re-open on
                            # the same antecedent ("Boots which
                            # extended ..., and which were trimmed ...")
                            # — wh-tokens ride along in the gap
                            or tags[k].startswith("W")
                            # trailing manner adverbs ride too
                            # ("closed the window rapidly and told")
                            or code[k] == "R"
                            for k in range(nearest[1], vs))
                    and (any(low[k]
                             in ("and", "or")
                             for k in range(nearest[1], vs))
                         # serial predicate lists also coordinate on a
                         # bare comma: "waved me to an armchair, threw
                         # across his case of cigars, and indicated ..."
                         # — except the exception-preposition idiom
                         # ", save with ..." the tagger marks VB, and
                         # except when the candidate sits in a DIFFERENT
                         # comma segment than the previous predicate
                         # ("this gentleman, your friend, is ..." must
                         # not share "I" from "I understand")
                         or ([texts[k]
                              for k in range(nearest[1], vs)] == [","]
                             and low[vs]
                             != "save"
                             and n_commas(prev_vp[2], nearest[0]) % 2
                             == 0
                             # a relative clause's subject never
                             # rides a bare comma into the matrix
                             # ("interests which rise up around the
                             # man who ... establishment, were ...")
                             and (prev_vp[0][0] == 0
                                  or tags[prev_vp[0][0] - 1]
                                  not in ("WP", "WDT"))))):
                # coordinated predicates share the subject: the nearest
                # NP before this verb is the PREVIOUS verb's object
                subj_span = prev_vp[0]
                shared = True
            elif (nearest is not None and prev_vp is not None
                    and prev_vp[1] is not None
                    and nearest == prev_vp[1]
                    and nearest[1] == vs
                    and any(tags[k] in ("WDT", "WP")
                            for k in range(prev_vp[0][1], prev_vp[2]))):
                # reduced/wh relative closed, matrix verb resumes: in
                # "the cloak which was thrown over his shoulders was
                # lined ...", the NP abutting this verb is the RELATIVE
                # CLAUSE's object — the matrix subject is the clause's
                # antecedent (the previous predicate's subject)
                subj_span = prev_vp[0]
                shared = True
            elif (nearest is not None and prev_vp is not None
                    and nearest == prev_vp[0]
                    and all(low[k]
                            in (",", "and", "or")
                            # a predicative complement directly after
                            # an objectless copula is part of the
                            # previous predicate, not a gap breaker
                            # ("door was unlocked, and revolved ...")
                            or (code[k] in "JR" and prev_vp[1] is None
                                and all(code[k2] in "JR" for k2 in
                                        range(prev_vp[2], k)))
                            for k in range(prev_vp[2], vs))
                    and (any(low[k] in ("and", "or")
                             for k in range(prev_vp[2], vs))
                         # serial predicate list, MIDDLE conjunct on a
                         # bare comma ("she rose hurriedly, muttered
                         # some words of apology, and left the room"):
                         # a later and/or+V closes the list, and the
                         # previous clause is not a subordinator-
                         # introduced parenthetical ("Your Majesty, as
                         # I understand, became" stays blocked)
                         or (sum(1 for k in range(prev_vp[2], vs)
                                 if texts[k] == ",") == 1
                             and not (prev_vp[0][0] > 0
                                      and (low[prev_vp[0][0] - 1]
                                           in _SUBORD_CONJ
                                           | {"as", "when", "while",
                                              "since", "after",
                                              "before"}
                                           or tok[prev_vp[0][0] - 1]
                                           ["tag"] in ("WP", "WDT")))
                             and any(low[k]
                                     in ("and", "or")
                                     and k + 1 < len(code)
                                     and (code[k + 1] == "V"
                                          or (code[k + 1] == "R"
                                              and k + 2 < len(code)
                                              and code[k + 2] == "V"))
                                     for k in range(vs + 1, len(code)))))):
                # VP coordination with nothing between the predicates
                # but coordination tokens — INCLUDING an explicit
                # and/or — since the PREVIOUS verb group ended ("I did
                # so, and saw ..."): the shared subject is the
                # candidate itself, comma parity notwithstanding. A
                # bare comma is enough only for a serial list's middle
                # conjunct (above); "Your Majesty, as I understand,
                # became ..." must not share "I" across the
                # parenthetical's closing comma.
                subj_span = nearest
                shared = True
            else:
                # nearest preceding NP at EVEN comma distance: a
                # relative/appositive clause between subject and verb
                # sits at odd distance ("Holmes, who loathed ... soul,
                # remained in" must reach back to Holmes, not soul). An
                # odd-distance candidate still wins when a relative
                # pronoun re-opens it ("shark fins, which is considered
                # a delicacy"). A quotation boundary is never crossed:
                # a subject inside a quoted span cannot govern a verb
                # outside it.
                subj_span = None
                for sp in reversed(cands):
                    if any(texts[k] in _QUOTE_TOKENS
                           for k in range(sp[1], vs)):
                        break
                    # an ANTECEDENT-LESS wh-token (free relative)
                    # between candidate and verb means the verb lives
                    # inside the wh-clause — the candidate belongs to
                    # the matrix ("precaution has to be taken to quench
                    # what might grow to be ..."). A wh with an
                    # abutting antecedent NP ("Dr. Watson, who is good
                    # enough to help me") is an ordinary relative and
                    # does not wall the walk.
                    def _free_wh(k: int) -> bool:
                        j = k - 1
                        steps = 0
                        while (j >= 0 and steps < 3
                               and (texts[j] in (",", "and", "or")
                                    or tags[j].startswith("RB"))):
                            j -= 1
                            steps += 1
                        return not any(e0 == j + 1 for _s0, e0 in nps)
                    if any(
                        tags[k].startswith("W")
                        and _free_wh(k)
                        and not all(
                            tags[k2].startswith(("W", "RB"))
                            or texts[k2] == ","
                            for k2 in range(k, vs)
                        )
                        for k in range(sp[1], vs)
                    ):
                        continue
                    # a candidate INSIDE a closed relative clause
                    # cannot govern a verb outside it ("My sister,
                    # whom I met in June, has called" must not subject
                    # "June" — the RC commas are parity-TRANSPARENT,
                    # which makes the RC-internal NP read as even)
                    if any(c_open < sp[0] and sp[1] <= c_close < vs
                           for c_open, c_close in rc_spans):
                        continue
                    # for a matrix group SPLIT off a glued reduced
                    # relative ("a parcel which she had been expecting
                    # was waiting"), the RC's own subject cannot govern
                    # the matrix verb — walk past it to the antecedent
                    if (vs in split_starts
                            and ((sp[0] >= 1
                                  and tags[sp[0] - 1] in ("WDT", "WP"))
                                 or sp[1] == split_starts[vs])):
                        continue
                    # a PP-object candidate — or the previous verb's
                    # own object — cannot subject a COORDINATED verb;
                    # the conjunct shares the earlier clause's subject
                    # instead ("tried getting KDE for Windows to run
                    # and had a lot of trouble" must subject neither
                    # Windows nor KDE: the walk continues to "I")
                    if (vs > 0 and tags[vs - 1] == "CC"
                            and ((sp[0] > 0 and code[sp[0] - 1] == "P"
                                  # a subordinator/complementizer also
                                  # codes P but its NP is a real
                                  # subject ("that I had ... and came")
                                  and low[sp[0] - 1]
                                  not in _SUBORD_CONJ)
                                 or (prev_vp is not None
                                     and sp == prev_vp[1])
                                 or (last_pair is not None
                                     and sp == last_pair[2]))):
                        continue
                    if n_commas_subj(sp[1], vs) % 2 == 0:
                        subj_span = sp
                        break
                    last_comma = next(k for k in range(vs - 1, sp[1] - 1, -1)
                                      if k in commas)
                    if (vs > last_comma + 1 and all(
                        tags[k] in ("WDT", "WP", "WP$")
                        for k in range(last_comma + 1, vs)
                    )):
                        subj_span = sp
                        break
            if subj_span is None:
                # resumptive coordination: ", and so/thus/then would
                # need ..." resumes the LAST asserted subject even when
                # an intervening suppressed group (a controlled
                # infinitive) cleared prev_vp and the comma parity
                # walls every candidate off ("the Steam backup feature
                # requires Steam to restore, and so would need to
                # connect ...")
                _resume = False
                if (last_pair is not None and vs > last_pair[1]
                        and any(low[k] in ("and", "or")
                                for k in range(last_pair[1], vs))):
                    # gap may hold coordination words, verb/adverb/
                    # modal/prep codes, and PP-INTERNAL nominals (an
                    # NP directly governed by a preposition: "tried
                    # getting KDE for Windows to run and had ..."); a
                    # BARE nominal is a new clause's subject and blocks
                    _resume = True
                    _in_pp = False
                    for k in range(last_pair[1], vs):
                        c = code[k]
                        w = low[k]
                        if w in (",", "and", "or", "so", "thus",
                                 "then", "therefore"):
                            _in_pp = False
                            continue
                        if c == "P":
                            _in_pp = True
                            continue
                        if c in "RVM":
                            _in_pp = False
                            continue
                        if c in "NJDCSG" and _in_pp:
                            continue
                        _resume = False
                        break
                if _resume:
                    subj_span = last_pair[0]
                    shared = True
                else:
                    prev_vp = None
                    continue
            # interrogative gap directly before the verb with no
            # antecedent NP ("discover what is wanted by ...") — the
            # walked-to subject belongs to the matrix clause, not here.
            # A true relative keeps its antecedent within a few
            # comma/adverb tokens back ("Holmes, who loathed ...").
            if (not rebound and not shared and vs > 0
                    and tags[vs - 1].startswith("W")):
                k = vs - 2
                steps = 0
                while (k >= 0 and steps < 3
                       and (texts[k] == ","
                            or tags[k].startswith("RB"))):
                    k -= 1
                    steps += 1
                if not any(e == k + 1 for _s, e in nps):
                    # extraposed subject relative: the wh directly
                    # follows a just-emitted objectless predicate ("A
                    # man entered who could hardly have been ...") —
                    # the antecedent is that predicate's subject
                    if (prev_vp is not None and prev_vp[1] is None
                            and prev_vp[2] == k + 1):
                        subj_span = prev_vp[0]
                        shared = True
                    else:
                        wh_kill = vs
                        prev_vp = None
                        continue
            # subject-auxiliary inversion ("had you lived a few
            # centuries ago") marks a counterfactual/question clause —
            # only a true auxiliary before the subject counts, not a
            # participial premodifier ("charged change comes at ...").
            # Exception: the cleft copula in "It was NP who VBD ..." is
            # not an inversion — the clefted NP is the embedded verb's
            # subject ("It was Catherine Cusack who told me of it")
            if (not rebound and not shared and subj_span[0] > 0
                    and low[subj_span[0] - 1]
                    in _AUX_FORMS):
                # a predicate-nominal RELATIVE is not an inversion
                # either: in "He is the man that won the prize" /
                # "Red Hat is the company that got to that point" the
                # walked-to NP is the relative's antecedent and this
                # verb sits right after the relativizer
                _rel = (vs > 0
                        and (tags[vs - 1] in ("WDT", "WP")
                             or low[vs - 1] == "that"))
                if not _rel and not (
                        low[subj_span[0] - 1]
                        in _BE_FORMS
                        and subj_span[0] >= 2
                        and low[subj_span[0] - 2]
                        == "it"):
                    prev_vp = None
                    continue
            # "like"-clause content is a simile/impression frame, not
            # an assertion ("it felt like my heart was going to
            # explode"); the scan walks over possessive determiners
            _lk = subj_span[0] - 1
            while _lk >= 0 and tags[_lk] in ("PRP$", "DT", "PDT"):
                _lk -= 1
            if (not rebound and not shared and _lk >= 0
                    and low[_lk] == "like"
                    and tags[_lk] == "IN"):
                prev_vp = None
                continue
            # coordinated conjunct of a "with"-absolutive: in "with
            # his head sunk upon his chest and his hands clasped
            # behind him", the second conjunct's NP+participle is
            # still inside the with-phrase — nothing is asserted.
            # Signature: subject directly preceded by "and", and the
            # leftward scan reaches "with"/"without" before any
            # comma/sentence boundary.
            _abs_l = subj_span[0] - 1
            while (_abs_l >= 0
                   and tags[_abs_l] in ("PRP$", "DT", "PDT")):
                _abs_l -= 1
            if (not rebound and not shared and _abs_l >= 0
                    and low[_abs_l] in ("and", "or")):
                j = _abs_l - 1
                while j >= 0 and texts[j] not in (",", ";", ":"):
                    if (low[j] in ("with", "without")
                            and tags[j] == "IN"):
                        break
                    j -= 1
                if (j >= 0
                        and low[j]
                        in ("with", "without")):
                    prev_vp = None
                    continue
            # "as"-relativizer clause ("such complete information as
            # was drawn from him"): comparative-relative content is not
            # asserted of the walked-to NP
            if (not rebound and not shared and subj_span[1] == vs - 1
                    and vs > 0
                    and low[vs - 1] == "as"):
                prev_vp = None
                continue
            # a bare ACCUSATIVE pronoun subject marks a small-clause /
            # for-to construction whose content the sentence does not
            # assert: perception gerunds ("found him talking with his
            # son") and "for me to <verb>" ("it is not for me to judge
            # you"). Bare-infinitive small clauses stay — "heard him
            # mention her" conventionally yields <him> mention <her>
            if (not rebound and not shared
                    and subj_span[1] - subj_span[0] == 1
                    and low[subj_span[0]]
                    in ("me", "him", "us", "them")):
                if (head_verb is not None
                        and head_verb["tag"] == "VBG"):
                    prev_vp = None
                    continue
                if (vs > 0 and low[vs - 1] == "to"
                        and subj_span[0] > 0
                        and low[subj_span[0] - 1]
                        == "for"):
                    prev_vp = None
                    continue
            # PASSIVE small clause under a perception/causative verb:
            # "have never seen it enforced on C470" — the -ed
            # participle predicates nothing of the pronoun (unlike the
            # bare-infinitive convention above); the pronoun set adds
            # it/her here because the governing verb is checked
            if (not rebound and not shared
                    and subj_span[1] - subj_span[0] == 1
                    and subj_span[1] == vs
                    and low[subj_span[0]]
                    in ("me", "him", "us", "them", "it", "her")
                    and head_verb is not None
                    and head_verb["tag"] in ("VBD", "VBN")
                    and head_verb["text"].lower().endswith("ed")
                    and subj_span[0] > 0
                    and any(low[subj_span[0] - 1]
                            .startswith(st)
                            for st in ("see", "saw", "seen", "hear",
                                       "heard", "watch", "found",
                                       "find", "kept", "keep", "got",
                                       "get", "want", "left", "leave",
                                       "made", "make", "notic",
                                       "observ"))):
                prev_vp = None
                continue
            # a direct second-person question ("You had heard, Ryder,
            # of this blue stone?") asserts nothing of "you"; third-
            # person polite directives ("Your Majesty will stay ...?")
            # keep their content. The question mark may be segmented
            # into the next sentence, so a comma-bounded bare-NNP
            # VOCATIVE ("..., Ryder, ...") equally marks the direct
            # address
            if (subj_span[1] - subj_span[0] == 1
                    and low[subj_span[0]] == "you"
                    and second_person_question):
                prev_vp = None
                continue
            # subject-relative antecedent PP-chain: when the subject is
            # a wh-relative's antecedent ("the impression of barbaric
            # opulence which was suggested by ..."), extend it leftward
            # over "NP of" links so the chain HEAD ("the impression")
            # stays in the surface
            # generalized (r6.3): the same of-chain extension applies
            # to PLAIN subjects — the nearest-NP walk otherwise picks
            # the PP tail as the head ("A vague feeling of impending
            # misfortune impressed me" must not subject "misfortune")
            subj_chain_ext = False
            if (not rebound and not shared and vs > 0
                    and (tags[vs - 1].startswith("W")
                         or subj_span[1] == vs
                         # a split-off matrix group's subject IS the
                         # antecedent (the RC between them was walked
                         # over) — the chain extension applies at any
                         # distance
                         or vs in split_starts)
                    and (subj_span[1] >= vs - 3
                         or vs in split_starts)):
                _start = subj_span[0]
                while _start > 0:
                    # step over gerund/adjective premodifiers the NP
                    # chunker excluded ("of impending misfortune")
                    j = _start - 1
                    while j > 0 and code[j] in "JV":
                        j -= 1
                    # "of" chains, plus NP-internal locative "in"/"on"
                    # ("the gentleman in the pew handed it up",
                    # "impressions on one side showed that ...") and
                    # r8: "for"/"from" attachment chains ("the requests
                    # for the traffic from Level3 are coming ..." must
                    # subject the chain head, not the PP tail)
                    if low[j] not in ("of", "in", "on", "for", "from"):
                        break
                    # coordinated of-PPs share the chain head: "A
                    # feeling of repulsion, and of something akin to
                    # fear had begun ..." walks over ", and of" back to
                    # the head NP
                    j2 = j - 1
                    while (j2 > 0 and low[j2]
                           in (",", "and", "or")):
                        j2 -= 1
                    _prev_np = next((sp for sp in nps
                                     if sp[1] == j or sp[1] == j2 + 1),
                                    None)
                    if _prev_np is None:
                        break
                    _start = _prev_np[0]
                if _start != subj_span[0]:
                    subj_span = (_start, subj_span[1])
                    # keep the chain head's determiner in the surface:
                    # "the impression of barbaric opulence", not
                    # "impression of ..." — the head is mid-phrase
                    subj_chain_ext = True
            # inside a wh-OBJECT relative (wh directly before the
            # subject NP) a P-final verb group's post-P NP is the
            # preposition's complement, not an object — the gap is the
            # antecedent and the gold convention emits nothing ("a
            # lamp ..., which she held above her head"); P-final
            # groups with NO post-P NP keep the antecedent fallback
            # ("the house which he lived in")
            if (subj_span is not None and subj_span[0] >= 1
                    and tags[subj_span[0] - 1] in ("WDT", "WP")
                    # LOCATIVE adverb-tagged prepositions only ("held
                    # above/RB her head"): the post-P NP is a locative
                    # adjunct and the gap already fills the object
                    # role. True argument prepositions keep their NP
                    # ("whom I may trust with a matter")
                    and code[ve - 1] == "R"
                    and low[ve - 1] in (
                        "above", "below", "behind", "beneath",
                        "under", "over", "around", "near",
                        "inside", "outside")
                    and any(sp[0] == ve for sp in nps)):
                prev_vp = None
                continue
            # an "its"-typo subject clause is unasserted (the tag
            # path is broken by the typo; the matrix verb keeps it as
            # a complement object — "Wikipedia says its owned by ..."
            # asserts only <Wikipedia> says <its>)
            if (subj_span[1] - subj_span[0] == 1
                    and subj_span[0] in its_typo):
                prev_vp = None
                continue
            # negated subject: "Not everyone subscribes ...", "no
            # national legislation was approved ..." — drop (the leading
            # "no" determiner is inspected before phrase() strips it)
            first_tok = tok[subj_span[0]]
            before_tok = (tok[subj_span[0] - 1]
                          if subj_span[0] > 0 else None)
            if (first_tok["text"].lower() == "no"
                    or (before_tok is not None
                        and before_tok["text"].lower()
                        in ("not", "n't"))):
                prev_vp = None
                continue
            # a "that"-complement under an EM-DASH appositive noun is
            # reformulation content, not an assertion ("It was more a
            # feeling of duty--a feeling that some good might come
            # ..."); noun-that content elsewhere keeps its gold
            # convention ("my double deduction that you had been out",
            # "no doubt that she loved you")
            if (not rebound and not shared and before_tok is not None
                    and before_tok["text"].lower() == "that"
                    and subj_span[0] >= 2
                    # the governing nominal may be a gerund form the
                    # tagger marks VBG ("a feeling/VBG that ...")
                    and (code[subj_span[0] - 2] == "N"
                         or tags[subj_span[0] - 2] == "VBG")):
                _gn_start = subj_span[0] - 2
                while _gn_start > 0 and code[_gn_start - 1] in "DJNCG":
                    _gn_start -= 1
                if (_gn_start > 0
                        and texts[_gn_start - 1] in ("--", "—")):
                    prev_vp = None
                    continue
            # a conditional/concessive subordinator or wh-adverb
            # directly before the subject puts the whole clause out of
            # assertion scope ("even if it's different than ...", "how
            # you work it out" assert nothing)
            if (before_tok is not None
                    and (before_tok["text"].lower() in _CLAUSAL_DROP
                         # manner/reason wh-clauses are non-factual
                         # ("how you work it out"); locative/temporal
                         # ones presuppose their content ("where the
                         # firelight strikes it") and stay
                         or before_tok["text"].lower() in ("how", "why"))
                    # a sentence-initial subordinate clause with NO
                    # matrix clause after it IS the assertion — a
                    # dialogue answer ('"Because she has said that she
                    # would send it ..."') asserts its content; the
                    # matrix pattern ("Because many laws are
                    # controversial, they ...") always carries a comma
                    and not (all(texts[k] in _QUOTE_TOKENS
                                 for k in range(0, subj_span[0] - 1))
                             and not any(c >= subj_span[0]
                                         for c in comma_positions))):
                prev_vp = None
                continue
            # an NP whose surface ENDS in an adjective-complement word
            # directly before "to" is a complement construction ("any
            # emotion akin to love ..."), not the actor of what follows.
            # Matched by TEXT, not tag: the tagger calls these nouns
            # ("akin" NN) and, conversely, mistags real nouns JJ
            # ("applicant"), so a tag-based test fires on the wrong side
            # of both errors.
            # the walled NP may sit a chain away from THIS verb ("of
            # something akin to fear had begun to | rise within me" —
            # the second VP re-binds the same non-actor), so the test
            # is on the subject's own right edge, not vs-adjacency
            if (not rebound and not shared
                    and subj_span[1] < len(code)
                    and low[subj_span[1]] == "to"
                    and low[subj_span[1] - 1]
                    in _ADJ_COMPLEMENT_WORDS):
                prev_vp = None
                continue
            # "in order to <verb>": the candidate NP is the idiom's
            # "order", not an actor — there is no subject here
            _sp0 = phrase(subj_span)
            if (_sp0 and _sp0[0]["text"].lower() == "order"
                    and subj_span[0] > 0
                    and low[subj_span[0] - 1]
                    == "in"):
                prev_vp = None
                continue
            # expletive extraposition "it BE (ADJ/too much) to <verb>":
            # the walked-to "it" is a dummy — nothing acts ("it is not
            # too much to say ...", "it was difficult to name ...")
            if (not rebound and not shared
                    and subj_span[1] - subj_span[0] == 1
                    and low[subj_span[0]] == "it"
                    and vs > 0
                    and low[vs - 1] == "to"
                    and any(low[k] in _BE_FORMS
                            for k in range(subj_span[1], vs))):
                prev_vp = None
                continue
            # "<NP> and <verb>" with no prior predicate: the verb is
            # the second conjunct of a coordination whose first verb
            # the tagger missed ("The man sprang from his chair and
            # paced ..." with sprang/NN) — the walked NP is the lost
            # verb's argument, not this verb's subject
            if (not rebound and not shared and prev_vp is None
                    and [low[k]
                         for k in range(subj_span[1], vs)] == ["and"]):
                continue
            # coordinated predicates share the subject: in "Students can
            # use bathrooms and join school athletic teams", the nearest
            # NP before "join" is the PREVIOUS verb's object — when the
            # gap holds only coordination tokens and the candidate lies
            # inside the previous predicate's object region, re-bind to
            # the previous triple's (pre-passive-swap) subject
            # infinitive purpose/complement whose surface-nearest NP is
            # the MATRIX verb's argument: "it aims through its ...
            # effort to protect against ..." — when exactly one bare
            # "to" separates the candidate NP from the verb and a
            # predicate was already emitted, the actor is that
            # predicate's subject — or its OBJECT for object-control
            # matrix verbs ("can't require applicants to provide
            # passwords" -> the applicants provide). (With no prior
            # predicate — "for the trained reasoner to admit ..." — the
            # nearest NP IS the actor and stands.)
            if (not rebound and not shared and prev_vp is not None
                    and subj_span[1] == vs - 1
                    and low[vs - 1] == "to"):
                # extraposed cleft "It is a capital mistake to theorize
                # ..." has no actor at all — drop rather than bind the
                # dummy "it"
                if (prev_vp[3].lower() in _BE_FORMS
                        and prev_vp[0][1] - prev_vp[0][0] == 1
                        and low[prev_vp[0][0]]
                        == "it"):
                    prev_vp = None
                    continue
                # a transfer verb with a filled object takes a PURPOSE
                # infinitive, not a controlled complement ("would give
                # one of the provinces ... to have that photograph")
                if (prev_vp[1] is not None
                        and _is_transfer(prev_vp[3].lower())):
                    prev_vp = None
                    continue
                # a DIRECTIVE's controlled complement is an
                # instruction, never an asserted event ("I ordered her
                # to say nothing" keeps only <I> ordered <her>)
                if (prev_vp[1] is not None
                        and _is_directive(prev_vp[3].lower())):
                    prev_vp = None
                    continue
                subj_span = (prev_vp[1]
                             if (_is_object_control(prev_vp[3])
                                 and prev_vp[1] is not None)
                             else prev_vp[0])
                shared = True
            # clause-boundary guards: an ODD number of commas between
            # the verb and its chosen argument means the argument
            # belongs to ANOTHER clause ("Although many new laws are
            # controversial, they ..." must not yield <many new laws>
            # are <they>), while an EVEN count is a balanced
            # parenthetical that legitimately intervenes. The object is
            # therefore the FIRST post-verb NP at even comma distance —
            # skipping a parenthetical's own NPs ("He was, I take it,
            # the most perfect ..." attaches "the most perfect ...",
            # not "I") — and the triple is dropped when every remaining
            # NP sits across an odd boundary.
            # --- post-verb object search -----------------------------
            # first NP at even comma distance before the next same-
            # clause verb, never crossing a semicolon/colon (hard
            # clause boundaries), never a copular complement reached
            # across a subordinator/wh-word ("is true that I had ..."
            # must not take "I"), and never an NP that is itself the
            # abutting subject of a later verb across a parenthetical
            # ("were brilliantly lit, and, even as I looked up" must
            # not take "I").
            is_be_head = (head_verb is not None
                          and head_verb["text"].lower() in _BE_FORMS)
            _content_vw = next((low[k] for k in range(ve - 1, vs - 1, -1)
                                if tags[k].startswith("VB")), "")
            clause_taking = _is_clause_taking(_content_vw)

            def _obj_ok(s: int, e: int) -> bool:
                if not (ve <= s < next_vs):
                    return False
                if n_commas(ve, s) % 2:
                    return False
                # past a skipped coordinated verb, parity must also
                # hold from THAT verb's end ("I did so, and saw a
                # large E" must not fetch a far NP for "did")
                for ce in coord_ends:
                    if ce <= s and n_commas(ce, s) % 2:
                        return False
                if any(tags[k] == ":" for k in range(ve, s)):
                    return False
                # an ACTIVE predicate in a LATER comma segment claims
                # every NP after it ("even as I looked up, I saw his
                # ... figure" must not fetch a far NP for "looked
                # up"); same-segment verbs are object-sharing
                # coordinations ("eclipses and predominates the whole
                # of her sex") and don't block
                # (attribution interruptions are transparent: '"Then I
                # must begin," said he, "by binding you both"' keeps
                # its object across the said-he parenthetical). A
                # same-segment verb DOES claim the NP when a
                # preposition binds them ("had stood and talked with a
                # man": "with" attaches the NP to "talked", so "stood"
                # stays objectless)
                for k in range(ve, s):
                    if (k not in vp_starts
                            or low[k]
                            in _NARRATION_VERBS):
                        continue
                    if n_commas(ve, k) > 0:
                        return False
                    if any(code[k2] == "P" for k2 in range(k, s)):
                        return False
                # a gerund in the gap owns the NP past it — "was more
                # afraid of her knowing my past" must not fetch "my
                # past" as was's complement
                if is_be_head and any(tags[k] == "VBG"
                                      for k in range(ve, s)):
                    return False
                # "BE + J + for NP to VB": the NP is the
                # infinitive's subject, never the copula's object
                # ("it would be best for me to get away" must not
                # fetch "me"); adjective+P complements keep theirs
                # ("were abhorrent to his cold, precise mind")
                if (is_be_head
                        and any(code[k] == "J" for k in range(ve, s))
                        and s > 0 and low[s - 1] == "for"
                        and e < len(code) and low[e] == "to"
                        and e + 1 < len(code)
                        and tags[e + 1] == "VB"):
                    return False
                # "now that" opens a new clause — never fetch across it
                # ("looked ... puzzled now that the same thing had
                # come upon himself")
                if any(low[k] == "now" and low[k + 1] == "that"
                       for k in range(ve, s - 1)):
                    return False
                # a complementizer "that" in the gap yields an object
                # only to CLAUSE-TAKING verbs ("requires that insurers
                # cover" keeps; "puzzled ... that the same thing had
                # come" must not fetch "the same thing"); copulas keep
                # their own is-that convention below
                if (not clause_taking and not is_be_head
                        and any(low[k] == "that" and tags[k] == "IN"
                                for k in range(ve, s))):
                    return False
                if is_be_head and any(
                    low[k] in _BE_CROSS_BLOCKERS
                    or tags[k] == "WRB"
                    for k in range(ve, s)
                ):
                    # copular "X is that S" with the complementizer
                    # DIRECTLY after the copula keeps the embedded
                    # subject as object, the same convention as
                    # verb-governed "think that you ..." ("My point is
                    # that we should ..." -> <My point> is that <we>);
                    # fetching ACROSS material to a later "that" stays
                    # blocked ("It is true that I had a country walk")
                    # the embedded subject must actually govern a VP
                    # ("is that we SHOULD ..."): a bare interrogative
                    # "Is that you?" has no clause after the pronoun
                    if not (s - ve == 1
                            and low[ve] == "that"
                            and s == ve + 1
                            and e < len(code) and code[e] in "MV"):
                        return False
                if (is_be_head and e in vp_starts
                        and n_commas(ve, s) > 0):
                    return False
                # a copula complement that OPENS on a verb-only
                # dictionary surface tagged JJ is a mis-tagged passive
                # participle ("was struck cold to see ..."), not an
                # object NP
                if (is_be_head and s == ve
                        and (_verb_only_surface(low[s])
                             or (code[s] == "J" and e - s == 2
                                 and _oov_surface(low[s])
                                 and _adj_capable_surface(low[e - 1])))):
                    return False
                # a degree-measure NP before an adjective/participle
                # is an adverbial, not an object ("was a bit
                # disappointed")
                if (low[e - 1] in ("bit", "little", "lot",
                                   "touch", "deal", "tad")
                        and ((e < len(code)
                              and (code[e] == "J" or tags[e] == "VBN"))
                             # a BE head never takes the bare measure
                             # as complement ("was a bit disappointed"
                             # with disappointed/VBD) — except the
                             # "a bit of a ..." chain, which keeps its
                             # fold
                             or (is_be_head
                                 and not (e < len(code)
                                          and low[e] == "of")))):
                    return False
                # complex-preposition idioms ("gaped in front of us",
                # "in spite of") — the noun is the idiom's pivot, not
                # an object; the NP past the idiom's "of" is equally
                # out of object position
                if (low[e - 1] in ("front", "back", "spite", "midst",
                                   "middle", "terms", "behalf")
                        and s > 0 and low[s - 1] in ("in", "on")
                        and e < len(code) and low[e] == "of"):
                    return False
                if (s >= 2 and low[s - 1] == "of"
                        and low[s - 2] in ("front", "back", "spite",
                                           "midst", "middle", "terms",
                                           "behalf")
                        and s >= 3 and low[s - 3] in ("in", "on")):
                    return False
                # adverbial idioms are not objects ("been in part my
                # own", "in order to", "in fact")
                if (e - s == 1 and s > 0
                        and low[s - 1] == "in"
                        and low[s]
                        in _IN_IDIOM_NOUNS):
                    return False
                # "at present/once/last/..." adverbial idioms likewise
                if (e - s == 1 and s > 0
                        and low[s - 1] == "at"
                        and low[s]
                        in _AT_IDIOM_NOUNS):
                    return False
                # "on fire/edge" predicative idioms likewise ("I was
                # all on fire to go over them")
                if (e - s == 1 and s > 0
                        and low[s - 1] == "on"
                        and low[s]
                        in ("fire", "edge")):
                    return False
                # "out of gear/order/..." state idioms ("a hydraulic
                # stamping machine which has got out of gear")
                if (e - s == 1 and s > 1
                        and low[s - 1] == "of"
                        and low[s - 2] == "out"
                        and low[s]
                        in ("gear", "order", "shape", "breath",
                            "date", "reach", "sight", "control",
                            "hand", "print", "stock")):
                    return False
                # a reflexive INTENSIFIER directly followed by another
                # nominal is not the object ("She is herself the very
                # soul of delicacy") — a COPULA pattern only: non-BE
                # small-clause reflexives are real objects ("who first
                # finds himself master of his own establishment")
                if (is_be_head and e - s == 1
                        and low[s] in _REFLEXIVES
                        and e < len(code) and code[e] in "DNSJC"):
                    return False
                # bare-NP temporal adverbial ("adjusted that very
                # moment") — the "very" gates it off real objects;
                # the tagger may put "very" inside or before the span
                if (low[e - 1] in _TEMPORAL_NOUNS
                        and any(low[k] == "very"
                                for k in range(max(s - 1, 0), e - 1))):
                    return False
                # a PURE temporal-measure NP is an adverbial frame,
                # never an object: PP-governed ("known for many
                # years", "sat down for ten minutes"), universally
                # quantified ("secured every night"), or a quantified
                # bare measure ("met her several times"). Referential
                # temporal NPs keep the object reading when a
                # relative follows ("send it on the day when ..."),
                # and plain verb governors keep theirs ("we have
                # three days").
                head = low[e - 1].rstrip("s")
                if head in _TEMPORAL_NOUNS or head == "way":
                    gov = low[s - 1] if s > 0 else ""
                    nxt = low[e] if e < len(tok) else ""
                    pure = all(
                        tags[k] in ("DT", "PDT", "JJ", "JJR",
                                          "JJS", "CD", "RB")
                        or low[k] in _NUMBER_WORDS
                        for k in range(s, e - 1))
                    if (pure and nxt not in ("when", "that")
                            and ((gov in _TEMPORAL_PREPS
                                  and head != "way")
                                 or low[s]
                                 in ("every", "each", "both")
                                 or (head == "time"
                                     and any(low[k]
                                             in _MEASURE_QUANTIFIERS
                                             for k in range(s, e - 1))))):
                        return False
                # "in the course of ..." is an adverbial idiom even
                # though "course" itself is not a time noun
                if (head == "course" and s > 0
                        and low[s - 1] == "in"):
                    return False
                # a deictic-adverb-anchored temporal span is a frame
                # ("were here this past summer"): walk determiners/
                # adjectives back to the governor
                if head in _TEMPORAL_NOUNS:
                    _gv = s - 1
                    while (_gv >= 0 and tags[_gv]
                           in ("DT", "PDT", "JJ")):
                        _gv -= 1
                    if (_gv >= 0
                            and low[_gv]
                            in ("here", "there")):
                        return False
                # "a lot" is a measure adverbial, not an object
                # ("I sweated a lot")
                if (e - s <= 2 and low[e - 1] == "lot"
                        and (low[s] == "a"
                             or (s > 0 and low[s - 1]
                                 == "a"))):
                    return False
                # a sensory/become copula with a single adjective-
                # capable complement the tagger called NN predicates a
                # state, not a relation ("felt sick", "get too
                # Byzantine" — degree "too" marks the adjectival
                # reading even for OOV complements)
                if (e - s == 1 and head_verb is not None
                        and head_verb["text"].lower()
                        in ("feel", "feels", "felt", "get", "gets",
                            "got", "grew", "grow", "grows", "look",
                            "looks", "looked", "seem", "seems",
                            "seemed", "sound", "sounds", "sounded")
                        and (_adj_capable_surface(
                                low[s])
                             or low[ve - 1] == "too")):
                    return False
                # a copular ADJECTIVE followed by a LOCATIVE PP
                # predicates a situated property, not a relation ("I
                # was safe in my backwoods area"); argument PPs keep
                # ("were abhorrent to his mind")
                if is_be_head:
                    _ja = ve
                    while _ja < len(code) and code[_ja] == "R":
                        _ja += 1
                    if (_ja < s and code[_ja] == "J"
                            and s > 0 and tags[s - 1] == "IN"
                            and low[s - 1]
                            in ("in", "at", "on", "near", "inside",
                                "outside")
                            # in-ARGUMENT adjectives keep their PP
                            # ("are interested in these problems")
                            and low[_ja]
                            not in ("interested", "involved",
                                    "engaged", "rich", "absorbed",
                                    "immersed", "versed", "wrapped",
                                    "confident", "fluent")):
                        return False
                # a pronoun after a trailing TEMPORAL CONJUNCTION the
                # VP-regex mistook for an object-attaching preposition
                # is the subordinate clause's subject ("put on seven
                # and a half pounds since/IN I saw you")
                if (e - s == 1 and code[s] == "S"
                        and low[ve - 1]
                        in ("since", "until", "till", "while",
                            "after", "before")
                        and e in vp_starts):
                    return False
                # a quote-bracketed NP whose closing quote is followed
                # by another nominal is a quoted PREMODIFIER, not an
                # object ("aims through its \"air angels\" effort")
                if (s > 0 and texts[s - 1] in _QUOTE_TOKENS
                        and e < len(tok) - 1
                        and texts[e] in _QUOTE_TOKENS
                        and code[e + 1] in "NJ"):
                    return False
                # inside an OBJECT relative ("the mission which he had
                # accomplished so delicately for the reigning family"),
                # the verb's object is the fronted antecedent GAP — a
                # PP-attached NP inside the clause is adverbial, never
                # the object ("signs ... which I merely shared with
                # all the readers"). Direct (P-less) NPs stay — "the
                # title by which I have just called myself" keeps
                # "myself" whether or not the relative is pied-piped,
                # because only P-governed candidates are rejected
                # ("of whom you had already spoken to me" drops "me").
                if (not rebound and not shared and subj_span is not None
                        and subj_span[0] > 0
                        and tags[subj_span[0] - 1] in ("WDT", "WP")
                        and low[subj_span[0] - 1]
                        != "who"):
                    # governor scan walks back over premodifiers the
                    # span regex could not absorb (VBG/quantifier:
                    # "for the reigning/VBG family")
                    j = s - 1
                    while j > ve and (
                            code[j] in "DJC"
                            or (code[j] == "V"
                                and tags[j] == "VBG")):
                        j -= 1
                    if j >= ve and code[j] == "P":
                        return False
                # a bare pronoun abutting a following verb group after
                # a COPULA is that verb's subject, not a complement
                # ("of such weight it may have an influence"); non-BE
                # verbs keep it — speech/cognition verbs take elided-
                # that complements ("said it would use drones") whose
                # embedded subject is conventionally the object
                if (is_be_head
                        and e - s == 1 and code[s] == "S"
                        and e in vp_starts
                        and not (clause_taking
                                 and any(low[k] == "that"
                                         for k in range(ve, s)))):
                    return False
                # a NOMINATIVE pronoun across a non-empty gap that
                # abuts a later verb is the NEXT clause's subject, for
                # any head verb ("When I went down there I found him"
                # must not yield <I> went down <I>); an abutting
                # pronoun stays — elided-that complements ("believed
                # they were right") conventionally keep theirs
                if (e - s == 1 and code[s] == "S"
                        and low[s]
                        in ("i", "he", "she", "we", "they")
                        and s > ve
                        and e in vp_starts
                        and not (clause_taking
                                 and any(low[k] == "that"
                                         for k in range(ve, s)))):
                    return False
                # an object is never fetched across a "without"- or
                # "of"-governed gerund ("died without having recovered
                # her consciousness", "is now desirous of getting
                # those letters back" — the NP belongs to the gerund);
                # aspectual "by"-chains keep theirs ("must begin by
                # binding you both")
                for k in range(ve, s):
                    if (code[k] == "V" and k > 0
                            and low[k - 1]
                            in ("without", "of")):
                        return False
                return True

            obj_chain_ext = False
            obj_span = next(
                ((s, e) for s, e in nps if _obj_ok(s, e)), None
            )
            # --- fallback: relative-clause object gap ----------------
            # "the mission which he had accomplished so successfully"
            # — a WDT/WP (or IN-"that" with an adjacent antecedent NP)
            # directly before the subject NP marks an object relative;
            # the verb's object is the ANTECEDENT NP. Only consulted
            # when no in-clause post-verb NP exists, so complementizer
            # clauses with their own objects ("my deduction that you
            # had been out in vile weather") keep them. Subject
            # relatives ("the man who first finds himself") are
            # untouched: there the wh-token precedes the VERB, not a
            # distinct subject NP.
            if (obj_span is None and not rebound and not shared
                    and subj_span[0] > 0):
                wpos = subj_span[0] - 1
                wtok = tok[wpos]
                # "whom" heads OBJECT relatives whose gap usually sits
                # in an embedded infinitive ("the very man whom I have
                # longed to meet") — re-using the antecedent as this
                # verb's object double-emits; gold keeps the matrix
                # copula only
                if wtok["text"].lower() == "whom":
                    k = None
                elif wtok["tag"] in ("WDT", "WP"):
                    k = wpos - 1
                    steps = 0
                    while (k >= 0 and steps < 3
                           and (texts[k] == ","
                                or tags[k]
                                .startswith("RB"))):
                        k -= 1
                        steps += 1
                elif wtok["text"].lower() == "that":
                    # complementizer-ambiguous: antecedent must abut;
                    # a TEMPORAL antecedent is an adverbial frame, not
                    # an object gap ("the instant that she was gone")
                    k = wpos - 1
                    if (k >= 0 and low[k].rstrip("s")
                            in _TEMPORAL_NOUNS):
                        k = None
                else:
                    k = None
                if k is not None:
                    obj_span = next(
                        ((s, e) for s, e in reversed(nps) if e == k + 1),
                        None,
                    )
                    # the antecedent extends leftward over of/for/from
                    # attachment chains, exactly like subjects ("a
                    # small parcel of considerable value which she had
                    # been expecting" objects the chain HEAD)
                    if obj_span is not None:
                        _os = obj_span[0]
                        while _os > 0:
                            j2 = _os - 1
                            while j2 > 0 and code[j2] in "JV":
                                j2 -= 1
                            if low[j2] not in ("of", "for", "from"):
                                break
                            _pn = next((sp for sp in nps
                                        if sp[1] == j2), None)
                            if _pn is None:
                                break
                            _os = _pn[0]
                        if _os != obj_span[0]:
                            obj_span = (_os, obj_span[1])
                            obj_chain_ext = True
            # the CONTENT verb (last VB*) carries the lexical identity
            # for downstream re-binding: "was urging his son to marry"
            # must test "urging" (object-control), not the aux "was"
            content_verb = next(
                (texts[k] for k in range(ve - 1, vs - 1, -1)
                 if tags[k].startswith("VB")),
                head_verb["text"] if head_verb else "")
            # a bare mistagged PARTICLE is not an object ("He sprang
            # round, and ..." with round/NN): clause-final or comma-
            # bounded, it folds away and the predicate is objectless
            if (obj_span is not None
                    and obj_span[1] - obj_span[0] == 1
                    and low[obj_span[0]]
                    in _PARTICLE_OBJECTS
                    and (obj_span[1] >= len(code)
                         or texts[obj_span[1]] in (",", ".", ";",
                                                         "!", "?"))):
                obj_span = None
            if obj_span is None:
                # keep the subject visible for VP-coordination sharing
                # ("I did so, and saw ..." — "did" has no object but
                # "saw" still shares "I"); obj None disables the
                # object-control rebind path
                prev_vp = (subj_span, None, ve, content_verb)
                continue
            # locative-PP object displaced by a "that"-complement: in
            # "could see in the gas-light that every vestige of colour
            # had been driven ...", the PP is adverbial and the
            # asserted object is the complement's subject (the same
            # convention as "requires that insurers cover ...")
            drop_trailing_p = False
            if (code[ve - 1] == "P"
                    and low[ve - 1]
                    in ("in", "at", "on", "from", "through", "under",
                        "over", "within")
                    and obj_span[1] < len(code)
                    and low[obj_span[1]] == "that"):
                _nxt = next((sp for sp in nps
                             if sp[0] == obj_span[1] + 1), None)
                if _nxt is not None:
                    obj_span = _nxt
                    drop_trailing_p = True
            # causative "have <NP> VBN" ("had this unfortunate man
            # arrested") asserts the arranging, not a have-relation;
            # the participle is often VBD-mistagged, so accept either
            # form provided it has no object of its own (an objectful
            # -ed verb opens a new clause instead). Tested on the
            # CONTENT verb: an auxiliary have ("have never seen it
            # enforced") is not causative and keeps its object
            if (content_verb.lower()
                    in ("have", "has", "had", "having")
                    and obj_span[1] < len(code)
                    and tags[obj_span[1]] in ("VBN", "VBD")
                    and (obj_span[1] + 1 >= len(code)
                         or code[obj_span[1] + 1] not in "DNSJC")):
                prev_vp = None
                continue
            # expletive temporal frame "It was in the latter days of
            # September": dummy "it" + BE + preposition + time noun
            # asserts nothing
            if (is_be_head
                    and subj_span[1] - subj_span[0] == 1
                    and low[subj_span[0]] == "it"
                    and code[ve - 1] == "P"
                    and (low[obj_span[1] - 1].rstrip("s")
                         in _TEMPORAL_NOUNS
                         | {m.rstrip("s") for m in _MONTH_NOUNS}
                         # ordinal date: "it was on the twentieth of
                         # March"
                         or (obj_span[1] < len(tok) - 1
                             and low[obj_span[1]] == "of"
                             and low[obj_span[1] + 1]
                             in _MONTH_NOUNS))):
                prev_vp = None
                continue
            # INFINITIVAL copular adjectival complement: in "to be ADJ
            # (P NP)" the NP belongs to the adjective, and the clause
            # predicates a property, not a relation ("wishes his agent
            # to be unknown to you" must not yield <person> be <you>).
            # Finite copulas keep theirs — "were abhorrent to his mind"
            # IS the asserted relation.
            _p_after = ve
            while _p_after < len(code) and code[_p_after] == "R":
                _p_after += 1
            if (is_be_head and shared and vs > 0
                    and low[vs - 1] == "to"
                    and _p_after < len(code)
                    and code[_p_after] == "J"
                    and obj_span[0] > _p_after):
                prev_vp = None
                continue
            # "that"-complement object whose embedded clause is NEGATED
            # asserts no pairing ("may confess at once that the title
            # ... is not exactly my own"): keep only affirmative
            # embedded clauses ("has said that she would send it")
            if (any(low[k] == "that"
                    for k in range(ve, obj_span[0]))
                    # ELIDED-that complements too: a bare-pronoun
                    # object abutting the embedded verb ("decides it
                    # does n't care ...")
                    or (obj_span[1] - obj_span[0] == 1
                        and code[obj_span[0]] == "S"
                        and obj_span[1] in vp_starts)):
                # the embedded clause asserts nothing if its predicate
                # is negated; the complement's own verb may sit past an
                # intervening relative ("that the title by which I have
                # just called myself is not ..."), so ANY negated VP in
                # the complement's remainder vetoes the pairing
                if any(
                    s2 >= obj_span[1]
                    and any(low[k] in _NEG_TOKENS
                            for k in range(s2, e2))
                    for s2, e2 in vp_spans
                ):
                    prev_vp = None
                    continue
            # it-cleft: "It is the German who is so uncourteous ..."
            # asserts only the embedded relation, which the relative
            # clause itself yields — the dummy-subject copula is noise
            if (is_be_head
                    and subj_span[1] - subj_span[0] == 1
                    and low[subj_span[0]]
                    == "it"
                    and obj_span[1] < len(code)
                    and tags[obj_span[1]]
                    in ("WDT", "WP")):
                prev_vp = None
                continue
            # negative-polarity / negated object ("any emotion akin to
            # love" under a cleft negation; "will be of no importance"):
            # "any" marks a negated-scope NP and a "no" determiner
            # negates the assertion outright
            if low[obj_span[0]] in ("any", "no"):
                prev_vp = None
                continue
            # an object candidate that abuts the NEXT clause's finite
            # verb across an intervening comma is that clause's
            # SUBJECT, not this verb's object ("As I strolled up and
            # down, glancing at them occasionally, Mr. Rucastle came
            # out ..." must not object Mr. Rucastle)
            if (obj_span[1] < len(code)
                    and tags[obj_span[1]] in ("VBD", "VBZ", "VBP")
                    and code[obj_span[1]] == "V"
                    # across an intervening comma, or across a
                    # subordinating conjunction with no comma ("It grew
                    # worse as Alice grew up" must not object Alice)
                    and (n_commas(ve, obj_span[0]) >= 1
                         or any(low[k]
                                in _BE_CROSS_BLOCKERS
                                and tags[k] == "IN"
                                for k in range(ve, obj_span[0])))
                    # a "that"-complement's embedded subject is the
                    # conventional object and KEEPS ("I think, Watson,
                    # that you have put on ...")
                    and not (obj_span[0] > 0
                             and low[obj_span[0] - 1]
                             == "that")):
                prev_vp = None
                continue
            # such-correlative degree complement: "is of such weight
            # (that) it may have ..." — the of-PP heads a degree-result
            # construction, not an asserted property (plain "are of an
            # importance" keeps)
            if (is_be_head and code[ve - 1] == "P"
                    and low[ve - 1] == "of"
                    and low[obj_span[0]] == "such"):
                prev_vp = None
                continue
            # (subject comma parity is enforced by the even-distance
            # walk above; rebound/shared subjects legitimately cross
            # their own chain-closing comma / ", and")
            v_toks = [tok[k] for k in range(vs, ve)]
            # a mistagged particle MEDIATING a following NP folds into
            # the predicate and yields the NP as object ("scraped
            # round/NN the edges of the sole")
            if (obj_span[1] - obj_span[0] == 1
                    and low[obj_span[0]]
                    in ("round", "about")
                    and tags[obj_span[0]].startswith("NN")
                    and obj_span[1] < len(code)):
                _med = next((sp for sp in nps
                             if sp[0] == obj_span[1]), None)
                if _med is not None:
                    v_toks = v_toks + [tok[obj_span[0]]]
                    obj_span = _med
            # light-verb + particle: "<subj> made it through <NP>" — a
            # bare "it" object immediately followed by a preposition and
            # an NP is an idiom chunk, not the argument; fold "it <prep>"
            # into the predicate and take the following NP as object
            # ("I take it, ..." is untouched: the next token is a comma)
            oe = obj_span[1]
            if (obj_span[1] - obj_span[0] == 1
                    and low[obj_span[0]] == "it"
                    and oe < len(code) and code[oe] == "P"
                    and low[oe]
                    not in _SUBORD_CONJ
                    # idiom fold is a LIGHT-VERB property ("made it
                    # through") — literal verbs keep the pronoun object
                    # ("hurled it upon the ground" -> <he> hurled <it>)
                    and head_verb is not None
                    and head_verb["text"].lower().startswith(
                        ("make", "made", "mak"))):
                folded = next(
                    ((s, e) for s, e in nps if s == oe + 1), None
                )
                if folded is not None:
                    v_toks = v_toks + [tok[obj_span[0]],
                                       tok[oe]]
                    obj_span = folded
            # literal verbs with the same shape ("hurled it upon the
            # ground", "handed it to him") keep the pronoun object AND
            # also yield the folded relation — both readings are true
            # and gold labels carry both
            fold_extra = None
            if (obj_span[1] - obj_span[0] == 1
                    and low[obj_span[0]] == "it"
                    and obj_span[1] < len(code)
                    and code[obj_span[1]] == "P"
                    and low[obj_span[1]]
                    not in _SUBORD_CONJ
                    and low[obj_span[1]]
                    not in ("as", "by")
                    and not (head_verb is not None
                             and head_verb["text"].lower().startswith(
                                 ("make", "made", "mak")))):
                _f2 = next(((s, e) for s, e in nps
                            if s == obj_span[1] + 1), None)
                if _f2 is not None:
                    fold_extra = (tok[obj_span[0]],
                                  tok[obj_span[1]], _f2)

            if drop_trailing_p and v_toks and v_toks[-1]["tag"] in (
                    "IN", "TO", "RP"):
                v_toks = v_toks[:-1]
            # perception small clause: "heard her key turn in the lock"
            # — the embedded base verb (tagger: NN) glues onto the
            # object NP; split it out, keep the perception triple on
            # the bare object, and assert the embedded relation too
            small_clause = None
            # an adverbial-noun tail may ride after the embedded verb
            # ("saw his tall, spare figure pass twice"): peel it
            # before looking for the small-clause verb, and emit no
            # embedded relation in that case (the adverb consumed the
            # slot a P-governed object would fill)
            _sc_end = obj_span[1]
            if (_sc_end - obj_span[0] >= 3
                    and low[_sc_end - 1]
                    in ("twice", "once", "again")):
                _sc_end -= 1
            if (head_verb is not None
                    and head_verb["text"].lower() in _PERCEPTION_VERBS
                    and _sc_end - obj_span[0] >= 2
                    and low[_sc_end - 1]
                    in _SMALLCLAUSE_VERBS
                    # an ORDINARY deverbal noun object stays whole:
                    # "saw the break in the clouds" must not split —
                    # a determiner/adjective-article directly before
                    # the candidate verb marks it as the NP head
                    and tags[_sc_end - 2] not in ("DT", "PDT",
                                                        "PRP$")):
                sc_verb = tok[_sc_end - 1]
                sc_pair = None
                if _sc_end == obj_span[1] and obj_span[1] < len(code):
                    if code[obj_span[1]] == "P":
                        sc_obj = next((sp for sp in nps
                                       if sp[0] == obj_span[1] + 1),
                                      None)
                        if sc_obj is not None:
                            sc_pair = (tok[obj_span[1]], sc_obj)
                    else:
                        # DIRECT small-clause object ("heard a soft
                        # tread pass his door") — a possessive may
                        # lead the NP span
                        sc_obj = next(
                            (sp for sp in nps
                             if sp[0] in (obj_span[1],
                                          obj_span[1] + 1)
                             and (sp[0] == obj_span[1]
                                  or tags[obj_span[1]]
                                  == "PRP$")),
                            None)
                        if sc_obj is not None:
                            sc_pair = (None, sc_obj)
                obj_span = (obj_span[0], _sc_end - 1)
                if sc_pair is not None:
                    small_clause = (sc_verb, sc_pair[0], sc_pair[1])
            elif (head_verb is not None
                    and head_verb["text"].lower() in _PERCEPTION_VERBS
                    and obj_span[1] - obj_span[0] == 1
                    and code[obj_span[0]] == "S"
                    and obj_span[1] < len(code)
                    and code[obj_span[1]] in "JN"
                    and texts[obj_span[1]].islower()
                    # the mistagged BARE small-clause verb after a
                    # pronoun object ("saw him scribble/JJ on a piece
                    # of paper"): OOV or verb-capable surfaces only
                    and (_oov_surface(low[obj_span[1]])
                         or low[obj_span[1]] in _SMALLCLAUSE_VERBS
                         or _verb_only_surface(low[obj_span[1]]))):
                _k = obj_span[1]
                if _k + 1 < len(code) and code[_k + 1] == "P":
                    sc_obj = next((sp for sp in nps
                                   if sp[0] == _k + 2), None)
                    if sc_obj is not None:
                        small_clause = (tok[_k], tok[_k + 1], sc_obj)
                else:
                    sc_obj = next((sp for sp in nps
                                   if sp[0] == _k + 1), None)
                    if sc_obj is not None:
                        small_clause = (tok[_k], None, sc_obj)
            s_toks = (list(tok[k] for k in range(*subj_span))
                      if subj_chain_ext else phrase(subj_span))
            o_toks = (list(tok[k] for k in range(*obj_span))
                      if obj_chain_ext else phrase(obj_span))
            # trailing glue stripped off the object chunk by POSITION:
            # mistagged accusative pronouns and adverbial nouns always
            # ("concerned in some such matter before"), the particles
            # round/about only when they mediate a further pronoun/NP
            # ("wrapped a shawl round me" strips; "the final round of
            # increases" keeps its head noun)
            _oend = obj_span[1]
            while _oend - obj_span[0] > 1:
                _w = low[_oend - 1]
                if _w in _TRAILING_ADV_NOUNS:
                    _oend -= 1
                    continue
                if (_w in ("round", "about") and _oend < len(code)
                        and (code[_oend] in "SD"
                             or low[_oend]
                             in ("her", "him", "them", "me", "us"))):
                    _oend -= 1
                    continue
                break
            if _oend != obj_span[1]:
                o_toks = phrase((obj_span[0], _oend)) or o_toks
            if not s_toks or not o_toks:
                prev_vp = None
                continue
            prev_vp = (subj_span, obj_span, ve, content_verb)
            last_pair = (subj_span, max(ve, obj_span[1]), obj_span)

            # resultative passive: "<subj> BE VBN as <complement> by
            # <agent>" keeps the SURFACE orientation ("those mysteries
            # had been abandoned as hopeless by the official police") —
            # the complement and "by" fold into the predicate and the
            # agent becomes the object; inverting around the resultative
            # would strand the complement
            resultative = False
            if (v_toks and v_toks[-1]["text"].lower() == "as"
                    and any(t["tag"] == "VBN" for t in v_toks)
                    and any(t["text"].lower() in _BE_FORMS
                            for t in v_toks)
                    and obj_span[1] < len(code)
                    and low[obj_span[1]] == "by"
                    and not n_commas(ve, obj_span[0])):
                agent = next(
                    ((s, e) for s, e in nps if s == obj_span[1] + 1),
                    None,
                )
                if agent is not None:
                    v_toks = (v_toks
                              + [tok[k]
                                 for k in range(obj_span[0], obj_span[1])]
                              + [tok[obj_span[1]]])
                    obj_span = agent
                    o_toks = (list(tok[k] for k in range(*obj_span))
                      if obj_chain_ext else phrase(obj_span))
                    resultative = True

            # passive voice: "<obj> BE VBN by <subj>" inverts the triple
            # and takes the participle as the predicate
            be_forms = _BE_FORMS
            passive = (
                not resultative
                and len(v_toks) >= 2
                and v_toks[-1]["text"].lower() == "by"
                and any(t["tag"] == "VBN" for t in v_toks)
                and any(t["text"].lower() in be_forms for t in v_toks)
            )
            if passive:
                # invert to agent-active orientation only when the
                # agent is a NAMED entity or person pronoun ("was
                # founded by Alice Johnson" -> <Alice Johnson> founded
                # <Acme Corp> — the KG-normal form); a common-noun
                # agent keeps the SURFACE orientation ("the windows
                # were blocked by old-fashioned shutters", "the
                # leather is scored by six almost parallel cuts"),
                # where the stative reading dominates. A wh-RELATIVE
                # passive always keeps the surface ("the papers which
                # had been destroyed by Colonel Openshaw" — the
                # antecedent is the asserted topic)
                _wh_rel = any(tags[k].startswith("W")
                              for k in range(max(vs - 3, 0), vs))
                if ((not _wh_rel
                     and any(t["tag"].startswith("NNP")
                             or t["text"].lower()
                             in ("him", "her", "me",
                                 "us", "them",
                                 "someone", "somebody",
                                 "anyone", "everybody",
                                 "everyone")
                             for t in o_toks))
                        # eventive participles invert even with a
                        # common-noun agent ("the impression was
                        # suggested by his whole appearance") and even
                        # inside a wh-relative
                        or any(t["tag"] == "VBN"
                               and t["text"].lower()
                               in _EVENTIVE_PASSIVES
                               for t in v_toks)):
                    s_toks, o_toks = o_toks, s_toks
                    # only the LAST participle is the content
                    # predicate: "has been founded by X" -> pred
                    # "founded" ("been" is itself tagged VBN)
                    v_toks = [t for t in v_toks if t["tag"] == "VBN"][-1:]
                else:
                    passive = False
            # displaced agent passive: "<subj> BE (RB) VBN <particle/
            # complement> by <agent>" — the particle/complement keeps
            # "by" outside the verb group, so the VP-final-by inversion
            # above cannot see it ("were suddenly cut short by a loud
            # hubbub", "had been drawn out by Holmes"). Invert to the
            # agent-active orientation with the complement folded into
            # the predicate. A bare "VBN by" with a split aux ("...,
            # deeply attracted by the study") has an EMPTY gap and
            # keeps its surface orientation.
            if not resultative and not passive:
                _gap = list(range(ve, obj_span[0]))
                if (_gap and low[_gap[-1]] == "by"
                        and len(_gap) <= 3
                        and all(code[k] in "RJP" for k in _gap[:-1])
                        and any(t["tag"] == "VBN" for t in v_toks)
                        and any(t["text"].lower() in _BE_FORMS
                                for t in v_toks)
                        and not n_commas(ve, obj_span[0])):
                    _li = max(i for i, t in enumerate(v_toks)
                              if t["tag"] == "VBN")
                    v_toks = v_toks[_li:] + [tok[k] for k in _gap[:-1]]
                    s_toks, o_toks = o_toks, s_toks
                    passive = True

            pred = " ".join(t["text"] for t in v_toks)
            head = next((t for t in v_toks if t["tag"].startswith("VB")), None)
            pred_norm = pred.lower()
            if head is not None and head["tag"] == "VBZ" and head["text"].endswith("s"):
                w = head["text"].lower()
                stem = _IRREGULAR_VBZ.get(w)
                if stem is None:
                    stem = w[:-3] + "y" if w.endswith("ies") else (
                        w[:-2] if w.endswith(("ses", "xes", "zes", "ches", "shes"))
                        else w[:-1]
                    )
                if len(stem) >= 2:
                    pred_norm = pred_norm.replace(w, stem, 1)
            pred_norm = _WS_RE.sub(" ", pred_norm).strip()

            # raw HTML-entity fragments in an argument mark the
            # clause as markup noise, not prose ("One is young &amp;
            # reckless" asserts nothing); a bare "&" (Johnson & Johnson)
            # is real coordination and passes
            if any(t["text"].startswith("&") and len(t["text"]) > 1
                   for t in s_toks + o_toks):
                continue
            out.append(
                {
                    "sent_idx": si,
                    "subj": " ".join(t["text"] for t in s_toks),
                    "pred": pred,
                    "obj": " ".join(t["text"] for t in o_toks),
                    "pred_norm": pred_norm,
                    "subj_label": ent_label(s_toks),
                    "obj_label": ent_label(o_toks),
                    "confidence": min(conf(s_toks), conf(o_toks)),
                }
            )
            if fold_extra is not None and not passive and not resultative:
                _it, _prep, _f2 = fold_extra
                f_toks = phrase(_f2)
                if f_toks:
                    out.append(
                        {
                            "sent_idx": si,
                            "subj": " ".join(t["text"] for t in s_toks),
                            "pred": f"{pred} {_it['text']} "
                                    f"{_prep['text']}",
                            "obj": " ".join(t["text"] for t in f_toks),
                            "pred_norm": f"{pred_norm} "
                                         f"{_it['text'].lower()} "
                                         f"{_prep['text'].lower()}",
                            "subj_label": ent_label(s_toks),
                            "obj_label": ent_label(f_toks),
                            "confidence": min(conf(s_toks),
                                              conf(f_toks)),
                        }
                    )
            if (small_clause is not None and not passive
                    and not resultative):
                _scv, _scp, _sco = small_clause
                f_toks = phrase(_sco)
                if f_toks:
                    _scp_txt = (f" {_scp['text']}"
                                if _scp is not None else "")
                    out.append(
                        {
                            "sent_idx": si,
                            "subj": " ".join(t["text"] for t in o_toks),
                            "pred": f"{_scv['text']}{_scp_txt}",
                            "obj": " ".join(t["text"] for t in f_toks),
                            "pred_norm": (_scv["text"].lower()
                                          + _scp_txt.lower()),
                            "subj_label": ent_label(o_toks),
                            "obj_label": ent_label(f_toks),
                            "confidence": min(conf(o_toks),
                                              conf(f_toks)),
                        }
                    )
    return out


def annotate_and_extract_triples(
    df: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("url",),
    cfg=None,
    timeout_acc=None,
) -> DataFrame:
    """Fully fused single-stage pipeline: raw text -> triples in ONE
    mapInPandas (annotate kernel + pattern chunker per document). Avoids
    materializing the nested token arrays through Arrow between stages and
    halves the number of Python workers per task slot — the production
    path when only triples are needed downstream.

    With the default cfg there is no per-document timeout (no doc can be
    silently dropped). When a caller opts into ``cfg.timeout_sec``, each
    timed-out doc is skipped AND counted in ``timeout_acc`` (a Spark
    accumulator) so the job can surface how many documents the budget
    dropped — never indistinguishable from triple-less docs."""
    from prose_spark.operators.annotate import (
        AnnotateConfig,
        DocumentTimeout,
        annotate_document,
    )

    # the kernel is compute-bound Python: a small parquet scan arrives
    # as 1-2 partitions (split by BYTES) and would run the whole corpus
    # on 2 cores. Spread to the session's parallelism when
    # under-partitioned — measured 27s -> ~4s for the sf1.0 nlp_triples
    # driver query on local[32]. Explicit caller partitioning
    # (repartition/coalesce/cache) is honored: see spread_compute_input.
    from prose_spark.operators.annotate import spread_compute_input

    df = spread_compute_input(df)

    key_fields = [f for f in df.schema.fields if f.name in key_cols]
    out_schema = T.StructType(key_fields + list(TRIPLE_TYPE.fields))
    if cfg is None:
        cfg = AnnotateConfig()
    col_names = [f.name for f in out_schema.fields]

    def run(batches):
        for pdf in batches:
            rows = []
            keys = pdf[list(key_cols)].to_dict("records")
            for key_row, text in zip(keys, pdf[text_col]):
                try:
                    _, tokens, _ = annotate_document(text, cfg)
                except DocumentTimeout:
                    # per-document failure: skip the doc, never abort the
                    # task — but COUNT it so the job can report the drop
                    if timeout_acc is not None:
                        timeout_acc.add(1)
                    continue
                for tr in extract_triples_doc(tokens):
                    rows.append({**key_row, **tr})
            yield pd.DataFrame(rows, columns=col_names)

    cols = list(key_cols) + [text_col]
    return df.select(*cols).mapInPandas(run, schema=out_schema)


def extract_triples(df: DataFrame, key_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """Annotated df -> long-format triples DataFrame (one row per triple)."""
    key_fields = [f for f in df.schema.fields if f.name in key_cols]
    out_schema = T.StructType(key_fields + list(TRIPLE_TYPE.fields))

    def run(batches):
        for pdf in batches:
            rows = []
            keys = pdf[list(key_cols)].to_dict("records")
            for key_row, tokens in zip(keys, pdf["tokens"]):
                for tr in extract_triples_doc(tokens):
                    rows.append({**key_row, **tr})
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    cols = list(key_cols) + ["tokens"]
    return df.select(*cols).mapInPandas(run, schema=out_schema)


def triple_support(
    triples: DataFrame,
    source_col: str = "url",
    confidence_col: str = "confidence",
) -> DataFrame:
    """Collapse per-document triples into weighted graph edges: one row
    per (subj, pred_norm, obj) with

    - ``n_mentions``: total assertions of the edge across the corpus,
    - ``n_sources``: distinct source documents asserting it,
    - ``max_confidence``: best extraction confidence seen,
    - ``first_source``: smallest source id under the column's own
      ordering — numeric for numeric ids, lexicographic for strings —
      a bounded, deterministic provenance exemplar.

    This is the materialization step between raw extraction and a usable
    graph: a crawl asserts popular facts millions of times, and the graph
    table wants one weighted edge, not 10^6 rows. Every aggregate here is
    decomposable (count / count-distinct-expand / max / min), so the
    whole thing is a standard two-phase hash aggregate with map-side
    partials — no unbounded per-group state (deliberately NOT
    collect_set of sources, which a boilerplate edge would blow up at
    crawl scale; the reference has no corpus-level aggregation to cite —
    this extends its per-document extraction, extract.go:160-189, to the
    north rule's graph-materialize stage)."""
    return (
        triples.groupBy("subj", "pred_norm", "obj")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.countDistinct(source_col).cast("long").alias("n_sources"),
            F.max(confidence_col).alias("max_confidence"),
            F.min(source_col).alias("first_source"),
        )
    )
