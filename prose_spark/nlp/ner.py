"""IOB-chunked named-entity recognition (binary Maxent classifier).

Behavioral spec: tsawler/prose extract.go — the NLTK-style binary
joint-feature maximum-entropy classifier (extract.go:82-107), greedy
per-token decoding with softmax confidence (extract.go:365-384, 447-468),
IOB chunking (extract.go:160-189), entity coalescing + label precedence
(extract.go:401-499), and the GIS trainer (extract.go:300-363, 573-608).

Re-expressed for batch execution: scoring is vectorized with numpy. The
reference's mapping (fname-fval-label -> weight index) is regrouped into a
dense (n_fv, n_labels) matrix W (see scripts/convert_ner_model.py); a
token's label scores = sum of W rows for its fired "fname-fval" features —
identical arithmetic to the reference's encode()+dot loop. Of the 17
features, 14 are context-static (vectorizable across a whole document up
front); only prevtag / pos+prevtag / shape+prevtag depend on the running
label history, and the history alphabet after simplePOS is tiny
({None, B, I, O, v}), so their candidate rows are pre-gathered and the
sequential pass per token is just an index + argmax.

Faithful quirks kept:
- history stores simplePOS(label) (B/I/O) while training corpora carry the
  raw B-XXX labels (extract.go:381 vs 263-285) — the reference's own
  train/inference feature mismatch;
- entities still open at end-of-stream are dropped (chunk has no final
  flush);
- chunk continues an entity when consecutive tokens share a POS tag or a
  CD follows an entity token (extract.go:169-171);
- deterministic argmax: first label in model label order wins ties
  (deviation from Go's random map iteration, SURVEY.md §0.5).
"""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np

MODELS_DIR = Path(__file__).resolve().parent.parent / "models"

FEATURE_ORDER = (
    "bias", "en-wordlist", "nextpos", "nextword", "pos", "pos+prevtag",
    "prefix3", "prevpos", "prevtag", "prevword", "shape", "shape+prevtag",
    "suffix3", "word", "word+nextpos", "word.lower", "wordlen",
)

_NUM_RE = re.compile(r"^[+-]?(inf(inity)?|nan|((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?))$", re.I)
_PUNCT_RE = re.compile(r"\W+$", re.ASCII)
_WORD_RE = re.compile(r"\w+$", re.ASCII)


def _is_numeric(word: str) -> bool:
    # Go strconv.ParseFloat acceptance (utilities.go:28-31)
    return bool(_NUM_RE.match(word))


def _go_title(s: str) -> str:
    # strings.Title semantics: title-case every letter that begins a "word";
    # boundaries are non-alphanumeric/underscore runes.
    out = []
    prev_sep = True
    for ch in s:
        if prev_sep:
            out.append(ch.upper())
        else:
            out.append(ch)
        o = ord(ch)
        if o <= 0x7F:
            prev_sep = not (ch.isalnum() or ch == "_")
        else:
            prev_sep = not (ch.isalpha() or ch.isdigit())
    return "".join(out)


_SHAPE_MEMO: dict[str, str] = {}


def shape(word: str) -> str:
    """Word-shape feature (extract.go:549-564); pure function of the
    word, memoized (word diversity is tiny relative to token volume)."""
    s = _SHAPE_MEMO.get(word)
    if s is not None:
        return s
    if _is_numeric(word):
        s = "number"
    elif _PUNCT_RE.search(word):
        s = "punct"
    elif _WORD_RE.search(word):
        if word.lower() == word:
            s = "downcase"
        elif _go_title(word) == word:
            s = "upcase"
        else:
            s = "mixedcase"
    else:
        s = "other"
    if len(_SHAPE_MEMO) < 1_000_000:
        _SHAPE_MEMO[word] = s
    return s


def simple_pos(pos: str) -> str:
    if pos.startswith("V"):
        return "v"
    return pos.split("-")[0]


def extract_features(
    i: int, words: list[str], tags: list[str], history: list[str]
) -> dict[str, str]:
    """The 17-feature detector (extract.go:501-547). history[i-1] is used
    verbatim (raw labels when training, simplePOS at inference)."""
    word = words[i]
    prev_shape = "None"
    f = {
        "bias": "True",
        "word": word,
        "pos": tags[i],
        "en-wordlist": "True" if word in _enwords() else "False",
        "word.lower": word.lower(),
        "suffix3": word[-3:].lower() if len(word) >= 3 else word.lower(),
        "prefix3": word[:3].lower(),
        "shape": shape(word),
        "wordlen": str(len(word.encode("utf-8"))),
    }
    if i == 0:
        f["prevtag"] = "None"
        f["prevword"], f["prevpos"] = "None", "None"
    elif i == 1:
        f["prevword"] = words[0].lower()
        f["prevpos"] = tags[0]
        f["prevtag"] = history[0]
    else:
        f["prevword"] = words[i - 1].lower()
        f["prevpos"] = tags[i - 1]
        f["prevtag"] = history[i - 1]
        prev_shape = shape(words[i - 1])
    if i == len(words) - 1:
        f["nextword"], f["nextpos"] = "None", "None"
    else:
        f["nextword"] = words[i + 1].lower()
        f["nextpos"] = tags[i + 1].lower()
    f["word+nextpos"] = f["word.lower"] + "+" + f["nextpos"]
    f["pos+prevtag"] = f["pos"] + "+" + f["prevtag"]
    f["shape+prevtag"] = prev_shape + "+" + f["prevtag"]
    return f


_ENWORDS: frozenset[str] | None = None


def _enwords() -> frozenset[str]:
    global _ENWORDS
    if _ENWORDS is None:
        _ENWORDS = frozenset(default_ner().enwords)
    return _ENWORDS


_HISTORY_DOMAIN = ("None", "B", "I", "O", "v")


class MaxentNER:
    """Vectorized greedy Maxent sequence classifier + IOB chunker."""

    def __init__(self, fv_id: dict[str, int], W: np.ndarray, labels: list[str],
                 enwords: list[str]):
        self.labels = list(labels)
        self.enwords = list(enwords)
        self._enset = frozenset(enwords)
        self.fv_id = fv_id
        # row 0 of the padded matrix is all-zero: "feature not in mapping"
        self.W = np.vstack([np.zeros((1, W.shape[1])), W])
        self._o_index = self.labels.index("O") if "O" in self.labels else 0
        self._static_memo: dict = {}
        self._hist_memo: dict = {}

    @classmethod
    def load(cls, path: str | Path | None = None) -> "MaxentNER":
        import io

        from prose_spark.artifacts import read_bytes

        if path is None:
            z = np.load(io.BytesIO(read_bytes("maxent_ner.npz")),
                        allow_pickle=True)
        else:
            z = np.load(path, allow_pickle=True)
        fv_keys = z["fv_keys"]
        fv_id = {k: i + 1 for i, k in enumerate(fv_keys)}  # +1: row 0 = miss
        return cls(fv_id, z["W"], list(z["labels"]), list(z["enwords"]))

    def save(self, path: str | Path) -> None:
        """Persist as the npz artifact format (model round-trip — the
        reference's Model.Write / ModelFromDisk, model.go:84-145)."""
        ordered = sorted(self.fv_id.items(), key=lambda kv: kv[1])
        fv_keys = np.array([k for k, _ in ordered], dtype=object)
        np.savez_compressed(
            path,
            labels=np.array(self.labels, dtype=object),
            fv_keys=fv_keys,
            W=self.W[1:],
            enwords=np.array(self.enwords, dtype=object),
        )

    # -- inference ----------------------------------------------------------

    def classify(self, words: list[str], tags: list[str]):
        """Greedy decode -> (labels, confidences) per token."""
        n = len(words)
        if n == 0:
            return [], []
        fv_id = self.fv_id
        W = self.W
        enset = self._enset

        lowers = [w.lower() for w in words]
        shapes = [shape(w) for w in words]
        wlens = [str(len(w.encode("utf-8"))) for w in words]

        L = W.shape[1]
        static_scores = np.empty((n, L))  # (n, L)
        hist_scores = np.empty((n, len(_HISTORY_DOMAIN), L))  # (n, |H|, L)
        g = fv_id.get
        # memo values are the SUMMED weight rows (score vectors), not the
        # feature ids: a hit costs one memcpy instead of a 14xL gather +
        # reduce per token. W[ids].sum(axis=0) reduces the same 14 rows
        # in the same order as the former batched W[static_ids].sum(
        # axis=1), so scores are bitwise identical.
        static_memo = self._static_memo  # key -> (L,) summed score vector
        hist_memo = self._hist_memo  # (pos, prev_shape) -> (|H|, L) scores
        for i in range(n):
            w = words[i]
            lw = lowers[i]
            pos = tags[i]
            if i == 0:
                prevword = prevpos = "None"
                prev_shape = "None"
            else:
                prevword, prevpos = lowers[i - 1], tags[i - 1]
                prev_shape = shapes[i - 1] if i >= 2 else "None"
            if i == n - 1:
                nextword = nextpos = "None"
            else:
                nextword, nextpos = lowers[i + 1], tags[i + 1].lower()
            skey = (w, pos, prevword, prevpos, nextword, nextpos)
            svec = static_memo.get(skey)
            if svec is None:
                suf3 = w[-3:].lower() if len(w) >= 3 else lw
                row = (
                    g("bias-True", 0),
                    g("en-wordlist-True" if w in enset
                      else "en-wordlist-False", 0),
                    g("nextpos-" + nextpos, 0),
                    g("nextword-" + nextword, 0),
                    g("pos-" + pos, 0),
                    g("prefix3-" + w[:3].lower(), 0),
                    g("prevpos-" + prevpos, 0),
                    g("prevword-" + prevword, 0),
                    g("shape-" + shapes[i], 0),
                    g("suffix3-" + suf3, 0),
                    g("word-" + w, 0),
                    g("word+nextpos-" + lw + "+" + nextpos, 0),
                    g("word.lower-" + lw, 0),
                    g("wordlen-" + wlens[i], 0),
                )
                svec = W[np.array(row, dtype=np.int64)].sum(axis=0)
                if len(static_memo) < 2_000_000:
                    static_memo[skey] = svec
            static_scores[i] = svec
            hkey = (pos, prev_shape)
            hmat = hist_memo.get(hkey)
            if hmat is None:
                hrow = np.zeros((len(_HISTORY_DOMAIN), 3), dtype=np.int64)
                for hj, h in enumerate(_HISTORY_DOMAIN):
                    hrow[hj, 0] = g("prevtag-" + h, 0)
                    hrow[hj, 1] = g("pos+prevtag-" + pos + "+" + h, 0)
                    hrow[hj, 2] = g("shape+prevtag-" + prev_shape + "+" + h, 0)
                hmat = W[hrow].sum(axis=1)
                hist_memo[hkey] = hmat
            hist_scores[i] = hmat

        # decode: the label argmax for EVERY possible history state is
        # computed in one vectorized pass (n x |H| x L broadcast add +
        # argmax over L — same IEEE adds and same first-max tie-break as
        # the scalar loop this replaces), so the unavoidable sequential
        # pass only follows precomputed indices
        amax = (static_scores[:, None, :] + hist_scores).argmax(axis=2)
        hidx = {h: j for j, h in enumerate(_HISTORY_DOMAIN)}
        labels = self.labels
        # label index -> next history index (simple_pos of the label)
        next_h = [hidx[simple_pos(lb)] for lb in labels]
        amax_l = amax.tolist()
        out_labels: list[str] = []
        chosen_h = np.zeros(n, dtype=np.int64)
        h = hidx["None"]
        for i in range(n):
            chosen_h[i] = h
            li = amax_l[i][h]
            out_labels.append(labels[li])
            h = next_h[li]
        # softmax confidences vectorized after the sequential label pass
        # (extract.go:447-468; labels depend on history, confidences don't)
        final = static_scores + hist_scores[np.arange(n), chosen_h]
        m = final.max(axis=1, keepdims=True)
        with np.errstate(over="ignore", invalid="ignore"):
            e = np.exp(final - m)
            conf = 1.0 / e.sum(axis=1)
        conf = np.where(np.isfinite(conf), conf, 0.0)
        return out_labels, conf.tolist()

    # -- reference-faithful scoring for tests --------------------------------

    def score_features(self, feats: dict[str, str]) -> dict[str, float]:
        """Direct port of encode()+scoring for cross-checking the vectorized
        path (extract.go:191-203, 370-377)."""
        scores = {}
        for label in self.labels:
            li = self.labels.index(label)
            total = 0.0
            for key in FEATURE_ORDER:
                r = self.fv_id.get(key + "-" + feats[key], 0)
                if r:
                    total += self.W[r, li]
            scores[label] = total
        return scores


def chunk(tokens: list[dict]) -> list[dict]:
    """Stitch IOB-labeled tokens into entities (extract.go:160-189).

    tokens: dicts with text/tag/label/confidence/start/end.
    Entities still open at end of stream are dropped (reference quirk).
    """
    entities = []
    end = ""
    parts: list[dict] = []
    for tok in tokens:
        label = tok["label"]
        if (
            (label != "O" and label != end)
            or (parts and tok["tag"] == parts[-1]["tag"])
            or (parts and tok["tag"] == "CD" and parts[-1]["label"] != "O")
        ):
            end = label.replace("B", "I", 1)
            parts.append(tok)
        elif (label == "O" and end != "") or label == end:
            if label != "O":
                parts.append(tok)
            entities.append(coalesce(parts))
            end = ""
            parts = []
    return entities


PRECEDENCE = {
    "PERSON": 10, "ORG": 9, "MONEY": 8, "DATE": 8, "TIME": 8, "PERCENT": 8,
    "FAC": 7, "PRODUCT": 7, "EVENT": 7, "WORK_OF_ART": 7, "LANGUAGE": 6,
    "NORP": 6, "LAW": 6, "ORDINAL": 5, "CARDINAL": 5, "GPE": 4,
}


def parse_entities(ents: list[str]) -> str:
    """Label-precedence resolution (extract.go:401-444), incl. the
    ORG/ORGANIZATION key mismatch fallback."""
    best, best_p = "", -1
    for ent in ents:
        if ent.startswith(("B-", "I-")):
            etype = ent.split("-")[1]
            p = PRECEDENCE.get(etype)
            if p is not None and p > best_p:
                best_p = p
                best = etype
    if best:
        return best
    if ents and "-" in ents[0]:
        return ents[0].split("-")[1]
    return "MISC"


def coalesce(parts: list[dict]) -> dict:
    """Merge entity parts (extract.go:470-499)."""
    if not parts:
        return {}
    labels = [p["label"] for p in parts]
    text = " ".join(p["text"] for p in parts)
    conf = sum(p["confidence"] for p in parts) / len(parts)
    return {
        "text": text,
        "label": parse_entities(labels),
        "start": parts[0]["start"],
        "end": parts[-1]["end"],
        "confidence": conf,
    }


_DEFAULT: MaxentNER | None = None


def default_ner() -> MaxentNER:
    """Lazy singleton (one artifact load per Python worker process)."""
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = MaxentNER.load()
    return _DEFAULT
