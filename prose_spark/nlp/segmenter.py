"""punkt-style sentence segmenter with the reference's customizations.

Behavioral spec: tsawler/prose segment.go (a customized
gopkg.in/neurosnap/sentences punkt port) — re-implemented from the
published punkt algorithm (Kiss & Strunk 2006, the same algorithm NLTK
documents publicly) plus prose's overrides:

- custom sentence-end suffixes (``."  .)  .’  .”`` and ?/! variants) with a
  ``Yahoo!`` exception and ``.[ .( ." ?[ ?( ![ !(`` containment checks
  (segment.go:153-179);
- multi-punct abbreviation annotation: ``F.B.I.``-style tokens via
  ``((?:[\\w]\\.)+[\\w]*\\.)``, ellipsis pairs and
  ``(?:\\.\\s?){2,}\\.``, the errant-newline unbreak, the
  ortho/frequent-starter re-break heuristics (segment.go:183-299);
- supervised abbreviations ``sgt gov no mt`` (segment.go:111).

Two documented extensions BEYOND segment.go (both close held-out error
classes the reference also gets wrong; see test_segmenter_heldout):

- dialogue-attribution unbreak: quote-final ?/! + capitalized subject +
  reporting verb stays one sentence ('"Seven!" I answered.');
- nested-quote close: ``.'`` followed by a new quote opening on a capital
  is a boundary (the upstream ender list has ``?'``/``!'`` but not ``.'``).

The punkt parameter table (abbreviations, orthographic contexts, frequent
sentence starters) is trained by scripts/train_punkt.py on the reference's
fixture corpora + a curated seed abbreviation list, because the upstream
pretrained ``english.json`` asset is not part of the snapshot (SURVEY.md
§7 "hard parts" #1). Parameters load once per worker (lazy singleton).

Sentence offsets index the ORIGINAL text in BYTES (segment.go:56-84
re-finds each trimmed sentence with strings.Index).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

MODELS_DIR = Path(__file__).resolve().parent.parent / "models"

# ortho context flags (punkt, public)
ORTHO_BEG_UC = 1 << 1
ORTHO_MID_UC = 1 << 2
ORTHO_UNK_UC = 1 << 3
ORTHO_BEG_LC = 1 << 4
ORTHO_MID_LC = 1 << 5
ORTHO_UNK_LC = 1 << 6
ORTHO_UC = ORTHO_BEG_UC | ORTHO_MID_UC | ORTHO_UNK_UC
ORTHO_LC = ORTHO_BEG_LC | ORTHO_MID_LC | ORTHO_UNK_LC

_NUMBER_RE = re.compile(r"^-?[\.,]?\d[\d,\.-]*\.?$")
_INITIAL_RE = re.compile(r"^[A-Za-z]\.$")
_ELLIPSIS_FINAL_RE = re.compile(r"\.\.+$")
RE_ABBR = re.compile(r"(?:[\w]\.)+[\w]*\.")
RE_LOOKS_LIKE_ELLIPSIS = re.compile(r"(?:\.\s?){2,}\.")

_SPAN_RE = re.compile(r"\S+")

# Reporting (quotative) verbs — the standard closed class English style
# guides use for dialogue attribution ("..." said X / "..." X said). Surface
# forms (past + 3sg + base) generated from the public closed-class lemma
# list, NOT tuned on any corpus. Used by the attribution unbreak below.
_REPORTING_LEMMAS = (
    "say ask answer reply cry exclaim shout whisper murmur mutter remark "
    "observe continue add return respond retort interpose interject demand "
    "insist suggest note state declare admit agree object protest urge "
    "plead gasp groan sigh laugh call yell scream snap growl stammer "
    "repeat begin conclude echo ejaculate inquire enquire query venture "
    "assent announce"
).split()


def _verb_forms(lemmas):
    forms = set()
    for lem in lemmas:
        forms.add(lem)
        forms.add(lem + "s")
        if lem.endswith("e"):
            forms.add(lem + "d")
        elif lem.endswith("y") and lem[-2] not in "aeiou":
            forms.add(lem[:-1] + "ied")
            forms.add(lem[:-1] + "ies")
            forms.discard(lem + "s")
        else:
            forms.add(lem + "ed")
            if (len(lem) >= 3 and lem[-1] not in "aeiouwxy"
                    and lem[-2] in "aeiou" and lem[-3] not in "aeiou"):
                forms.add(lem + lem[-1] + "ed")  # snap -> snapped
    # irregular pasts of the closed class
    forms |= {"said", "began"}
    return frozenset(forms)


REPORTING_VERB_FORMS = _verb_forms(_REPORTING_LEMMAS)

_QUOTE_CLOSERS = '"\'’”'

SENT_ENDERS = (
    '."', ".)", ".’", ".”",
    "?", '?"', "?'", "?)", "?’", "?”",
    "!", '!"', "!'", "!)", "!’", "!”",
)
SENT_END_CONTAINS = (".[", ".(", '."', "?[", "?(", "![", "!(")
INTERNAL_PUNCT = (")", "’", "”", '"', "'")


_ENDER_SUFFIXES = tuple(SENT_ENDERS)


def has_sent_end_chars(tok: str) -> bool:
    """Custom non-period sentence-ender test (segment.go:153-179)."""
    # fast path: every ender/containment pattern involves . ? or !
    if "." not in tok and "?" not in tok and "!" not in tok:
        return False
    if tok.endswith(_ENDER_SUFFIXES) and "Yahoo!" not in tok:
        return True
    for paren in SENT_END_CONTAINS:
        if paren in tok:
            return True
    return False


def looks_internal(tok: str) -> bool:
    return tok.endswith(INTERNAL_PUNCT)


_TYPE_MEMO: dict[str, str] = {}
_INITIAL_MEMO: dict[str, bool] = {}

# pure per-token facts used by _multi_punct_pass, memoized by token
# string: (ends_dot, looks_ellipsis, looks_internal, abbr_match,
# nested_quote_close)
_MP_MEMO: dict[str, tuple[bool, bool, bool, bool, bool]] = {}


def _mp_flags(tok: str) -> tuple[bool, bool, bool, bool, bool]:
    f = _MP_MEMO.get(tok)
    if f is None:
        f = (
            tok.endswith("."),
            bool(RE_LOOKS_LIKE_ELLIPSIS.search(tok)),
            looks_internal(tok),
            bool(RE_ABBR.search(tok)),
            (tok.endswith(".'") and not tok.endswith("..'")
             and len(tok) > 2),
        )
        if len(_MP_MEMO) < 1_000_000:
            _MP_MEMO[tok] = f
    return f


def token_type(tok: str) -> str:
    """punkt type: lowercase, numbers collapsed to ##number## (pure
    function of the token, memoized — regex+lower dominate _Tok init)."""
    t = _TYPE_MEMO.get(tok)
    if t is None:
        t = "##number##" if _NUMBER_RE.match(tok) else tok.lower()
        if len(_TYPE_MEMO) < 1_000_000:
            _TYPE_MEMO[tok] = t
    return t


@dataclass
class PunktParameters:
    abbrev_types: set = field(default_factory=set)
    sent_starters: set = field(default_factory=set)
    ortho_context: dict = field(default_factory=dict)
    collocations: set = field(default_factory=set)  # of "a+b" strings

    def save(self, path: str | Path) -> None:
        Path(path).write_text(
            json.dumps(
                {
                    "abbrev_types": sorted(self.abbrev_types),
                    "sent_starters": sorted(self.sent_starters),
                    "ortho_context": self.ortho_context,
                    "collocations": sorted(self.collocations),
                }
            )
        )

    @classmethod
    def load(cls, path: str | Path) -> "PunktParameters":
        d = json.loads(Path(path).read_text())
        return cls(
            abbrev_types=set(d["abbrev_types"]),
            sent_starters=set(d["sent_starters"]),
            ortho_context=d["ortho_context"],
            collocations=set(d["collocations"]),
        )


class _Tok:
    __slots__ = ("tok", "start", "typ", "period_final", "sentbreak", "abbr",
                 "ellipsis")

    def __init__(self, tok: str, start: int):
        self.tok = tok
        self.start = start  # char offset into original text
        self.typ = token_type(tok)
        self.period_final = tok.endswith(".")
        self.sentbreak = False
        self.abbr = False
        self.ellipsis = False

    @property
    def type_no_period(self) -> str:
        if len(self.typ) > 1 and self.typ.endswith("."):
            return self.typ[:-1]
        return self.typ

    @property
    def type_no_sentperiod(self) -> str:
        if self.sentbreak:
            return self.type_no_period
        return self.typ

    @property
    def first_upper(self) -> bool:
        return bool(self.tok) and self.tok[0].isupper()

    @property
    def first_lower(self) -> bool:
        return bool(self.tok) and self.tok[0].islower()

    @property
    def is_initial(self) -> bool:
        tok = self.tok
        v = _INITIAL_MEMO.get(tok)
        if v is None:
            v = bool(_INITIAL_RE.match(tok))
            if len(_INITIAL_MEMO) < 1_000_000:
                _INITIAL_MEMO[tok] = v
        return v


class PunktSegmenter:
    def __init__(self, params: PunktParameters):
        self.params = params

    # -- annotation passes ---------------------------------------------------

    def _first_pass(self, toks: list[_Tok]) -> None:
        # the outcome is a pure function of the token string given this
        # instance's (immutable-after-construction) abbreviation set, so
        # it is memoized per instance: 0 = none, 1 = sentbreak,
        # 2 = ellipsis, 3 = abbr
        abbrevs = self.params.abbrev_types
        try:
            memo = self._fp_memo
        except AttributeError:
            memo = self._fp_memo = {}
        for t in toks:
            tok = t.tok
            o = memo.get(tok)
            if o is None:
                o = 0
                if has_sent_end_chars(tok):
                    o = 1
                elif _ELLIPSIS_FINAL_RE.search(tok) and not t.period_final:
                    o = 2
                elif t.period_final and not tok.endswith(".."):
                    cand = tok[:-1].lower()
                    if cand in abbrevs or cand.split("-")[-1] in abbrevs:
                        o = 3
                    elif tok.endswith("..."):
                        o = 2
                    else:
                        o = 1
                if len(memo) < 1_000_000:
                    memo[tok] = o
            if o == 1:
                t.sentbreak = True
            elif o == 2:
                t.ellipsis = True
            elif o == 3:
                t.abbr = True

    def _ortho_heuristic(self, t: _Tok):
        """punkt 4.1.1 — True / False / 'unknown'."""
        if t.tok in (";", ":", ",", ".", "!", "?"):
            return False
        ctx = self.params.ortho_context.get(t.type_no_sentperiod, 0)
        if t.first_upper and (ctx & ORTHO_LC) and not (ctx & ORTHO_MID_UC):
            return True
        if t.first_lower and ((ctx & ORTHO_UC) or not (ctx & ORTHO_BEG_LC)):
            return False
        return "unknown"

    def _second_pass(self, t1: _Tok, t2: _Tok | None) -> None:
        """punkt 4.1.2/4.1.3 collocations + ortho + initials/numbers."""
        if t2 is None or not t1.period_final:
            return
        typ = t1.type_no_period
        next_typ = t2.type_no_sentperiod
        if typ + "+" + next_typ in self.params.collocations:
            t1.sentbreak = False
            t1.abbr = True
            return
        if (t1.abbr or t1.ellipsis) and not t1.is_initial:
            starter = self._ortho_heuristic(t2)
            if starter is True:
                t1.sentbreak = True
                return
            if t2.first_upper and next_typ in self.params.sent_starters:
                t1.sentbreak = True
                return
        if t1.is_initial or typ == "##number##":
            starter = self._ortho_heuristic(t2)
            if starter is False:
                t1.sentbreak = False
                t1.abbr = True
                return
            if (
                starter == "unknown"
                and t1.is_initial
                and t2.first_upper
                and not (self.params.ortho_context.get(next_typ, 0) & ORTHO_LC)
            ):
                t1.sentbreak = False
                t1.abbr = True

    def _multi_punct_pass(self, toks: list[_Tok]) -> None:
        """prose's multiPunctWordAnnotation (segment.go:190-299)."""
        starters = self.params.sent_starters
        ortho = self.params.ortho_context
        for i, t1 in enumerate(toks):
            t2 = toks[i + 1] if i + 1 < len(toks) else None
            if t2 is None:
                if "\n" in t1.tok and " " in t1.tok:
                    t1.sentbreak = False
                continue

            (ends_dot, is_ellipsis, _internal,
             abbr_match, quote_close) = _mp_flags(t1.tok)

            # ellipsis that wasn't tokenized apart: "x." followed by "."
            if ends_dot and t2.tok == ".":
                t1.sentbreak = False
                t2.sentbreak = False
                continue

            # nested-quote close (beyond segment.go): the upstream ender
            # list has ?' and !' but omits .' — a period + straight single
            # closing quote followed by a NEW quote opening on a capital is
            # a boundary ("...would apply.' "'Not so many...'").
            if quote_close and t2.tok[:1] in _QUOTE_CLOSERS:
                alpha = next((c for c in t2.tok if c.isalpha()), "")
                if alpha.isupper():
                    t1.sentbreak = True
                    continue

            next_typ = None
            is_non_break = ends_dot and not t1.sentbreak
            is_internal = t1.sentbreak and _internal

            if is_non_break or is_ellipsis or is_internal:
                next_typ = t2.type_no_sentperiod
                is_starter = next_typ in starters
                if is_ellipsis:
                    if t2.first_upper or is_starter:
                        t1.sentbreak = True
                        continue
                if is_internal:
                    if t2.first_lower and not is_starter:
                        t1.sentbreak = False
                        continue
                    # dialogue attribution (beyond segment.go): a quote
                    # closed by ?/! followed by a capitalized subject and a
                    # reporting verb stays attached ('"Seven!" I answered.',
                    # '"Quite so!" Holmes said.') — the capitalized subject
                    # carries no boundary evidence when the next word is a
                    # quotative verb.
                    if (
                        len(t1.tok) >= 2
                        and t1.tok[-1] in _QUOTE_CLOSERS
                        and t1.tok[-2] in "?!"
                        and t2.first_upper
                        and i + 2 < len(toks)
                    ):
                        t3 = toks[i + 2]
                        w3 = t3.tok.rstrip(".,;:!?\"'’”").lower()
                        if w3 in REPORTING_VERB_FORMS:
                            t1.sentbreak = False
                            continue
                if is_non_break and t2.first_upper:
                    if ortho.get(next_typ, 0) & ORTHO_LC:
                        t1.sentbreak = True

            if not abbr_match:
                continue
            if t1.is_initial:
                continue

            t1.abbr = True
            t1.sentbreak = False

            starter = self._ortho_heuristic(t2)
            if starter is True:
                t1.sentbreak = True
                continue
            if next_typ is None:
                next_typ = t2.type_no_sentperiod
            if t2.first_upper and next_typ in starters:
                t1.sentbreak = True

    def annotate(self, text: str) -> list[_Tok]:
        toks = [_Tok(m.group(), m.start()) for m in _SPAN_RE.finditer(text)]
        self._first_pass(toks)
        for i, t in enumerate(toks):
            self._second_pass(t, toks[i + 1] if i + 1 < len(toks) else None)
        self._multi_punct_pass(toks)
        return toks

    # -- slicing --------------------------------------------------------------

    def segment(self, text: str) -> list[tuple[str, int, int]]:
        """-> [(sentence_text, byte_start, byte_end)] over the ORIGINAL text.

        Sentences are whitespace-trimmed slices; offsets are byte positions
        (segmentWithOffsets, segment.go:56-84).
        """
        if not text.strip():
            return []
        toks = self.annotate(text)
        sents_chars: list[tuple[int, int]] = []
        start = None
        for t in toks:
            if start is None:
                start = t.start
            if t.sentbreak:
                sents_chars.append((start, t.start + len(t.tok)))
                start = None
        if start is not None and toks:
            sents_chars.append((start, toks[-1].start + len(toks[-1].tok)))

        out = []
        byte_pos = 0
        char_pos = 0
        for cs, ce in sents_chars:
            if cs > char_pos:
                byte_pos += len(text[char_pos:cs].encode("utf-8"))
                char_pos = cs
            sent = text[cs:ce]
            b = len(sent.encode("utf-8"))
            out.append((sent, byte_pos, byte_pos + b))
            byte_pos += b
            char_pos = ce
        return out


_DEFAULT: PunktSegmenter | None = None


def default_segmenter() -> PunktSegmenter:
    global _DEFAULT
    if _DEFAULT is None:
        from prose_spark.artifacts import read_bytes

        d = json.loads(read_bytes("punkt_params.json"))
        _DEFAULT = PunktSegmenter(
            PunktParameters(
                abbrev_types=set(d["abbrev_types"]),
                sent_starters=set(d["sent_starters"]),
                ortho_context=d["ortho_context"],
                collocations=set(d["collocations"]),
            )
        )
    return _DEFAULT
