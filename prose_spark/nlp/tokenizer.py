"""Penn-Treebank-style word tokenizer with byte-offset tracking.

Behavioral spec: tsawler/prose tokenize.go (iterTokenizer,
tokenize.go:96-291) — NOT a code port; re-derived from its observable
semantics and golden tests (tokenize_test.go:75-209, treebank_words.json).

Key semantics replicated exactly:

- Sanitizer first: curly quotes / ``&rsquo;`` -> ASCII (tokenize.go:294-299).
  Token offsets are BYTE offsets into the *sanitized* text (the curly-quote
  replacement changes byte length).
- Text is split into maximal non-whitespace runs (Unicode whitespace), each
  run ("span") is split by an iterative peel loop:
    * special tokens (emoticons, the internal abbrev regex
      ``^(?:[A-Za-z]\\.){2,}$|^[A-Z][a-z]{1,2}\\.$``, user hook) are kept whole;
    * a single leading prefix byte of ``$ ( " [`` is peeled per iteration;
    * the first occurrence (byte index in the ASCII-lowercased span) of a
      split-case/contraction (``'ll 's 're 'm n't`` by default) splits the
      span — the head is emitted, the tail re-enters the loop;
    * a single trailing suffix byte of ``, ) " ] ! ; . ? : '`` is peeled per
      iteration onto a suffix stack emitted (in original byte order) after
      the main token;
    * the guards are *strictly longer than* the prefix/suffix/split pattern,
      so a bare ``.`` is never stripped;
    * otherwise the remainder is emitted and the loop ends.
- Empty-after-strip emissions are dropped (whitespace-only spans yield no
  tokens); the loop also exits when an iteration leaves the span unchanged
  (rune-count guard in the reference).
- Per-call memo of span -> relative token list (tokenize.go:243,257-271):
  a repeated span costs one dict hit. Emitted-token byte lengths always
  tile the consumed part of the span, so memoized relative offsets equal
  the direct computation (verified in tests against the direct path).

All offset arithmetic is in UTF-8 BYTES (Go string semantics), not code
points.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# --- defaults (tokenize.go:293-302) ---------------------------------------

INTERNAL_RE = re.compile(rb"^(?:[A-Za-z]\.){2,}$|^[A-Z][a-z]{1,2}\.$")

CONTRACTIONS = ("'ll", "'s", "'re", "'m", "n't")
SUFFIXES = (",", ")", '"', "]", "!", ";", ".", "?", ":", "'")
PREFIXES = ("$", "(", '"', "[")

EMOTICONS = frozenset(
    [
        "(-8", "(-;", "(-_-)", "(._.)", "(:", "(=", "(o:", "(¬_¬)", "(ಠ_ಠ)",
        "(╯°□°）╯︵┻━┻", "-__-", "8-)", "8-D", "8D", ":(", ":((", ":(((",
        ":()", ":)))", ":-)", ":-))", ":-)))", ":-*", ":-/", ":-X", ":-]",
        ":-o", ":-p", ":-x", ":-|", ":-}", ":0", ":3", ":P", ":]", ":`(",
        ":`)", ":`-(", ":o", ":o)", "=(", "=)", "=D", "=|", "@_@", "O.o",
        "O_o", "V_V", "XDD", "[-:", "^___^", "o_0", "o_O", "o_o", "v_v",
        "xD", "xDD", "¯\\(ツ)/¯",
    ]
)
EMOTICONS_B = frozenset(e.encode("utf-8") for e in EMOTICONS)

_SPAN_RE = re.compile(r"\S+")  # Unicode non-whitespace runs

_SANITIZE_RE = re.compile("[“”‘’]|&rsquo;")
_SANITIZE_MAP = {
    "“": '"',
    "”": '"',
    "‘": "'",
    "’": "'",
    "&rsquo;": "'",
}


def sanitize(text: str) -> str:
    """Replace curly quotes and ``&rsquo;`` with ASCII equivalents."""
    return _SANITIZE_RE.sub(lambda m: _SANITIZE_MAP[m.group(0)], text)


@dataclass
class IterTokenizer:
    """Configurable PTB-style tokenizer (options per tokenize.go:30-117)."""

    contractions: tuple[str, ...] = CONTRACTIONS
    split_cases: tuple[str, ...] = ()
    suffixes: tuple[str, ...] = SUFFIXES
    prefixes: tuple[str, ...] = PREFIXES
    emoticons: frozenset[bytes] = EMOTICONS_B
    special_re: re.Pattern = INTERNAL_RE
    is_unsplittable: object = None  # callable bytes -> bool, or None

    _split_all: tuple[bytes, ...] = field(init=False, repr=False)
    _prefixes_b: tuple[bytes, ...] = field(init=False, repr=False)
    _suffixes_b: tuple[bytes, ...] = field(init=False, repr=False)

    def __post_init__(self):
        # split order: custom splitCases first, then contractions
        # (tokenize.go:114)
        self._split_all = tuple(
            s.encode("utf-8") for s in (*self.split_cases, *self.contractions)
        )
        self._prefixes_b = tuple(p.encode("utf-8") for p in self.prefixes)
        self._suffixes_b = tuple(s.encode("utf-8") for s in self.suffixes)

    # -- span splitting (doSplitWithOffsets, tokenize.go:182-227) ----------

    def _is_special(self, tok: bytes) -> bool:
        if tok in self.emoticons:
            return True
        if self.special_re.match(tok):
            return True
        if self.is_unsplittable is not None and self.is_unsplittable(tok):
            return True
        return False

    def _do_split(self, span: bytes) -> list[tuple[bytes, int]]:
        """Split one non-space span -> [(token_bytes, rel_byte_start)]."""
        tokens: list[tuple[bytes, int]] = []
        suffs: list[tuple[bytes, int]] = []
        tok = span
        off = 0
        prev_len = -1
        while tok and len(tok) != prev_len:
            if self._is_special(tok):
                if tok.strip():
                    tokens.append((tok, off))
                break
            prev_len = len(tok)
            lower = tok.lower()  # ASCII-lower on bytes; patterns are ASCII
            if self._has_any_prefix(tok):
                tokens.append((tok[:1], off))
                tok = tok[1:]
                off += 1
            else:
                idx, patlen = self._split_index(lower, len(tok))
                if idx == 0:
                    # pattern at position 0 with a longer remainder: the
                    # head is empty, so splitting BEFORE it would stall
                    # (and the Go loop-guard would silently drop the
                    # span) — emit the pattern itself and continue with
                    # the tail. Only reachable via custom split_cases
                    # ("--"); contractions never match here.
                    tokens.append((tok[:patlen], off))
                    off += patlen
                    tok = tok[patlen:]
                elif idx > 0:
                    head = tok[:idx]
                    if head.strip():
                        tokens.append((head, off))
                    off += idx
                    tok = tok[idx:]
                elif self._has_any_suffix(tok):
                    suffs.insert(0, (tok[-1:], off + len(tok) - 1))
                    tok = tok[:-1]
                else:
                    if tok.strip():
                        tokens.append((tok, off))
                    break
        tokens.extend(suffs)
        return tokens

    def _has_any_prefix(self, tok: bytes) -> bool:
        n = len(tok)
        for p in self._prefixes_b:
            if n > len(p) and tok.startswith(p):
                return True
        return False

    def _has_any_suffix(self, tok: bytes) -> bool:
        n = len(tok)
        for s in self._suffixes_b:
            if n > len(s) and tok.endswith(s):
                return True
        return False

    def _split_index(self, lower: bytes, n: int) -> tuple[int, int]:
        # first pattern (in configured order) found anywhere, provided the
        # token is strictly longer than the pattern (utilities.go:73-82);
        # returns (index, pattern_length)
        for pat in self._split_all:
            idx = lower.find(pat)
            if idx >= 0 and n > len(pat):
                return idx, len(pat)
        return -1, 0

    # -- whole-text tokenization (TokenizeWithOffsets) ---------------------

    _CACHE_CAP = 500_000

    def tokenize(self, text: str) -> list[tuple[str, int, int]]:
        """Tokenize sanitized text -> [(token, byte_start, byte_end)].

        Offsets index the UTF-8 bytes of ``sanitize(text)``. The span memo
        is instance-level (cross-document): span -> relative tokens is a
        pure function, so this strictly generalizes the reference's
        per-document cache (tokenize.go:243).
        """
        clean = sanitize(text)
        out: list[tuple[str, int, int]] = []
        try:
            cache = self._cache
        except AttributeError:
            cache = self._cache = {}
        if len(cache) > self._CACHE_CAP:
            cache.clear()
        byte_pos = 0  # byte offset of char index `char_pos`
        char_pos = 0
        ascii_text = clean.isascii()
        # cache value: (span_byte_len, ((tok_str, rel, tok_byte_len), ...))
        # — decoded ONCE on miss, so a cache hit does zero encode/decode
        # work (the hot path: span vocabulary is tiny vs token volume)
        for m in _SPAN_RE.finditer(clean):
            cs, ce = m.span()
            span_s = clean[cs:ce]
            entry = cache.get(span_s)
            if entry is None:
                span_b = span_s.encode("utf-8")
                toks = tuple(
                    (tb.decode("utf-8"), rel, len(tb))
                    for tb, rel in self._do_split(span_b)
                )
                entry = (len(span_b), toks)
                cache[span_s] = entry
            if ascii_text:
                base = cs
            else:
                if cs > char_pos:
                    gap = clean[char_pos:cs]
                    byte_pos += (len(gap) if gap.isascii()
                                 else len(gap.encode("utf-8")))
                char_pos = ce
                base = byte_pos
                byte_pos += entry[0]
            for ts, rel, blen in entry[1]:
                start = base + rel
                out.append((ts, start, start + blen))
        return out


# Default config adds "--" as a split case via the reference's own
# UsingSplitCases option surface (tokenize.go:81-84): PTB separates the
# em-dash from its neighbors ("pause--and" -> pause / -- / and) and tags
# it ":"; the reference's zero-split-case default glues it, which welds
# two NPs into one token and costs triple recall on narrative web text.
# r7: "'ve" and "'d" join it — the reference's contraction list
# (tokenize.go:300) has 'll/'s/'re/'m/n't but not these two, so "I've"
# survives as one OOV token and the tagger guesses NNP; PTB splits
# both, and neither appears in the treebank_words/tokenize.json parity
# fixtures (verified), so exact-match parity is unaffected.
_DEFAULT = IterTokenizer(split_cases=("--", "'ve", "'d"))


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """Default-config tokenization -> [(token_text, byte_start, byte_end)]."""
    return _DEFAULT.tokenize(text)


def tokenize(text: str) -> list[str]:
    """Token texts only."""
    return [t for t, _, _ in _DEFAULT.tokenize(text)]
