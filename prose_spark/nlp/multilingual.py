"""Multilingual helpers (SURVEY.md §2.H).

Behavioral spec: tsawler/prose multilingual.go — stop-word/char-evidence
language detection (:74-123), per-language normalization (:331-375), and
per-language stop-word sets (:214-328). Detection affects only metadata:
like the reference, the English tokenizer/tagger/NER run regardless, and
the KG layer gates triple extraction on lang='en'.
"""

from __future__ import annotations

import unicodedata

from prose_spark.operators.textstats import _detect_lang_one

SUPPORTED = ("en", "es", "fr", "de", "ja")

# Full per-language stop-word sets (multilingual.go:244-328). The
# reference's effective set is "whichever of these candidate words its
# external stopwords library filters"; we adopt the reference's own
# candidate lists as the deterministic, dependency-free sets (a superset
# of the library-filtered result); non-English sets carry only their
# language-specific words, since the library ignores the English base
# candidates under a non-en language code. The compact cores in
# textstats.STOPWORDS remain the language-ID scoring lists.
_EN_COMMON = frozenset("""
a an and are as at be been by for from has had have he her his how i in is
it its of on or she that the their them they this to was we were what when
where which who will with would you your about after all also am any back
because before being between both but can could did do does down each even
first get give go going good got here him himself if into just know last
like made make many may me might more most much must my never new no not
now off old only other our out over own said same see should since so some
still such take than then there these thing think those through time too
two under up upon us use used using very want way well went while why work
year years yet
""".split())

FULL_STOPWORDS: dict[str, frozenset[str]] = {
    "en": _EN_COMMON,
    "es": frozenset("""
el la los las un una unos unas y o pero que de en a por para con sin sobre
entre hacia hasta desde durante mediante ante bajo contra según tras es
está son están ser estar hay había fue era sido siendo yo tú él ella ello
nosotros vosotros ellos ellas mi tu su nuestro vuestro este esta estos
estas ese esa esos esas aquel aquella aquellos aquellas lo le les se me te
nos os como cuando donde porque si no sí más menos muy mucho poco todo
nada algo cada otro mismo tan tanto cual quien cuyo qué dónde
""".split()),
    "fr": frozenset("""
le la les un une des de du et à au aux en pour par avec sans sous sur dans
contre vers chez entre depuis pendant avant après devant derrière est sont
être avoir fait faire dit dire aller voir savoir pouvoir falloir vouloir
je tu il elle on nous vous ils elles mon ton son ma ta sa mes tes ses
notre votre leur nos vos leurs ce cette ces celui celle ceux celles ceci
cela ça que qui quoi dont où si ne pas plus moins très bien mal peu
beaucoup trop tout tous toute toutes quel quelle quels quelles même autre
aucun certain plusieurs tel chaque
""".split()),
    "de": frozenset("""
der die das den dem des ein eine einen einem einer eines und oder aber
doch sondern denn weil wenn als dass ob zu in an auf aus bei mit nach von
vor für über unter zwischen durch gegen ohne um bis seit während trotz
wegen ist sind war waren sein haben werden können müssen sollen wollen
mögen dürfen ich du er sie es wir ihr mein dein unser euer dieser diese
dieses jener jene jenes welcher welche welches man sich nicht kein keine
sehr schon noch nur auch wieder immer nie oft manchmal alle alles viel
wenig mehr weniger etwas nichts jemand niemand wo wann wie warum was wer
wen wem wessen
""".split()),
    "ja": frozenset("""
の は を に が と で て も から まで へ や か など ね よ わ さ これ それ あれ
この その あの ここ そこ あそこ こう そう ああ いる ある する なる れる られる
せる させる ない ます です だ である でも しかし また および または あるいは
なお ただし
""".split()),
}


def detect_language(text: str) -> tuple[str, float]:
    """-> (lang, confidence); short texts default to ('en', 0.5)
    (multilingual.go:74-123)."""
    return _detect_lang_one(text)


def stop_words(lang: str) -> frozenset[str]:
    """GetStopWords (multilingual.go:214-241) — full per-language set."""
    return FULL_STOPWORDS.get(lang, FULL_STOPWORDS["en"])


def is_stop_word(word: str, lang: str = "en") -> bool:
    return word.lower() in FULL_STOPWORDS.get(lang, FULL_STOPWORDS["en"])


# language-specific tokenization rules (multilingual.go:378-392)
_TOKENIZATION_RULES = {
    "de": ("der", "die", "das", "des", "dem", "den"),
    "fr": ("l'", "d'", "n'", "m'", "t'", "s'", "c'", "qu'"),
    "es": ("al", "del"),
}


def tokenization_rules(lang: str) -> tuple[str, ...]:
    """GetTokenizationRules (multilingual.go:378-392)."""
    return _TOKENIZATION_RULES.get(lang, ())


def is_supported(lang: str) -> bool:
    """IsMultilingualSupported (multilingual.go:441-449)."""
    return lang in SUPPORTED


def supported_languages() -> tuple[str, ...]:
    """GetSupportedLanguages (multilingual.go:452-454)."""
    return SUPPORTED


_DE_MAP = {"ß": "ss", "ä": "ae", "ö": "oe", "ü": "ue",
           "Ä": "Ae", "Ö": "Oe", "Ü": "Ue"}


def normalize_text(text: str, lang: str) -> str:
    """Language-aware normalization (multilingual.go:331-375):
    de: ß->ss, umlauts->digraphs; fr/es: strip accents; else unchanged."""
    if lang == "de":
        return "".join(_DE_MAP.get(ch, ch) for ch in text)
    if lang in ("fr", "es"):
        decomposed = unicodedata.normalize("NFD", text)
        return "".join(ch for ch in decomposed
                       if unicodedata.category(ch) != "Mn")
    return text
