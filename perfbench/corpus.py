"""Seeded, hermetic inputs for the three workloads.

Every input is built from three sources that live in the repository:

- ``sentences.json``: ~540 real English sentences, copied once from the
  sentence texts of ``tests/goldens/*.json`` (annotations, open-text
  triple golds, segmenter passages), so a later re-pin of those goldens
  cannot change the benchmark's inputs;
- ``prose_spark.sources.pages.TEMPLATES`` / ``PERSONS`` / ``ORGS`` /
  ``GPES``: the templated entity sentences the pipeline's gold is
  defined on;
- a seeded generated name space (syllable words), so name-heavy inputs
  keep producing surfaces the kernel's memos have not seen.

The same seed gives the same inputs. Materialized inputs are cached
under the work directory, keyed by seed and by a hash of this
generator and its sources; the program only ever receives the
generated parquet files or texts.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from prose_spark.sources import pages as pages_mod

POOL_PATH = Path(__file__).with_name("sentences.json")

_CONS = "b c d f g h k l m n p r s t v z br dr gr kr st tr".split()
_VOWELS = "a e i o u ai ea io".split()
ORG_SUFFIXES = ("Corp.", "Inc.", "Ltd.", "Group", "Industries", "Systems",
                "Holdings", "Labs")
# crawl pages: share of pages that are not English (the job drops them)
NON_EN_LANGS = ("es", "fr", "de", "ja")

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def load_pool() -> list[str]:
    return json.loads(POOL_PATH.read_text())


def generator_hash() -> str:
    """Hash of everything the generated inputs depend on."""
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    h.update(POOL_PATH.read_bytes())
    h.update(repr((pages_mod.TEMPLATES, pages_mod.PERSONS, pages_mod.ORGS,
                   pages_mod.GPES)).encode())
    return h.hexdigest()[:12]


def _word(rng: random.Random, n_syll: int) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOWELS)
                   for _ in range(n_syll)).capitalize()


def _surface(value: str) -> str:
    """Entity surface as the tokenizer renders it (the sentence-final
    period peeled, abbreviation periods kept) — the gold's convention."""
    from prose_spark.nlp.tokenizer import tokenize

    toks = tokenize(value)
    if toks and toks[-1] == ".":
        toks = toks[:-1]
    return " ".join(toks)


def _fill(rng: random.Random, slots: dict) -> tuple[str, tuple]:
    """One templated sentence from pages.TEMPLATES and its gold triple
    (subject surface, predicate, object surface)."""
    tmpl, subj, pred, obj = pages_mod.TEMPLATES[
        rng.randrange(len(pages_mod.TEMPLATES))]
    sent = tmpl.format(**slots)
    if sent.endswith(".."):  # slot already period-final ("Corp.")
        sent = sent[:-1]
    return sent, (_surface(slots[subj]), pred, _surface(slots[obj]))


def _page_text(rng, pool, n_sents, template_prob, draw_slots):
    """Pool sentences mixed with templated ones; two templated
    sentences are never adjacent (an abbreviation-final org followed by
    a name is ambiguous to segment)."""
    sents, gold, prev = [], [], False
    for _ in range(n_sents):
        if not prev and rng.random() < template_prob:
            sent, g = _fill(rng, draw_slots())
            sents.append(sent)
            gold.append(g)
            prev = True
        else:
            sents.append(pool[rng.randrange(len(pool))])
            prev = False
    return " ".join(sents), gold


def doc_api_docs(seed: int, n_docs: int) -> list[str]:
    """Pages of 4-12 sentences, ~50% templated, whose persons and orgs
    are drawn from a large generated name space."""
    rng = random.Random(f"doc_api/{seed}")
    pool = load_pool()

    def slots():
        return {
            "p": f"{_word(rng, 2)} {_word(rng, rng.choice((2, 3)))}",
            "o": f"{_word(rng, 2)} {rng.choice(ORG_SUFFIXES)}",
            "o2": f"{_word(rng, 3)} {rng.choice(ORG_SUFFIXES)}",
            "g": pages_mod.GPES[rng.randrange(len(pages_mod.GPES))],
            "y": str(rng.randint(1980, 2024)),
        }

    return [_page_text(rng, pool, rng.randint(4, 12), 0.5, slots)[0]
            for _ in range(n_docs)]


def _page_row(rng, i: int, prefix: str, text: str, lang: str) -> dict:
    url = f"https://{prefix}{i % 97}.example/{rng.getrandbits(64):016x}/{i}"
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        minutes=17 * i)
    return {"url": url, "warc_ts": ts,
            "html": b"<html><body>" + text.encode() + b"</body></html>",
            "text": text, "lang": lang}


def crawl_pages(seed: int, n_pages: int) -> tuple[list[dict], list[tuple]]:
    """Crawl-like pages: 5-40 pool sentences each, 35% templated from
    the fixed PERSONS/ORGS/GPES lists; ~30% of pages are not English.
    Returns (rows, gold) with gold = (url, subj, pred, obj) for the
    English pages' templated sentences."""
    rng = random.Random(f"crawl_batch/{seed}")
    pool = load_pool()

    def slots():
        return {
            "p": rng.choice(pages_mod.PERSONS),
            "o": rng.choice(pages_mod.ORGS),
            "o2": rng.choice(pages_mod.ORGS),
            "g": rng.choice(pages_mod.GPES),
            "y": str(rng.randint(1980, 2024)),
        }

    rows, gold = [], []
    for i in range(n_pages):
        lang = ("en" if rng.random() >= 0.3
                else NON_EN_LANGS[rng.randrange(len(NON_EN_LANGS))])
        text, g = _page_text(rng, pool, rng.randint(5, 40),
                             0.35 if lang == "en" else 0.0, slots)
        row = _page_row(rng, i, "site", text, lang)
        rows.append(row)
        gold.extend((row["url"],) + t for t in g)
    return rows, gold


def _typo(rng: random.Random, word: str) -> str:
    i = rng.randrange(1, len(word) - 2)
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


def _families(rng: random.Random, n: int) -> tuple[list, list]:
    """Surface-variant families: every org family has four spellings
    ("Kalvora Dynamics Corporation" / "... Corp." / "KALVORA DYNAMICS
    corp" / a letter-swap typo), every person family three."""
    orgs, persons = [], []
    for _ in range(n):
        a, b = _word(rng, 3), _word(rng, 3)
        orgs.append((f"{a} {b} Corporation", f"{a} {b} Corp.",
                     f"{a.upper()} {b.upper()} corp",
                     f"{_typo(rng, a)} {b} Corporation"))
        f, last = _word(rng, 2), _word(rng, 3)
        persons.append((f"{f} {last}", f"{f.upper()} {last.upper()}",
                        f"{f} {_typo(rng, last)}"))
    return orgs, persons


def increment_pages(seed: int, n_increments: int, pages_per_increment: int,
                    n_families: int = 150) -> list[list[dict]]:
    """Small page increments of 1-3 templated sentences each; names
    come from surface-variant families, so canonicalization has
    near-duplicate forms to merge."""
    rng = random.Random(f"entity_increments/{seed}")
    orgs, persons = _families(rng, n_families)

    def slots():
        return {
            "p": rng.choice(rng.choice(persons)),
            "o": rng.choice(rng.choice(orgs)),
            "o2": rng.choice(rng.choice(orgs)),
            "g": rng.choice(pages_mod.GPES),
            "y": str(rng.randint(1980, 2024)),
        }

    out, i = [], 0
    for _ in range(n_increments):
        inc = []
        for _ in range(pages_per_increment):
            text = " ".join(_fill(rng, slots())[0]
                            for _ in range(rng.randint(1, 3)))
            inc.append(_page_row(rng, i, "news", text, "en"))
            i += 1
        out.append(inc)
    return out


def write_pages(rows: list[dict], path: Path) -> None:
    """Write page rows as one parquet file, atomically."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW), tmp)
    tmp.replace(path)


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path, columns=["url", "text", "lang"]).to_pylist()


def count_english(path: str) -> int:
    return sum(1 for r in read_rows(path) if r["lang"] == "en")


def cached(work: Path, name: str, seed: int, build) -> Path:
    """Directory holding the inputs ``build(dir)`` writes for (name,
    seed); built once per seed and generator hash."""
    d = work / "corpus" / f"{name}-s{seed}-{generator_hash()}"
    done = d / "_COMPLETE"
    if not done.exists():
        d.mkdir(parents=True, exist_ok=True)
        build(d)
        done.write_text("ok\n")
    return d
