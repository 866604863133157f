"""Deterministic synthetic Common-Crawl-style pages corpus.

Schema per BASELINE.json input_hint:
    pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generated byte-reproducibly (seed=42, no external data) from:
1. fixture sentences (treebank_sents.json, article.txt chunks);
2. templated entity sentences "{PERSON} founded {ORG} in {GPE} in {YEAR}."
   drawn from fixed name lists — these guarantee a known set of
   extractable (subj, pred, obj) triples per url for P/R scoring
   (FIXTURES.md B1).

At test scale this materializes as parquet; the production path reads the
same schema from an Iceberg table (spark.read.format("iceberg")) with
partition pruning on days(warc_ts) — the loader falls back to parquet when
the Iceberg runtime jars are absent (they are not in this image).
"""

from __future__ import annotations

import datetime as dt
import json
import random
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from prose_spark.schemas import PAGES_SCHEMA
from prose_spark.session import iceberg_on_classpath

REF_TESTDATA = Path("/root/reference/testdata")

PERSONS = [
    "Alice Johnson", "Robert Chen", "Maria Garcia", "David Smith",
    "Elena Petrova", "James Wilson", "Linda Brown", "Omar Hassan",
    "Grace Lee", "Paul Martin", "Nina Rossi", "Victor Hugo",
]
ORGS = [
    "Acme Corp.", "Globex Inc.", "Initech Ltd.", "Umbrella Group",
    "Stark Industries", "Wayne Enterprises", "Cyberdyne Systems",
    "Tyrell Corp.", "Wonka Industries", "Soylent Corp.",
]
GPES = [
    "Boston", "Chicago", "London", "Paris", "Berlin", "Madrid", "Toronto",
    "Sydney", "Dublin", "Vienna", "Geneva", "Oslo",
]
# (template, subj slot, pred surface, obj slot); slots: p/o/o2/g/r
TEMPLATES = [
    ("{p} founded {o} in {g} in {y}.", "p", "founded", "o"),
    ("{p} joined {o} in {y}.", "p", "joined", "o"),
    ("{p} visited {g} in {y}.", "p", "visited", "g"),
    ("{p} manages {o}.", "p", "manages", "o"),
    ("{o} acquired {o2} in {y}.", "o", "acquired", "o2"),
    ("{g} hosted {p} in {y}.", "g", "hosted", "p"),
]

ROLES = ["founder", "director", "president", "analyst", "manager",
         "advisor"]

# richer template format: (template, [(subj_slot, pred, obj_slot), ...])
# — a sentence may carry SEVERAL gold triples (appositive + main verb).
# TEMPLATES_V2 adds copular ("X is the R of Y") and appositive
# ("X, the R of Y, <verb> ...") constructions on top of the original
# six; used by the extended precision/recall suite. The DEFAULT corpus
# stays on TEMPLATES so pinned goldens and bench inputs are unchanged.
TEMPLATES_V2 = [(t, [(s, p, o)]) for t, s, p, o in TEMPLATES] + [
    ("{p} is the {r} of {o}.", [("p", "is", "r")]),
    ("{p}, the {r} of {o}, founded {o2} in {y}.",
     [("p", "is", "r"), ("p", "founded", "o2")]),
    ("{g}, the busiest hub of the region, hosted {p} in {y}.",
     [("g", "is", "busiest hub"), ("g", "hosted", "p")]),
]
LANGS = ["en"] * 70 + ["es"] * 10 + ["fr"] * 8 + ["de"] * 8 + ["ja"] * 4

_NS = uuid.UUID("6ba7b810-9dad-11d1-80b4-00c04fd430c8")


def _token_surface(value: str) -> str:
    """Entity surface as the PTB tokenizer renders it (trailing sentence
    period peeled, abbreviation periods kept)."""
    from prose_spark.nlp.tokenizer import tokenize

    toks = tokenize(value)
    if toks and toks[-1] == ".":
        toks = toks[:-1]
    return " ".join(toks)


def _fixture_sentences() -> list[str]:
    sents = json.loads((REF_TESTDATA / "treebank_sents.json").read_text())
    art = (REF_TESTDATA / "article.txt").read_text()
    art_sents = [s.strip() + "." for s in art.split(".") if len(s.strip()) > 20]
    return sents + art_sents[:50]


def generate_pages_rows(n_docs: int, seed: int = 42,
                        sentences_per_doc: tuple[int, int] = (5, 40),
                        templates=None, template_prob: float = 0.35):
    """Yield (url, warc_ts, html, text, lang, gold_triples) rows.

    gold_triples: list of (subj, pred, obj) surface triples from the
    templated sentences — the P/R oracle for the KG layer.

    ``templates``: TEMPLATES (default — keeps pinned goldens stable) or
    TEMPLATES_V2 (adds copular/appositive constructions; a sentence may
    carry several golds). ``template_prob=1.0`` with
    ``sentences_per_doc=(1, 1)`` builds a templated-only corpus where
    precision against the gold is meaningful, not just a floor.
    """
    if templates is None:
        templates = TEMPLATES
    # normalize the legacy 4-tuple format to (template, [gold specs])
    templates = [
        (t[0], t[1]) if len(t) == 2 else (t[0], [(t[1], t[2], t[3])])
        for t in templates
    ]
    fixture = _fixture_sentences()
    rng = random.Random(seed)
    base_ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(n_docs):
        url = f"https://site{i % 1000}.example/{uuid.uuid5(_NS, str(i)).hex}"
        ts = base_ts + dt.timedelta(minutes=17 * i % 525600)
        lang = LANGS[rng.randrange(len(LANGS))]
        n_sents = rng.randint(*sentences_per_doc)
        sents: list[str] = []
        gold: list[tuple[str, str, str]] = []
        prev_template = False
        for _ in range(n_sents):
            # never place two templated entity sentences back-to-back: an
            # abbreviation-final org ("... Ltd.") followed by a name is
            # inherently ambiguous to segment and would make the gold
            # unreachable for any extractor
            if (lang == "en" and not prev_template
                    and rng.random() < template_prob):
                prev_template = True
                tmpl, gold_specs = templates[rng.randrange(len(templates))]
                slots = {
                    "p": PERSONS[rng.randrange(len(PERSONS))],
                    "o": ORGS[rng.randrange(len(ORGS))],
                    "o2": ORGS[rng.randrange(len(ORGS))],
                    "g": GPES[rng.randrange(len(GPES))],
                    "y": str(rng.randint(1980, 2024)),
                }
                if "{r}" in tmpl:
                    # drawn lazily so the default-template rng sequence
                    # (and thus every pinned golden) is unchanged
                    slots["r"] = ROLES[rng.randrange(len(ROLES))]
                sent = tmpl.format(**slots)
                if sent.endswith(".."):  # slot already period-final ("Corp.")
                    sent = sent[:-1]
                sents.append(sent)
                # gold surfaces are tokenized forms (the PTB tokenizer
                # peels the period off "Corp." but keeps it on abbrevs
                # like "Ltd." / "Inc."); a spec slot that is not a slot
                # key is a literal surface (e.g. "busiest hub")
                for subj_slot, pred, obj_slot in gold_specs:
                    gold.append(
                        (_token_surface(slots.get(subj_slot, subj_slot)),
                         pred,
                         _token_surface(slots.get(obj_slot, obj_slot)))
                    )
            else:
                prev_template = False
                sents.append(fixture[rng.randrange(len(fixture))])
        text = " ".join(sents)
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        yield url, ts, html, text, lang, gold


def build_pages_df(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    rows = [
        (url, ts, html, text, lang)
        for url, ts, html, text, lang, _ in generate_pages_rows(n_docs, seed)
    ]
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def write_pages_parquet(spark: SparkSession, path: str, n_docs: int,
                        seed: int = 42) -> None:
    df = build_pages_df(spark, n_docs, seed)
    df.write.mode("overwrite").parquet(path)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Production shape: Iceberg table with partition pruning when the
    Iceberg runtime is on the classpath (its errors propagate); parquet
    otherwise."""
    if iceberg_on_classpath(spark):
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)
