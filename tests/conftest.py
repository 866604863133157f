import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# the reference checkout (tsawler/prose testdata and model files), by
# default a reference/ directory beside this repo; it is not part of the
# repo, so tests that read it skip when it is absent
REFERENCE_DIR = Path(os.environ.get(
    "PROSE_REFERENCE_DIR",
    Path(__file__).resolve().parent.parent.parent / "reference"))


def requires_reference(*rel_paths: str):
    """skipif marker for a test that reads these files under
    REFERENCE_DIR."""
    missing = [p for p in rel_paths if not (REFERENCE_DIR / p).is_file()]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"reads reference files absent under {REFERENCE_DIR} "
               f"(set PROSE_REFERENCE_DIR): {', '.join(missing)}")


@pytest.fixture(scope="session")
def spark():
    from prose_spark.session import get_spark

    # bounded heap: the session default (24g) is more than a small host
    # has, and a JVM that grows its heap lazily towards it over a long
    # test session gets killed by the kernel's OOM killer
    s = get_spark(app_name="pytest", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory":
                              os.environ.get("SPARK_DRIVER_MEMORY", "4g")})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_df(spark):
    from prose_spark.sources.pages import build_pages_df

    return build_pages_df(spark, 120).cache()


GOLDENS = Path(__file__).resolve().parent / "goldens"


def _variant(rng, name: str) -> str:
    """A surface variant of an entity name: as is, a case change, a
    dropped or doubled letter, or a swapped pair in its last word — the
    near-duplicates canonicalization has to cluster."""
    head, _, last = name.rpartition(" ")
    kind = rng.randrange(5)
    i = rng.randrange(1, max(len(last) - 2, 2))
    if kind == 1:
        last = last.upper()
    elif kind == 2:
        last = last[:i] + last[i + 1:]
    elif kind == 3:
        last = last[:i] + last[i] + last[i:]
    elif kind == 4:
        last = last[:i] + last[i + 1] + last[i] + last[i + 2:]
    return f"{head} {last}".strip()


def kg_pages_rows(n_docs: int = 48, seed: int = 5) -> list[tuple]:
    """Hermetic English pages for the canonicalization contract tests:
    sentence texts from tests/goldens mixed with pages.TEMPLATES filled
    from PERSONS/ORGS/GPES in surface variants, so near-duplicate
    clusters form, grow and re-pick across increments."""
    import datetime as dt
    import json
    import random

    from prose_spark.sources.pages import GPES, ORGS, PERSONS, TEMPLATES

    ann = json.loads((GOLDENS / "golden_annotations.json").read_text())
    filler = sorted({s["text"] for d in ann for s in d["sentences"]})
    rng = random.Random(seed)
    ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(n_docs):
        sents = []
        for _ in range(rng.randint(3, 7)):
            if rng.random() < 0.5:
                sents.append(filler[rng.randrange(len(filler))])
                continue
            tmpl = TEMPLATES[rng.randrange(len(TEMPLATES))][0]
            sent = tmpl.format(
                p=_variant(rng, PERSONS[rng.randrange(len(PERSONS))]),
                o=_variant(rng, ORGS[rng.randrange(len(ORGS))]),
                o2=_variant(rng, ORGS[rng.randrange(len(ORGS))]),
                g=GPES[rng.randrange(len(GPES))],
                y=str(rng.randint(1980, 2024)),
            )
            sents.append(sent[:-1] if sent.endswith("..") else sent)
        text = " ".join(sents)
        rows.append((f"https://kg{i % 7}.example/{i}", ts, text.encode(),
                     text, "en"))
    return rows


@pytest.fixture(scope="session")
def kg_pages_df(spark):
    from prose_spark.schemas import PAGES_SCHEMA

    return spark.createDataFrame(kg_pages_rows(), PAGES_SCHEMA).cache()
