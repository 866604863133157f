"""HTML -> text extraction for the pages corpus.

The input table carries both ``html:binary`` and ``text:string``
(BASELINE.json input_hint); when only html is present the pipeline derives
text with this operator. The per-row invariant — byte-identical extracted
text per url — is enforced by tests against the synthetic corpus (whose
html wraps the text verbatim).

Implementation is a vectorized pandas UDF (regex tag strip + entity
unescape via html.unescape, per Arrow batch); script/style blocks are
removed whole. For boilerplate-heavy real crawl HTML a production system
would add readability-style block scoring — out of scope for parity.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCRIPT_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.I | re.S
)
_TAG_RE = re.compile(rb"<[^>]+>")
_BLOCK_TAG_RE = re.compile(
    rb"</?(p|div|br|li|tr|h[1-6]|table|ul|ol|section|article)\b[^>]*>", re.I
)


def extract_text(blob: bytes) -> str:
    """Strip tags from an HTML byte blob -> text (UTF-8, lossy decode)."""
    if blob is None:
        return ""
    b = _SCRIPT_RE.sub(b" ", bytes(blob))
    # block-level tags imply separation; inline tags vanish entirely so a
    # minimal wrapper (<html><body>...</body></html>) reproduces the body
    # byte-identically
    b = _BLOCK_TAG_RE.sub(b"\n", b)
    b = _TAG_RE.sub(b"", b)
    text = b.decode("utf-8", "replace")
    text = _html.unescape(text)
    return text.strip()


@F.pandas_udf(T.StringType())
def html_to_text(blobs: pd.Series) -> pd.Series:
    return blobs.map(extract_text)
