"""Byte-identical text extraction kernel (SURVEY.md §7.1 step 2).

Contract (BASELINE.json input_hint): given a web-page row, produce extracted
text that is byte-identical per url across runs and parallelism levels.
When ``text`` is already populated the kernel is the identity; when only
``html`` bytes are present we run a fixed, versioned normalization:

  1. decode UTF-8 (errors='replace' — deterministic replacement char),
  2. strip tags with a single fixed regex pass (script/style bodies first),
  3. collapse [\\n\\t] to spaces (reference scrub, scibite_cord.py:157),
  4. NFC-normalize (locale-independent).

No wall-clock, no locale, no environment dependence → determinism holds at
any parallelism, which the tests assert by hashing per-url output under
local[8] vs local[32].
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_SCRIPT_RE = re.compile(rb"(?is)<(script|style)\b.*?</\1>")
_TAG_RE = re.compile(rb"(?s)<[^>]*>")
_WS_RE = re.compile(r"[\n\t]")


def _extract_one(html: bytes | None) -> str | None:
    if html is None:
        return None
    stripped = _TAG_RE.sub(b" ", _SCRIPT_RE.sub(b" ", html))
    s = stripped.decode("utf-8", errors="replace")
    s = _WS_RE.sub(" ", s)
    return unicodedata.normalize("NFC", s)


@F.pandas_udf(StringType())
def extract_html_text(html: pd.Series) -> pd.Series:
    """Arrow-vectorized html→text. Series of bytes in, Series of str out."""
    return html.map(_extract_one)


def extracted_text(text: Column, html: Column) -> Column:
    """The full kernel: identity on pre-extracted text, else html extraction.

    Note the UDF node is evaluated for every batch (ArrowEvalPython is a
    projection, not lazily branched), but null html bytes cost only the
    null-bitmap transfer — the common all-text case stays cheap, and the
    html column is column-pruned from the scan when the caller never passes
    a non-null html column.
    """
    return F.coalesce(text, extract_html_text(html))
