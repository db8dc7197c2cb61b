"""Text extraction + tokenization.

The reference's per-row document assembly (`modules/handlers/v1/
commonhandler.py:328-347`) is row-at-a-time Python; here the whole text
pipeline is vectorized:

* ``extract_text`` — Arrow-batched pandas UDF, a *pure function of the
  html bytes* (no locale/env dependence), so extracted text is
  byte-identical per url across runs and cluster sizes (the
  BASELINE.json input_hint invariant). Locked by golden SHA-256 tests.
* ``tokenize_col`` — JVM-side expression (lower + regexp split + filter),
  which keeps tokenization inside whole-stage codegen; no Python worker
  is involved on the hot path.
* ``py_tokenize`` — the same contract in pure Python, shared by the
  oracle so engine and oracle can never drift.

Tokenizer contract (FIXTURES.md §4): NFC normalize → lowercase → split on
``[^0-9a-z]+`` → drop empties. For ASCII corpora NFC is the identity and
JVM ``lower`` agrees with Python ``str.lower``; ``tokenize_udf`` is the
pandas-UDF variant that applies true NFC for non-ASCII corpora.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from mee_spark.config import TOKEN_SPLIT_PATTERN

_TOKEN_RE = re.compile(TOKEN_SPLIT_PATTERN)
# Fixture html shape (FIXTURES.md §1): the body text lives in the single
# <p>...</p> element. DOTALL because text may contain no newlines but be safe.
_BODY_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def extract_text_bytes(html: bytes) -> str:
    """Pure function: html bytes -> extracted body text (str).

    Byte-identical per input: output depends only on ``html``.
    """
    if html is None:
        return ""
    m = _BODY_RE.search(html)
    if m is None:
        return ""
    return m.group(1).decode("utf-8", errors="strict")


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Vectorized html -> text extraction (Arrow batches)."""
    return html.map(extract_text_bytes)


def py_tokenize(text: str) -> list[str]:
    """Reference tokenizer: NFC → lower → split [^0-9a-z]+ → drop empty."""
    if text is None:
        return []
    norm = unicodedata.normalize("NFC", text).lower()
    return [t for t in _TOKEN_RE.split(norm) if t]


def tokenize_col(col: Column) -> Column:
    """JVM-side tokenizer expression returning array<string>: the one
    tokenizer of the build and the query path.

    Stays inside whole-stage codegen — the fast path for ASCII corpora
    (NFC is a no-op). Matches ``py_tokenize`` output exactly for ASCII.
    ``array_remove`` drops the empty strings ``split`` leaves, with no
    Python lambda for PySpark to build over py4j on every query call.
    """
    return F.array_remove(F.split(F.lower(col), TOKEN_SPLIT_PATTERN), "")


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(text: pd.Series) -> pd.Series:
    """Pandas-UDF tokenizer with true NFC normalization (non-ASCII path)."""
    return text.map(py_tokenize)
