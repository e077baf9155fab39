"""Unicode text normalization for corpus hygiene.

Web text mixes precomposed and decomposed codepoint sequences for the
same visible string ('é' as U+00E9 vs 'e'+U+0301), plus stray C0/C1
control characters from broken encoders. Dedup, shingling and
tokenization all key on raw bytes, so two visually identical documents
in different normal forms silently evade every content-hash operator
in this engine — the standard fix is an NFC pass (plus a control-char
scrub) BEFORE any fingerprinting stage.

Engine mapping:

- :func:`nfc_normalize_col` — Arrow-batched ``pandas_udf``
  (``Series.str.normalize``, i.e. CPython's ``unicodedata`` tables).
  Spark has no built-in normalizer expression, so this is one of the
  few sanctioned Python hot-path operators (batched, columnar, NULL
  passthrough — never per-row Python in Spark's row-UDF sense).
  Cross-engine determinism note: Unicode's normalization *stability
  policy* guarantees NFC output never changes for assigned codepoints,
  so CPython's tables and DuckDB's utf8proc (the oracle twin,
  ``nfc_normalize``) agree everywhere except codepoints unassigned in
  one of the two library versions — the same residual class as the
  grapheme engine (see ``spec/jsonvalue.py``).
- :func:`scrub_control_chars` — pure Catalyst ``translate`` (whole-stage
  codegen, no Python): drops C0 controls except tab/newline/CR, plus
  DEL. The equivalent ``_CONTROL_CLASS`` regex lives in the Java∩RE2
  dialect subset (like ``operators/pii.py``) so DuckDB replays the SAME
  scrub verbatim as ``regexp_replace`` — the two forms delete exactly
  the same code points.

Scale: both are embarrassingly parallel per-row transforms — zero
shuffle; the UDF cost is one Arrow round-trip over the text column
only (project before calling if the row is wide).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from sparkschema._worker import on_load

# C0 controls minus \t \n \r, plus DEL. Java∩RE2: \x escapes and
# explicit ranges only — no character-class shorthands that diverge.
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
# The SAME set as an explicit character string (for F.translate, which
# deletes exactly these code points — bit-identical to the regex
# replace, ~20% cheaper per row on the 20M-caption bench table and used
# on every caption/scrub hot path). Derived here, beside the class, so
# the two can never drift apart.
_CONTROL_CHARS = "".join(
    chr(c) for c in (*range(0x00, 0x09), 0x0B, 0x0C,
                     *range(0x0E, 0x20), 0x7F))


# returnType as a DataType instance, not a DDL string: the string form
# is parsed through the active SparkContext at decoration time, which
# would make this module unimportable before a session exists.
@pandas_udf(StringType())
@on_load
def _nfc(s: pd.Series) -> pd.Series:
    # Series.str.normalize delegates to unicodedata.normalize('NFC')
    # element-wise and passes NULLs through untouched.
    return s.str.normalize("NFC")


def nfc_normalize_col(col: Column) -> Column:
    """NFC-normalized copy of a string column; NULL in, NULL out."""
    return _nfc(col)


def scrub_control_chars(col: Column) -> Column:
    """String with C0 controls (except tab/newline/CR) and DEL removed;
    NULL in, NULL out. Pure expression — pair with
    :func:`nfc_normalize_col` as ``scrub(nfc(text))`` for the full
    hygiene pass."""
    # translate deletes exactly the _CONTROL_CLASS code points (each is
    # a single BMP char; no ranges the regex could interpret
    # differently) — same output, no per-row Matcher/StringBuffer
    return F.translate(col, _CONTROL_CHARS, "")
