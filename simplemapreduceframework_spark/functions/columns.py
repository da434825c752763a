"""Reusable column expressions (all JVM-side, codegen-friendly).

Numeric policy for oracle-compared outputs (shared with every operator
module):

- Source money/rate columns are cast to decimal FIRST (safe: the data
  carries exact 2-decimal values, far from any scale-2 rounding
  boundary), and ALL arithmetic stays in decimal with types sized so no
  precision-loss rounding ever occurs (price DECIMAL(12,2), rates
  DECIMAL(3,2); products reach at most DECIMAL(26,6) < 38). Casting a
  *computed double* to decimal is forbidden: true products land exactly
  on x.xx5 boundaries, where Spark (java BigDecimal, exact expansion)
  and DuckDB (scaled double rounding) disagree by one ulp of a cent.
- Final projections convert decimals to DOUBLE (exact for |v| < 2^53 at
  the given scale) and counts to BIGINT, so Spark and DuckDB agree on
  both values and schema.
- Timestamps are only ever output as formatted strings or epoch
  integers, never as raw timestamp columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec2(col: Column | str) -> Column:
    """Row-level cast to DECIMAL(18,2) — the exact-sum workhorse.

    Only apply to *source* columns holding exact 2-decimal values; never
    to computed doubles (see module docstring).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def money(col: Column | str) -> Column:
    """Source price column -> DECIMAL(12,2) (fits < 10^10; keeps decimal
    products inside 38-digit precision in both engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def rate(col: Column | str) -> Column:
    """Source rate column (discount/tax, 2-decimal < 1) -> DECIMAL(3,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(3,2)")


def one_minus_rate(col: Column | str) -> Column:
    """(1 - rate) kept at DECIMAL(3,2) so downstream products stay
    narrow and loss-free."""
    return (F.lit(1) - rate(col)).cast("decimal(3,2)")


def one_plus_rate(col: Column | str) -> Column:
    """(1 + rate) at DECIMAL(3,2)."""
    return (F.lit(1) + rate(col)).cast("decimal(3,2)")


def tokens_ws(col: Column | str) -> Column:
    """Whitespace tokenization, the reference's mapper tokenizer
    (reference count_functions.py:2 `value.split()`): split on \\s+,
    empty tokens to be filtered by the caller."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"\s+")


def tokens_regex(col: Column | str) -> Column:
    r"""Regex tokenization, the reference's fernan variant
    (reference fernan/functions.py:5 `re.findall(r'\w+', value)`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"\w+"), 0)


def hex32(col: Column) -> Column:
    """Deterministic 32-bit unsigned int from a string via md5.

    Used wherever Spark and the SQL oracle must agree on a string hash
    (MinHash, SimHash, LSH): both engines take the first 8 hex chars of
    md5 and parse them as an unsigned integer.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
