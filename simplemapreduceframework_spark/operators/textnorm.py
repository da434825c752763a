"""Unicode normalization and substring-level duplication operators —
the corpus-hygiene tier a real LLM ingest pipeline runs BEFORE
tokenization (reference scope: the text record reader + mapper surface,
tasktracker.py map stage; these are the canonical "mapper" workloads a
user of the reference would ship as a functions.py).

Three operators:

- ``text_normalize_unicode`` — NFC normalization (UAX #15) of mixed
  composed/decomposed text. Spark has no built-in normalizer, so this
  is the canonical Arrow-batched pandas-UDF pattern with an EXACT
  oracle: Python ``unicodedata.normalize("NFC", ...)`` against DuckDB's
  utf8proc ``nfc_normalize`` — both implement the same Unicode
  canonical composition, so codepoint counts and md5 digests are
  bit-identical.
- ``dedup_substring`` — cross-document EXACT SUBSTRING duplication
  (the Lee et al. 2022 "Deduplicating Training Data Makes Language
  Models Better" ExactSubstr signal, expressed as per-document
  duplication ratios over strided fixed-width windows). Complements
  the whole-doc (dedup_exact) and near-dup (minhash/simhash) tiers:
  it catches boilerplate shared across otherwise-distinct documents.
- ``tokenizer_fertility`` — per-language chars-per-token compression
  report over the GPT2-style pre-tokenizer: THE standard health metric
  for a tokenizer/corpus pairing (high fertility = the tokenizer
  fragments that language).
"""

from __future__ import annotations

import unicodedata

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..registry import query
from ..sources import load_table
from .textanalysis import _BPE_PATTERN

# Non-ASCII suffix variants keyed by doc_id % 4 — the synthetic corpus
# is pure ASCII (NFC-invariant), so each doc gets a deterministic
# denormalized tail that exercises a distinct UAX #15 path:
#   0: e + COMBINING ACUTE        -> composes to U+00E9 (2 cp -> 1)
#   1: U+212B ANGSTROM SIGN       -> singleton-maps to U+00C5 (1 -> 1)
#   2: U+FB01 LATIN SMALL LIG FI  -> NFC-INVARIANT (only NFKC splits)
#   3: o + CIRCUMFLEX + DOT BELOW -> canonical REORDER (ccc 230 after
#      220) then double composition to U+1ED9 (3 cp -> 1)
_NFC_VARIANTS = ["é", "Å", "ﬁ", "ộ"]
# the same four, spelled with CHR() so the oracle builds identical text
_NFC_VARIANTS_SQL = (
    "CASE doc_id % 4 WHEN 0 THEN 'e' || CHR(769) WHEN 1 THEN CHR(8491) "
    "WHEN 2 THEN CHR(64257) ELSE 'o' || CHR(770) || CHR(803) END"
)


@pandas_udf(StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched NFC normalization (Spark ships no built-in
    normalizer). Unicode canonical composition is version-stable for
    every codepoint this repo emits, so Python's unicodedata and
    DuckDB's utf8proc agree byte-for-byte."""
    return s.map(
        lambda t: None if t is None else unicodedata.normalize("NFC", t)
    )


def normalize_projection(docs: DataFrame) -> DataFrame:
    """The row-local NFC normalization projection, shared by the batch
    query and its streaming twin (stateless — legal in append mode
    with zero streaming state)."""
    variant = F.element_at(
        F.array(*[F.lit(v) for v in _NFC_VARIANTS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(F.col("text"), variant)
    nfc = _nfc_udf(raw)
    return docs.select(
        "doc_id",
        F.length(raw).cast("bigint").alias("n_cp_raw"),
        F.length(nfc).cast("bigint").alias("n_cp_nfc"),
        (nfc != raw).cast("int").alias("changed"),
        F.md5(F.encode(nfc, "UTF-8")).alias("nfc_md5"),
    )


_NFC_ORACLE = f"""
WITH src AS (
    SELECT doc_id, text || {_NFC_VARIANTS_SQL} AS raw
    FROM documents
),
norm AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM src)
SELECT doc_id,
       CAST(LENGTH(raw) AS BIGINT) AS n_cp_raw,
       CAST(LENGTH(nfc) AS BIGINT) AS n_cp_nfc,
       CAST(nfc <> raw AS INTEGER) AS changed,
       md5(nfc) AS nfc_md5
FROM norm
"""


@query("text_normalize_unicode", oracle=_NFC_ORACLE)
def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC Unicode normalization with a bit-exact oracle: each doc gets
    a deterministic denormalized suffix (combining sequence, singleton,
    NFC-invariant ligature, or canonical-reorder case, by doc_id % 4),
    the Arrow-batched pandas UDF normalizes, and the output pins
    codepoint counts, a changed flag, and the md5 of the normalized
    UTF-8 bytes — a wrong composition, a skipped reorder, or a
    mangled byte changes the digest and fails the driver hash.

    Scale shape: row-local (scan -> project -> vectorized UDF), zero
    shuffles; the only Python is the normalizer itself, batched over
    Arrow. NULL text propagates as NULL through concat/normalize/md5
    identically on both engines."""
    return normalize_projection(load_table(spark, sf_dir, "documents"))


# ExactSubstr window geometry: 32-char windows every 8 chars. 32 chars
# is long enough that natural-language collisions are real boilerplate,
# short enough that the synthetic corpus (recipe-shaped sentences)
# actually shares windows across docs (~9% of positions at sf0.01).
_SUB_K = 32
_SUB_STRIDE = 8


# The ExactSubstr report's oracle: raw windows, for both twins below
# (a hashed key can only merge windows, which the raw form disproves).
_SUB_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text, LENGTH(text) AS len
    FROM documents WHERE text IS NOT NULL
),
wins AS (
    SELECT doc_id, SUBSTRING(text, CAST(p AS INT), {_SUB_K}) AS win
    FROM base, UNNEST(range(1, len - {_SUB_K} + 2, {_SUB_STRIDE})) AS t(p)
    WHERE len >= {_SUB_K}
),
per AS (SELECT win, doc_id, COUNT(*) AS c FROM wins GROUP BY win, doc_id),
pernd AS (SELECT *, COUNT(*) OVER (PARTITION BY win) AS nd FROM per),
agg AS (
    SELECT doc_id,
           SUM(c) AS n_windows,
           SUM(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS n_dup
    FROM pernd GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(n_dup AS BIGINT) AS n_dup_windows,
       CAST(n_dup AS DOUBLE) / n_windows AS dup_ratio
FROM agg
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
FROM base WHERE len < {_SUB_K}
"""


def _substring_dup_report(
    spark: SparkSession, sf_dir: str, key: Column
) -> DataFrame:
    """The ExactSubstr report of both twins, shuffled on ``key`` (a
    Column over the 32-char window ``win``). Only the key leaves the
    window scan: per-(key, doc) counts, a count window over the key for
    cross-doc multiplicity, then a per-doc fold; docs shorter than one
    window union in as zero rows from the same pruned scan."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    eligible = docs.filter(F.length("text") >= _SUB_K)
    wins = eligible.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_SUB_K} + 1,"
                f" {_SUB_STRIDE}), p -> substring(text, p, {_SUB_K}))"
            )
        ).alias("win"),
    ).select("doc_id", key.alias("k"))
    per = wins.groupBy("k", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    pernd = per.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )
    agg = pernd.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_windows"),
        F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_windows"),
    )
    long_rows = agg.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        (F.col("n_dup_windows").cast("double") / F.col("n_windows")).alias(
            "dup_ratio"
        ),
    )
    short_rows = docs.filter(F.length("text") < _SUB_K).select(
        "doc_id",
        F.lit(0).cast("bigint").alias("n_windows"),
        F.lit(0).cast("bigint").alias("n_dup_windows"),
        F.lit(None).cast("double").alias("dup_ratio"),
    )
    return long_rows.unionByName(short_rows)


@query("dedup_substring", oracle=_SUB_ORACLE)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication (Lee et al. 2022
    ExactSubstr, reshaped for declarative execution): slice every doc
    into strided fixed-width character windows, find windows shared by
    >= 2 DISTINCT docs, and report each doc's duplicated-position
    ratio — the per-doc signal a pipeline thresholds to drop
    boilerplate-heavy documents.

    Plan: one scan explodes windows (codegen'd transform/sequence/
    substring — no Python), then exactly three shuffles with no
    self-joins and no recomputation: groupBy (win, doc) pre-aggregates
    repeated windows, a count window over win annotates cross-doc
    multiplicity (high-cardinality partition key — no skew pile-up),
    and groupBy doc folds totals. Docs shorter than one window union in
    as zero-rows from the same pruned scan. The shuffle key is the raw
    window, the key the oracle groups on; dedup_substring_hashed is the
    same report keyed on xxhash64(win).

    DuckDB note: SUM(BIGINT) silently widens to HUGEINT, so the oracle
    pins the final projection back to BIGINT (the r5 pagerank class)."""
    return _substring_dup_report(spark, sf_dir, F.col("win"))


@query("dedup_substring_hashed", oracle=_SUB_ORACLE)
def dedup_substring_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``dedup_substring``: the same report builder
    with ``xxhash64(win)`` as the shuffle key instead of the raw
    32-char window — 8-byte fixed keys instead of 32-byte strings
    through both exchanges and the count window, which at corpus scale
    is the difference between shuffling the corpus and shuffling a
    quarter of it. The raw window is projected away before the first
    exchange. A cross-doc hash collision would merge two distinct
    windows (overcounting n_dup_windows by the collided positions);
    with 64-bit hashes that needs ~2^32 distinct windows for even-odds
    of ONE collision, and the shared raw-window oracle plus the
    pairwise equivalence test in tests/test_textnorm.py prove the
    corpus result is bit-identical to the exact form.
    """
    return _substring_dup_report(spark, sf_dir, F.xxhash64("win"))


@query(
    "tokenizer_fertility",
    oracle=rf"""
WITH per_doc AS (
    SELECT lang,
           LENGTH(text) AS n_chars,
           LEN(regexp_extract_all(text,
               '{_BPE_PATTERN.replace("'", "''")}')) AS n_tokens
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / NULLIF(SUM(n_tokens), 0)
           AS chars_per_token,
       CAST(SUM(n_tokens) AS DOUBLE) / NULLIF(COUNT(n_tokens), 0)
           AS tokens_per_doc
FROM per_doc GROUP BY lang
""",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report: per-language corpus compression
    under the GPT2-style pre-tokenizer (chars per token, tokens per
    doc) — the standard metric for how well a tokenizer serves each
    language in a multilingual mix (high chars/token = compact; low =
    the tokenizer fragments that language and its docs eat context
    budget).

    One partial-agg shuffle on lang (codegen'd regexp count per row,
    map-side combine, ~|languages| result rows). NULL text yields NULL
    counts, which SUM skips on both engines; the per-doc average
    divides by COUNT(n_tokens) (non-NULL docs) so a NULL-text row
    never deflates it; NULLIF guards keep 0-token groups NULL rather
    than NaN."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).alias(
            "n_tokens"
        ),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.sum("n_chars").cast("double")
            / F.nullif(F.sum("n_tokens"), F.lit(0))
        ).alias("chars_per_token"),
        (
            F.sum("n_tokens").cast("double")
            / F.nullif(F.count("n_tokens"), F.lit(0))
        ).alias("tokens_per_doc"),
    )


from .._serde import pickle_by_value as _pbv  # noqa: E402

_pbv(__name__)
