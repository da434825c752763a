"""Training-data hygiene filters for the LLM pipeline tier: PII
detection/redaction, Gopher-style repetition filtering, and benchmark
decontamination.

These are the corpus-cleaning passes a web-scale training pipeline runs
between raw ingestion and tokenization (complementing the dedup tier in
``dedup.py`` and the quality/language tier in ``textanalysis.py``).
Every formula is duplicated verbatim in the DuckDB oracle: integer
counts, divisions of identical integers, and shared regex patterns that
mean the same thing under Java regex and RE2.

Scale notes per operator:

- ``text_pii_scrub`` is purely row-local (regexp count + chained
  redaction) — zero shuffles, embarrassingly parallel at 100 TB.
- ``text_repetition_filter`` is a row-local projection over each
  document's token and bigram arrays — no shuffle, no global state.
- ``text_decontaminate`` is an inverted-index equi-join on the n-gram:
  the benchmark side is tiny (the held-out eval set) so Spark
  broadcasts it; the training side streams through one scan. No cross
  join, no all-pairs — the same bucketed shape as the LSH dedup tier.

The synthetic corpus carries no real PII, so ``text_pii_scrub`` first
derives a deterministic PII-bearing text per customer row (same
construction in engine and oracle — the ``multimodal`` precedent of
deterministically generated payloads) and then runs the actual
detection/redaction operator on it.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens_regex
from ..registry import query
from ..session_memo import per_session
from ..sources import load_table

# Shared PII regexes — written to the common Java-regex / RE2 subset
# (no lookaround, no backrefs) so Spark and DuckDB agree byte-for-byte.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d(-\d{3}){2}-\d{4}"

# Repetition-filter thresholds (Gopher-rule shape: reject documents
# dominated by a few tokens / one bigram). Chosen to split the
# synthetic corpus ~90/10 so both branches of `keep` are exercised.
_REP_MIN_DISTINCT_RATIO = 0.32
_REP_MAX_TOP_TOKEN_FRAC = 0.14
_REP_MAX_TOP_BIGRAM_FRAC = 0.18

# Decontamination parameters: benchmark membership is a deterministic
# residue class (stand-in for "doc appears in the eval set"); overlap
# is on token 5-grams, the usual contamination shingle size scaled to
# this corpus's ~60-token docs.
_DECON_NGRAM = 5
_DECON_MOD = 19


@query(
    "text_pii_scrub",
    oracle=rf"""
WITH raw AS (
    SELECT c_custkey,
           'Contact ' || c_name || ' <' || lower(c_mktsegment)
           || CAST(c_custkey AS VARCHAR)
           || '@example.com> phone +1-'
           || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
           || '-' || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
           || '-' || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')
           || ' ip 10.' || CAST(c_nationkey AS VARCHAR)
           || '.0.' || CAST(c_custkey % 256 AS VARCHAR)
           || ' segment ' || c_mktsegment AS txt
    FROM customer
)
SELECT c_custkey,
       CAST(LEN(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(LEN(regexp_extract_all(txt, '{_PII_IP}')) AS BIGINT) AS n_ips,
       CAST(LEN(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(txt,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM raw
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask emails, IPv4
    addresses, and phone numbers with shared regexes, replacing each
    with a typed placeholder token.

    Redaction order is email -> ip -> phone so the broader digit-run
    patterns never eat a narrower match's remainder; the same chain
    runs in the oracle. Entirely row-local regexp expressions inside
    whole-stage codegen — the plan is scan -> project, no exchange, so
    the pass is linear in input bytes at any scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    txt = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.col("c_mktsegment")),
        ck.cast("string"),
        F.lit("@example.com> phone +1-"),
        F.lpad((ck % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((ck * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((ck * 13) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        F.col("c_nationkey").cast("string"),
        F.lit(".0."),
        (ck % 256).cast("string"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    raw = cust.select("c_custkey", txt.alias("txt"))

    def n_matches(pat: str) -> Column:
        return (
            F.size(F.regexp_extract_all("txt", F.lit(pat), 0))
            .cast("bigint")
        )

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("txt"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return raw.select(
        "c_custkey",
        n_matches(_PII_EMAIL).alias("n_emails"),
        n_matches(_PII_IP).alias("n_ips"),
        n_matches(_PII_PHONE).alias("n_phones"),
        redacted.alias("redacted"),
    )


# Shared oracle CTE text: the standalone filter oracles and the
# composed pipeline_hygiene oracle are built from the SAME strings, so
# the composition provably chains the exact standalone formulas.
_TOKS_CTE = r"""toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents
)"""

_REP_CTES = rf"""tcnt AS (
    SELECT doc_id, word, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(t) AS word FROM toks)
    GROUP BY doc_id, word
),
tagg AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tok,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_tok
    FROM tcnt GROUP BY doc_id
),
bcnt AS (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id,
                 UNNEST(list_transform(range(1, LEN(t)),
                                       i -> t[i] || ' ' || t[i+1])) AS g
          FROM toks WHERE LEN(t) >= 2)
    GROUP BY doc_id, g
),
bagg AS (
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS top_big,
           CAST(SUM(c) AS BIGINT) AS n_big
    FROM bcnt GROUP BY doc_id
),
rep AS (
    SELECT t.doc_id,
           t.n_tok,
           t.n_distinct,
           CAST(t.n_distinct AS DOUBLE) / t.n_tok AS distinct_ratio,
           CAST(t.top_tok AS DOUBLE) / t.n_tok AS top_token_frac,
           CAST(COALESCE(b.top_big, 0) AS DOUBLE)
               / GREATEST(COALESCE(b.n_big, 0), 1) AS top_bigram_frac,
           (CAST(t.n_distinct AS DOUBLE) / t.n_tok >= {_REP_MIN_DISTINCT_RATIO}
            AND CAST(t.top_tok AS DOUBLE) / t.n_tok <= {_REP_MAX_TOP_TOKEN_FRAC}
            AND CAST(COALESCE(b.top_big, 0) AS DOUBLE)
                / GREATEST(COALESCE(b.n_big, 0), 1)
                <= {_REP_MAX_TOP_BIGRAM_FRAC}) AS keep
    FROM tagg t LEFT JOIN bagg b ON b.doc_id = t.doc_id
)"""

_DECON_CTES = rf"""grams AS (
    SELECT DISTINCT doc_id,
           UNNEST(list_transform(range(1, LEN(t) - {_DECON_NGRAM - 2}),
                                 i -> list_aggregate(t[i:i+{_DECON_NGRAM - 1}],
                                                     'string_agg', ' '))) AS g
    FROM toks WHERE LEN(t) >= {_DECON_NGRAM}
),
bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
),
hits AS (
    SELECT g.doc_id, COUNT(*) AS n_shared
    FROM grams g JOIN bench b ON b.g = g.g
    WHERE g.doc_id % {_DECON_MOD} <> 0
    GROUP BY g.doc_id
)"""


def _tokens() -> Column:
    """The lower-cased \\w+ token array ``t`` of ``text`` — the Spark
    twin of the `toks` CTE."""
    return tokens_regex(F.lower(F.col("text"))).alias("t")


def _ngrams(n: int) -> Column:
    """Every token n-gram of ``t``, space-joined and in order — the
    Spark twin of the CTEs' list_transform. Callers guard
    size(t) >= n: sequence() counts DOWN when size(t) < n."""
    return F.expr(
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> array_join(slice(t, i, {n}), ' '))"
    )


_REP_COLS = [
    "doc_id",
    "n_tok",
    "n_distinct",
    "distinct_ratio",
    "top_token_frac",
    "top_bigram_frac",
    "keep",
]


@per_session("hygiene", persist=True)
def _hygiene_verdicts_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE persisted corpus-verdict pass behind the hygiene
    family: one row per document, carrying identity (source,
    content_md5, is_bench) plus the repetition metrics (null for
    token-less documents, mirroring the `rep` CTE's row set) and the
    contamination hit count (null where the inverted-index join found
    no shared gram, and for benchmark docs themselves).

    The repetition metrics are repetition_metrics_row_local's — the
    same projection streaming_hygiene_live runs — and the hit count is
    _decon_hits, the gram join decontaminate_joined also runs; neither
    shuffles by (doc_id, token). text_repetition_filter,
    text_decontaminate, pipeline_hygiene, pipeline_chunked_corpus, and
    corpus_health_report all serve from this frame, so the token pass
    and the n-gram inverted-index join are paid once per session
    instead of once per query (measured r13: the three headline
    consumers drop from a 2.1 s best-sum to 0.65 s once the frame is
    warm). At 100 TB the frame is one narrow row per document —
    bounded per-doc state, no token arrays — i.e. the checkpointed
    verdict table a production pipeline would persist between hygiene
    stages anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.md5("text").alias("content_md5"),
            (F.col("doc_id") % _DECON_MOD == 0).alias("is_bench"),
        )
        .join(repetition_metrics_row_local(docs), "doc_id", "left")
        .join(
            _decon_hits(docs, benchmark_grams_df(spark, sf_dir)),
            "doc_id",
            "left",
        )
    )


# The batch queries' oracles, shared with their streaming twins
# (streaming_hygiene_live, streaming_decontaminate_live).
_REP_ORACLE = f"WITH {_TOKS_CTE},\n{_REP_CTES}\nSELECT * FROM rep"

_DECON_ORACLE = rf"""
WITH {_TOKS_CTE},
{_DECON_CTES}
SELECT d.doc_id,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
       COALESCE(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {_DECON_MOD} <> 0
"""


@query("text_repetition_filter", family="hygiene", oracle=_REP_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-document distinct-token
    ratio, most-frequent-token fraction, and most-frequent-bigram
    fraction, with a combined keep/reject verdict.

    Serves from the session's shared hygiene verdict frame
    (_hygiene_verdicts_shared); n_tok IS NOT NULL restores the `rep`
    CTE's row set exactly (a rep row exists iff the document produced
    at least one token, and repetition_metrics_row_local emits a row,
    so n_tok is non-null, exactly there). The formulas themselves live
    in repetition_metrics_row_local, which streaming_hygiene_live runs
    on a live stream against this same oracle.
    """
    shared = _hygiene_verdicts_shared(spark, sf_dir)
    return shared.filter(F.col("n_tok").isNotNull()).select(*_REP_COLS)


@query("text_decontaminate", family="hygiene", oracle=_DECON_ORACLE)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share a
    token n-gram with the held-out benchmark set (here the deterministic
    residue class doc_id % _DECON_MOD == 0, standing in for "appears in
    an eval set").

    The overlap test is the standard contamination check (distinct
    5-gram intersection); output is every training doc with its shared-
    gram count and a contaminated flag, so the downstream pipeline can
    drop or down-weight.

    Serves from the session's shared hygiene verdict frame
    (_hygiene_verdicts_shared): ~is_bench restores the oracle's
    one-row-per-training-doc set (the frame has a row for EVERY
    document, including token-less ones, exactly like the oracle's
    `documents d LEFT JOIN hits`), and coalescing the left-joined hit
    count to 0 is the same expression decontaminate_joined applies to
    the same hits-only join, _decon_hits.
    """
    shared = _hygiene_verdicts_shared(spark, sf_dir)
    return shared.filter(~F.col("is_bench")).select(
        "doc_id",
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
    )


def _decon_hits(docs: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """The contamination inverted-index join (the Spark twin of the
    `hits` CTE): (doc_id, n_shared) for every TRAINING document that
    shares at least one distinct token 5-gram with ``bench_grams``
    (column ``g``). Docs with no shared gram (and benchmark docs)
    simply have no row — the hygiene frame keeps that null (so
    corpus_health_report counts non-null hits), decontaminate_joined
    coalesces it to 0.

    Shape at scale: each training doc's distinct grams come from one
    row-local array_distinct (no shuffle), then one equi-join on the
    gram — an inverted index, not an all-pairs comparison. Spark
    broadcasts the benchmark side when it fits (the eval corpus is
    tiny next to 100 TB of training text) and shuffle-joins it when it
    does not, so the set never has to fit on the driver; one
    partial-aggregated count per doc follows.
    """
    n = _DECON_NGRAM
    grams = (
        docs.filter(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id", _tokens())
        .filter(F.size("t") >= n)
        .select("doc_id", F.explode(F.array_distinct(_ngrams(n))).alias("g"))
    )
    return (
        grams.join(bench_grams.select("g").distinct(), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


_HYGIENE_ORACLE = rf"""
WITH {_TOKS_CTE},
{_REP_CTES},
{_DECON_CTES},
clean AS (
    SELECT d.doc_id, d.source, MD5(d.text) AS content_md5,
           r.n_tok, r.distinct_ratio
    FROM documents d
    JOIN rep r ON r.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE r.keep
      AND d.doc_id % {_DECON_MOD} <> 0
      AND COALESCE(h.n_shared, 0) = 0
),
deduped AS (
    SELECT doc_id, source, n_tok, distinct_ratio FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5
                                     ORDER BY doc_id) AS rn
        FROM clean
    ) WHERE rn = 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(distinct_ratio) AS min_distinct_ratio,
       MAX(distinct_ratio) AS max_distinct_ratio
FROM deduped
GROUP BY source
"""


@query("pipeline_hygiene", family="hygiene", oracle=_HYGIENE_ORACLE)
def pipeline_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed hygiene pipeline: repetition filter -> benchmark
    decontamination -> exact dedup -> per-source stats. The per-doc
    verdict stages serve from the session's ONE persisted hygiene
    frame (_hygiene_verdicts_shared — the same formulas the standalone
    operators gate, materialized once per session), and the oracle
    chains the *same shared CTE strings* those operators' oracles are
    built from — so the composition is provably the chain of the gated
    formulas. The filter predicate reproduces the oracle's inner joins
    on the shared frame's left-joined columns: `keep` (null for
    token-less docs, which the `rep` inner join drops) and ~is_bench
    with a 0-coalesced hit count (the `hits` left join + residue
    filter).

    Stage order is the scale story: both per-doc verdicts come off one
    materialized doc_id-keyed frame; exact dedup (the one
    content-keyed shuffle) runs only on the shrunken survivor set; the
    final per-source rollup is a partial-aggregated groupBy on the
    tiny source dimension.
    """
    shared = _hygiene_verdicts_shared(spark, sf_dir)
    clean = shared.filter(
        F.col("keep")
        & ~F.col("is_bench")
        & (F.coalesce("n_shared", F.lit(0)) == 0)
    ).select("doc_id", "source", "content_md5", "n_tok", "distinct_ratio")
    from pyspark.sql.window import Window

    w = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = (
        clean.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok", "distinct_ratio")
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("distinct_ratio").alias("min_distinct_ratio"),
        F.max("distinct_ratio").alias("max_distinct_ratio"),
    )


def repetition_metrics_row_local(docs: DataFrame) -> DataFrame:
    """The repetition metrics as STATELESS per-row array expressions —
    the streaming formulation: because every metric is a function of
    one document, the whole filter is a projection (append-mode
    streamable, no state store, no watermark). It is the one Spark
    formulation of the `rep` CTE: the hygiene frame behind
    text_repetition_filter joins it on a batch frame and
    streaming_hygiene_live runs it on a live stream, both gated by the
    one shared oracle.

    The per-token max frequency is the longest equal-run in the SORTED
    array, computed by a single struct-accumulator fold — O(n log n)
    per document, so the row-local path stays safe even for
    pathologically long documents (an O(distinct * n) transform/filter
    scan would go quadratic there). Measured ~2.5x faster at sf0.1
    than the explode+groupBy formulation it replaced: for
    bounded-length docs the per-row fold beats two explode+shuffle
    rounds.
    """
    # longest run of equal values in a sorted array: fold with
    # (prev, run, best) state; "" never equals a \w+ token.
    _MAX_RUN = (
        "aggregate(array_sort({arr}), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(x = acc.prev, acc.run + 1, 1L), "
        "  'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1L))), "
        "acc -> acc.best)"
    )
    toks = docs.select("doc_id", _tokens()).filter(
        F.col("t").isNotNull() & (F.size("t") >= 1)
    )
    with_big = toks.withColumn(
        "bg",
        F.when(F.size("t") >= 2, _ngrams(2)).otherwise(
            F.expr("CAST(array() AS array<string>)")
        ),
    )
    counts = with_big.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct"),
        F.expr(_MAX_RUN.format(arr="t")).cast("bigint").alias("top_tok"),
        F.when(
            F.size("bg") >= 1, F.expr(_MAX_RUN.format(arr="bg"))
        ).otherwise(F.lit(0)).cast("bigint").alias("top_big"),
        F.size("bg").cast("bigint").alias("n_big"),
    )
    dr = F.col("n_distinct").cast("double") / F.col("n_tok")
    tf = F.col("top_tok").cast("double") / F.col("n_tok")
    bf = F.col("top_big").cast("double") / F.greatest(F.col("n_big"), F.lit(1))
    return counts.select(
        "doc_id",
        "n_tok",
        "n_distinct",
        dr.alias("distinct_ratio"),
        tf.alias("top_token_frac"),
        bf.alias("top_bigram_frac"),
        (
            (dr >= _REP_MIN_DISTINCT_RATIO)
            & (tf <= _REP_MAX_TOP_TOKEN_FRAC)
            & (bf <= _REP_MAX_TOP_BIGRAM_FRAC)
        ).alias("keep"),
    )


def decontaminate_row_local(
    docs: DataFrame, bench_grams: set[str]
) -> DataFrame:
    """The contamination check as a STATELESS per-row operator: each
    document's distinct 5-grams are counted against a broadcast
    benchmark gram set inside an Arrow-batched pandas UDF — no join, no
    aggregation state, append-mode streamable.

    This is the shape a real ingest pipeline uses (the eval set is
    tiny and static next to the stream; ship it to every executor
    once). Same output columns and membership semantics as
    text_decontaminate's inverted-index join, so both formulations
    gate against one oracle.
    """
    from pyspark.sql.functions import pandas_udf

    n = _DECON_NGRAM
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(frozenset(bench_grams))

    @pandas_udf("bigint")
    def shared_count(grams: pd.Series) -> pd.Series:
        bench = bc.value
        if len(grams) == 0:
            return pd.Series([], dtype="int64")
        return grams.map(
            lambda gs: sum(1 for g in gs if g in bench) if gs is not None else 0
        ).astype("int64")

    train = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    grams = train.select("doc_id", _tokens()).select(
        "doc_id",
        F.when(F.size("t") >= n, F.array_distinct(_ngrams(n)))
        .otherwise(F.expr("CAST(array() AS array<string>)"))
        .alias("gs"),
    )
    return grams.select(
        "doc_id", shared_count("gs").alias("n_shared")
    ).select(
        "doc_id",
        "n_shared",
        (F.col("n_shared") > 0).alias("contaminated"),
    )


def decontaminate_joined(
    docs: DataFrame, bench_grams: DataFrame
) -> DataFrame:
    """The contamination check as a gram-keyed JOIN: the hits-only
    inverted-index join (_decon_hits — the same join the hygiene frame
    runs) against a benchmark gram FRAME, left-joined back onto every
    training doc with the count coalesced to 0. The set never touches
    the driver, so an adversarially large benchmark (a leaked training
    shard registered as an "eval set") cannot OOM it — exactly the
    adaptive broadcast-or-shuffle behavior the driver-collect path
    forfeits. Same filter, output columns, and membership semantics as
    decontaminate_row_local; the equivalence test pins both
    formulations rowwise-identical.
    """
    return (
        docs.filter(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id")
        .join(_decon_hits(docs, bench_grams), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0))
            .cast("bigint")
            .alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# Above this many benchmark grams, decontaminate() refuses to collect
# the set to the driver and joins instead. 5M grams x ~40 bytes is a
# few hundred MB driver-side — the sensible ceiling for "eval-suite
# sized"; real eval suites are orders of magnitude below it.
_DECON_BROADCAST_MAX_GRAMS = 5_000_000


def decontaminate(
    docs: DataFrame,
    bench_grams: DataFrame,
    max_broadcast_grams: int = _DECON_BROADCAST_MAX_GRAMS,
) -> DataFrame:
    """Size-gated decontamination dispatcher: count the benchmark gram
    frame first; at or under ``max_broadcast_grams`` collect it and run
    the row-local broadcast-set path (streaming-friendly, zero join),
    above it run the gram-keyed join that never materializes the set on
    the driver. Both paths are hash-equivalent (see the equivalence
    test and the shared oracle of text_decontaminate /
    streaming_decontaminate_live)."""
    distinct_grams = bench_grams.select("g").distinct()
    # ONE action decides AND fetches: limit(threshold+1) returns every
    # gram when the set is under the threshold, and exactly
    # threshold+1 rows (the over-budget signal) when it is not — no
    # separate count() job re-running the gram pipeline.
    head = distinct_grams.limit(max_broadcast_grams + 1).collect()
    if len(head) <= max_broadcast_grams:
        return decontaminate_row_local(docs, {r["g"] for r in head})
    return decontaminate_joined(docs, distinct_grams)


def benchmark_grams_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark's distinct n-gram set as a DataFrame (column
    ``g``) — the join-side index for decontaminate_joined and the
    source decontaminate()/benchmark_gram_set() collect from."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select(_tokens())
        .filter(F.size("t") >= _DECON_NGRAM)
        .select(F.explode(_ngrams(_DECON_NGRAM)).alias("g"))
        .distinct()
    )


def benchmark_gram_set(spark: SparkSession, sf_dir: str) -> set[str]:
    """The benchmark's distinct n-gram set, collected once — the static
    index decontaminate_row_local broadcasts. At scale this collect is
    bounded by the EVAL corpus (thousands of docs), not the training
    stream; for an unbounded "benchmark" use decontaminate(), which
    flips to the join formulation past its size threshold."""
    return {r["g"] for r in benchmark_grams_df(spark, sf_dir).collect()}


# Chunking parameters: 50-token windows with 10-token overlap (stride
# 40) — the standard pre-embedding / context-packing split.
_CHUNK_SIZE = 50
_CHUNK_STRIDE = 40


@query(
    "text_chunk",
    oracle=rf"""
WITH {_TOKS_CTE},
base AS (
    SELECT doc_id, t, LEN(t) AS n,
           CASE WHEN LEN(t) <= {_CHUNK_SIZE} THEN 1
                ELSE (LEN(t) - {_CHUNK_SIZE - _CHUNK_STRIDE + 1}) // {_CHUNK_STRIDE} + 1
           END AS n_chunks
    FROM toks WHERE LEN(t) >= 1
)
SELECT doc_id,
       CAST(cid AS BIGINT) AS chunk_id,
       array_to_string(t[1 + cid*{_CHUNK_STRIDE} : cid*{_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ') AS chunk_text,
       CAST(LEN(t[1 + cid*{_CHUNK_STRIDE} : cid*{_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS BIGINT) AS n_chunk_tokens
FROM (SELECT doc_id, t, UNNEST(range(0, n_chunks)) AS cid FROM base)
""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunking — the document-splitting
    step before embedding / context packing: 50-token windows with a
    10-token overlap so no boundary-spanning phrase is lost; the final
    chunk absorbs the remainder.

    Chunk count is pure integer arithmetic (1 + ceil((n - size) /
    stride) via floor division, identical both engines), and each
    chunk is a row-local array slice — scan -> project -> explode, no
    shuffle at any scale. Every token appears in at least one chunk;
    consecutive chunks share exactly size - stride tokens (except the
    clipped last).
    """
    docs = load_table(spark, sf_dir, "documents")
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    toks = docs.select("doc_id", _tokens()).filter(
        F.col("t").isNotNull() & (F.size("t") >= 1)
    )
    base = toks.withColumn(
        "n_chunks",
        F.when(F.size("t") <= size, F.lit(1)).otherwise(
            F.expr(f"(size(t) - {size - stride + 1}) div {stride} + 1")
        ),
    )
    return base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n_chunks - 1), "
                f"cid -> slice(t, 1 + cid * {stride}, {size}))"
            )
        ).alias("chunk_id", "chunk"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join("chunk", " ").alias("chunk_text"),
        F.size("chunk").cast("bigint").alias("n_chunk_tokens"),
    )


_CHUNKED_ORACLE = rf"""
WITH {_TOKS_CTE},
{_REP_CTES},
{_DECON_CTES},
kept AS (
    SELECT d.doc_id, d.source, tk.t
    FROM documents d
    JOIN rep r ON r.doc_id = d.doc_id
    JOIN toks tk ON tk.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE r.keep
      AND d.doc_id % {_DECON_MOD} <> 0
      AND COALESCE(h.n_shared, 0) = 0
),
chunks AS (
    SELECT doc_id, source,
           LEN(t[1 + cid*{_CHUNK_STRIDE} : cid*{_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS n_chunk_tokens
    FROM (SELECT doc_id, source, t,
                 UNNEST(range(0, CASE WHEN LEN(t) <= {_CHUNK_SIZE} THEN 1
                                      ELSE (LEN(t) - {_CHUNK_SIZE - _CHUNK_STRIDE + 1}) // {_CHUNK_STRIDE} + 1
                                 END)) AS cid
          FROM kept WHERE LEN(t) >= 1)
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_chunk_tokens
FROM chunks
GROUP BY source
"""


@query("pipeline_chunked_corpus", family="hygiene", oracle=_CHUNKED_ORACLE)
def pipeline_chunked_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG/embedding corpus-prep composition: repetition filter ->
    decontamination -> overlapping chunking -> per-source chunk stats.
    The per-doc verdicts serve from the session's persisted hygiene
    frame (_hygiene_verdicts_shared — same join-restoration argument
    as pipeline_hygiene); only the chunking stage re-tokenizes, because
    it needs the token ARRAY for slicing and the shared frame
    deliberately carries bounded per-doc stats, never token arrays.
    The oracle chains the same shared CTE strings plus text_chunk's
    integer chunk arithmetic.

    Shape at scale: one doc_id equi-join against the materialized
    verdict frame, then chunking as a row-local slice-and-explode on
    the shrunken survivor set, and a partial-aggregated groupBy on the
    tiny source dimension.
    """
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    shared = _hygiene_verdicts_shared(spark, sf_dir)
    verdicts = shared.filter(
        F.col("keep")
        & ~F.col("is_bench")
        & (F.coalesce("n_shared", F.lit(0)) == 0)
    ).select("doc_id")
    kept = (
        docs.select("doc_id", "source", _tokens())
        .join(verdicts, "doc_id")
        .filter(F.size("t") >= 1)
        .withColumn(
            "n_chunks",
            F.when(F.size("t") <= size, F.lit(1)).otherwise(
                F.expr(f"(size(t) - {size - stride + 1}) div {stride} + 1")
            ),
        )
    )
    chunks = kept.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(0, n_chunks - 1), "
                f"cid -> size(slice(t, 1 + cid * {stride}, {size})))"
            )
        ).alias("n_chunk_tokens"),
    )
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("total_chunk_tokens"),
    )


_HEALTH_ORACLE = rf"""
WITH {_TOKS_CTE},
{_REP_CTES},
{_DECON_CTES},
base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(LEN(t)), 0) AS BIGINT) AS n_tokens
    FROM toks
),
uniq AS (
    SELECT CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique
    FROM documents
),
repc AS (
    SELECT CAST(COUNT(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_keep,
           CAST(COUNT(*) AS BIGINT) AS n_scored
    FROM rep
),
dec AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_contaminated FROM hits
)
SELECT b.n_docs, b.n_tokens, u.n_unique,
       b.n_docs - u.n_unique AS n_exact_dups,
       r.n_keep, r.n_scored,
       c.n_contaminated
FROM base b, uniq u, repc r, dec c
"""


@query("corpus_health_report", family="hygiene", oracle=_HEALTH_ORACLE)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health dashboard — the daily monitoring query a
    pipeline runs over its working set: document/token volume, exact
    duplicate count (md5), repetition-filter pass counts, and
    contaminated-doc count, all in one result.

    Each counter reuses the standalone operator's exact formula (the
    oracle chains the same shared CTE strings); all values are integer
    counts -> engine-exact, and every one of them is a property the
    session's persisted hygiene verdict frame already carries
    (_hygiene_verdicts_shared has one row per document with n_tok,
    keep, content_md5, and the left-joined hit count), so the whole
    dashboard is aggregations over ONE materialized frame instead of
    four independent corpus passes. n_tokens sums per-doc token counts
    (token-less docs carry NULL = the oracle's LEN(t) 0 contribution);
    n_scored counts non-null n_tok (the `rep` CTE's row set);
    n_contaminated counts non-null n_shared (a `hits` row exists iff
    the count is non-null, and hits only contains training docs by
    construction). Total driver-side state is 7 integers.
    """
    shared = _hygiene_verdicts_shared(spark, sf_dir)
    base = shared.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("n_tokens"),
    )
    uniq = shared.agg(
        F.count_distinct("content_md5").cast("bigint").alias("n_unique")
    )
    # COUNT(CASE WHEN ...) like the oracle — a SUM over zero rows would
    # yield NULL where the oracle's COUNT yields 0
    repc = shared.agg(
        F.count(F.when(F.col("keep"), 1)).cast("bigint").alias("n_keep"),
        F.count(F.when(F.col("n_tok").isNotNull(), 1))
        .cast("bigint")
        .alias("n_scored"),
    )
    decc = shared.agg(
        F.count("n_shared").cast("bigint").alias("n_contaminated")
    )
    return (
        base.crossJoin(uniq)
        .crossJoin(repc)
        .crossJoin(decc)
        .select(
            "n_docs",
            "n_tokens",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
            "n_keep",
            "n_scored",
            "n_contaminated",
        )
    )


# Fixed model weights for the linear quality classifier — the shape of
# a fasttext-style quality scorer with the training done offline; the
# engine's job is the distributed SCORING pass. Literals shared with
# the oracle.
_QC_W = {"stop_r": 10.0, "alpha_r": 4.0, "tok_d": 6.0, "bias": -5.0}


@query(
    "text_quality_classifier",
    oracle=rf"""
WITH f AS (
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '\w+')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS tok_d,
           CAST(LEN(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
               / GREATEST(LEN(regexp_extract_all(text, '\w+')), 1) AS stop_r,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS alpha_r
    FROM documents
)
SELECT doc_id,
       (({_QC_W['stop_r']} * stop_r + {_QC_W['alpha_r']} * alpha_r)
         + {_QC_W['tok_d']} * tok_d) + {_QC_W['bias']} AS margin,
       ROUND(1.0 / (1.0 + exp(-((({_QC_W['stop_r']} * stop_r
             + {_QC_W['alpha_r']} * alpha_r)
             + {_QC_W['tok_d']} * tok_d) + {_QC_W['bias']}))), 4) AS score,
       (({_QC_W['stop_r']} * stop_r + {_QC_W['alpha_r']} * alpha_r)
         + {_QC_W['tok_d']} * tok_d) + {_QC_W['bias']} > 0.0 AS keep
FROM f
""",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed-weight linear classifier
    (fasttext-quality shape, trained offline) scored distributedly —
    margin, sigmoid probability, and the keep verdict per document.

    Determinism: the features are ratios of identical integers, the
    margin is a FIXED-ORDER linear expression of them (bit-exact on
    both engines), and the keep flag compares that exact margin to
    zero — so classification is hash-gateable with no tolerance. Only
    the sigmoid touches a transcendental (exp); it rounds to 4
    decimals under the module's ulp policy. Row-local -> zero
    shuffles, embarrassingly parallel at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        (
            F.size(tokens_regex("text")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("tok_d"),
        (
            F.size(
                F.regexp_extract_all(
                    "text", F.lit(r"\b(the|a|of|and|to)\b"), 0
                )
            ).cast("double")
            / F.greatest(F.size(tokens_regex("text")), F.lit(1))
        ).alias("stop_r"),
        (
            F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]"), 0)).cast(
                "double"
            )
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("alpha_r"),
    )
    margin = (
        (
            _QC_W["stop_r"] * F.col("stop_r")
            + _QC_W["alpha_r"] * F.col("alpha_r")
        )
        + _QC_W["tok_d"] * F.col("tok_d")
    ) + _QC_W["bias"]
    return f.select(
        "doc_id",
        margin.alias("margin"),
        F.round(1.0 / (1.0 + F.exp(-margin)), 4).alias("score"),
        (margin > 0.0).alias("keep"),
    )
