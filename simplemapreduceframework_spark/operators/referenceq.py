"""The reference's own shipped workloads (SURVEY.md section 2.3), run
over the `documents` table as the text corpus.

These are the exact queries the reference executes end-to-end — word
count (reference count_functions.py:1-17, driver counting_words.py:9-36),
distinct word set (word_set_functions.py:1-13), and the regex-tokenizer
variant (fernan/functions.py:1-15) — re-expressed as declarative
DataFrame pipelines: scan -> split -> explode -> hash agg, which is the
reference's O1/O4/O5/O6/O7/O8 pipeline with Catalyst doing the combiner
and shuffle.

Scale: explode + groupBy(word) is the classic skew case (stopwords). At
100 TB AQE's skew-join/partial-agg handles it because the partial
aggregate collapses each partition to its distinct words *before* the
exchange — the same reason the reference runs its combiner map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens_regex, tokens_ws
from ..registry import query
from ..sources import load_table


def _words_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(tokens_ws("text")).alias("word")).filter(
        F.col("word") != ""
    )


# Shared with the compat runner's word counts (mr_wordcount_compat,
# mr_pickle_compat): one oracle for every formulation of the job.
_WORDCOUNT_ORACLE = """
SELECT word, COUNT(*) AS cnt
FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


@query(
    "wordcount",
    oracle=_WORDCOUNT_ORACLE,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT word, COUNT(*) GROUP BY word — the reference's flagship
    job (mapper emits (word,1) per whitespace token, combiner+reducer
    sum; count_functions.py:1-17)."""
    return _words_ws(spark, sf_dir).groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "wordset",
    oracle="""
SELECT DISTINCT word
FROM (SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS word FROM documents)
WHERE word <> ''
""",
)
def wordset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT word — reference word_set_functions.py:1-13
    (reducer returns (word, True); here plain distinct)."""
    return _words_ws(spark, sf_dir).distinct()


@query(
    "wordset_regex",
    oracle="""
SELECT DISTINCT word
FROM (SELECT UNNEST(regexp_extract_all(text, '\\w+')) AS word FROM documents)
WHERE word <> ''
""",
)
def wordset_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Distinct tokens via re.findall(r'\w+') — the fernan variant
    (reference fernan/functions.py:5, fernan/solution.py:1-15)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_regex("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
