"""Compat-layer queries: reference workloads run through the RDD
MapReduce runner, oracle-checked against the same SQL as the DataFrame
versions — proof the compatibility surface computes what the reference
computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.referenceq import _WORDCOUNT_ORACLE
from ..registry import query
from ..sources import load_table
from .mapreduce import MapReduceJob


# Reference-contract user functions (our own implementations of the
# workloads in count_functions.py:1-17 and README.md:25-36 — the
# contract shapes, not copies).

def _wc_mapper(key, value):
    return [(w, 1) for w in value.split()]


def _wc_combiner(key, values):
    return key, sum(values)


def _wc_reducer(key, values):
    return key, sum(values)


def _avg_mapper(key, value):
    # 'table' mode: positional CSV columns (grp at 0, qty at 1), the
    # reference's documented recipe (README.md:30-33).
    cols = value.split(",")
    return [(cols[0], (float(cols[1]), 1))]


def _avg_combiner(key, values):
    return key, (sum(v[0] for v in values), sum(v[1] for v in values))


def _avg_reducer(key, values):
    total = sum(v[0] for v in values)
    count = sum(v[1] for v in values)
    return key, (total, count)


@query(
    "mr_wordcount_compat",
    oracle=_WORDCOUNT_ORACLE,
)
def mr_wordcount_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the MapReduce compat runner (mapper emits
    (word,1), combiner/reducer sum — the reference's flagship job) —
    same oracle as the DataFrame `wordcount`, so the gate proves the
    RDD path and the SQL path agree."""
    lines = load_table(spark, sf_dir, "documents").select("text").rdd.map(
        lambda r: r[0]
    )
    job = MapReduceJob(
        spark, _wc_mapper, _wc_reducer, _wc_combiner, mode="faithful"
    )
    out = job.run_rdd(lines)
    return spark.createDataFrame(out, "word string, cnt long")


@query(
    "mr_grouped_avg_compat",
    oracle="""
SELECT l_returnflag AS grp,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM lineitem
GROUP BY l_returnflag
""",
)
def mr_grouped_avg_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's grouped-AVG SQL recipe (README.md:25-36) through
    the compat runner in 'table' mode: mapper emits (grp,(x,1)), the
    combiner partial-sums, the reducer finishes sum/count.

    Quantities are integral, so the float partial sums are exact in any
    accumulation order and the final division matches the decimal
    oracle bit-for-bit.
    """
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .rdd.map(lambda r: f"{r[0]},{r[1]}")
    )
    job = MapReduceJob(
        spark, _avg_mapper, _avg_reducer, _avg_combiner, mode="faithful"
    )
    finished = job.run_rdd(lines).map(lambda kv: (kv[0], kv[1][0] / kv[1][1]))
    return spark.createDataFrame(finished, "grp string, avg_value double")


def _pickle_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the documents table as byte-mode input: dict records
    pickled as sequential frames across 4 slice files (the reference's
    byte-mode inputs are exactly such user-prepared pickle files,
    data_handler.py:271-298). Fixture prep, not the measured operator —
    built once per sf_dir via Arrow and cached in tmp; the split is
    deterministic (doc_id % 4) so re-builds are byte-identical.
    """
    import hashlib
    import pickle
    import tempfile
    from pathlib import Path

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = Path(tempfile.gettempdir()) / f"smrf_pickle_docs_{key}"
    if not d.exists():
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .toPandas()
            .sort_values("doc_id")
        )
        tmp = Path(tempfile.mkdtemp(dir=tempfile.gettempdir()))
        handles = [(tmp / f"part-{i}.pkl").open("wb") for i in range(4)]
        try:
            for doc_id, text in zip(docs["doc_id"], docs["text"]):
                pickle.dump(
                    {"doc_id": int(doc_id), "text": text},
                    handles[int(doc_id) % 4],
                )
        finally:
            for h in handles:
                h.close()
        try:
            tmp.rename(d)
        except OSError:  # concurrent builder won the rename race
            pass
    return str(d)


def _pickle_wc_mapper(key, value):
    # byte-mode records are python dicts, not text lines
    return [(w, 1) for w in value["text"].split()]


@query(
    "mr_pickle_compat",
    oracle=_WORDCOUNT_ORACLE,
)
def mr_pickle_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-mode record reader (reference tasktracker.py:48-51,111-117)
    end-to-end: pickled dict records -> mapper/combiner/reducer word
    count — same oracle as `mr_wordcount_compat`, proving the pickle
    reader and the text reader feed the runner identically."""
    from .mapreduce import read_pickled_records

    records = read_pickled_records(spark, _pickle_fixture_dir(spark, sf_dir))
    job = MapReduceJob(
        spark, _pickle_wc_mapper, _wc_reducer, _wc_combiner, mode="faithful"
    )
    out = job.run_rdd(records)
    return spark.createDataFrame(out, "word string, cnt long")


from .._serde import pickle_by_value as _pbv  # noqa: E402
_pbv(__name__)
