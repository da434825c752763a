"""The benchmark's workloads: named job lists over the package's layers.

Each job has two phases, timed separately by the runner: ``construct``
(the driver-side call that builds the job: a registry query function, a
``LocalClient`` or ``MapReduceJob``) and ``execute`` (running it: a noop
write of the DataFrame, or the compat job's collect).
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
FUNCTIONS = os.path.join(HERE, "mrfunctions")

# Registry queries per workload, in pass order. See README.md for why
# each list was chosen and what was left out of it. The streaming query
# is the one job of the list that drives ``streaming.run_available_now``.
LLM_PIPELINE = [
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "text_bm25",
    "graph_pagerank",
    "streaming_tumbling_live",
]
MR_JOBS = ["wc_client", "wc_fast", "inverted_index", "grouped_avg", "wc_pickled"]

WORKLOADS = {"mr_jobs": MR_JOBS, "llm_pipeline": LLM_PIPELINE}


@dataclass
class Job:
    name: str
    construct: Callable[[], Any]
    execute: Callable[[Any], Any]


def registry_jobs(spark, names: list[str], sf_dir: str) -> list[Job]:
    from simplemapreduceframework_spark import registry

    registry.load_all()

    def noop_write(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    return [
        Job(n, lambda fn=registry.QUERIES[n]: fn(spark, sf_dir), noop_write)
        for n in names
    ]


def mr_jobs(spark, corpus) -> list[Job]:
    from simplemapreduceframework_spark.compat import (
        LocalClient,
        MapReduceJob,
        load_functions,
    )
    from simplemapreduceframework_spark.compat.mapreduce import read_pickled_records

    sc = spark.sparkContext
    wordcount = os.path.join(FUNCTIONS, "wordcount.py")

    def job(path: str, read: Callable[[], Any], **kw) -> Callable[[], Any]:
        def construct():
            mapper, reducer, combiner = load_functions(path)
            return MapReduceJob(spark, mapper, reducer, combiner, **kw), read()

        return construct

    def run(handle) -> list:
        mr, records = handle
        return mr.run_rdd(records).collect()

    return [
        # a fresh client per call: LocalClient caches finished results
        Job(
            "wc_client",
            lambda: LocalClient(spark, corpus.text_path, wordcount, mode="faithful"),
            lambda client: client.execute(),
        ),
        Job("wc_fast", job(wordcount, lambda: sc.textFile(corpus.text_path), mode="fast"), run),
        Job(
            "inverted_index",
            job(
                os.path.join(FUNCTIONS, "inverted_index.py"),
                lambda: sc.textFile(corpus.text_path),
                sort_values=True,
            ),
            run,
        ),
        Job(
            "grouped_avg",
            lambda: LocalClient(
                spark,
                corpus.csv_path,
                os.path.join(FUNCTIONS, "average.py"),
                data_type="table",
            ),
            lambda client: client.execute(),
        ),
        Job(
            "wc_pickled",
            job(wordcount, lambda: read_pickled_records(spark, corpus.pickle_dir)),
            run,
        ),
    ]


def mr_expected(corpus) -> dict[str, dict]:
    """Pure-Python recount of every MapReduce job from the generated
    lines (no Spark, no package code)."""
    counts: Counter[str] = Counter()
    postings: dict[str, set[int]] = {}
    for line in corpus.lines:
        doc, _, text = line.partition("\t")
        words = text.split()
        counts.update(words)
        for w in set(words):
            postings.setdefault(w, set()).add(int(doc[3:]))
    sums: Counter[str] = Counter()
    n: Counter[str] = Counter()
    for row in corpus.csv_rows:
        breed, age = row.split(",")
        sums[breed] += int(age)
        n[breed] += 1
    wc = dict(counts)
    return {
        "wc_client": wc,
        "wc_fast": wc,
        "wc_pickled": wc,
        "inverted_index": {
            w: (len(d), sorted(d)[:3]) for w, d in postings.items()
        },
        "grouped_avg": {b: sums[b] / n[b] for b in sums},
    }
