"""The session_memo lifecycle: shared frames are built once per session
and never accrete executor storage, release frees exactly what the
helper persisted, sibling sessions never share entries, and every
family a query reads is one it declares."""

from __future__ import annotations

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.session_memo import (
    recorded_reads,
    release,
    session_memo,
)
from simplemapreduceframework_spark.sources import load_table

registry.load_all()
Q = registry.QUERIES


def _cached_rdds(spark) -> set[int]:
    """Ids of the RDDs holding cached blocks in executor storage."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_second_round_adds_no_storage_and_release_restores_baseline(
    spark, sf_dir
):
    release(spark)
    base = _cached_rdds(spark)
    rounds = []
    for _ in range(2):
        for name in ("text_bm25", "dedup_ngram_jaccard"):
            Q[name](spark, sf_dir).count()
        rounds.append(_cached_rdds(spark))
    assert rounds[0] > base  # the shared frames really are cached
    assert rounds[1] == rounds[0]  # the second round reuses them
    release(spark)
    assert _cached_rdds(spark) == base


def test_releasing_ivf_frees_the_inner_embedding_frame(spark, sf_dir):
    """_ivf_scored persists the norm-annotated corpus it trains on;
    releasing the "ivf" family must free it along with the scored
    candidates, not just forget them."""
    release(spark)
    base = _cached_rdds(spark)
    Q["ann_ivf_topk"](spark, sf_dir).count()
    emb = session_memo(spark)[("ivf", "emb", sf_dir)]
    assert emb.storageLevel.useMemory
    release(spark, "ivf")
    assert not emb.storageLevel.useMemory
    assert _cached_rdds(spark) == base


def test_new_session_sibling_gets_its_own_scan_and_merges(spark, sf_dir):
    """newSession() siblings share the applicationId but not the
    catalog: neither the analyzed load_table frame nor the trained BPE
    merges may leak from the parent session into a sibling."""
    from simplemapreduceframework_spark.operators import bpe

    parent_scan = load_table(spark, sf_dir, "documents")
    parent_merges = bpe._train(spark, sf_dir)
    sib = spark.newSession()
    assert not session_memo(sib)
    sib_scan = load_table(sib, sf_dir, "documents")
    assert sib_scan is not parent_scan
    assert sib_scan.sparkSession is sib
    sib_merges = bpe._train(sib, sf_dir)
    assert sib_merges is not parent_merges  # trained in the sibling
    assert sib_merges == parent_merges


def test_queries_read_only_their_declared_family(spark, sf_dir):
    """Every family a query's construction reads through the helper is
    the one its registration declares. A declaration may also cover
    CacheManager substitution alone, so reads are a subset. Each query
    starts from an empty memo: a memoized entry built by an earlier
    query would hide the reads its build makes."""
    bad = {}
    for name, fn in Q.items():
        release(spark)
        with recorded_reads() as reads:
            fn(spark, sf_dir)
        extra = reads - {registry.FAMILY.get(name)}
        if extra:
            bad[name] = sorted(extra)
    assert not bad, bad


def test_shared_plan_tells_hash_colliding_plans_apart(spark, monkeypatch):
    """shared_plan keys on the 32-bit semanticHash; two different
    plans that collide on it must still get their own frames."""
    from pyspark.sql import DataFrame

    from simplemapreduceframework_spark.session_memo import shared_plan

    monkeypatch.setattr(DataFrame, "semanticHash", lambda self: 0)
    three = shared_plan("plantest", spark.range(3))
    five = shared_plan("plantest", spark.range(5))
    try:
        assert (three.count(), five.count()) == (3, 5)
        assert shared_plan("plantest", spark.range(3)) is three
    finally:
        release(spark, "plantest")
    assert not three.storageLevel.useMemory
