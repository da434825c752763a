"""Unit + plan tests for the sparse-retrieval tier (retrieval.py).
Oracle parity is covered by test_oracle_parity; these pin ranking
semantics and physical-plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.operators.retrieval import (
    _BM25_TERMS,
    _TOPK,
)
from simplemapreduceframework_spark.plans import explain_str

registry.load_all()
Q = registry.QUERIES


def test_bm25_topk_sorted_and_bounded(spark, sf_dir):
    rows = Q["text_bm25"](spark, sf_dir).collect()
    assert 0 < len(rows) <= _TOPK
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # ties (if any) break by ascending doc_id
    for a, b in zip(rows, rows[1:]):
        if a["bm25"] == b["bm25"]:
            assert a["doc_id"] < b["doc_id"]


def test_bm25_scores_only_docs_with_query_terms(spark, sf_dir):
    from simplemapreduceframework_spark.sources import load_table
    from simplemapreduceframework_spark.functions import tokens_regex

    top = {r["doc_id"] for r in Q["text_bm25"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    with_terms = {
        r["doc_id"]
        for r in docs.select(
            "doc_id",
            F.arrays_overlap(
                tokens_regex(F.lower(F.col("text"))),
                F.array(*[F.lit(t) for t in _BM25_TERMS]),
            ).alias("hit"),
        )
        .filter("hit")
        .collect()
    }
    assert top <= with_terms


def test_bm25_positive_scores(spark, sf_dir):
    rows = Q["text_bm25"](spark, sf_dir).collect()
    assert all(r["bm25"] > 0 for r in rows)


def test_bm25_plan_is_topk_not_global_sort(spark, sf_dir):
    df = Q["text_bm25"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    rows = Q["hybrid_search_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= _TOPK
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # docs present in both legs outrank equal-rank single-leg docs;
    # at least one fused doc should carry both ranks on this corpus
    both = [r for r in rows if r["lex_rank"] and r["dense_rank"]]
    assert both
    for r in rows:
        want = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (60 + r["dense_rank"]) if r["dense_rank"] else 0.0
        )
        assert r["rrf"] == want


def test_indexed_bm25_equals_scan_path(spark, sf_dir):
    scan = Q["text_bm25"](spark, sf_dir).collect()
    idx = Q["text_bm25_indexed"](spark, sf_dir).collect()
    key = lambda r: (r["doc_id"], r["bm25"])
    assert sorted(map(key, scan)) == sorted(map(key, idx))


def test_indexed_bm25_prunes_postings_partitions(spark, sf_dir):
    plan = explain_str(Q["text_bm25_indexed"](spark, sf_dir))
    # the postings scan must carry BOTH a partition filter on the
    # leading-char key and the pushed word IN filter — assert on the
    # scan node lines themselves, not anywhere in the plan
    scan_lines = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l or "PushedFilters" in l
    ]
    assert any(
        "PartitionFilters" in l and "p#" in l and "IN" in l
        for l in scan_lines
    ), plan
    assert any(
        "PushedFilters" in l and "In(word" in l for l in scan_lines
    ), plan


def test_retrieval_eval_green_and_responds_to_ranking(spark, sf_dir):
    """retrieval_eval_bm25's metrics must be computed from the real
    ranking: on the healthy top-k every fixed query finds an all-terms
    document at rank 1 (MRR 1.0 — the corpus is term-dense), and
    feeding the SAME metric plumbing a corrupted ranking (the
    bottom-k instead of the top-k) strictly drops the summed
    precision@k — proof the labels and ranks are live, not constants."""
    from simplemapreduceframework_spark.operators import retrieval as rt

    rows = {r["query_id"]: r for r in Q["retrieval_eval_bm25"](spark, sf_dir).collect()}
    assert set(rows) == set(rt._BATCH_QUERIES)
    for r in rows.values():
        assert r["first_rel_rank"] == 1 and r["rr_at_k"] == 1.0
        assert 0.0 < r["recall_at_k"] <= 1.0
        assert r["hits_at_k"] <= r["n_ranked"] <= rt._EVAL_K
        assert r["n_rel"] >= r["hits_at_k"]

    scored = rt._bm25_pivoted(spark, sf_dir, rt._BATCH_TERMS)
    arms = []
    for qid, terms in sorted(rt._BATCH_QUERIES.items()):
        score = sum(
            (F.col(f"c_{t}") for t in terms[1:]), F.col(f"c_{terms[0]}")
        )
        is_rel = F.lit(True)
        for t in terms:
            is_rel = is_rel & (F.col(f"c_{t}") > 0.0)
        arms.append(
            scored.filter(score > 0.0)
            .select(
                F.lit(qid).alias("query_id"),
                "doc_id",
                F.round(score, 4).alias("bm25"),
                F.when(is_rel, 1).otherwise(0).alias("is_rel"),
            )
            .orderBy(F.col("bm25").asc(), F.col("doc_id").asc())  # WORST-k
            .limit(rt._EVAL_K)
        )
    worst = arms[0]
    for a in arms[1:]:
        worst = worst.unionAll(a)
    rels = spark.createDataFrame(
        [(qid, rows[qid]["n_rel"]) for qid in rows], "query_id string, n_rel long"
    )
    bad = {r["query_id"]: r for r in rt._eval_metric_rows(worst, rels).collect()}
    assert sum(r["precision_at_k"] for r in bad.values()) < sum(
        r["precision_at_k"] for r in rows.values()
    )


def test_batch_and_eval_share_one_persisted_pivot(spark, sf_dir):
    """The batch tier's corpus pass must be paid ONCE per session:
    text_bm25_batch and retrieval_eval_bm25 both consume the memoized
    persisted pivot from _bm25_pivot_shared (ADVICE r10 — the eval
    query's unpersisted plan embedded ~4 copies of the
    tokenize+postings subtree). Identity, storage level, and release
    are all checked so a regression to per-query pivots fails loudly."""
    from simplemapreduceframework_spark.session_memo import release, session_memo

    release(spark, "bm25")
    memo = session_memo(spark)
    key = ("bm25", "_bm25_pivot_shared", sf_dir)
    assert key not in memo

    Q["text_bm25_batch"](spark, sf_dir).count()
    pivot = memo[key]
    assert pivot.storageLevel.useMemory  # actually persisted

    Q["retrieval_eval_bm25"](spark, sf_dir).count()
    assert memo[key] is pivot  # same frame, no rebuild

    # r11: the single-query and hybrid legs joined the family — both
    # must serve from the SAME pivot, not rebuild their own
    Q["text_bm25"](spark, sf_dir).count()
    Q["hybrid_search_rrf"](spark, sf_dir).count()
    assert memo[key] is pivot

    release(spark, "bm25")
    assert key not in memo
    assert ("bm25", "text_bm25_batch", sf_dir) not in memo
    assert not pivot.storageLevel.useMemory  # release really unpersists


def test_shared_pivot_restores_query_row_set_exactly(spark, tmp_path):
    """The r11 exactness contract behind serving text_bm25 from the
    WIDER batch pivot: a doc matching only non-query batch terms sits
    in the shared pivot but must NOT enter the query's scored rows,
    and every surviving score must be bit-identical to the narrow
    4-term pivot built directly (same expression tree, same inputs).
    Can-fail: dropping _bm25_scored's sum>0 filter admits doc 2."""
    from simplemapreduceframework_spark.operators import retrieval as rt
    from simplemapreduceframework_spark.session_memo import release

    rows = [
        (1, "vector merge algorithms run fast", "src0"),   # query terms
        (2, "hash join table plans", "src0"),              # batch-only terms
        (3, "nothing relevant in this one", "src0"),       # no batch terms
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    path = str(tmp_path / "pivotset")
    docs.write.parquet(f"{path}/documents.parquet")

    try:
        pivot_ids = {
            r["doc_id"] for r in rt._bm25_pivot_shared(spark, path).collect()
        }
        assert pivot_ids == {1, 2}  # the wider pivot holds both

        scored = {
            r["doc_id"]: r["bm25"]
            for r in rt._bm25_scored(spark, path).collect()
        }
        assert set(scored) == {1}  # batch-only doc filtered back out

        narrow = {
            r["doc_id"]: r["bm25"]
            for r in rt._score_sum(
                rt._bm25_pivoted(spark, path, rt._BM25_TERMS), rt._BM25_TERMS
            ).collect()
        }
        assert scored == narrow  # bit-identical, not just same rows
    finally:
        release(spark, "bm25")
