"""Dedup + similarity semantics beyond the oracle compare: cross-method
consistency (MinHash candidates verify against exact Jaccard; LSH
recall against brute force) and determinism of the hash machinery."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from simplemapreduceframework_spark import registry

registry.load_all()
Q = registry.QUERIES


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_pairs_subset_of_exact_jaccard(spark, sf_dir):
    """LSH candidates are verified with exact Jaccard at the same
    threshold, so MinHash output must be a subset of the exact
    all-pairs result (it misses only what banding never bucketed)."""
    exact = _pairs(Q["dedup_ngram_jaccard"](spark, sf_dir))
    lsh = _pairs(Q["dedup_minhash_lsh"](spark, sf_dir))
    assert lsh <= exact
    # near-exact duplicates (the synthetic corpus has them) must be found
    assert lsh, "MinHash found no duplicate pairs at all"


def test_minhash_recall_on_near_exact_dups(spark, sf_dir):
    """Pairs with jaccard >= 0.9 collide in at least one band with
    probability ~1-(1-0.9^4)^4 ~ 0.96; the synthetic near-dups are
    mostly identical docs, so expect full recall on that slice."""
    exact_high = {
        (r["doc_a"], r["doc_b"])
        for r in Q["dedup_ngram_jaccard"](spark, sf_dir).collect()
        if r["jaccard"] >= 0.9
    }
    lsh = _pairs(Q["dedup_minhash_lsh"](spark, sf_dir))
    missed = exact_high - lsh
    assert not missed, f"MinHash missed near-exact pairs: {missed}"


def test_exact_dedup_partitions_the_corpus(spark, sf_dir):
    rows = Q["dedup_exact"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_copies"] for r in rows) == n_docs
    assert all(r["n_copies"] >= 1 for r in rows)


def test_simhash_identical_docs_same_signature(spark, sf_dir):
    """Exact duplicate texts must land on identical simhash values."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = {r["doc_id"]: r["simhash"] for r in Q["dedup_simhash"](spark, sf_dir).collect()}
    by_text: dict[str, list[int]] = {}
    for r in docs.select("doc_id", "text").collect():
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    for ids in by_text.values():
        if len(ids) > 1:
            sigs = {sig[i] for i in ids}
            assert len(sigs) == 1


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    """Same-bucket constraint loses neighbors, but identical/near-dup
    vectors bucket together: measure recall@5 against the exact top-k
    and require a sane floor for 256 buckets over 500 vectors."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in Q["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in Q["ann_lsh_bucketed"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.05, f"recall collapsed: {recall}"
    # and every approx result is a genuine same-bucket candidate pair
    assert approx, "LSH returned nothing"


def test_cosine_values_match_python(spark, sf_dir):
    """dot_seq's sequential fold == pure-Python math.fsum-free loop."""
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(20)
        .collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in Q["ann_cosine_topk"](spark, sf_dir).collect()
    }

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    for (qid, nid), cos in got.items():
        if qid in emb and nid in emb:
            a, b = emb[qid], emb[nid]
            expect = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
            assert cos == expect, (qid, nid, cos, expect)


def test_stats_numeric_matches_duckdb_approximately(spark, duck, sf_dir):
    """Float-order-sensitive aggregates: assert 1e-9 relative agreement
    with DuckDB (exact hash equality is undefined for these)."""
    got = {
        r["l_returnflag"]: r.asDict()
        for r in Q["stats_numeric"](spark, sf_dir).collect()
    }
    exp = duck.execute(
        """
        SELECT l_returnflag,
               stddev_samp(l_quantity) AS qty_stddev,
               var_samp(l_quantity) AS qty_var,
               corr(l_quantity, l_extendedprice) AS qty_price_corr,
               covar_samp(l_quantity, l_extendedprice) AS qty_price_covar,
               skewness(l_quantity) AS qty_skew,
               kurtosis(l_quantity) AS qty_kurt
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    cols = ["qty_stddev", "qty_var", "qty_price_corr", "qty_price_covar", "qty_skew", "qty_kurt"]
    counts = dict(
        duck.execute(
            "SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    )
    for row in exp:
        flag, vals = row[0], dict(zip(cols, row[1:]))
        n = counts[flag]
        for c, v in vals.items():
            g = got[flag][c]
            if c == "qty_skew":
                # DuckDB reports sample-adjusted G1; Spark reports g1.
                v = v * (n - 2) / math.sqrt(n * (n - 1))
            elif c == "qty_kurt":
                # DuckDB: sample excess kurtosis G2; Spark: g2.
                # G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)(n-3))  =>  invert.
                v = v * (n - 2) * (n - 3) / ((n + 1) * (n - 1)) - 6.0 / (n + 1)
            assert abs(g - v) <= 1e-6 * max(abs(v), 1.0), (flag, c, g, v)


def test_winnow_fingerprints_guarantee(spark, sf_dir):
    """Winnowing guarantee: identical documents share identical
    fingerprint sets."""
    fps: dict[int, set] = {}
    for r in Q["text_winnow_fingerprints"](spark, sf_dir).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    by_text: dict[str, list[int]] = {}
    for r in docs.select("doc_id", "text").collect():
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    for ids in by_text.values():
        if len(ids) > 1:
            sets = [fps[i] for i in ids]
            assert all(s == sets[0] for s in sets)


def test_approx_distinct_error_bounds(spark, duck, sf_dir):
    """HyperLogLog++ and approximate quantiles: assert bounded error vs
    exact values (approximation differs by engine by design)."""
    got = {r["l_returnflag"]: r.asDict() for r in Q["approx_distinct"](spark, sf_dir).collect()}
    exact = duck.execute(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey), "
        "quantile_cont(l_quantity, 0.5) FROM lineitem GROUP BY l_returnflag"
    ).fetchall()
    for flag, nd, med in exact:
        approx = got[flag]["approx_parts"]
        assert abs(approx - nd) <= 0.1 * nd, (flag, approx, nd)
        q50 = got[flag]["qty_p50"]
        assert abs(q50 - med) <= 3.0, (flag, q50, med)


def test_approx_percentiles_gate_passes_and_can_fail(spark, sf_dir):
    """The gate's booleans must be TRUE on real data at the shipped
    accuracy AND demonstrably flip when the sketch degrades: at
    accuracy=1 on a heavy-tailed column the sketch's p99 lands outside
    the exact rank +/- 0.02 window — proof the gate is computed from
    the data, not mirrored from the constant-true oracle."""
    from pyspark.sql import functions as F

    rows = Q["approx_percentiles_gate"](spark, sf_dir).collect()
    assert rows and all(
        r["p50_ok"] and r["p90_ok"] and r["p99_ok"] for r in rows
    )
    vals = [(float(i % 100),) for i in range(10000)] + [(10000.0,)] * 50
    df = spark.createDataFrame(vals, "v double")
    r = df.agg(
        F.percentile_approx("v", F.lit(0.99), F.lit(1)).alias("a"),
        F.percentile("v", F.lit(0.97)).alias("lo"),
        F.percentile("v", F.lit(1.0)).alias("hi"),
    ).collect()[0]
    assert not (r["lo"] <= r["a"] <= r["hi"]), r


def test_exact_moments_agree_with_builtin_stats(spark, sf_dir):
    """The exact-sum formulation must agree with Spark's builtin
    var/corr to float tolerance (they estimate the same quantities)."""
    exact = {r["l_returnflag"]: r.asDict() for r in Q["stats_exact_moments"](spark, sf_dir).collect()}
    builtin = {r["l_returnflag"]: r.asDict() for r in Q["stats_numeric"](spark, sf_dir).collect()}
    for flag, e in exact.items():
        b = builtin[flag]
        assert abs(e["qty_var"] - b["qty_var"]) <= 1e-6 * abs(b["qty_var"])
        assert abs(e["qty_price_corr"] - b["qty_price_corr"]) <= 1e-6
        assert abs(e["qty_price_covar"] - b["qty_price_covar"]) <= 1e-6 * abs(b["qty_price_covar"])


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF with nprobe=4 of 16 cells must recover well over half of the
    exact top-k (the embeddings are clustered, so the data-adaptive
    cells concentrate true neighbors)."""
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in Q["ann_ivf_topk"](spark, sf_dir).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in Q["ann_cosine_topk"](spark, sf_dir).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.6, recall
    # per-query result size never exceeds k
    from collections import Counter

    per_q = Counter(q for q, _ in ivf)
    assert all(v <= 5 for v in per_q.values())


def test_ivf_candidates_are_pruned(spark, sf_dir):
    """IVF must actually prune: scored candidates well under corpus
    size (nprobe/cells of it, give or take cell imbalance)."""
    from simplemapreduceframework_spark.operators.similarity import _ivf_scored

    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_cand = _ivf_scored(spark, sf_dir).count()
    assert n_cand < 0.7 * n_corpus * 10  # 10 queries, <70% of corpus each


def test_pipeline_stages_monotonic(spark, sf_dir):
    """Each pipeline stage only removes documents; the final per-source
    doc counts sum to at most the corpus size and every kept doc meets
    the quality/token floor."""
    out = Q["pipeline_clean_corpus"](spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in out)
    n_corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0 < total <= n_corpus
    assert all(r["min_quality"] >= 0.43 for r in out)


def test_ann_search_batch_api_matches_registered_query(spark, sf_dir):
    """ann_search with the corpus's own first-10 vectors as the query
    batch must reproduce ann_cosine_topk (minus the self-match, which
    the registered query excludes and the API keeps as rank 1)."""
    from simplemapreduceframework_spark.operators.similarity import ann_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_search(emb, queries, k=6).collect()
    # self-match ranks first with cosine ~1
    self_rows = [r for r in got if r["query_id"] == r["neighbor_id"]]
    assert len(self_rows) == 10
    assert all(r["rank"] == 1 and abs(r["cos_sim"] - 1.0) < 1e-9 for r in self_rows)
    got_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in got
        if r["query_id"] != r["neighbor_id"]
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in Q["ann_cosine_topk"](spark, sf_dir).collect()
    }
    assert got_pairs == exact


def test_ann_search_ivf_batch_recall(spark, sf_dir):
    """The IVF-backed batch API must recover most of the exact batch
    top-k (self-matches included on both sides — the query ids here
    are corpus ids, so the self cell always probes first)."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_search,
        ann_search_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search_ivf(emb, queries, k=6).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(emb, queries, k=6).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.6


def test_minhash_verify_cap_bounds_pathological_docs(spark, tmp_path):
    """A pathological pair of near-dup documents with far more shingles
    than _VERIFY_CAP must still verify with bounded per-pair cost: the
    bottom-k sample engages (capped shingle set < true shingle set) and
    the sketch estimator lands within sampling error of true Jaccard."""
    from simplemapreduceframework_spark.operators import dedup as dd

    n = 3000
    toks_a = [f"w{i}" for i in range(n)]
    # ~2% token edits -> true shingle Jaccard ~0.94
    toks_b = [f"x{i}" if i % 50 == 0 else f"w{i}" for i in range(n)]
    sh = lambda t: {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
    a, b = sh(toks_a), sh(toks_b)
    true_j = len(a & b) / len(a | b)
    assert len(a) > dd._VERIFY_CAP and len(a | b) > dd._VERIFY_CAP

    docs = spark.createDataFrame(
        [(0, " ".join(toks_a), "synth"), (1, " ".join(toks_b), "synth")],
        "doc_id bigint, text string, source string",
    )
    path = str(tmp_path / "pathological")
    docs.write.parquet(f"{path}/documents.parquet")

    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in Q["dedup_minhash_lsh"](spark, path).collect()
    }
    assert (0, 1) in out, "near-dup pair not found"
    # bottom-k estimator with k=1024: sampling error ~1/sqrt(k) ~ 0.03
    assert abs(out[(0, 1)] - true_j) < 0.1, (out[(0, 1)], true_j)
    # the cap genuinely engaged: the capped per-doc contribution is k,
    # not the full shingle set
    n_capped = (
        dd._shingles(spark, path)
        .groupBy("doc_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert n_capped > dd._VERIFY_CAP  # raw index is bigger than the cap


def test_ivf_recall_gate_passes_and_can_fail(spark, sf_dir, monkeypatch):
    """The driver-visible recall gate must be a REAL gate: green on the
    healthy index, and red when the index is deliberately broken.
    Breakage = probing the FARTHEST cells instead of the nearest
    (simulates corrupted centroids in a persisted index) — candidates
    then come from the wrong side of the space and recall collapses."""
    from simplemapreduceframework_spark.operators import similarity as sim
    from simplemapreduceframework_spark.session_memo import release
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # healthy: the gate row is True at the tightened 0.85 floor
    release(spark, "ivf")
    [row] = Q["ann_ivf_recall_gate"](spark, sf_dir).collect()
    assert row["recall_ok"] is True

    def farthest_probe(C, nprobe):
        Cm = C.copy()

        @pandas_udf(ArrayType(LongType()))
        def probe(e: pd.Series) -> pd.Series:
            V = np.vstack(e.to_numpy()).astype(np.float64)
            d = (V * V).sum(axis=1, keepdims=True) - 2 * (V @ Cm.T) + (
                Cm * Cm
            ).sum(axis=1)
            order = np.argsort(d, axis=1)[:, -nprobe:].astype(np.int64)
            return pd.Series(list(order))

        return probe

    monkeypatch.setattr(sim, "_make_probe_udf", farthest_probe)
    release(spark, "ivf")
    try:
        [row] = Q["ann_ivf_recall_gate"](spark, sf_dir).collect()
        assert row["recall_ok"] is False, "gate failed to catch a broken probe"
    finally:
        release(spark, "ivf")  # never leak the poisoned index


def test_lm_coverage_semantics(spark, sf_dir):
    """LM coverage invariants: hit_rate in [0,1]; probabilities are
    valid conditionals in (0,1]; every test-split doc with >=1 trigram
    appears exactly once."""
    rows = Q["text_lm_coverage"](spark, sf_dir).collect()
    assert rows
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        assert 0.0 <= r["hit_rate"] <= 1.0
        assert r["n_hit"] <= r["n_tri"]
        if r["n_hit"] > 0:
            assert 0.0 < r["min_p"] <= r["max_p"] <= 1.0


def test_ngram_jaccard_bucket_cap_bounds_hot_shingles(spark, tmp_path):
    """A stopword-like shingle shared by more docs than _NGRAM_BUCKET_CAP
    must not explode quadratically: mega-bucket-only pairs are dropped,
    genuine near-dups (supported by low-frequency shingles) survive, and
    the DuckDB oracle applies the identical doc-frequency filter."""
    import duckdb

    from simplemapreduceframework_spark.operators import dedup as dd

    hot = "the quick brown fox jumps"  # every doc shares these shingles
    n = dd._NGRAM_BUCKET_CAP + 20
    rows = [(i, f"{hot} unique{i} filler{i} tail{i}", "synth") for i in range(n)]
    # one genuine near-dup pair sharing a long low-frequency run
    run = " ".join(f"dup{j}" for j in range(30))
    rows.append((n, f"{run} alpha", "synth"))
    rows.append((n + 1, f"{run} beta", "synth"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    path = str(tmp_path / "hotshingle")
    docs.write.parquet(f"{path}/documents.parquet")

    # the fixture really has shingles above the cap
    hot_df = (
        dd._shingles(spark, path)
        .groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert hot_df > dd._NGRAM_BUCKET_CAP

    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in Q["dedup_ngram_jaccard"](spark, path).collect()}
    # without the cap the hot shingles alone produce n*(n-1)/2 > 7000
    # candidate pairs; with it, only the genuine near-dup pair remains
    assert (n, n + 1) in out
    assert all(a == n and b == n + 1 for a, b in out), out.keys()

    # oracle agreement on the same fixture (engine cap == oracle cap)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{path}/documents.parquet/*.parquet'"
    )
    orc = con.execute(registry.ORACLES["dedup_ngram_jaccard"])
    orows = {(a, b): j for a, b, j in orc.fetchall()}
    con.close()
    assert set(orows) == set(out)
    for k in out:
        assert abs(out[k] - orows[k]) < 1e-12


def test_ivf_cells_scale_with_corpus():
    from simplemapreduceframework_spark.operators import similarity as sim

    assert sim.ivf_cells_for(100) == 16  # floor engages
    assert sim.ivf_cells_for(2000) == 44
    assert sim.ivf_cells_for(1_000_000) == 1000
    assert sim.ivf_nprobe_for(16) == 4
    assert sim.ivf_nprobe_for(1000) == 250


def test_ann_index_persisted_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """build_ann_index -> ann_search_ivf_indexed must (1) reproduce the
    exact top-k above the recall floor with NO training at search time,
    and (2) prune the index scan to the probed cells only (partition
    filter on the cell column), which is the point of persisting."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_search,
        ann_search_ivf_indexed,
        build_ann_index,
        load_ann_centroids,
    )
    from simplemapreduceframework_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cells = build_ann_index(emb, path)
    assert cells == 22  # isqrt(500)
    assert load_ann_centroids(spark, path).shape == (cells, 64)

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ann_search_ivf_indexed(spark, path, queries, k=6)
    plan = explain_str(approx)
    assert "PartitionFilters" in plan and "cell" in plan

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in approx.filter(F.col("neighbor_id") != F.col("query_id")).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(emb, queries, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .collect()
    }
    assert len(got & exact) / len(exact) >= 0.6


def test_ann_index_incremental_add(spark, sf_dir, tmp_path):
    """Build the index on half the corpus, add_to_ann_index the other
    half: searches over the combined index must see vectors from BOTH
    halves and match the recall of a from-scratch build (same centroids
    would differ, so compare against brute force, not bit-for-bit)."""
    from simplemapreduceframework_spark.operators.similarity import (
        add_to_ann_index,
        ann_search,
        ann_search_ivf_indexed,
        build_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_incr")
    build_ann_index(first, path)
    add_to_ann_index(second, path)

    n_indexed = spark.read.parquet(f"{path}/index").count()
    assert n_indexed == emb.count()

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search_ivf_indexed(spark, path, queries, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(emb, queries, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .collect()
    }
    # neighbors from the appended half must be findable
    assert any(n % 2 == 1 for _, n in got)
    assert len(got & exact) / len(exact) >= 0.6


def test_ann_index_sampled_training(spark, sf_dir, tmp_path):
    """Past train_cap vectors, k-means trains on a deterministic hash
    sample (each Lloyd iteration scans ~cap vectors, not the corpus);
    the index must still clear the recall floor and index EVERY vector
    (sampling affects training only, never membership)."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_search,
        ann_search_ivf_indexed,
        build_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_sampled")
    build_ann_index(emb, path, train_cap=100)  # 500 vecs -> ~100 sampled
    assert spark.read.parquet(f"{path}/index").count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search_ivf_indexed(spark, path, queries, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search(emb, queries, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .collect()
    }
    assert len(got & exact) / len(exact) >= 0.6


def test_ann_index_tiny_corpus_fewer_vectors_than_cell_floor(spark, tmp_path):
    """A corpus smaller than the 16-cell floor must still build and
    search (cells clamp to the vector count), not die in numpy."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_search_ivf_indexed,
        build_ann_index,
        load_ann_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 7
    )
    path = str(tmp_path / "ivf_tiny")
    cells = build_ann_index(emb, path)
    assert cells == 7
    assert load_ann_centroids(spark, path).shape[0] == 7
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = ann_search_ivf_indexed(spark, path, queries, k=3).collect()
    assert rows  # produced neighbors without crashing


def test_ann_index_tombstone_delete_and_stats(spark, sf_dir, tmp_path):
    """Deletes are tombstones (no partition rewrite): removed vectors
    vanish from search results immediately, everything else still
    returns, and ann_index_stats reports the damage and flips
    needs_rebuild past the dead-fraction threshold."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_index_stats,
        ann_search_ivf_indexed,
        build_ann_index,
        remove_from_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_tomb")
    build_ann_index(emb, path)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = {
        r["neighbor_id"]
        for r in ann_search_ivf_indexed(spark, path, queries, k=6).collect()
    }
    assert before

    # delete every previously-returned neighbor
    doomed = emb.filter(F.col("vec_id").isin([int(v) for v in before]))
    remove_from_ann_index(doomed, path)
    after = {
        r["neighbor_id"]
        for r in ann_search_ivf_indexed(spark, path, queries, k=6).collect()
    }
    assert after and not (after & before), "tombstoned vectors resurfaced"

    stats = ann_index_stats(spark, path)
    assert stats["n_vectors"] == emb.count()
    assert stats["n_tombstones"] == len(before)
    assert stats["dead_fraction"] > 0
    # healthy fresh index: no rebuild signal before the delete wave
    fresh = str(tmp_path / "ivf_fresh")
    build_ann_index(emb, fresh)
    assert ann_index_stats(spark, fresh)["n_tombstones"] == 0


def test_ann_index_rebuild_compacts_tombstones(spark, sf_dir, tmp_path):
    """Rebuilding over the same path must clear old tombstones: the new
    index contains exactly the given corpus, so previously-deleted
    vectors that are re-indexed become searchable again."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_index_stats,
        ann_search_ivf_indexed,
        build_ann_index,
        remove_from_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_rebuild")
    build_ann_index(emb, path)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = {
        r["neighbor_id"]
        for r in ann_search_ivf_indexed(spark, path, queries, k=6).collect()
    }
    remove_from_ann_index(
        emb.filter(F.col("vec_id").isin([int(v) for v in hits])), path
    )
    assert ann_index_stats(spark, path)["n_tombstones"] == len(hits)

    build_ann_index(emb, path)  # rebuild = compaction
    assert ann_index_stats(spark, path)["n_tombstones"] == 0
    again = {
        r["neighbor_id"]
        for r in ann_search_ivf_indexed(spark, path, queries, k=6).collect()
    }
    assert again == hits, "re-indexed vectors stayed hidden after rebuild"


def test_maybe_rebuild_ann_index_policy(spark, sf_dir, tmp_path):
    """The maintenance wrapper is a no-op on a healthy index and
    rebuilds (clearing tombstones) once the dead fraction crosses the
    threshold."""
    from simplemapreduceframework_spark.operators.similarity import (
        ann_index_stats,
        build_ann_index,
        maybe_rebuild_ann_index,
        remove_from_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_policy")
    build_ann_index(emb, path)
    assert maybe_rebuild_ann_index(emb, path) is False  # healthy

    # tombstone >20% of the corpus -> dead_fraction trips the policy
    remove_from_ann_index(emb.filter(F.col("vec_id") % 4 == 0), path)
    assert ann_index_stats(spark, path)["needs_rebuild"] is True
    assert maybe_rebuild_ann_index(emb, path) is True
    assert ann_index_stats(spark, path)["n_tombstones"] == 0


def test_dedup_winnow_agrees_with_minhash(spark, sf_dir):
    """Two independent near-dup detectors (substring winnowing vs
    token-shingle MinHash) must find the same duplicate pairs on the
    synthetic corpus — cross-method ground-truthing."""
    from simplemapreduceframework_spark import registry

    registry.load_all()
    w = {
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["dedup_winnow"](spark, sf_dir).collect()
    }
    m = {
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert w == m and w


def test_dedup_winnow_bucket_cap_bounds_pair_generation(spark, sf_dir):
    """Boilerplate fingerprints (bucket > cap) must be excluded before
    pairing: the candidate-pair volume is bounded by the sum of
    bn*(bn-1)/2 over the KEPT buckets only, however hot the dropped
    ones are (sf0.001 has ~99 over-cap buckets, so the cap is doing
    real work here)."""
    from pyspark.sql import functions as F

    from simplemapreduceframework_spark.operators.dedup import (
        _WINNOW_BUCKET_CAP,
        dedup_winnow,
    )
    from simplemapreduceframework_spark.operators.textanalysis import (
        text_winnow_fingerprints,
    )

    fps = text_winnow_fingerprints(spark, sf_dir)
    sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("bn"))
    assert sizes.filter(F.col("bn") > _WINNOW_BUCKET_CAP).count() > 0
    kept_bound = (
        sizes.filter(F.col("bn") <= _WINNOW_BUCKET_CAP)
        .select(F.sum(F.expr("bn * (bn - 1) / 2")).alias("s"))
        .collect()[0]["s"]
    )
    pairs = dedup_winnow(spark, sf_dir).count()
    assert pairs <= kept_bound


def test_quantized_gate_green_and_can_fail(spark, sf_dir, monkeypatch):
    """ann_quantized_gate is True for real int8 reconstruction and
    False when quantization is deliberately corrupted (sign-flipping
    every odd dimension scrambles the geometry)."""
    from pyspark.sql import functions as F

    from simplemapreduceframework_spark import registry
    from simplemapreduceframework_spark.operators import similarity as sim
    from simplemapreduceframework_spark.sources import load_table

    registry.load_all()
    [row] = registry.QUERIES["ann_quantized_gate"](spark, sf_dir).collect()
    assert row["recall_ok"] is True

    real_deq = sim._dequantized

    def corrupted(spark_, sf_dir_):
        # rank-destroying corruption: truncate every vector to its
        # first 2 dimensions (a global orthogonal transform like
        # sign-flipping would leave cosine — and the gate — unchanged)
        deq = real_deq(spark_, sf_dir_)
        return deq.select("vec_id", F.slice("e", 1, 2).alias("e"))

    monkeypatch.setattr(sim, "_dequantized", corrupted)
    [row] = registry.QUERIES["ann_quantized_gate"](spark, sf_dir).collect()
    assert row["recall_ok"] is False, "gate failed to catch corrupted codes"


def test_embedding_quantize_error_bounded_by_half_scale(spark, sf_dir):
    """Reconstruction error of symmetric int8 with code floor(x/s+0.5)
    is at most s/2 per dimension, and scale is positive."""
    from simplemapreduceframework_spark import registry

    registry.load_all()
    rows = registry.QUERIES["embedding_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["scale"] > 0
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12


def test_ann_index_quantized_build_and_search(spark, sf_dir, tmp_path):
    """quantize=True stores int8 codes + scale (no float vectors on
    disk), reconstructs at read time, and searching the quantized index
    reproduces the float-index top-k within the quantization recall
    floor; incremental adds keep the quantized scheme."""
    from simplemapreduceframework_spark.operators.similarity import (
        add_to_ann_index,
        ann_search_ivf_indexed,
        build_ann_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fpath = str(tmp_path / "ivf_float")
    qpath = str(tmp_path / "ivf_int8")
    build_ann_index(emb, fpath)
    build_ann_index(emb, qpath, quantize=True)

    stored = spark.read.parquet(f"{qpath}/index")
    assert "q" in stored.columns and "scale" in stored.columns
    assert "e" not in stored.columns
    assert dict(stored.dtypes)["q"] == "array<int>"

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qtop = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search_ivf_indexed(spark, qpath, queries, k=6).collect()
    }
    ftop = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_search_ivf_indexed(spark, fpath, queries, k=6).collect()
    }
    assert len(qtop & ftop) / len(ftop) >= 0.8

    # incremental add into a quantized index keeps the int8 scheme
    extra = emb.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    add_to_ann_index(extra, qpath)
    after = spark.read.parquet(f"{qpath}/index")
    assert "q" in after.columns and "e" not in after.columns
    assert after.filter(F.col("vec_id") >= 100000).count() == 5


def test_maybe_rebuild_preserves_quantized_scheme(spark, sf_dir, tmp_path, monkeypatch):
    """A maintenance rebuild of a quantized index must stay quantized
    unless explicitly told otherwise."""
    from simplemapreduceframework_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_q")
    sim.build_ann_index(emb, path, quantize=True)

    real_stats = sim.ann_index_stats

    def force_rebuild(s, p):
        # real stats (incl. the quantized-scheme detection), rebuild forced
        return {**real_stats(s, p), "needs_rebuild": True}

    monkeypatch.setattr(sim, "ann_index_stats", force_rebuild)
    assert sim.maybe_rebuild_ann_index(emb, path) is True
    after = spark.read.parquet(f"{path}/index")
    assert "q" in after.columns and "e" not in after.columns


def test_ndcg_gate_can_fail_on_corrupted_ranking(spark, sf_dir):
    """Feeding the NDCG gate a ranking of WRONG neighbors (shifted ids)
    must flip ndcg_ok to false — proving the constant-true oracle is a
    real gate, not a tautology."""
    from pyspark.sql import functions as F

    from simplemapreduceframework_spark.operators.similarity import (
        ann_cosine_topk,
        ndcg_gate_row,
    )

    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    corrupted = exact.select(
        "query_id",
        (F.col("neighbor_id") + 100000).alias("neighbor_id"),
        "rank",
    )
    row = ndcg_gate_row(corrupted, exact).collect()[0]
    assert row["ndcg_ok"] is False


def test_ndcg_gate_passes_on_perfect_ranking(spark, sf_dir):
    from simplemapreduceframework_spark.operators.similarity import (
        ann_cosine_topk,
        ndcg_gate_row,
    )

    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    row = ndcg_gate_row(exact, exact).collect()[0]
    assert row["ndcg_ok"] is True


def test_incremental_dedup_flags_and_store_lifecycle(spark, tmp_path):
    """known_dup fires only for fingerprints in the persisted store,
    batch_dup only for later copies within the batch, and the batch
    never rescans the corpus (store parquet is the only corpus
    artifact touched)."""
    from simplemapreduceframework_spark.operators.dedup import (
        build_fingerprint_store,
        dedup_against_store,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, None)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "store")
    build_fingerprint_store(corpus, path)
    store = spark.read.parquet(f"{path}/fingerprints")
    batch = spark.createDataFrame(
        [
            (10, "alpha beta"),   # known (in store)
            (11, "fresh text"),   # novel
            (12, "fresh text"),   # batch dup of 11
            (13, None),           # NULL text: null-safe match to doc 3
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["known_dup"], r["batch_dup"])
        for r in dedup_against_store(batch, store).collect()
    }
    assert got == {
        10: (True, False),
        11: (False, False),
        12: (False, True),
        13: (True, False),
    }


def test_canonical_elects_exactly_one_per_cluster(spark, sf_dir):
    """Every cluster has exactly one canonical doc; it is a longest
    member (ties to the lowest doc_id); and the canonical set size
    equals the cluster count — the keep-list contract downstream shard
    writing depends on."""
    out = registry.QUERIES["dedup_canonical"](spark, sf_dir).persist()
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
            F.count(F.lit(1)).alias("n"),
            F.max("cluster_size").alias("sz"),
        )
        .collect()
    )
    assert per_cluster
    for r in per_cluster:
        assert r["n_canon"] == 1, r
        assert r["n"] == r["sz"], r
    # the elected doc is maximal under (len, -doc_id) within its cluster
    docs = registry.QUERIES["dedup_exact"]  # noqa: F841 (registry warm)
    from simplemapreduceframework_spark.sources import load_table

    lab = out.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    ).select(
        "doc_id", "cluster_id", "is_canonical",
        F.coalesce(F.length("text"), F.lit(-1)).alias("len"),
    )
    best = lab.groupBy("cluster_id").agg(
        F.max(F.struct("len", (-F.col("doc_id")).alias("neg"))).alias("b")
    )
    bad = (
        lab.filter("is_canonical")
        .join(best, "cluster_id")
        .filter(
            (F.col("len") != F.col("b.len"))
            | (F.col("doc_id") != -F.col("b.neg"))
        )
        .count()
    )
    assert bad == 0
    out.unpersist()


def test_snapshot_diff_statuses_partition_the_id_space(spark, sf_dir):
    """Statuses are mutually exclusive and collectively account for
    every doc_id on either side; the closed-form edit rule predicts
    each bucket's membership exactly."""
    out = registry.QUERIES["corpus_snapshot_diff"](spark, sf_dir)
    rows = {r["doc_id"]: r["status"] for r in out.collect() if r["doc_id"] is not None}
    from simplemapreduceframework_spark.sources import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
        if r["doc_id"] is not None
    ]
    for d in ids:
        if d % 10 == 0:
            assert rows[d] == "removed", d
        elif d % 7 == 0:
            # revision changes the fp unless the text was NULL (NULL
            # fp on both sides -> unchanged via null-safe equality)
            assert rows[d] in ("modified", "unchanged"), d
        else:
            assert rows[d] == "unchanged", d
        if d % 13 == 0:
            assert rows[d + 1_000_000] == "added", d


def test_simjoin_prefix_filter_exact_vs_python_bruteforce(spark, sf_dir):
    """The prefix-filtered join must equal a no-filter brute force over
    the same shingle sets — losslessness end-to-end, independent of the
    SQL oracle."""
    import re

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    sets = {}
    for r in docs:
        t = re.findall(r"\w+", r.text.lower())
        sh = {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        }
        if sh:
            sets[r.doc_id] = sh
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.5:
                want[(a, b)] = j
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in Q["simjoin_prefix_filter"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12
    assert all(a < b for a, b in got)


def test_simjoin_superset_of_capped_ngram_pairs(spark, sf_dir):
    """dedup_ngram_jaccard's bucket cap makes its jaccard a
    conservative UNDERestimate, so every pair it reports at >= 0.5 must
    appear in the lossless prefix-filter join with jaccard at least as
    large."""
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in Q["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in Q["simjoin_prefix_filter"](spark, sf_dir).collect()
    }
    assert set(capped) <= set(exact)
    for k, j in capped.items():
        assert exact[k] >= j - 1e-12


def test_pinned_scale_joins_drop_broadcasts_and_stay_exact(spark, tmp_path):
    """Witness the 100x broadcast discipline at test scale: pre-seed
    the corpus-row memo past _PIN_JOINS_DOC_LIMIT so the pinned plans
    build, then assert (a) no BroadcastHashJoin survives anywhere in
    simjoin_prefix_filter's plan — the shape that OOMed the driver at
    sf10 — and (b) the pinned plan's rows are identical to the
    broadcast plan's. Uses a COPY of the testdata dir so the memoized
    unpinned frames for the real sf_dir are untouched."""
    import os
    import shutil

    from simplemapreduceframework_spark.operators.dedup import (
        _PIN_JOINS_DOC_LIMIT,
        simjoin_prefix_filter,
    )
    from simplemapreduceframework_spark.plans import explain_str
    from simplemapreduceframework_spark.session_memo import session_memo

    src = "/root/testdata/sf0.001"
    nd = str(tmp_path / "sf_pinned")
    os.makedirs(nd)
    for t in os.listdir(src):
        s = os.path.join(src, t)
        d = os.path.join(nd, t)
        shutil.copytree(s, d) if os.path.isdir(s) else shutil.copyfile(s, d)

    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in simjoin_prefix_filter(spark, src).collect()
    }
    session_memo(spark)[("corpus_rows", nd)] = _PIN_JOINS_DOC_LIMIT + 1
    pinned = simjoin_prefix_filter(spark, nd)
    plan = explain_str(pinned)
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pinned.collect()}
    assert got == want


def test_minhash_pr_gate_green_and_can_fail(spark, sf_dir):
    """dedup_minhash_pr_gate must be a REAL gate: exact precision and
    recall 1.0 on the healthy pipeline (pair sets identical at every
    validation scale), and the right boolean flips when the LSH pair
    set is corrupted in each direction — dropped pairs break recall,
    injected false positives break precision."""
    from simplemapreduceframework_spark.operators import dedup as dd

    [row] = Q["dedup_minhash_pr_gate"](spark, sf_dir).collect()
    assert row["precision_ok"] is True and row["recall_ok"] is True
    assert row["lsh_precision"] == 1.0 and row["lsh_recall"] == 1.0
    assert row["n_hit_pairs"] == row["n_exact_pairs"] > 0

    lsh = Q["dedup_minhash_lsh"](spark, sf_dir).select("doc_a", "doc_b")
    exact = Q["dedup_ngram_jaccard"](spark, sf_dir).select("doc_a", "doc_b")

    # candidate-generation miss: half the true pairs never found
    half = lsh.limit(row["n_lsh_pairs"] // 2)
    [broken] = dd._pr_gate_row(half, exact).collect()
    assert broken["recall_ok"] is False
    assert broken["precision_ok"] is True  # surviving pairs still true

    # verify-stage false accepts: as many bogus pairs as true ones
    bogus = lsh.select(
        "doc_a", (F.col("doc_b") + F.lit(10**9)).alias("doc_b")
    )
    [broken] = dd._pr_gate_row(lsh.unionAll(bogus), exact).collect()
    assert broken["precision_ok"] is False
    assert broken["recall_ok"] is True  # every true pair still present
