"""Training-set assembly invariants: deterministic split proportions,
shuffle reproducibility, and packing arithmetic."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.operators.stages import (
    _N_SHARDS,
    _PACK_LEN,
    _TEST_PCT,
)

registry.load_all()
Q = registry.QUERIES


def test_split_proportions_and_coverage(spark, sf_dir):
    rows = {r["split"]: r for r in Q["split_train_test"](spark, sf_dir).collect()}
    n_corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    total = sum(r["n_docs"] for r in rows.values())
    assert total == n_corpus  # every doc in exactly one split
    test_frac = rows["test"]["n_docs"] / total
    # hash buckets are uniform: the 10% target holds within a loose band
    assert abs(test_frac - _TEST_PCT / 100) < 0.05, test_frac


def test_split_is_deterministic(spark, sf_dir):
    a = sorted(map(tuple, Q["split_train_test"](spark, sf_dir).collect()))
    b = sorted(map(tuple, Q["split_train_test"](spark, sf_dir).collect()))
    assert a == b


def test_shards_cover_corpus_evenly(spark, sf_dir):
    rows = Q["corpus_shuffle_shard"](spark, sf_dir).collect()
    n_corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == _N_SHARDS
    assert sum(r["n_docs"] for r in rows) == n_corpus
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) < 2 * min(sizes), sizes  # rough uniformity


def test_pack_fill_and_contiguity(spark, sf_dir):
    """Packing invariants: per-shard pack ids are contiguous from 0;
    every pack except possibly the last in each shard reaches the token
    budget (the doc that crosses the boundary belongs to the pack where
    its cumulative sum lands, so fills can exceed the budget by less
    than one max-doc)."""
    rows = Q["pack_sequences"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_doc_tok = docs.select(
        F.max(F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0)))
    ).collect()[0][0]
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    n_docs_total = 0
    for shard, packs in by_shard.items():
        packs.sort(key=lambda r: r["pack_id"])
        assert [p["pack_id"] for p in packs] == list(range(len(packs))), shard
        for p in packs:
            assert p["n_tokens"] < _PACK_LEN + max_doc_tok, p
            n_docs_total += p["n_docs"]
        # all but the final pack are filled to the budget boundary
        for p in packs[:-1]:
            assert p["n_tokens"] > 0
    assert n_docs_total == docs.count()


def test_bottomk_sample_is_takeordered(spark, sf_dir):
    """The bottom-k sampler must plan per-partition heaps, not a global
    sort, and return exactly k deterministic rows."""
    from simplemapreduceframework_spark.plans import explain_str

    df = Q["sample_bottomk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)
    a = sorted(r["doc_id"] for r in df.collect())
    b = sorted(r["doc_id"] for r in Q["sample_bottomk"](spark, sf_dir).collect())
    assert a == b and len(a) == 50


def test_weighted_sample_is_takeordered_and_weight_proportional(
    spark, sf_dir
):
    """Plan: per-partition heaps, not a global sort. Math: the A-ES
    key -ln(u)/w samples each item with probability proportional to
    its weight — verified in pure numpy over 4000 salted draws of the
    same formula (two items, weights 3:1, k=1: the heavy item must win
    ~75% of draws), so the Spark side only needs exactness, which the
    DuckDB oracle already pins."""
    import hashlib

    import numpy as np

    from simplemapreduceframework_spark.plans import explain_str

    df = Q["sample_weighted_bottomk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)
    rows = df.collect()
    assert len(rows) == 50
    assert all(r["weight"] > 0 for r in rows)

    def u(salt: str, i: int) -> float:
        h = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16)
        return (h + 1) / 4294967296.0

    w = np.array([3.0, 1.0])
    wins = 0
    n = 4000
    for s in range(n):
        keys = [-np.log(u(f"t{s}_", i)) / w[i] for i in range(2)]
        wins += keys[0] < keys[1]
    assert abs(wins / n - 0.75) < 0.02, wins / n


def test_stratified_sample_equal_per_stratum(spark, sf_dir):
    rows = Q["sample_stratified_bottomk"](spark, sf_dir).collect()
    from collections import Counter

    per_src = Counter(r["source"] for r in rows)
    assert all(v == 5 for v in per_src.values())


def test_pack_sequences_property_vs_python_model(spark, tmp_path):
    """Property: on synthetic corpora (varied sizes, token lengths,
    including empty-token docs), the Spark packing equals a pure-python
    model of the same hash/shard/cumsum arithmetic."""
    import hashlib

    from simplemapreduceframework_spark.operators.traindata import pack_sequences

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for seed, n_docs in [(1, 7), (2, 40), (3, 1)]:
        import random

        rng = random.Random(seed)
        docs = [
            (i, " ".join(f"w{rng.randrange(9)}" for _ in range(rng.randrange(0, 30))), "s")
            for i in range(n_docs)
        ]
        d = tmp_path / f"corpus{seed}"
        d.mkdir()
        spark.createDataFrame(
            docs, "doc_id long, text string, source string"
        ).write.parquet(str(d / "documents.parquet"))
        got = {
            (r["shard_id"], r["pack_id"]): (r["n_docs"], r["n_tokens"], r["min_doc_id"])
            for r in pack_sequences(spark, str(d)).collect()
        }
        # python model
        shards: dict[int, list] = {}
        for doc_id, text, _ in docs:
            n_tok = len(text.split())
            shards.setdefault(h32(f"shard{doc_id}") % _N_SHARDS, []).append(
                (h32(f"ord{doc_id}"), doc_id, n_tok)
            )
        want: dict = {}
        for shard, rows in shards.items():
            rows.sort()
            cum = 0
            for _, doc_id, n_tok in rows:
                cum += n_tok
                pack = (cum - 1) // _PACK_LEN
                nd, nt, md = want.get((shard, pack), (0, 0, doc_id))
                want[(shard, pack)] = (nd + 1, nt + n_tok, min(md, doc_id))
        assert got == want, (seed, got, want)


def test_corpus_mix_weighted_rates_and_determinism(spark, sf_dir):
    """Achieved per-tier sampling rates must track the configured
    weights (2x / 1x / 0.25x) within the resolution a finite corpus
    allows, every tier keeps >= the guaranteed floor(rate) copies per
    doc, and two runs return the identical multiset (hash, not RNG)."""
    from simplemapreduceframework_spark.operators.traindata import _MIX_BP

    from simplemapreduceframework_spark.operators.traindata import _mix_tier
    from simplemapreduceframework_spark.sources import load_table

    # input corpus size per tier (the mix output's n_docs counts only
    # KEPT docs, which for a downsampled tier is already thinned)
    corpus = {
        r["tier"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy(_mix_tier().alias("tier"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = Q["corpus_mix_weighted"](spark, sf_dir).collect()
    by_tier: dict = {}
    for r in rows:
        docs, ex = by_tier.get(r["tier"], (0, 0))
        by_tier[r["tier"]] = (docs + r["n_docs"], ex + r["n_examples"])
    for tier, (n_kept, n_examples) in by_tier.items():
        rate = n_examples / corpus[tier]
        want = _MIX_BP[tier] / 10000
        # fractional copies come from a hash bucket over a finite doc
        # set: allow +-0.15 absolute around the configured rate
        assert abs(rate - want) <= 0.15, (tier, rate, want)
        assert n_examples >= (_MIX_BP[tier] // 10000) * n_kept
    again = Q["corpus_mix_weighted"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_corpus_mix_floor_semantics_with_half_fraction(spark, sf_dir, monkeypatch, duck):
    """Floor semantics must be pinned on BOTH engines: DuckDB's
    double->bigint CAST rounds to nearest while Spark's truncates, so a
    weight with fractional part >= 0.5 (bp=15000 -> 1.5 copies) is the
    regression trigger. Rebuild the oracle with the patched weight and
    require an exact hash match."""
    from simplemapreduceframework_spark.operators import traindata as td
    from simplemapreduceframework_spark.testing import fingerprint

    orig = dict(td._MIX_BP)
    patched = {"high": 15000, "mid": 10000, "low": 7500}
    monkeypatch.setattr(td, "_MIX_BP", patched)
    sdf = registry.QUERIES["corpus_mix_weighted"](spark, sf_dir)
    oracle = registry.ORACLES["corpus_mix_weighted"]
    for tier in patched:
        oracle = oracle.replace(
            f"WHEN '{tier}' THEN {orig[tier]}", f"WHEN '{tier}' THEN {patched[tier]}"
        ).replace(f"ELSE {orig[tier]}", f"ELSE {patched[tier]}")
    srows = [r.asDict() for r in sdf.collect()]
    orc = duck.execute(oracle)
    ocols = [d[0] for d in orc.description]
    orows = [dict(zip(ocols, row)) for row in orc.fetchall()]
    cols = sorted(sdf.columns)
    assert fingerprint(srows, cols) == fingerprint(orows, cols)


def test_curriculum_phases_balanced_and_ranks_contiguous(spark, sf_dir):
    rows = Q["curriculum_schedule"](spark, sf_dir).collect()
    assert rows
    by_phase: dict[int, list] = {}
    for r in rows:
        by_phase.setdefault(r["phase"], []).append(r)
    sizes = sorted(len(v) for v in by_phase.values())
    assert set(by_phase) == {1, 2, 3, 4}
    assert sizes[-1] - sizes[0] <= 1  # NTILE balance
    for recs in by_phase.values():
        ranks = sorted(r["rank_in_phase"] for r in recs)
        assert ranks == list(range(1, len(recs) + 1))
    # easy-to-hard: every phase-p doc is <= every phase-(p+1) doc
    for p in (1, 2, 3):
        assert max(r["n_tok"] for r in by_phase[p]) <= min(
            r["n_tok"] for r in by_phase[p + 1]
        )


def test_curriculum_plan_has_no_window_node(spark, sf_dir):
    from simplemapreduceframework_spark.plans import explain_str

    plan = explain_str(Q["curriculum_schedule"](spark, sf_dir))
    assert "Window" not in plan, plan


def test_negative_sampling_python_twin_and_invariants(spark, sf_dir):
    """Replicate the seeded draw in plain Python (md5 first-8-hex mod N
    over the vec_id-ordered corpus) and compare exactly; then the
    contract: slots in 1..K, no self pairs, no same-label pairs,
    deterministic across runs."""
    import hashlib

    from simplemapreduceframework_spark.operators.traindata import _NEG_K

    emb = sorted(
        (
            (r.vec_id, r.label)
            for r in spark.read.parquet(
                f"{sf_dir}/embeddings.parquet"
            ).collect()
        )
    )
    n = len(emb)
    want = set()
    for vec_id, label in emb:
        for s in range(1, _NEG_K + 1):
            h = hashlib.md5(f"{vec_id}:{s}".encode()).hexdigest()
            draw = int(h[:8], 16) % n  # 0-based index into vec_id order
            nv, nl = emb[draw]
            if nv != vec_id and nl != label:
                want.add((vec_id, s, nv, nl))
    got = {
        (r.vec_id, r.slot, r.neg_vec_id, r.neg_label)
        for r in Q["train_negative_sampling"](spark, sf_dir).collect()
    }
    assert got == want
    assert all(1 <= s <= _NEG_K for _, s, _, _ in got)
    got2 = {
        (r.vec_id, r.slot, r.neg_vec_id, r.neg_label)
        for r in Q["train_negative_sampling"](spark, sf_dir).collect()
    }
    assert got2 == got


def test_leakage_safe_split_never_splits_a_near_dup_pair(spark, sf_dir):
    """The defining property: every MinHash-verified near-dup pair
    lands on ONE side of the boundary, and each cluster maps to
    exactly one split."""
    assign = {
        r.doc_id: (r.cluster_id, r.split)
        for r in Q["split_leakage_safe"](spark, sf_dir).collect()
    }
    pairs = Q["dedup_minhash_lsh"](spark, sf_dir).collect()
    assert pairs  # vacuous otherwise
    for p in pairs:
        assert assign[p.doc_a][1] == assign[p.doc_b][1]
    by_cluster = {}
    for cid, split in assign.values():
        by_cluster.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # full coverage of the corpus, both splits populated
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(assign) == n
    assert {s for _, s in assign.values()} == {"train", "test"}
