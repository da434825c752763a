"""Similarity search over the embedding column (BASELINE.json north
star): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH bucketed variant as the 100 TB scale path.

Implementation note (why a Pandas UDF and not pure expressions): a
64-term JVM Add chain (element_at products or flattened columns)
triggers exponential behavior in Catalyst's commutative-expression
canonicalization (gatherCommutative during subexpression elimination /
AQE stage dedup) — observed as multi-minute planning hangs and driver
OOM on Spark 4.1. An Arrow-batched pandas_udf sidesteps the pathological
plan shape entirely while staying vectorized. Exactness is preserved:
`np.cumsum` accumulates float64 left-to-right, the same fold order as
DuckDB's list_dot_product, so cosines remain bit-identical to the
oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType
from pyspark.sql.window import Window

from ..functions import hex32
from ..registry import query
from ..session_memo import (
    get_or_build,
    per_session,
    shared_frame,
    shared_plan,
)
from ..sources import load_table

_N_QUERIES = 10
_TOP_K = 5
_DIM = 64  # embeddings.embedding is a fixed 64-dim float vector


@pandas_udf(DoubleType())
def dot_seq(a: pd.Series, b: pd.Series) -> pd.Series:
    """Sequential-fold dot product of two vector columns (Arrow batch).

    Elementwise float64 products then np.cumsum along the vector axis —
    a C-speed loop with strict left-to-right accumulation, bit-identical
    to DuckDB's list_dot_product over double lists.
    """
    if len(a) == 0:  # zero-row Arrow batch (empty partition)
        return pd.Series([], dtype="float64")
    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    return pd.Series(np.cumsum(A * B, axis=1)[:, -1])


def with_norm(emb: DataFrame) -> DataFrame:
    """Attach the L2 norm (computed once per vector, same fold order as
    the oracle's sqrt(list_dot_product(e, e))). NULL vectors are
    dropped here — the one load boundary every similarity/IVF path
    goes through — because no vector operator has meaningful output
    for a NULL embedding (and np.vstack over one crashes the worker);
    the SQL twin's list_dot_product likewise yields no row for them."""
    return emb.filter(F.col("e").isNotNull()).withColumn(
        "nrm", F.sqrt(dot_seq(F.col("e"), F.col("e")))
    )


def _vectors(df: DataFrame) -> DataFrame:
    """(vec_id, e, nrm) from a (vec_id, embedding) frame."""
    return with_norm(df.select("vec_id", F.col("embedding").alias("e")))


def _queries(df: DataFrame, probe=None) -> DataFrame:
    """The query side of every search: a _vectors frame renamed to
    (query_id, qe, qnrm), so it can broadcast against a corpus that
    keeps (vec_id, e, nrm). probe, an array-valued UDF over the vector,
    adds one row per cell (or bucket) it returns, as qcell."""
    cols = [
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    ]
    if probe is not None:
        cols.append(F.explode(probe(F.col("e"))).alias("qcell"))
    return df.select(*cols)


def _scored(cand: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_sim) of joined query/corpus pairs:
    the one cosine scorer. dot_seq folds like the oracle's
    list_dot_product, and the quotient's operand order matches the SQL
    twins', so every score is bit-identical."""
    return cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot_seq(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))).alias(
            "cos_sim"
        ),
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best neighbors per query, ties broken by the lower
    neighbor_id, with a bigint rank. A row_number filter under a
    query_id window: Spark plans it as a partial WindowGroupLimit ahead
    of the exchange plus a final one after it, so each partition ships
    at most k rows per query."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def _exact_search(
    corpus: DataFrame, queries: DataFrame, k: int, exclude_self: bool
) -> DataFrame:
    """Brute-force top-k of every query over every corpus vector. Both
    inputs are _vectors frames; the queries broadcast, so the corpus is
    scanned once. exclude_self drops each query's pair with the corpus
    vector of its own vec_id (the registered queries search the corpus
    for its own first vectors)."""
    q = F.broadcast(_queries(queries))
    if exclude_self:
        cand = q.join(corpus, F.col("vec_id") != F.col("query_id"))
    else:
        cand = q.crossJoin(corpus)
    return _top_k(_scored(cand), k)


@query(
    "ann_cosine_topk",
    family="ivf",
    oracle=f"""
WITH n AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE embedding IS NOT NULL)
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos_sim
    FROM n q JOIN n c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_TOP_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact-recall baseline.

    The query set broadcasts; the corpus is scanned once; scoring is one
    Arrow-batched UDF over the candidate pairs; the per-query top-k is a
    window rank (per-partition heaps). At 100 TB the corpus scan
    dominates -> use ann_lsh_bucketed.
    """
    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    return _exact_search(
        emb, emb.filter(F.col("vec_id") < _N_QUERIES), _TOP_K, exclude_self=True
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    reproducible across runs and engines."""
    planes = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()
            comps.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
        planes.append(comps)
    return planes


# Multi-table LSH (OR-construction): L independent tables of k sign
# bits each. P(candidate | angle θ) = 1 - (1 - (1-θ/π)^k)^L — k trades
# precision, L trades recall.
_LSH_TABLES = 4
_LSH_BITS = 4


def make_bucket_udf(n_tables: int, n_bits: int, dim: int):
    """Arrow-batched multi-table bucketer: per vector, one bucket id per
    table (sign bits of V @ P_t^T packed into a long, table index mixed
    into the key)."""
    planes = _hyperplanes(n_tables * n_bits, dim)
    P = np.asarray(planes, dtype=np.float64)  # (L*k, dim)

    from pyspark.sql.types import ArrayType

    @pandas_udf(ArrayType(LongType()))
    def buckets(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        V = np.vstack(e.to_numpy()).astype(np.float64)
        # Per-plane sequential fold (np.cumsum) instead of a BLAS matmul:
        # the same left-to-right float64 accumulation as dot_seq /
        # DuckDB's list_dot_product, so the oracle computes the exact
        # same sign bit even when a dot lands near zero.
        dots = np.empty((V.shape[0], P.shape[0]))
        for p in range(P.shape[0]):
            dots[:, p] = np.cumsum(V * P[p][None, :], axis=1)[:, -1]
        bits = (dots >= 0).astype(np.int64)  # (n, L*k)
        out = []
        for t in range(n_tables):
            chunk = bits[:, t * n_bits : (t + 1) * n_bits]
            weights = (1 << np.arange(n_bits)).astype(np.int64)
            # disjoint key space per table: high bits carry the table id
            out.append((chunk @ weights) + (t << 32))
        stacked = np.stack(out, axis=1)  # (n, L)
        return pd.Series(list(stacked))

    return buckets


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


def _lsh_oracle() -> str:
    """The full LSH pipeline in DuckDB SQL: identical hyperplanes (md5-
    derived literals), identical sign-bit bucketing (list_dot_product is
    the same sequential fold as the bucketer's np.cumsum), identical
    candidate join + rank — so even this *approximate* operator is
    exactly reproducible and hash-gated."""
    planes = _hyperplanes(_LSH_TABLES * _LSH_BITS, _DIM)
    tables = []
    for t in range(_LSH_TABLES):
        bit_terms = " + ".join(
            f"(CASE WHEN list_dot_product(e, {_plane_literal(planes[t * _LSH_BITS + j])}) >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_LSH_BITS)
        )
        tables.append(
            f"SELECT vec_id, e, nrm, {bit_terms} + {t << 32} AS bucket FROM n"
        )
    idx_sql = "\n    UNION ALL\n    ".join(tables)
    return f"""
WITH n AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE embedding IS NOT NULL)
),
idx AS (
    {idx_sql}
),
q AS (SELECT vec_id AS query_id, bucket FROM idx WHERE vec_id < {_N_QUERIES}),
cand AS (
    SELECT DISTINCT q.query_id, i.vec_id AS neighbor_id
    FROM q JOIN idx i ON i.bucket = q.bucket AND i.vec_id <> q.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos_sim
    FROM cand c
    JOIN n a ON a.vec_id = c.query_id
    JOIN n b ON b.vec_id = c.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TOP_K}
"""


@query("ann_lsh_bucketed", family="ivf", oracle=_lsh_oracle())
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH — the
    100 TB scale path.

    Each vector lands in L=4 buckets (one per 4-bit hash table);
    query/candidate pairs are generated by a key-equi join on the bucket
    id and deduped — no cross join anywhere, so pairwise work scales
    with bucket occupancy, not corpus^2. On a cluster the exploded
    (bucket, vec) index is computed once, partitioned by bucket, and
    reused across query batches. Fully oracle-gated: the hash family is
    deterministic (md5-derived hyperplanes) and every float folds in
    the same order in both engines, so the DuckDB twin reproduces the
    exact candidate set, scores, and ranking; a unit test additionally
    asserts recall vs ann_cosine_topk.
    """
    bucket_udf = make_bucket_udf(_LSH_TABLES, _LSH_BITS, _DIM)
    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    index = emb.select(
        "vec_id", "e", "nrm", F.explode(bucket_udf(F.col("e"))).alias("bucket")
    )
    q = _queries(emb.filter(F.col("vec_id") < _N_QUERIES), bucket_udf)
    # r17 optimization (guide §2.3 / §8: shuffle scores, not payloads):
    # score BEFORE deduplicating. The bucket join is a broadcast join,
    # so scoring runs map-side on its raw output; a pair sharing k<=L
    # buckets is scored k times, but every copy is the same
    # deterministic fold, so the first-row dedup keeps an identical
    # value (hash-verified). The former shape deduped first — which
    # shuffled BOTH full vectors (~2 KB/row) per candidate into a
    # SortAggregate (array-typed first() buffers defeat hash agg) and
    # then paid a second exchange for the ranking window. Now the only
    # exchange carries (query_id, neighbor_id, cos_sim) scalars, the
    # dedup is a row_number over (query_id, neighbor_id) inside the
    # SAME query_id exchange the ranking window needs (subset
    # partitioning satisfies both windows), and vectors never cross a
    # shuffle at any scale.
    scored = _scored(
        F.broadcast(q).join(
            index,
            (F.col("bucket") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
    )
    wd = Window.partitionBy("query_id", "neighbor_id").orderBy("cos_sim")
    deduped = (
        scored.withColumn("dup", F.row_number().over(wd))
        .filter(F.col("dup") == 1)
        .drop("dup")
    )
    return _top_k(deduped, _TOP_K)


def ann_search(corpus: DataFrame, queries: DataFrame, k: int = _TOP_K) -> DataFrame:
    """Batch similarity-search API: the caller supplies an arbitrary
    query DataFrame (query_id, embedding) instead of a vec_id
    predicate over the corpus — the shape a serving pipeline actually
    uses (embed a batch of prompts, search the corpus).

    corpus: (vec_id, embedding); queries: (query_id, embedding).
    Returns (query_id, neighbor_id, cos_sim, rank), rank <= k.

    The query batch broadcasts (a batch is small by definition); the
    corpus is scanned once whatever the batch size, so cost is
    O(corpus x batch) with no shuffle until the final per-query top-k.
    """
    q = queries.select(F.col("query_id").alias("vec_id"), "embedding")
    return _exact_search(_vectors(corpus), _vectors(q), k, exclude_self=False)


# IVF (inverted-file) ANN: k-means cells + nprobe search — the
# data-adaptive counterpart to the hyperplane LSH path. Centroids adapt
# to the corpus distribution, so cell occupancy tracks density instead
# of being fixed by random planes.
_IVF_CELLS_FLOOR = 16
_IVF_ITERS = 3
_IVF_NPROBE_FLOOR = 4


def ivf_cells_for(n: int) -> int:
    """Cell count for an n-vector corpus: ~sqrt(n) (the classic IVF
    sizing — cell occupancy and cell count grow together, so probe
    cost is O(nprobe * sqrt(n)) per query), floored at 16 so tiny
    validation corpora still exercise multi-cell probing — and capped
    at n itself (k-means cannot place more cells than vectors)."""
    import math

    return max(1, min(max(_IVF_CELLS_FLOOR, math.isqrt(max(n, 0))), n))


def ivf_nprobe_for(cells: int) -> int:
    """Default probe width: a quarter of the cells (the measured
    recall@5 on the synthetic corpus is 0.88-0.92 at that fraction),
    floored at 4. Serving deployments tune this down for latency —
    it is the recall/cost knob, exposed on every search entry point."""
    return max(_IVF_NPROBE_FLOOR, cells // 4)


def _kmeans_centroids(emb: DataFrame, k: int, iters: int) -> np.ndarray:
    """Distributed Lloyd's k-means over the vector column.

    Init: the k lowest-vec_id vectors (deterministic, no RNG). Each
    iteration: (1) every vector gets its nearest centroid from an
    Arrow-batched argmin against the broadcast centroid matrix — one
    corpus scan, no shuffle; (2) new centroids via posexplode +
    partial-aggregated avg — one shuffle of (k x dim) keys. Only the
    k x dim aggregated centroid matrix ever reaches the driver
    (constant-size sketch state, like the Bloom build), never vectors.
    """
    init = (
        emb.orderBy("vec_id")
        .limit(k)
        .select("e")
        .toPandas()["e"]
    )
    if len(init) == 0:
        raise ValueError(
            "cannot train an IVF index on an empty corpus "
            "(k-means needs at least one vector)"
        )
    C = np.vstack(init.to_numpy()).astype(np.float64)
    for _ in range(iters):
        assign = _make_assign_udf(C)
        cells = emb.select(assign(F.col("e")).alias("cell"), "e")
        new = (
            cells.select("cell", F.posexplode("e").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("c"))
            .toPandas()
        )
        for _, r in new.iterrows():
            C[int(r["cell"]), int(r["pos"])] = r["c"]
    return C


def _make_assign_udf(C: np.ndarray):
    """Arrow-batched nearest-centroid assignment (squared-L2 argmin)."""
    Cm = C.copy()

    @pandas_udf(LongType())
    def assign(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int64")
        V = np.vstack(e.to_numpy()).astype(np.float64)  # (n, dim)
        # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2 ; argmin over cells
        d = V @ Cm.T  # (n, k)
        d = (V * V).sum(axis=1, keepdims=True) - 2 * d + (Cm * Cm).sum(axis=1)
        return pd.Series(np.argmin(d, axis=1).astype(np.int64))

    return assign


def _make_probe_udf(C: np.ndarray, nprobe: int):
    """Per-query nprobe nearest cells, as an array column to explode."""
    from pyspark.sql.types import ArrayType

    Cm = C.copy()

    @pandas_udf(ArrayType(LongType()))
    def probe(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="object")
        V = np.vstack(e.to_numpy()).astype(np.float64)
        d = (V * V).sum(axis=1, keepdims=True) - 2 * (V @ Cm.T) + (Cm * Cm).sum(
            axis=1
        )
        order = np.argsort(d, axis=1)[:, :nprobe].astype(np.int64)
        return pd.Series(list(order))

    return probe


def _ivf_search(
    emb: DataFrame,
    queries: DataFrame,
    cells: int,
    iters: int,
    nprobe: int,
    exclude_self: bool,
) -> DataFrame:
    """The in-session IVF path, scored: train `cells` k-means centroids
    on emb, index every vector by its nearest cell, and broadcast the
    queries, exploded over their nprobe nearest cells, against the
    index on cell. Both inputs are _vectors frames; returns _scored
    candidates. exclude_self as in _exact_search."""
    C = _kmeans_centroids(emb, cells, iters)
    assign = _make_assign_udf(C)
    index = emb.select("vec_id", "e", "nrm", assign(F.col("e")).alias("cell"))
    q = _queries(queries, _make_probe_udf(C, nprobe))
    on = F.col("qcell") == F.col("cell")
    if exclude_self:
        on = on & (F.col("vec_id") != F.col("query_id"))
    return _scored(F.broadcast(q).join(index, on))


# The "ivf" family: the recall gate consumes the same scored
# candidates as the top-k query — train/index once per session, like a
# persisted IVF index table on a cluster.


@per_session("ivf", persist=True)
def _ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF candidate generation + scoring (used by the top-k
    query and the recall gate)."""
    emb = shared_frame(
        spark,
        ("ivf", "emb", sf_dir),
        lambda: _vectors(load_table(spark, sf_dir, "embeddings")),
    )
    cells = ivf_cells_for(emb.count())
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return _ivf_search(
        emb, queries, cells, _IVF_ITERS, ivf_nprobe_for(cells), exclude_self=True
    )


def ann_search_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = _TOP_K,
    cells: int | None = None,
    iters: int = _IVF_ITERS,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF-backed batch similarity search: the scale path of
    `ann_search`. Trains k-means cells on the corpus, indexes every
    corpus vector by cell, and each query scores only its nprobe
    nearest cells' members — cost is (nprobe/cells) of the corpus per
    query instead of all of it.

    corpus: (vec_id, embedding); queries: (query_id, embedding).
    Returns (query_id, neighbor_id, cos_sim, rank), rank <= k.

    On a cluster the centroids and cell index are computed once and
    persisted (cell as a partition column -> partition pruning per
    probe); query batches then broadcast against the pruned index.
    """
    # a shared "ivf" frame keyed by the corpus plan, never evicted
    # implicitly: the returned frame's lineage reads it on EVERY
    # execution (_ivf_search's index projection), so an unpersist after
    # training made each search action re-derive the norm-annotated
    # corpus from the base table. Repeated calls over the same corpus
    # reuse one entry; release(spark, "ivf") frees it. At cluster scale
    # this IS the documented "index computed once and persisted"
    # lifecycle (build_ann_index is the durable variant).
    emb = shared_plan("ivf", _vectors(corpus))
    n = emb.count()
    cells = ivf_cells_for(n) if cells is None else max(1, min(cells, n))
    if nprobe is None:
        nprobe = ivf_nprobe_for(cells)
    q = _vectors(queries.select(F.col("query_id").alias("vec_id"), "embedding"))
    return _top_k(_ivf_search(emb, q, cells, iters, nprobe, exclude_self=False), k)


def _with_int8_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, e0, scale, q, e) from a (vec_id, e) float frame — THE
    one definition of the int8 quantizer: per-vector scale = max|e|/127
    (zero-vector guard), codes q = floor(e0/scale + 0.5), dequantized
    e = q * scale. embedding_quantize, _dequantized, and the persisted
    quantized index all build on this frame, so the recall gate always
    validates the quantizer that ships. Index geometry (norms,
    centroids, assignment) is computed over the DEQUANTIZED vectors so
    searches score exactly what is stored."""
    m = F.array_max(F.transform("e", lambda x: F.abs(x.cast("double"))))
    scaled = emb.select(
        "vec_id",
        F.transform("e", lambda x: x.cast("double")).alias("e0"),
        F.when(m == 0, F.lit(1.0)).otherwise(m / F.lit(127.0)).alias("scale"),
    )
    coded = scaled.select(
        "vec_id",
        "e0",
        "scale",
        F.transform(
            "e0", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
        ).alias("q"),
    )
    return coded.select(
        "vec_id",
        "e0",
        "scale",
        "q",
        F.transform(
            "q", lambda c: c.cast("double") * F.col("scale")
        ).alias("e"),
    )


def build_ann_index(
    corpus: DataFrame,
    path: str,
    cells: int | None = None,
    iters: int = _IVF_ITERS,
    train_cap: int = 1_000_000,
    quantize: bool = False,
) -> int:
    """Train and PERSIST an IVF index — the cluster-real index
    lifecycle (build once, search many), replacing the in-session memo
    with a durable table.

    Writes two parquet tables under ``path``:
      - ``index/``: (vec_id, e, nrm) partitioned BY CELL, so a probe
        of c cells reads exactly c partition directories (partition
        pruning on the scan — the other cells' files are never opened);
      - ``centroids/``: (cell, centroid) — k rows of k x dim state,
        all a searcher needs to route queries.

    cells defaults to ~sqrt(corpus) via ivf_cells_for. Returns the
    cell count. Rebuild (rerun) to refresh after corpus churn — the
    write is an atomic overwrite per table.

    Training is SAMPLED past train_cap vectors (deterministic hash
    sample on vec_id, no RNG state): k-means quality depends on the
    density shape, not on seeing every point, so each Lloyd iteration
    scans ~train_cap vectors instead of the full corpus — at 100 TB
    that is the difference between an index build costing iters
    corpus scans and costing one (the final full-corpus assignment
    pass, which is unavoidable and embarrassingly parallel).

    quantize=True stores int8 codes + a per-vector scale instead of
    the float vectors (~4x smaller index on disk; the
    embedding_quantize scheme, whose recall is gated by
    ann_quantized_gate). Norms, centroids, and cell assignment are all
    computed over the DEQUANTIZED vectors, and _live_index
    reconstructs them at read time — searchers are oblivious.
    """
    raw = corpus.select("vec_id", F.col("embedding").alias("e"))
    if quantize:
        # with_norm is the one NULL-dropping load boundary: it filters
        # BEFORE the dot_seq UDF (np.vstack over a NULL vector crashes
        # the worker) — never hand-roll the nrm column around it.
        emb = with_norm(
            _with_int8_codes(raw).select("vec_id", "q", "scale", "e")
        ).persist()
    else:
        emb = with_norm(raw).persist()
    n = emb.count()
    cells = ivf_cells_for(n) if cells is None else max(1, min(cells, n))
    train = emb
    if n > train_cap:
        bp = max(1, (10000 * train_cap) // n)
        sampled = emb.filter(
            hex32(F.concat(F.lit("ivftrain"), F.col("vec_id").cast("string")))
            % 10000
            < bp
        )
        # k-means needs at least one vector per cell; an unlucky tiny
        # sample falls back to full-corpus training
        train = sampled if sampled.count() >= cells else emb
    C = _kmeans_centroids(train, cells, iters)
    assign = _make_assign_udf(C)
    stored = (
        ["vec_id", "q", "scale", "nrm"] if quantize else ["vec_id", "e", "nrm"]
    )
    (
        emb.select(*stored, assign(F.col("e")).alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )
    spark = corpus.sparkSession
    cent_rows = [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])]
    (
        spark.createDataFrame(cent_rows, "cell bigint, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    # A rebuild IS the compaction: the fresh index contains exactly the
    # given corpus, so stale tombstones must not keep hiding re-indexed
    # vectors. Deleted through the Hadoop FS so HDFS/S3 paths work.
    jvm = spark._jvm
    tomb = jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    fs = tomb.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(tomb):
        fs.delete(tomb, True)
    emb.unpersist()
    return cells


def add_to_ann_index(corpus: DataFrame, path: str) -> None:
    """Incrementally ADD vectors to a persisted IVF index: route the
    new vectors through the EXISTING centroids (no retraining — the
    constant-size routing state loads from the centroids table) and
    append them to their cell partitions. Ingest cost is one scan of
    the new vectors; the rest of the index is untouched. Recall
    degrades only as the data distribution drifts from the training
    snapshot — rebuild with build_ann_index when it does.

    Known semantics: re-ADDing a vec_id that was tombstoned stays
    hidden until the next rebuild (tombstones are append-only by
    design; a rebuild clears them). Delete-then-readd churn is a
    rebuild trigger, not an incremental path."""
    spark = corpus.sparkSession
    C = load_ann_centroids(spark, path)
    raw = corpus.select("vec_id", F.col("embedding").alias("e"))
    # match the existing index's storage scheme (quantized or float)
    quantized = "q" in spark.read.parquet(f"{path}/index").columns
    if quantized:
        emb = with_norm(
            _with_int8_codes(raw).select("vec_id", "q", "scale", "e")
        )
        stored = ["vec_id", "q", "scale", "nrm"]
    else:
        emb = with_norm(raw)
        stored = ["vec_id", "e", "nrm"]
    assign = _make_assign_udf(C)
    (
        emb.select(*stored, assign(F.col("e")).alias("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )


def load_ann_centroids(spark: SparkSession, path: str) -> np.ndarray:
    """Read the (k x dim) centroid matrix back from a persisted index —
    constant-size routing state, the only part a searcher driver holds."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def remove_from_ann_index(corpus: DataFrame, path: str) -> None:
    """Logically DELETE vectors from a persisted IVF index via
    tombstones: the vec_ids append to a side table and searches
    anti-join it — no rewrite of any cell partition (deleting in place
    would rewrite whole partitions for a handful of rows). Tombstones
    compact away naturally at the next build_ann_index rebuild.

    corpus: any DataFrame with a vec_id column (extra columns ignored).
    """
    (
        corpus.select("vec_id")
        .distinct()
        .write.mode("append")
        .parquet(f"{path}/tombstones")
    )


def _live_index(spark: SparkSession, path: str) -> DataFrame:
    """The index minus tombstones (anti-join only when tombstones
    exist, so the common no-delete path stays a bare pruned scan).
    A quantized index (int8 codes + scale) reconstructs its vectors
    here — a row-local projection on the pruned scan — so searchers
    see the same (vec_id, e, nrm, cell) shape either way."""
    index = spark.read.parquet(f"{path}/index")
    if "q" in index.columns:
        index = index.select(
            "vec_id",
            F.transform(
                "q", lambda c: c.cast("double") * F.col("scale")
            ).alias("e"),
            "nrm",
            "cell",
        )
    try:
        dead = spark.read.parquet(f"{path}/tombstones")
    except Exception:
        return index
    return index.join(dead, "vec_id", "left_anti")


def maybe_rebuild_ann_index(
    corpus: DataFrame, path: str, **build_kwargs
) -> bool:
    """Maintenance policy in one call: rebuild the index iff
    ann_index_stats says it needs it (occupancy drift or tombstone
    load). Returns whether a rebuild ran — the idempotent step a
    scheduled maintenance job executes after each ingest wave.

    The rebuild preserves the existing index's storage scheme: a
    quantized index rebuilds quantized unless the caller explicitly
    passes quantize= (a maintenance job must not silently change the
    on-disk format)."""
    spark = corpus.sparkSession
    stats = ann_index_stats(spark, path)
    if not stats["needs_rebuild"]:
        return False
    if "quantize" not in build_kwargs:
        build_kwargs["quantize"] = stats["quantized"]
    build_ann_index(corpus, path, **build_kwargs)
    return True


def ann_index_stats(spark: SparkSession, path: str) -> dict:
    """Index health for rebuild triggers — one aggregate over the
    index (cells x 1 rows to the driver):
      - n_vectors / n_cells / n_tombstones,
      - occupancy skew (max cell / mean cell): drift concentrates new
        vectors in few cells, degrading probe selectivity,
      - dead_fraction: tombstoned share still physically present.
    needs_rebuild flags skew > 4x or dead_fraction > 0.2 — the point
    where rebuilding (re-train + compact) beats searching around the
    damage. Thresholds are advisory; callers can apply their own.
    """
    index = spark.read.parquet(f"{path}/index")
    quantized = "q" in index.columns
    occ = index.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    counts = [r["n"] for r in occ]
    n_vec = sum(counts)
    try:
        n_dead = (
            spark.read.parquet(f"{path}/tombstones").distinct().count()
        )
    except Exception:
        n_dead = 0
    skew = (max(counts) * len(counts) / n_vec) if n_vec else 0.0
    dead_fraction = n_dead / n_vec if n_vec else 0.0
    return {
        "n_vectors": n_vec,
        "n_cells": len(counts),
        "n_tombstones": n_dead,
        "occupancy_skew": skew,
        "dead_fraction": dead_fraction,
        "quantized": quantized,
        "needs_rebuild": skew > 4.0 or dead_fraction > 0.2,
    }


def ann_search_ivf_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = _TOP_K,
    nprobe: int | None = None,
) -> DataFrame:
    """Search a PERSISTED IVF index (built by build_ann_index) — no
    training, no corpus scan: the query batch routes via the centroid
    matrix, and the index scan is pruned to the union of probed cells
    (an IN filter on the partition column, so only those directories
    are read; everything else in the index is never touched).

    The probed-cell union is batch x nprobe ids at most — bounded
    driver-side routing state, like the centroids themselves.
    """
    C = load_ann_centroids(spark, path)
    if nprobe is None:
        nprobe = ivf_nprobe_for(C.shape[0])
    qv = _vectors(queries.select(F.col("query_id").alias("vec_id"), "embedding"))
    q = _queries(qv, _make_probe_udf(C, nprobe))
    # No persist on q: a query batch is small by definition, so the
    # probe UDF recomputing once (cell-union collect + the join) is
    # cheaper than leaking one cached DataFrame per search call into
    # executor storage for the session's lifetime.
    probed = sorted({r["qcell"] for r in q.select("qcell").distinct().collect()})
    index = _live_index(spark, path).filter(F.col("cell").isin(probed))
    return _top_k(
        _scored(F.broadcast(q).join(index, F.col("qcell") == F.col("cell"))), k
    )


@query("ann_ivf_topk", family="ivf")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF: deterministic-init distributed k-means
    partitions the corpus into cells; each query probes its nprobe
    nearest cells and scores only their members — candidate volume is
    (nprobe / cells) of the corpus instead of all of it.

    Cells scale ~sqrt(corpus) (ivf_cells_for). At 100 TB: train on a
    sample and persist via build_ann_index — `cell` becomes a partition
    column of the index table, and ann_search_ivf_indexed prunes each
    query batch's scan to its probed partitions (no scan of the rest).
    Rows-only: centroid floats depend on distributed avg
    accumulation order, so no cross-engine SQL twin exists; the
    driver-visible gate is ann_ivf_recall_gate, and a unit test pins
    recall vs the exact baseline.
    """
    return _top_k(_ivf_scored(spark, sf_dir), _TOP_K)


# A recall floor loose enough for run-to-run centroid noise but tight
# enough that a real quality regression (bad centroids, broken probe)
# flips the gate: measured recall on the synthetic corpus is 0.88-0.92.
_RECALL_FLOOR = 0.85

# The constant-true oracle every recall gate hashes against.
_RECALL_GATE_ORACLE = f"""
SELECT CAST({_N_QUERIES} AS BIGINT) AS n_queries, TRUE AS recall_ok
"""


def _recall_gate_row(approx: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """One-row gate: |approx ∩ exact| / |exact| >= floor as a boolean.

    Both inputs are (query_id, neighbor_id) pair sets. The boolean is
    computed Spark-side from real counts, so against a constant-true
    oracle a recall collapse breaks the driver's hash."""
    e = exact.select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    hits = approx.join(
        e, (F.col("query_id") == F.col("eq")) & (F.col("neighbor_id") == F.col("en"))
    )
    return (
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_exact")))
        .select(
            F.lit(_N_QUERIES).cast("bigint").alias("n_queries"),
            (F.col("n_hit").cast("double") / F.col("n_exact") >= floor).alias(
                "recall_ok"
            ),
        )
    )


def _batch_recall_gate(emb: DataFrame, search) -> DataFrame:
    """_recall_gate_row of a batch-search API, search(queries, k),
    against ann_search, with the corpus's first _N_QUERIES vectors as
    the batch. The batch is corpus vectors, so both sides ask for
    _TOP_K + 1 neighbors and drop each query's self-match."""
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx, exact = (
        ranked.filter(F.col("neighbor_id") != F.col("query_id")).select(
            "query_id", "neighbor_id"
        )
        for ranked in (
            search(queries, _TOP_K + 1),
            ann_search(emb, queries, k=_TOP_K + 1),
        )
    )
    return _recall_gate_row(approx, exact, _RECALL_FLOOR)


@query(
    "ann_ivf_recall_gate",
    family="ivf",
    oracle=_RECALL_GATE_ORACLE,
)
def ann_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for IVF (same pattern as
    approx_distinct_gate): the checkable claim for a data-adaptive
    approximate index is its RECALL against the exact baseline. Emits
    one row — the query count and a boolean asserting overall recall@k
    >= 0.85 — against a constant-true oracle, so a recall collapse (bad
    centroids, broken probe) breaks the hash. A monkeypatched
    farthest-cell probe in tests proves the gate can actually fail."""
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_gate_row(ivf, exact, _RECALL_FLOOR)


@query(
    "ann_search_ivf_gate",
    family="ivf",
    oracle=_RECALL_GATE_ORACLE,
)
def ann_search_ivf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the IVF-backed *batch search API*
    (`ann_search_ivf`): the serving-shaped entry point — arbitrary
    (query_id, embedding) batch against a corpus — must reproduce the
    brute-force `ann_search` top-k above the recall floor. Exercises
    the full train -> index -> probe -> score -> rank pipeline through
    the public API rather than the registered-query plumbing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _batch_recall_gate(emb, lambda q, k: ann_search_ivf(emb, q, k=k))


@query(
    "ann_ivf_indexed_gate",
    oracle=_RECALL_GATE_ORACLE,
)
def ann_ivf_indexed_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the PERSISTED index lifecycle:
    build_ann_index writes the cell-partitioned index + centroids to
    disk once per session, then ann_search_ivf_indexed — no training,
    scan pruned to probed cells — must reproduce the brute-force
    top-k above the recall floor. This is the exact build-once /
    search-many shape a cluster runs; the in-memory gates
    (ann_ivf_recall_gate, ann_search_ivf_gate) cover the train+search
    path, this one covers the disk roundtrip."""
    import atexit
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")

    # the index is built once per session and searched many times
    def build_index() -> str:
        path = tempfile.mkdtemp(prefix="smrf_ivf_gate_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_ann_index(emb, path)
        return path

    path = get_or_build(spark, ("ivf_index_dir", sf_dir), build_index)
    return _batch_recall_gate(
        emb, lambda q, k: ann_search_ivf_indexed(spark, path, q, k=k)
    )


from .._serde import pickle_by_value as _pbv  # noqa: E402
_pbv(__name__)


@query(
    "embedding_quantize",
    oracle="""
WITH base AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE embedding IS NOT NULL
),
scaled AS (
    SELECT vec_id, e,
           CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0
                THEN 1.0
                ELSE list_max(list_transform(e, x -> abs(x))) / 127.0
           END AS scale
    FROM base
)
SELECT vec_id,
       CAST(LEN(e) AS BIGINT) AS n_dims,
       scale,
       MD5(array_to_string(
           list_transform(e, x -> CAST(CAST(FLOOR(x / scale + 0.5) AS BIGINT)
                                       AS VARCHAR)), ',')) AS qhash,
       list_max(list_transform(
           e, x -> abs(x - CAST(FLOOR(x / scale + 0.5) AS BIGINT) * scale)
       )) AS max_abs_err
FROM scaled
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step a 100 TB vector corpus applies before ANN serving
    (4x smaller than float32, distance error bounded by scale/2 per
    dim). Per-vector scale = max|e| / 127; codes are floor(e/scale +
    0.5), which lands exactly in [-127, 127] with no clamp (e = +-max
    maps to +-127 by construction) and — unlike ROUND — has one
    engine-portable definition at .5 boundaries.

    Output is the code-sequence md5 plus the max reconstruction error,
    so the entire quantization (every code of every vector) is
    hash-gated. All arithmetic is IEEE double ops in identical
    expression trees -> bit-exact across engines; max is
    order-independent. Row-local -> zero shuffles at any scale.
    """
    coded = _quantizer_corpus(spark, sf_dir)
    return coded.select(
        "vec_id",
        F.size("e0").cast("bigint").alias("n_dims"),
        "scale",
        F.md5(
            F.array_join(F.transform("q", lambda c: c.cast("string")), ",")
        ).alias("qhash"),
        F.array_max(
            F.zip_with("e0", "e", lambda x, d: F.abs(x - d))
        ).alias("max_abs_err"),
    )


# Quantized-search recall floor: int8 codes perturb each dim by at most
# scale/2, so top-5 neighbor sets stay nearly intact; measured recall
# on the synthetic corpus is 1.0 (the gate flips only if quantization
# actually corrupts geometry).
_QUANT_RECALL_FLOOR = 0.9


def _quantizer_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table through _with_int8_codes (NULL vectors
    dropped) — every quantization consumer (the gated operator, the
    dequantized search, the persisted index) derives from this single
    frame, so no second definition of the scheme can drift."""
    emb = load_table(spark, sf_dir, "embeddings")
    raw = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.col("embedding").alias("e")
    )
    return _with_int8_codes(raw)


def _dequantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e) with every component reconstructed from its int8
    code — the EXACT vectors a quantized ANN server scores against
    (embedding_quantize's codes, decoded)."""
    return _quantizer_corpus(spark, sf_dir).select("vec_id", "e")


@query(
    "ann_quantized_gate",
    oracle=_RECALL_GATE_ORACLE,
)
def ann_quantized_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate closing the quantization lifecycle: searching
    over int8-reconstructed vectors (embedding_quantize's codes,
    decoded) must reproduce the exact float top-k with recall >= 0.9
    (_QUANT_RECALL_FLOOR) — the claim that makes 4x-compressed ANN
    serving safe. Same constant-true-oracle pattern as
    ann_ivf_recall_gate: the boolean is computed Spark-side from real
    pair counts, so geometry corruption breaks the driver's hash.
    """
    deq = with_norm(_dequantized(spark, sf_dir))
    approx = _exact_search(
        deq, deq.filter(F.col("vec_id") < _N_QUERIES), _TOP_K, exclude_self=True
    ).select("query_id", "neighbor_id")
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_gate_row(approx, exact, _QUANT_RECALL_FLOOR)


_NDCG_FLOOR = 0.8


def ndcg_gate_row(
    approx: DataFrame, exact: DataFrame, floor: float = _NDCG_FLOOR
) -> DataFrame:
    """One-row NDCG@k gate: mean NDCG across queries >= floor.

    Inputs are (query_id, neighbor_id, rank) rankings; the exact
    ranking defines graded relevance rel = k - rank + 1 (top exact hit
    most relevant). DCG = sum rel/log2(rank+1) over the approx
    ranking's positions; IDCG is the exact ranking's own DCG. log2 is
    transcendental, but the gate compares a mean strictly away from
    the floor, so a 1-ulp wiggle cannot flip the boolean — the same
    robustness argument as the recall gates. Shape: two k-row-per-
    query frames join on (query, neighbor); everything downstream is
    constant-size.
    """
    k_rel = exact.groupBy().agg(F.max("rank")).collect()[0][0] or 0
    e = exact.select(
        F.col("query_id").alias("eq"),
        F.col("neighbor_id").alias("en"),
        (F.lit(k_rel) - F.col("rank") + 1).cast("double").alias("rel"),
    )
    dcg = (
        approx.join(
            e,
            (F.col("query_id") == F.col("eq"))
            & (F.col("neighbor_id") == F.col("en")),
            "left",
        )
        .select(
            "query_id",
            (
                F.coalesce(F.col("rel"), F.lit(0.0))
                / F.log2(F.col("rank").cast("double") + 1.0)
            ).alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").alias("dcg"))
    )
    idcg = (
        e.select(
            F.col("eq").alias("query_id"),
            (
                F.col("rel")
                / F.log2(
                    F.row_number()
                    .over(
                        Window.partitionBy("eq").orderBy(F.col("rel").desc())
                    )
                    .cast("double")
                    + 1.0
                )
            ).alias("g"),
        )
        .groupBy("query_id")
        .agg(F.sum("g").alias("idcg"))
    )
    per_q = dcg.join(idcg, "query_id").select(
        (F.col("dcg") / F.col("idcg")).alias("ndcg")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        (F.avg("ndcg") >= floor).alias("ndcg_ok"),
    )


@query(
    "ann_ivf_ndcg_gate",
    family="ivf",
    oracle=f"""
SELECT CAST({_N_QUERIES} AS BIGINT) AS n_queries, TRUE AS ndcg_ok
""",
)
def ann_ivf_ndcg_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality gate for IVF: NDCG@k of the approximate ranking
    against the brute-force exact ranking — a stricter statistic than
    the recall gate (it penalizes returning the right neighbors in the
    wrong ORDER, which recall cannot see). Measured IVF NDCG is
    0.97-0.98 at validation scales, so the 0.8 floor has wide margin;
    the corrupted-ranking test proves the gate can fail. (The LSH
    tables measure ~0.57 here — candidate generation, not a ranker —
    which is exactly the difference this gate exposes.)"""
    ivf = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return ndcg_gate_row(ivf, exact)
