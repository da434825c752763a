"""Deduplication operators for the training-data pipeline tier
(BASELINE.json north star): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Everything here is a *composition of relational operators* — explode /
distinct / groupBy / self-join — so Catalyst plans it and the same
algorithm is expressible verbatim in the DuckDB oracle. The only
engine-shared primitive is the deterministic 32-bit string hash
(first 8 hex chars of md5, functions/columns.py:hex32).

Scale design (100 TB):
- exact dedup: hash-groupBy on a 16-byte key; partial agg collapses each
  partition before the exchange.
- n-gram Jaccard is the *exact baseline*: its shingle self-join is
  quadratic in bucket size, so it exists to validate the scale path.
- MinHash+LSH is the scale path: signatures are fixed-size (K ints per
  doc), band buckets bound the candidate set, and the exact verify runs
  only on candidates. All joins are key-equi on (band, signature) —
  shuffle-friendly, no cross join anywhere.
- SimHash: one 32-bit signature per doc; exact-match grouping finds
  near-dup clusters with a single shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hex32
from ..registry import query
from ..session_memo import get_or_build, per_session, shared_frame
from ..sources import load_table

EMBED_DIM = 64  # embeddings.embedding is a fixed 64-dim float vector

# MinHash family: hv_i = (A[i] * h32 + B[i]) mod P. A[i] < 2^29 keeps
# A*h below 2^61 (no int64 overflow in either engine).
_P = 2147483647
_A = [
    95781911, 179424673, 15485863, 32452843,
    49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424997,
    198491317, 217645177, 236887691, 256203161,
]
_B = [i * 7919 + 13 for i in range(16)]
_K = len(_A)
_BAND_ROWS = 4  # 4 bands x 4 rows

_HASH_VALUES_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_A, _B))
)

# Verify-stage shingle cap: each doc contributes at most this many
# shingles (deterministic bottom-k by md5 order — a min-wise sample)
# to the candidate-verify join, and each pair's union is trimmed to
# the same k, giving the standard bottom-k sketch Jaccard estimator
# |T ∩ A ∩ B| / |T|. Below the cap (every doc in the synthetic corpus:
# max 98 shingles) T is the full union and the value is EXACT equal to
# |A∩B| / |A∪B|; above it, per-pair verify cost is bounded by 2k rows
# however pathological the document.
_VERIFY_CAP = 1024

# Broadcast discipline threshold (round 8, caught by the 100x scale
# audit): joins INSIDE persisted fragments execute the cached plan
# with the static planner only — AQE never re-plans them — and the
# static planner estimates corpus-derived frames from the (small)
# documents scan, so past ~100k docs it broadcast-builds corpus-sized
# hash relations and OOMs the driver. Above this corpus size every
# such join pins SHUFFLE_HASH/MERGE; below it the broadcast plans
# stand (they are 2-4x faster at validation scale, and a sub-100k-doc
# corpus-side is comfortably within any executor's broadcast budget).
# The same measured-threshold pattern as llmfilters' decontamination
# fallback.
_PIN_JOINS_DOC_LIMIT = 100_000


def _pin_scale_joins(spark: SparkSession, sf_dir: str) -> bool:
    """True when the corpus is large enough that corpus-derived join
    inputs must never be broadcast (see _PIN_JOINS_DOC_LIMIT). The doc
    count is one parquet-metadata job, memoized per session."""
    n = get_or_build(
        spark,
        ("corpus_rows", sf_dir),
        lambda: load_table(spark, sf_dir, "documents").count(),
    )
    return n > _PIN_JOINS_DOC_LIMIT


# Connected-components local fast path budget (r17): edge sets at or
# under this row count resolve by driver union-find (see
# connected_components) — the same driver-memory class as a broadcast
# build, so it is capped by the broadcast row budget and scales down
# with the audit override (SMRF_BROADCAST_ROW_LIMIT=10000 forces the
# distributed-loop branch at validation scale, giving the above-budget
# path end-to-end evidence like every other guarded site).
def _cc_local_edge_limit() -> int:
    from ..functions.scale import BROADCAST_ROW_LIMIT

    return min(BROADCAST_ROW_LIMIT, 1_000_000)


_CC_LOCAL_EDGE_LIMIT = _cc_local_edge_limit()


# Inverted-index bucket cap: shingles shared by more than this many
# docs are dropped from the exact-Jaccard pair generation. Stopword-like
# n-grams ("of the and", boilerplate headers) carry no dedup signal but
# cost bucket^2 pairs each — one hot shingle at corpus scale turns the
# explode quadratic. Capping bounds per-shingle pair fan-out at
# cap*(cap-1)/2 regardless of corpus size; sizes keep the full shingle
# counts, so the reported jaccard is a conservative (<=) estimate for
# any pair that leaned on a dropped mega-bucket and exact otherwise.
_NGRAM_BUCKET_CAP = 100

# Shared shingle SQL (DuckDB): word 3-grams over lowercased \w+ tokens.
_SHINGLES_CTE = r"""
toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           UNNEST(list_transform(range(1, GREATEST(LEN(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
)
"""


# The "shingle" family of shared frames: the shingle index and the
# verified near-dup pair lists each feed several queries (jaccard,
# minhash, clusters, the cleaning pipeline). On a cluster these are
# persisted/bucketed tables shared across dedup runs.


@per_session("shingle", persist=True)
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, word-3-gram) pairs — Spark twin of _SHINGLES_CTE.

    Built by zipping the token array against its two shifted copies
    (slice + arrays_zip + explode + concat_ws): every expression stays
    in whole-stage codegen and — unlike a posexplode + window-lead
    formulation — there is NO per-doc window shuffle/sort; the only
    exchange is the final distinct. (Higher-order ``transform`` lambdas
    were ~10x slower here: HOFs run interpreted.) Measured 3x faster
    than the window variant at sf0.1. Shingle strings are identical to
    the oracle's t[i] || ' ' || t[i+1] || ' ' || t[i+2].
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
    return (
        docs.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(t, 1, greatest(size(t) - 2, 0))"),
                    F.expr("slice(t, 2, greatest(size(t) - 2, 0))"),
                    F.expr("slice(t, 3, greatest(size(t) - 2, 0))"),
                )
            ).alias("g"),
        )
        .select("doc_id", F.concat_ws(" ", "g.0", "g.1", "g.2").alias("shingle"))
        .distinct()
    )


@query(
    "dedup_exact",
    oracle="""
SELECT MD5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the min doc_id as
    canonical. One shuffle on a 16-byte key; at 100 TB the partial agg
    means each executor ships one row per distinct hash it holds.
    (Reference analog: content-hash job dedup, client.py:57-69.)"""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Exact n-gram-Jaccard pair generation as a reusable CTE chain
# (consumes the `shingles` CTE): shared by the dedup_ngram_jaccard
# oracle and the dedup_minhash_pr_gate oracle — the same shared-CTE
# discipline as _MINHASH_PAIRS_CTES below, so no second definition of
# the exact baseline can drift.
_EXACT_PAIRS_CTES = f"""sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
kept AS (
    SELECT shingle FROM shingles
    GROUP BY shingle
    HAVING COUNT(*) BETWEEN 2 AND {_NGRAM_BUCKET_CAP}
),
inter AS (
    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n_inter
    FROM shingles sa JOIN shingles sb
      ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
    JOIN kept k ON k.shingle = sa.shingle
    GROUP BY sa.doc_id, sb.doc_id
)"""


@query(
    "dedup_ngram_jaccard",
    family="shingle",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_EXACT_PAIRS_CTES}
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.5
""",
)
@per_session("shingle", persist=True)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.5).

    The inverted index is the exact baseline: cost is sum over shingles
    of bucket^2. Fine at validation scale, and it's the ground truth
    the MinHash path is tested against; at 100 TB use
    dedup_minhash_lsh. Jaccard divides identical integers -> the double
    is engine-exact.

    Pair generation groups doc ids per shingle and explodes ordered
    pairs from each bucket — ONE shuffle of the shingle index instead
    of the self-join's two shuffled copies (25% faster at sf0.1; the
    oracle keeps the equivalent self-join formulation, the pair
    multiset is identical). Buckets larger than _NGRAM_BUCKET_CAP are
    dropped before the explode (stopword-like shingles carry no dedup
    signal), bounding per-shingle pair fan-out at cap^2/2 however hot
    the n-gram; the oracle applies the identical doc-frequency filter.
    Union sizes keep the full counts, so jaccard is exact for pairs
    untouched by a mega-bucket and a conservative underestimate
    otherwise.

    The shingle index is cached: it feeds the bucket pass and the size
    table (on a cluster the same index would be a persisted / bucketed
    table shared across dedup runs). The doc-size joins pin
    shuffle_hash past the corpus threshold (round 9: the forced-
    fallback sf10 audit caught Catalyst broadcast-building the
    corpus-sized ``sizes`` frame — derived under the persisted shingle
    fragment, so its static estimate reads tiny — and dying on driver
    memory; the same class as the winnow size join fixed in r8).

    The verified pair list itself is persisted + memoized (round 10,
    when dedup_minhash_pr_gate became its second consumer) — the same
    shared near-dup pair-table rationale as the minhash path: the
    output is near-dup-sized (tiny), so the persist costs nothing and
    every consumer skips the quadratic-ish inter-pair explode.
    """
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if _pin_scale_joins(spark, sf_dir):
        sizes = sizes.hint("shuffle_hash")
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(
            (F.size("ds") > 1) & (F.size("ds") <= _NGRAM_BUCKET_CAP)
        )
    )
    inter = (
        buckets.select("ds", F.explode("ds").alias("a"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    jac = F.col("n_inter").cast("double") / (
        F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")
    )
    return (
        inter.join(za, F.col("za.doc_id") == F.col("doc_a"))
        .join(zb, F.col("zb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# Full MinHash->LSH->verify pipeline as a reusable CTE chain (shared by
# the dedup_minhash_lsh oracle and the dedup_clusters connected-
# components oracle).
_MINHASH_PAIRS_CTES = f"""{_SHINGLES_CTE},
hashed AS (
    SELECT doc_id, shingle,
           CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
    FROM shingles
),
sig AS (
    SELECT doc_id, hp.i AS i, MIN((hp.a * h + hp.b) % {_P}) AS mh
    FROM hashed CROSS JOIN (VALUES {_HASH_VALUES_SQL}) AS hp(i, a, b)
    GROUP BY doc_id, hp.i
),
bands AS (
    SELECT doc_id, CAST(FLOOR(i / {_BAND_ROWS}.0) AS INT) AS band,
           STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig_key
    FROM sig GROUP BY doc_id, CAST(FLOOR(i / {_BAND_ROWS}.0) AS INT)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig_key = b.sig_key AND a.doc_id < b.doc_id
),
capped AS (
    SELECT doc_id, shingle, h FROM (
        SELECT doc_id, shingle, md5(shingle) AS h,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY md5(shingle), shingle) AS rn
        FROM shingles
    ) WHERE rn <= {_VERIFY_CAP}
),
pair_union AS (
    SELECT doc_a, doc_b, shingle, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
    FROM (
        SELECT c.doc_a, c.doc_b, s.shingle, s.h, 1 AS in_a, 0 AS in_b
        FROM cand c JOIN capped s ON s.doc_id = c.doc_a
        UNION ALL
        SELECT c.doc_a, c.doc_b, s.shingle, s.h, 0 AS in_a, 1 AS in_b
        FROM cand c JOIN capped s ON s.doc_id = c.doc_b
    ) GROUP BY doc_a, doc_b, shingle, h
),
pair_topk AS (
    SELECT doc_a, doc_b, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
                              ORDER BY h, shingle) AS rn
    FROM pair_union
),
pairs AS (
    SELECT doc_a, doc_b,
           CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*) AS jaccard
    FROM pair_topk WHERE rn <= {_VERIFY_CAP}
    GROUP BY doc_a, doc_b
    HAVING CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*) >= 0.5
)"""


@query(
    "dedup_minhash_lsh",
    family="shingle",
    oracle=f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
""",
)
@per_session("shingle", persist=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection — the 100 TB dedup path.

    shingle -> 32-bit hash -> K=16 permutation mins -> 4 bands of 4 ->
    bucket-join on (band, band-signature) -> exact-Jaccard verify of
    candidates only. Every stage is a key-equi groupBy/join; signature
    state is K ints per doc regardless of doc length; candidate volume
    is bounded by band-bucket collisions rather than corpus^2. The
    band-signature string and the hash family are shared with the DuckDB
    oracle, so candidates (and therefore output) match exactly. The
    shingle index is cached — signatures, sizes, and the verify join
    all read it — and the verified pair list itself is persisted +
    memoized (dedup_clusters and the cleaning pipeline both consume
    it; on a cluster it is the shared near-dup pair table).
    """
    sh = _shingles(spark, sf_dir)
    hashed = sh.select("doc_id", hex32(F.col("shingle")).alias("h"))
    # All K mins in ONE partial-aggregating groupBy (no K-fold row
    # explosion): each executor ships one K-int row per doc it holds.
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"mh{i}")
            for i, (a, b) in enumerate(zip(_A, _B))
        ]
    )
    n_bands = _K // _BAND_ROWS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{band * _BAND_ROWS + j}").cast("string")
                                for j in range(_BAND_ROWS)
                            ],
                        ).alias("sig_key"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig_key").alias("sig_key"))
    # Bucket by (band, signature) and explode ordered pairs — one
    # shuffle of the band index instead of a self-join's two copies
    # (same rewrite as dedup_ngram_jaccard's inverted index).
    cand = (
        bands.groupBy("band", "sig_key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
        .select("ds", F.explode("ds").alias("a"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )
    # Verify stage with a bounded per-doc shingle budget: bottom-k by
    # md5 order per doc (deterministic min-wise sample), then the pair's
    # union trimmed to the same k — the bottom-k sketch estimator
    # |T ∩ A ∩ B| / |T|, EXACT whenever the union fits in k (always at
    # validation scale; _VERIFY_CAP). Per-pair verify cost is <= 2k rows
    # no matter how large a pathological document grows.
    from pyspark.sql.window import Window

    w_doc = Window.partitionBy("doc_id").orderBy(F.col("h"), F.col("shingle"))
    capped = (
        sh.withColumn("h", F.md5("shingle"))
        .withColumn("rn", F.row_number().over(w_doc))
        .filter(F.col("rn") <= _VERIFY_CAP)
        .drop("rn")
    )
    # past _PIN_JOINS_DOC_LIMIT the verify joins stream the CORPUS-
    # sized capped-shingle table and hash-build on the candidate-pair
    # side — without the pin, the cached-fragment static planner
    # under-estimates capped from the documents scan and broadcasts
    # ~GBs at the 100x scale point (scripts/audit_at_scale.py, round 8)
    ca = capped.alias("ca")
    cb = capped.alias("cb")
    if _pin_scale_joins(spark, sf_dir):
        cand = cand.hint("shuffle_hash")
    side_a = cand.join(ca, F.col("ca.doc_id") == F.col("doc_a")).select(
        "doc_a",
        "doc_b",
        F.col("ca.shingle").alias("shingle"),
        F.col("ca.h").alias("h"),
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    )
    side_b = cand.join(cb, F.col("cb.doc_id") == F.col("doc_b")).select(
        "doc_a",
        "doc_b",
        F.col("cb.shingle").alias("shingle"),
        F.col("cb.h").alias("h"),
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    )
    pair_union = (
        side_a.unionByName(side_b)
        .groupBy("doc_a", "doc_b", "shingle", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w_pair = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("h"), F.col("shingle")
    )
    return (
        pair_union.withColumn("rn", F.row_number().over(w_pair))
        .filter(F.col("rn") <= _VERIFY_CAP)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
            F.count(F.lit(1)).alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter").cast("double") / F.col("n_union")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Quality floors for the MinHash-LSH pair set vs the exact-Jaccard
# baseline. Measured precision/recall is 1.0/1.0 at sf0.001, sf0.01,
# and sf0.1 (the synthetic near-dup pairs sit at jaccard 0.8-1.0, where
# the 4x4 band scheme's collision probability is 0.88-1.0), so the
# floors have wide margin; a real quality regression — a broken hash
# family, a band-key typo, a verify-stage estimator bug — drops one of
# them far below. The can-fail test corrupts the pair set both ways.
_PR_PRECISION_FLOOR = 0.95
_PR_RECALL_FLOOR = 0.90


def _pr_gate_row(lsh: DataFrame, exact: DataFrame) -> DataFrame:
    """One-row precision/recall evaluation of a candidate near-dup
    pair set against the exact baseline pair set.

    Both inputs are (doc_a, doc_b) frames. Every statistic is an
    integer pair count (order-independent, engine-exact); the ratios
    divide those exact integers, so both engines produce bit-identical
    doubles, and the gate booleans compare them against the floors.
    Pair sets are near-dup-sized (<< corpus), so the count aggregates
    and the 1-row crossJoins are constant-cost at any corpus scale."""
    e = exact.select(
        F.col("doc_a").alias("ea"), F.col("doc_b").alias("eb")
    )
    hits = lsh.join(
        e, (F.col("doc_a") == F.col("ea")) & (F.col("doc_b") == F.col("eb"))
    )
    prec = F.col("n_hit").cast("double") / F.greatest(F.col("n_lsh"), F.lit(1))
    rec = F.col("n_hit").cast("double") / F.greatest(F.col("n_exact"), F.lit(1))
    return (
        lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_lsh").cast("bigint").alias("n_lsh_pairs"),
            F.col("n_exact").cast("bigint").alias("n_exact_pairs"),
            F.col("n_hit").cast("bigint").alias("n_hit_pairs"),
            prec.alias("lsh_precision"),
            rec.alias("lsh_recall"),
            (prec >= _PR_PRECISION_FLOOR).alias("precision_ok"),
            (rec >= _PR_RECALL_FLOOR).alias("recall_ok"),
        )
    )


@query(
    "dedup_minhash_pr_gate",
    family="shingle",
    oracle=f"""
WITH {_MINHASH_PAIRS_CTES},
{_EXACT_PAIRS_CTES},
exact_pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.5
),
counts AS (
    SELECT (SELECT COUNT(*) FROM pairs) AS n_lsh,
           (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
           (SELECT COUNT(*) FROM pairs l JOIN exact_pairs e
              ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b) AS n_hit
)
SELECT CAST(n_lsh AS BIGINT) AS n_lsh_pairs,
       CAST(n_exact AS BIGINT) AS n_exact_pairs,
       CAST(n_hit AS BIGINT) AS n_hit_pairs,
       CAST(n_hit AS DOUBLE) / GREATEST(n_lsh, 1) AS lsh_precision,
       CAST(n_hit AS DOUBLE) / GREATEST(n_exact, 1) AS lsh_recall,
       CAST(n_hit AS DOUBLE) / GREATEST(n_lsh, 1)
           >= {_PR_PRECISION_FLOOR} AS precision_ok,
       CAST(n_hit AS DOUBLE) / GREATEST(n_exact, 1)
           >= {_PR_RECALL_FLOOR} AS recall_ok
FROM counts
""",
)
def dedup_minhash_pr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the 100 TB dedup path: precision AND recall of
    the MinHash+LSH verified pair set, measured against the exact
    n-gram-Jaccard baseline pair set (VERDICT r9 item 5 — the last
    'quality measured, not asserted' gap in the dedup tier).

    Unlike the constant-true ANN recall gates, BOTH engines compute
    the full statistic from their own pair sets (the oracle composes
    the shared _MINHASH_PAIRS_CTES and _EXACT_PAIRS_CTES chains), so
    the driver's hash checks the exact pair counts and ratios — a
    candidate-generation miss (recall) and a verify-stage false accept
    (precision) each break a different column. Both consumed frames
    are memoized/persisted by their own queries, so the gate adds two
    count jobs and one pair-set join, nothing corpus-sized.
    """
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return _pr_gate_row(lsh, exact)


@query(
    "dedup_simhash",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
tf AS (
    SELECT doc_id, word, COUNT(*) AS cnt,
           CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS h
    FROM tok GROUP BY doc_id, word
),
bits AS (
    SELECT doc_id, b.b AS b,
           SUM(cnt * (2 * ((h >> b.b) & 1) - 1)) AS s
    FROM tf CROSS JOIN (SELECT UNNEST(range(0, 32)) AS b) b
    GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (token-frequency weighted).

    The frequency-weighted bit sum sum_w cnt(w) * (2*bit_b(h(w)) - 1)
    equals the per-occurrence sum over the raw token stream, so no
    (doc, word) aggregation is needed: ONE partial-aggregated groupBy
    on doc_id computes all 32 per-bit popcounts plus the token count as
    codegen'd sums (bit b is set iff 2 * popcount_b > n_tokens). The
    map side collapses every document to a single 33-counter row before
    the exchange — constant per-doc state, one shuffle of one row per
    document at 100 TB (the former formulation exploded 32 rows per
    distinct token and shuffled twice). Near-dup clusters are then
    exact-match groups on the signature — a single groupBy on an int32.
    All integer arithmetic -> engine-exact; the DuckDB oracle keeps the
    per-word-frequency formulation, proving the equivalence.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
        ).alias("w"),
    ).select("doc_id", hex32(F.col("w")).alias("h"))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"s{b}")
        for b in range(32)
    ]
    zero = F.lit(0).cast("long")
    simhash = zero
    for b in range(32):
        simhash = simhash + F.when(
            F.col(f"s{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(zero)
    return (
        tok.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", simhash.cast("bigint").alias("simhash"))
    )


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Distributed connected components via the alternating
    large-star / small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log n) rounds regardless
    of component diameter, unlike plain label propagation's
    O(diameter).

    vertices: one column ``id``; edges: columns ``src``, ``dst``
    (undirected — one row per pair is enough, symmetry is applied
    here). Returns (id, component) where component is the minimum
    vertex id in the connected component.

    Each round is two key-equi shuffles (a per-node min and a join
    back); edges strictly shrink toward a star per component, so the
    100 TB shape is bounded: state is the edge set itself, no
    per-node auxiliary structures. Every round ends in an eager
    localCheckpoint — iterative algorithms MUST truncate lineage, or
    the logical plan doubles per round and planning itself OOMs (on a
    cluster with an HDFS checkpoint dir, ``checkpoint()`` is the
    fault-tolerant variant).

    Size-adaptive fast path (r17 optimization, guide §1.2/§2.4): the
    edge list is typically DIMENSION-sized (near-dup pairs, linked
    name variants) even when the vertex set is fact-sized, and the
    distributed loop pays ~6 blocking jobs per round however small the
    graph (measured 4.4s for a 64-node/24-edge graph at sf0.1 —
    pure iteration latency). Under _CC_LOCAL_EDGE_LIMIT the edge set
    is collected (the same driver budget class as every broadcast
    build), components resolve by union-find with min-id labels —
    exactly the labels the alternating algorithm converges to — and
    the label map broadcast-joins back onto the (never collected)
    vertex frame. Above the budget the distributed loop runs
    unchanged; the audit override (SMRF_BROADCAST_ROW_LIMIT, which
    caps this limit) drives the loop branch at validation scale.
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()  # checkpointed: a cheap metadata-scale job
    if n_edges == 0:
        return vertices.select("id", F.col("id").alias("component"))
    if n_edges <= _CC_LOCAL_EDGE_LIMIT:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in e.collect():
            u, v = row["u"], row["v"]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min: the root IS the running component min,
                # so labels match the distributed algorithm's min-id
                # convergence exactly (Spark's UTF8 binary string
                # order equals Python's code-point order under UTF-8)
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        id_type = vertices.schema["id"].dataType
        labels = [(x, find(x)) for x in parent]
        parents = vertices.sparkSession.createDataFrame(
            labels,
            T.StructType(
                [
                    T.StructField("u", id_type),
                    T.StructField("component", id_type),
                ]
            ),
        )
        return (
            vertices.join(
                F.broadcast(parents), vertices["id"] == parents["u"], "left"
            )
            .select(
                "id",
                F.coalesce("component", F.col("id")).alias("component"),
            )
        )
    prev_fp = None
    for _ in range(15):  # alternating algorithm: O(log n) rounds
        # large-star: every neighbor v > u links to m = min(N(u) + {u})
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", "u").alias("m"))
        large = (
            sym.join(mins.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every neighbor v <= u (and u itself) links to the
        # minimum of the small neighborhood
        down = large.filter(F.col("v") < F.col("u"))
        smins = down.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            down.join(smins.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # Converged when the edge set is stable (already a star forest).
        # Checked via an order-independent fingerprint (count + sum of a
        # 64-bit row hash): ONE cheap agg job over the already-
        # checkpointed set, where a two-sided exceptAll would recompute
        # and shuffle both sides every round.
        row = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        fp = (row["n"], row["s"])
        e = small
        if fp == prev_fp:
            break
        prev_fp = fp
    parents = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        vertices.join(parents, vertices["id"] == parents["u"], "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )


@query(
    "dedup_clusters",
    family="cclabels",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id, MIN(dst) AS cluster_id
FROM reach GROUP BY src
""",
)
@per_session("cclabels", persist=True)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the
    verified near-dup pairs, labeled by the minimum doc_id in each
    component.

    Runs the alternating large-star/small-star algorithm (see
    connected_components) — O(log n) rounds even for deep chain
    components, where plain min-label propagation needs O(diameter)
    shuffles. Oracle: DuckDB recursive-CTE transitive closure (exact at
    validation scale; quadratic in component size, which is why the
    engine side iterates instead).

    The label frame memoizes per session: the CC loop is a driver-side
    iteration with per-round actions, so every consumer re-running it
    (dedup_canonical elects representatives from these labels) would
    repeat the whole fixed-point computation, not just re-execute a
    plan.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
    )
    # persisted, not just memoized (r18 — closing the r17 warm-path
    # regression): the local union-find branch returns a frame whose
    # every execution re-scans the doc table and rebuilds the
    # label-map broadcast, and three downstream queries
    # (dedup_canonical, split_leakage_safe, this one) each execute it
    # per run. One doc-sized cache entry serves them all — the same
    # house pattern as the shingle index and entity_golden_records.
    return labels.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "dedup_canonical",
    family="cclabels",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
j AS (
    SELECT l.doc_id, l.cluster_id,
           COALESCE(LENGTH(d.text), -1) AS len
    FROM lab l JOIN documents d ON d.doc_id = l.doc_id
),
ml AS (
    SELECT cluster_id, MAX(len) AS maxlen,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM j GROUP BY cluster_id
),
rep AS (
    SELECT j.cluster_id, MIN(j.doc_id) AS rep_id
    FROM j JOIN ml ON ml.cluster_id = j.cluster_id AND j.len = ml.maxlen
    GROUP BY j.cluster_id
)
SELECT j.doc_id, j.cluster_id, ml.cluster_size,
       j.doc_id = r.rep_id AS is_canonical
FROM j
JOIN ml ON ml.cluster_id = j.cluster_id
JOIN rep r ON r.cluster_id = j.cluster_id
""",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization — the LAST step of the dedup pipeline the
    cluster assignment feeds: inside every near-dup cluster keep
    exactly one representative, the longest document (ties broken by
    lowest doc_id, so the choice is total-ordered and hash-exact), and
    flag the rest as drops. Output is the full keep/drop decision per
    doc with its cluster and cluster size — what a corpus-prep run
    materializes before writing the deduplicated shard set.

    Shape at scale: cluster labels come from the O(log n)
    large-star/small-star components (dedup_clusters); the selection
    is ONE groupBy over the cluster key using a struct-ordered MAX
    ((len, -doc_id) — lexicographic struct comparison gives "longest,
    then lowest id" in a single partial-aggregable pass, no window
    over the cluster key and no second maxlen join pass), then one
    summary-sized join back, broadcast-or-shuffle left to AQE. NULL
    text pins to length -1 on both engines so an all-NULL cluster
    still elects a representative deterministically.

    Oracle: the recursive-CTE closure (exact at validation scale) plus
    the same (maxlen, min doc_id) election spelled as two grouped
    passes — different formulation, necessarily identical choice.
    """
    labels = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lab = labels.join(docs, "doc_id").select(
        "doc_id",
        "cluster_id",
        F.coalesce(F.length("text"), F.lit(-1)).alias("len"),
    )
    stats = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.max(
            F.struct(F.col("len"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best"),
    )
    return (
        lab.join(stats, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == -F.col("best.neg_id")).alias("is_canonical"),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH n AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE embedding IS NOT NULL)
)
SELECT id_a, id_b, cos_sim
FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
)
WHERE cos_sim >= 0.4
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force all-pairs baseline).

    Quadratic compute by construction (it is the exact baseline — the
    100 TB path is LSH bucketing first, similarity.ann_lsh_bucketed),
    but with NO quadratic data movement: instead of materializing the
    2M-row pair join, the corpus matrix broadcasts into a mapInPandas
    pass that scores each partition's rows against it in vectorized
    chunks and emits only the pairs above threshold. Per-pair dots are
    elementwise float64 products + np.cumsum (strict left-to-right
    fold), bit-identical to the oracle's list_dot_product.
    """
    import numpy as np
    import pandas as pd

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())  # no meaningful cosine for NULL
    )
    # The corpus matrix is the broadcast side (materialized once, shipped
    # once per executor) — the all-pairs baseline requires every worker
    # to see every vector regardless of formulation; what we avoid is
    # materializing and shuffling the O(n^2) pair rows, and (since round
    # 4) holding the corpus as pandas objects on the driver: each task
    # packs its Arrow batches into dense (int64 ids, float64 vecs) byte
    # buffers, the buffers pre-merge through an intermediate mapInPandas
    # level (the treeAggregate shape, mirroring build_bloom_distributed:
    # the driver receives <=8 packed chunks, never one per task and
    # never a Python Row), and the driver just concatenates dense
    # buffers — n x dim x 8 bytes, no object overhead.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    def _pack(batches):
        id_parts, vec_parts = [], []
        for pdf in batches:
            if "ids" in pdf.columns:  # merge level: concatenate child buffers
                for i_buf, v_buf in zip(pdf["ids"], pdf["vecs"]):
                    id_parts.append(np.frombuffer(i_buf, dtype=np.int64))
                    vec_parts.append(np.frombuffer(v_buf, dtype=np.float64))
            else:  # leaf level: densify this Arrow batch
                b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                if len(b_ids):
                    id_parts.append(b_ids)
                    vec_parts.append(
                        np.vstack(pdf["embedding"].to_numpy())
                        .astype(np.float64)
                        .ravel()
                    )
        if id_parts:
            yield pd.DataFrame(
                {
                    "ids": [np.concatenate(id_parts).tobytes()],
                    "vecs": [np.concatenate(vec_parts).tobytes()],
                }
            )

    partials = emb.mapInPandas(_pack, "ids binary, vecs binary")
    pre_merged = partials.repartition(8).mapInPandas(_pack, "ids binary, vecs binary")
    id_chunks, vec_chunks = [], []
    for r in pre_merged.toPandas().itertuples(index=False):
        id_chunks.append(np.frombuffer(r.ids, dtype=np.int64))
        vec_chunks.append(np.frombuffer(r.vecs, dtype=np.float64))
    ids = np.concatenate(id_chunks)
    V = np.concatenate(vec_chunks).reshape(len(ids), -1)
    # deterministic id order (chunk arrival order is not)
    order = np.argsort(ids, kind="stable")
    ids, V = ids[order], np.ascontiguousarray(V[order])
    # norms with the same sequential fold as the per-pair dots
    norms = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
    corpus = spark.sparkContext.broadcast((ids, V, norms))
    threshold = 0.4

    def score_against_corpus(batches):
        c_ids, c_V, c_norms = corpus.value
        dim = c_V.shape[1]
        for pdf in batches:
            A = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            ib = pdf["vec_id"].to_numpy(dtype=np.int64)
            nb = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            # dot via explicit accumulation over dimensions: each pair's
            # sum adds p_0, p_1, ... left-to-right (acc starts at 0.0),
            # identical to np.cumsum / list_dot_product, but only an
            # (m x n) accumulator is ever materialized.
            acc = np.zeros((len(A), len(c_ids)))
            for d in range(dim):
                acc += A[:, d][:, None] * c_V[:, d][None, :]
            cos = acc / (nb[:, None] * c_norms[None, :])
            ai, bi = np.nonzero((ib[:, None] < c_ids[None, :]) & (cos >= threshold))
            if len(ai):
                yield pd.DataFrame(
                    {"id_a": ib[ai], "id_b": c_ids[bi], "cos_sim": cos[ai, bi]}
                )

    return emb.mapInPandas(
        score_against_corpus, "id_a bigint, id_b bigint, cos_sim double"
    )


# Winnow-based near-dup: fingerprints shared by more docs than this are
# boilerplate and dropped before pairing (the same bounded-explode
# discipline as _NGRAM_BUCKET_CAP).
_WINNOW_BUCKET_CAP = 50
# Minimum fingerprint-set Jaccard overlap to call a pair a near-dup.
_WINNOW_OVERLAP_MIN = 0.5

_WINNOW_PAIRS_SQL = """
capped AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {cap}),
f AS (SELECT fps.doc_id, fps.fp FROM fps JOIN capped USING (fp)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM f GROUP BY doc_id),
wpairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(p.n_shared AS DOUBLE) / (sa.n + sb.n - p.n_shared) AS overlap
FROM wpairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE CAST(p.n_shared AS DOUBLE) / (sa.n + sb.n - p.n_shared) >= {minov}
"""


def _winnow_oracle() -> str:
    from .textanalysis import WINNOW_FPS_CTES

    return "WITH " + WINNOW_FPS_CTES + ",\n" + _WINNOW_PAIRS_SQL.format(
        cap=_WINNOW_BUCKET_CAP, minov=_WINNOW_OVERLAP_MIN
    )


@query("dedup_winnow", oracle=_winnow_oracle())
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs via winnowing fingerprints: two
    documents are near-dups when the Jaccard overlap of their
    fingerprint sets clears _WINNOW_OVERLAP_MIN. Because winnowing
    guarantees a shared fingerprint for any common substring of length
    >= k+w-1, this catches copied *passages* — the case token-shingle
    MinHash dilutes when the rest of the document differs.

    Shape at scale: the fingerprint table (from the zero-shuffle
    text_winnow_fingerprints) is an inverted index; boilerplate
    fingerprints shared by > _WINNOW_BUCKET_CAP docs are dropped before
    pairing (bounded explode, same discipline as the n-gram Jaccard
    cap), bounding per-fingerprint pair fan-out at cap^2/2 however hot
    the fingerprint. Pair generation groups doc ids per fingerprint and
    explodes ordered pairs from each bucket — ONE shuffle of the
    fingerprint index instead of a self-join's two shuffled copies
    (the same formulation as dedup_ngram_jaccard; the oracle keeps the
    equivalent self-join, the pair multiset is identical). Size
    denominators count ALL capped fingerprints (singletons included,
    exactly like the oracle's f). The overlap ratio divides identical
    integers -> bit-exact vs the oracle, whose fps CTE is the same
    string the text_winnow_fingerprints oracle is built from.
    """
    from .textanalysis import text_winnow_fingerprints

    fps = text_winnow_fingerprints(spark, sf_dir)
    buckets = fps.groupBy("fp").agg(F.collect_list("doc_id").alias("ds"))
    capped = buckets.filter(F.size("ds") <= _WINNOW_BUCKET_CAP)
    sizes = (
        capped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        capped.filter(F.size("ds") > 1)
        .select("ds", F.explode("ds").alias("a"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    overlap = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    # both join inputs scale with the corpus (pairs with bucket
    # collisions, sizes with doc count): past _PIN_JOINS_DOC_LIMIT
    # neither may broadcast — the unpinned plan OOMed the driver at
    # the 100x audit point
    if _pin_scale_joins(spark, sf_dir):
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(overlap >= _WINNOW_OVERLAP_MIN)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            overlap.alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a PERSISTED fingerprint store — the
# ingest-time shape of exact dedup at 100 TB (dedup today's crawl
# against yesterday's corpus WITHOUT rescanning the corpus). Same
# persisted-index lifecycle as retrieval's text index and similarity's
# IVF index: build once per session, answer from the store alone.

_INCR_MOD = 4  # doc_id % 4 == 0 plays the "new batch"; rest is corpus


def build_fingerprint_store(docs: DataFrame, path: str) -> None:
    """Write the corpus's distinct md5 fingerprints as the persistent
    dedup store. At 100 TB this table is what survives between ingest
    runs (distinct 16-byte hashes — orders of magnitude smaller than
    the corpus), appended per batch; a real deployment bucketBys it on
    the fingerprint so the ingest anti-join is co-partitioned."""
    (
        docs.select(F.md5("text").alias("f"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{path}/fingerprints")
    )


def dedup_against_store(batch: DataFrame, store: DataFrame) -> DataFrame:
    """Flag each new-batch doc against the persisted store (known_dup)
    and against earlier docs of its own batch (batch_dup). Null-safe
    fingerprint equality on BOTH flags: a NULL-text doc duplicates
    another NULL-text doc, matching dedup_exact's md5 NULL-group
    semantics.

    Shape at scale: one equi-join against the store (hash-partitioned
    16-byte keys; co-partitioned when the store is bucketed) and one
    batch-sized groupBy for first-occurrence — the batch never touches
    the corpus itself."""
    fp = batch.select("doc_id", F.md5("text").alias("f"))
    firsts = fp.groupBy("f").agg(F.min("doc_id").alias("first_id"))
    hits = store.select(F.col("f").alias("sf")).distinct().withColumn(
        "_hit", F.lit(1)
    )
    return (
        fp.join(hits, fp.f.eqNullSafe(hits.sf), "left")
        .join(firsts.select(F.col("f").alias("ff"), "first_id"),
              fp.f.eqNullSafe(F.col("ff")))
        .select(
            "doc_id",
            F.col("f").alias("fingerprint"),
            F.col("_hit").isNotNull().alias("known_dup"),
            (F.col("doc_id") > F.col("first_id")).alias("batch_dup"),
        )
    )


@query(
    "dedup_incremental",
    oracle=f"""
WITH fp AS (SELECT doc_id, MD5(text) AS f FROM documents),
store AS (SELECT DISTINCT f FROM fp WHERE doc_id % {_INCR_MOD} <> 0),
batch AS (SELECT doc_id, f FROM fp WHERE doc_id % {_INCR_MOD} = 0),
firsts AS (SELECT f, MIN(doc_id) AS first_id FROM batch GROUP BY f)
SELECT b.doc_id,
       b.f AS fingerprint,
       EXISTS(SELECT 1 FROM store s
              WHERE s.f IS NOT DISTINCT FROM b.f) AS known_dup,
       b.doc_id > fi.first_id AS batch_dup
FROM batch b JOIN firsts fi ON fi.f IS NOT DISTINCT FROM b.f
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup through the persisted-store lifecycle:
    the "existing corpus" (doc_id % 4 != 0, modulus _INCR_MOD) builds
    a fingerprint parquet store once per session; the "new batch"
    (doc_id % 4 == 0) is then flagged from the STORE alone — known_dup
    (collides with the corpus) and batch_dup (collides with an earlier
    doc in the same batch). Hash-gated end-to-end against an oracle
    that recomputes both flags from scratch, so a store write/read
    slip or a null-safety mismatch fails the gate."""
    import atexit
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")

    def build_store() -> str:
        path = tempfile.mkdtemp(prefix="smrf_fp_store_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_fingerprint_store(
            docs.filter(F.col("doc_id") % _INCR_MOD != 0), path
        )
        return path

    path = get_or_build(spark, ("fp_store", sf_dir), build_store)
    store = spark.read.schema("f string").parquet(f"{path}/fingerprints")
    batch = docs.filter(F.col("doc_id") % _INCR_MOD == 0)
    return dedup_against_store(batch, store)


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity join (PPJoin-style): the lossless
# scale path for threshold Jaccard over the same 3-gram shingle sets the
# capped inverted-index baseline (dedup_ngram_jaccard) scans. Where the
# baseline drops mega-buckets (conservative jaccard under a hot
# shingle), prefix filtering is EXACT at any scale: order every doc's
# shingles by global document frequency ascending, keep only the first
# |x| - ceil(t|x|) + 1 of them, and equi-join on those. The classic
# lemma (Chaudhuri et al., "A Primitive Operator for Similarity Joins",
# ICDE'06; Xiao et al., PPJoin, WWW'08): any pair with jaccard >= t
# must share at least one token inside both prefixes under a common
# global order — so the candidate set provably contains every
# qualifying pair, and the rarest-first order makes prefix buckets the
# SMALLEST buckets in the index (hot shingles land in suffixes and are
# never joined on).

_SIMJOIN_T = 0.5  # jaccard threshold; prefix length |x| - ceil(t|x|) + 1


@query(
    "simjoin_prefix_filter",
    family="shingle",
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_SIMJOIN_T}
""",
)
def simjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 near-dup pairs via prefix filtering — the
    uncapped, lossless threshold-similarity join.

    The ORACLE is the brute-force all-overlapping-pairs formulation
    (ground truth, no prefix), so the parity gate proves end-to-end
    that the filter loses no qualifying pair. At sf0.01 the filter
    narrows 11,533 overlapping pairs to 977 candidates before exact
    verification (measured), and the reduction grows with corpus size
    because prefix tokens are by construction the rarest.

    Shape at scale: each shingle's doc frequency is one window count
    over the persisted shingle index, partitioned by hash — one
    shuffle, and no doc-frequency table to join back (so no join there
    that could plan as a broadcast); per-doc arrays sort (df, hash)
    structs row-locally; the candidate join runs over exploded
    PREFIXES only (rarest ~half of each doc's shingles, smallest
    buckets in the index); verification joins the candidate pair list
    back to the array frame twice and scores with array_intersect —
    row-local, no re-shuffle of the index. Jaccard divides exact
    integers, so the double is engine-identical.

    Broadcast discipline (caught by the 100x scaling bench, round 8):
    every frame this operator joins — the exploded prefix list, the
    array frame — is CORPUS-sized, and the cached-fragment static
    planner estimates them from the (tiny) documents scan, so
    Catalyst happily picked BroadcastHashJoin for all of them and the
    driver OOMed building a corpus-sized hash relation at the 100x
    scale point. All three joins therefore pin
    SHUFFLE_HASH / MERGE hints: a corpus-sized table must never be a
    broadcast build side, no matter what the estimate says.

    Footprint (round 9, VERDICT r8 item 3): the persisted per-doc
    index holds xxhash64(shingle) INT64 keys, not shingle strings —
    the string-array frame was the sf10 memory driver (1.28 warm
    exponent on the stock 8 GB JVM from GC thrash; 1.07 with 24 GB),
    and an ~18-byte avg word-3-gram shrinks ~2-3x to a fixed 8-byte
    key across the sort, persist, prefix explode, and verify
    intersect. Same trick as dedup_substring_hashed. Correctness is
    unchanged: Jaccard over hashed shingle SETS equals Jaccard over
    the strings (xxhash64 is injective on any real corpus — a
    birthday collision at even 1e9 distinct shingles is ~1e-5, and a
    collision only perturbs one pair's estimate, never the index
    structure); the prefix filter only needs SOME consistent global
    token order, and (df, hash) is one. The driver oracle (brute-force
    strings) re-proves pair-for-pair equality every round.
    """
    sh = _shingles(spark, sf_dir)
    pin = _pin_scale_joins(spark, sf_dir)

    def build_docarr() -> DataFrame:
        from pyspark.sql.window import Window

        shh = sh.select(
            "doc_id",
            F.xxhash64("shingle").alias("h"),
        ).withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        return (
            shh.groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("df", "h"))
                ).alias("arr"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    docarr = shared_frame(spark, ("shingle", "simjoin_docarr", sf_dir), build_docarr)
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(_SIMJOIN_T)) + 1
    ).cast("int")
    pref = (
        docarr.withColumn("plen", prefix_len)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(slice(arr, 1, plen), x -> x.h)")
            ).alias("tok"),
        )
    )
    pref_b = pref.hint("shuffle_hash") if pin else pref
    cand = (
        pref.alias("a")
        .join(pref_b.alias("b"), F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = docarr.select(
        "doc_id",
        F.expr("transform(arr, x -> x.h)").alias("toks"),
        "n",
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("nb"),
    )
    i = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = i.cast("double") / (F.col("na") + F.col("nb") - i)
    # verify joins past the pin threshold: MERGE, not shuffle_hash —
    # the streamed side carries the full shingle arrays, and
    # hash-building against it needs the whole build partition
    # resident; SMJ's sort spills gracefully (measured at the 100x
    # point: SHJ GC-thrashed the 8g local JVM, SMJ completed, scaling
    # exponent 1.07 with memory headroom)
    if pin:
        sa, sb = sa.hint("merge"), sb.hint("merge")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _SIMJOIN_T)
    )
