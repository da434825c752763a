"""Sparse-retrieval operators: BM25 and TF-IDF ranking over the
documents corpus — the lexical-search leg a training-data pipeline
pairs with the dense ANN tier (similarity.py) for hybrid retrieval.

The reference has no search tier; this extends its text workloads
(reference fernan/functions.py:5 tokenization, counting_words.py word
counts) to ranked retrieval, Spark-first: one tokenize-explode scan
feeds both the per-doc length aggregate and the per-term posting
counts, query terms are a broadcast literal set, and the final score is
a fixed-order expression so both engines add doubles identically.

Numeric policy: every count (tf, df, dl, N) is integer-exact; avgdl and
the BM25/IDF algebra derive in doubles through expression trees kept
IDENTICAL on both engines. ln() is the one primitive where DuckDB
(glibc) and Spark (JVM) can disagree by 1 ulp (measured ~2% of inputs),
so gated outputs round scores to 4 decimals — a 1-ulp input wiggle only
crosses a round-4 boundary if the true value sits within ~1e-12 of a
half-step, which the corpus-derived irrational scores never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens_regex
from ..registry import query
from ..session_memo import get_or_build, per_session, shared_frame
from ..sources import load_table

# The fixed search query: a user searching the synthetic systems corpus
# for "vector merge scan query". Order matters only for the fixed-order
# score sum (t1 + t2 + t3 + t4), which both engines evaluate
# left-to-right.
_BM25_TERMS: list[str] = ["vector", "merge", "scan", "query"]
_K1 = 1.2
_B = 0.75
_TOPK = 20


def _terms_sql() -> str:
    return ", ".join(f"('{t}')" for t in _BM25_TERMS)


def _bm25_ctes() -> str:
    """CTE chain ending in fused(doc_id, bm25) — shared verbatim by the
    text_bm25 oracle and the hybrid_search_rrf oracle (the llmfilters
    shared-CTE discipline)."""
    contrib = " + ".join(f"c_{t}" for t in _BM25_TERMS)
    pivots = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN c END), 0.0) AS c_{t}"
        for t in _BM25_TERMS
    )
    return f"""qterms(term) AS (VALUES {_terms_sql()}),
tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT t.doc_id, t.word AS term, COUNT(*) AS tf
    FROM tok t JOIN qterms q ON t.word = q.term
    GROUP BY t.doc_id, t.word
),
idf AS (
    -- tf is unique per (doc_id, term), so COUNT(*) IS the document
    -- frequency; COUNT(DISTINCT ...) would cost a second exchange.
    SELECT term,
           ln(1.0 + (CAST(c.n AS DOUBLE) - COUNT(*) + 0.5)
                    / (COUNT(*) + 0.5)) AS idf
    FROM tf, corpus c
    GROUP BY term, c.n
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           idf.idf * (tf.tf * ({_K1} + 1.0))
               / (tf.tf + {_K1} * (1.0 - {_B}
                   + {_B} * (CAST(dl.dl AS DOUBLE) / c.avgdl))) AS c
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN idf ON idf.term = tf.term
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id, {pivots}
    FROM contrib GROUP BY doc_id
),
bm AS (SELECT doc_id, ROUND({contrib}, 4) AS bm25 FROM scored)"""


def _bm25_oracle() -> str:
    return f"""
WITH {_bm25_ctes()}
SELECT doc_id, bm25
FROM bm
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_TOPK}
"""


@query("text_bm25", family="bm25", oracle=_bm25_oracle())
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query over the documents corpus.

    Shape at scale: ONE tokenize-explode scan feeds both the per-doc
    length aggregate and the term-filtered posting counts (the filter
    on 4 literal terms prunes the explode output before its shuffle);
    idf is a constant-size per-term aggregate that broadcasts back;
    the final ranking is a TakeOrderedAndProject top-k, never a global
    sort. No Python in the plan. At 100 TB the only wide exchanges are
    the two hash aggregates on doc_id — both partial-aggregated.

    The per-term contributions pivot into fixed columns so the score
    sum has a deterministic addition order on both engines (double
    addition is not associative); see module docstring for the round-4
    ln() policy. Since r11 the pivot is the session-shared persisted
    frame (_bm25_pivot_shared) — the serving-tier shape where one
    corpus pass amortizes across every fixed query in the family.
    """
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_TOPK)
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document containing a query term —
    the Spark twin of the `bm` CTE, shared by text_bm25 and
    hybrid_search_rrf.

    Serves from the session's ONE persisted pivot (_bm25_pivot_shared,
    over _BATCH_TERMS ⊇ _BM25_TERMS): per-term contributions are
    bit-identical whichever term list built the pivot (idf depends
    only on that term's df and the corpus n), and the wider pivot's
    extra rows — docs matching only a non-query batch term — carry
    exact 0.0 in every query-term column (the coalesce literal), while
    any doc containing a query term contributes strictly positive c
    (idf = ln(1 + (n-df+.5)/(df+.5)) > 0, tf >= 1). Filtering on the
    query-term sum > 0 therefore restores the oracle's row set
    exactly, and the corpus tokenize pass is paid once per session
    across the whole BM25 family instead of once per query."""
    assert set(_BM25_TERMS) <= set(_BATCH_TERMS)
    pivot = _bm25_pivot_shared(spark, sf_dir)
    present = sum(
        (F.col(f"c_{t}") for t in _BM25_TERMS[1:]), F.col(f"c_{_BM25_TERMS[0]}")
    )
    return _score_sum(pivot.filter(present > 0.0), _BM25_TERMS)


def _score_sum(pivoted: DataFrame, terms: list[str]) -> DataFrame:
    """Fixed-order BM25 total over pivoted per-term columns."""
    score = sum(
        (F.col(f"c_{t}") for t in terms[1:]), F.col(f"c_{terms[0]}")
    )
    return pivoted.select("doc_id", F.round(score, 4).alias("bm25"))


def _bm25_pivoted(
    spark: SparkSession, sf_dir: str, terms: list[str]
) -> DataFrame:
    """One corpus pass -> (doc_id, c_<term>...) pivoted contribution
    frame for ``terms`` — shared by the single-query, batch, and
    hybrid paths so every consumer scores through ONE expression
    tree."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(tokens_regex(F.lower(F.col("text")))).alias("word"),
        )
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("word").isin(list(terms)))
        .groupBy("doc_id", F.col("word").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_from_components(tf, dl, corpus, terms)


def _bm25_from_components(
    tf: DataFrame, dl: DataFrame, corpus: DataFrame, terms: list[str]
) -> DataFrame:
    """Pivoted BM25 contributions from relational components —
    tf(doc_id, term, tf), dl(doc_id, dl), corpus(n, avgdl) — shared by
    the scan path and the persisted-index path, so both produce
    bit-identical scores."""
    # tf is unique per (doc_id, term): COUNT(*) is the document
    # frequency without countDistinct's extra expand + exchange.
    idf = (
        tf.crossJoin(F.broadcast(corpus))
        .groupBy("term", "n")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            F.log(
                1.0
                + (F.col("n").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "term",
            (
                F.col("idf")
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1
                    * (
                        1.0
                        - _B
                        + _B * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("c"))), F.lit(0.0)
            ).alias(f"c_{t}")
            for t in terms
        ]
    )


_FUSE_K = 50  # depth of each retrieval leg entering the fusion
_RRF_K = 60  # the standard RRF dampening constant
_DENSE_QUERY_ID = 0  # the fixed dense query: embedding of vec_id 0


def _hybrid_oracle() -> str:
    return f"""
WITH {_bm25_ctes()},
lex AS (
    SELECT doc_id, bm25 FROM bm
    ORDER BY bm25 DESC, doc_id ASC LIMIT {_FUSE_K}
),
lexr AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_lex
    FROM lex
),
nv AS (
    SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE embedding IS NOT NULL)
),
dense AS (
    SELECT c.vec_id AS doc_id,
           list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos_sim
    FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
    WHERE q.vec_id = {_DENSE_QUERY_ID}
    ORDER BY cos_sim DESC, c.vec_id ASC LIMIT {_FUSE_K}
),
denser AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS r_dense
    FROM dense
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       l.r_lex AS lex_rank,
       d.r_dense AS dense_rank,
       COALESCE(1.0 / ({_RRF_K} + l.r_lex), 0.0)
         + COALESCE(1.0 / ({_RRF_K} + d.r_dense), 0.0) AS rrf
FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {_TOPK}
"""


@query("hybrid_search_rrf", family="bm25", oracle=_hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    (fixed term query over documents) with the dense cosine leg (fixed
    query vector over embeddings, doc_id = vec_id) — the
    sparse-plus-dense ranking a RAG/search pipeline serves.

    Each leg independently takes its top-50 as a TakeOrderedAndProject
    (never a global sort), then ranks WITHIN that constant-50-row frame
    (the single-partition window is over 50 rows by construction, not
    data-sized). Fusion is a full outer join of two 50-row frames —
    broadcast-trivial — and the RRF sum 1/(60+r) adds its two terms in
    a fixed order, so every double matches the oracle bit-for-bit.
    At 100 TB each leg scales as its own operator (text_bm25's
    partial-agg pipeline over the session-shared persisted pivot;
    ann's bucketed index) while the fusion stays constant-size.
    """
    from pyspark.sql.window import Window

    from .similarity import _queries, _scored, _vectors

    lex = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_FUSE_K)
    )
    # single-partition window BY CONSTRUCTION: the frame is <= 50 rows
    # (Spark's "No Partition Defined" warning is expected and harmless
    # here — a constant-key partitionBy folds away to the same plan)
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lexr = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("bigint").alias("r_lex")
    )
    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    qv = _queries(emb.filter(F.col("vec_id") == _DENSE_QUERY_ID))
    cand = emb.filter(F.col("vec_id") != _DENSE_QUERY_ID).crossJoin(F.broadcast(qv))
    dense = (
        _scored(cand)
        .select(F.col("neighbor_id").alias("doc_id"), "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        .limit(_FUSE_K)
    )
    w_dense = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    denser = dense.select(
        "doc_id", F.row_number().over(w_dense).cast("bigint").alias("r_dense")
    )
    fused = lexr.join(denser, "doc_id", "full_outer").select(
        "doc_id",
        F.col("r_lex").alias("lex_rank"),
        F.col("r_dense").alias("dense_rank"),
        (
            F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        _TOPK
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 30


@query(
    "text_pmi_pairs",
    oracle=rf"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS a
    FROM documents
),
uni AS (
    SELECT word, COUNT(*) AS n_w
    FROM (SELECT UNNEST(a) AS word FROM toks)
    GROUP BY word
),
n_uni AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM uni),
bi AS (
    SELECT w1, w2, COUNT(*) AS n_ab
    FROM (SELECT UNNEST(list_transform(range(1, GREATEST(LEN(a), 1)),
                                       i -> struct_pack(w1 := a[i],
                                                        w2 := a[i + 1])),
                        recursive := true)
          FROM toks)
    GROUP BY w1, w2
),
n_bi AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM bi),
scored AS (
    SELECT b.w1, b.w2, b.n_ab,
           ROUND(ln((CAST(b.n_ab AS DOUBLE) / nb.n)
                    / ((CAST(u1.n_w AS DOUBLE) / nu.n)
                       * (CAST(u2.n_w AS DOUBLE) / nu.n))), 4) AS pmi
    FROM bi b
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    CROSS JOIN n_bi nb CROSS JOIN n_uni nu
    WHERE b.n_ab >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, n_ab, pmi
FROM scored
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {_PMI_TOPK}
""",
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent word pairs by pointwise mutual
    information — the distributional-semantics statistic behind phrase
    detection (word2vec preprocessing) and keyphrase extraction.

    Shape at scale: bigram construction is ROW-LOCAL (a transform over
    the token array — no positional self-join), so the plan is two
    partial-aggregated groupBys (unigrams, bigrams) plus broadcast
    joins of the vocabulary-sized unigram counts back onto the
    min-count-filtered bigram table, finished by a TakeOrdered top-k.
    The two corpus totals (r17) come from ONE extra explode-free pass:
    the token count is the array size and the bigram count is
    max(size - 1, 0), so their shared scan sums two integers per doc
    instead of re-tokenizing and re-exploding the corpus once per
    total (the r13-r16 plan paid up to four tokenize+explode scans;
    now exactly the two irreducible exploded passes plus one cheap
    one). Counts are all integers; PMI derives in one identical double
    expression per engine with the module's round-4 ln() policy.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_regex(F.lower(F.col("text"))).alias("a")
    )
    uni = (
        toks.select(F.explode("a").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    bi = (
        toks.select(
            F.explode(
                # the >= 2 guard matters: sequence(1, 0) in Spark is the
                # DESCENDING [1, 0], which would fabricate two
                # NULL-word bigrams per single-token doc and silently
                # inflate the corpus bigram total
                F.expr(
                    "CASE WHEN size(a) >= 2 THEN "
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(a[i - 1] AS w1, a[i] AS w2)) "
                    "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    # corpus totals without another explode: SUM(n_w) over the unigram
    # table == SUM(size(a)) over docs, and SUM(n_ab) over the bigram
    # table == SUM(greatest(size(a) - 1, 0)) — exact integer identities
    # (a NULL token array contributes 0 to both, matching explode
    # dropping the row)
    totals = toks.select(
        F.coalesce(F.size("a"), F.lit(0)).alias("sz")
    ).agg(
        F.sum("sz").cast("bigint").alias("nu"),
        F.sum(F.greatest(F.col("sz") - 1, F.lit(0))).cast("bigint").alias("nb"),
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n_w").alias("n_w2"))
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") / F.col("nb"))
            / (
                (F.col("n_w1").cast("double") / F.col("nu"))
                * (F.col("n_w2").cast("double") / F.col("nu"))
            )
        ),
        4,
    )
    return (
        bi.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_PMI_TOPK)
    )


# Persisted-text-index lifecycle (the build-once / search-many shape a
# cluster runs for lexical retrieval — the BM25 twin of similarity.py's
# build_ann_index): postings are PARTITIONED BY the leading word
# character, so a term lookup prunes the scan to the probed partitions
# exactly as the IVF search prunes to probed cells. At 100 TB the
# partition key widens (2-3 chars or a hash bucket) to keep partitions
# balanced; the lifecycle is key-width-agnostic. The built index's
# directory memoizes per session.


def build_text_index(docs: DataFrame, path: str) -> None:
    """Materialize the inverted index for BM25 search at ``path``:
    postings/(word, doc_id, tf) partitioned by the word's first
    character, doclen/(doc_id, dl), stats/(n, avgdl) — everything
    search_text_index needs without touching the corpus again."""
    tok = docs.select(
        "doc_id", F.explode(tokens_regex(F.lower(F.col("text")))).alias("word")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = (
        tok.groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("p", F.substring("word", 1, 1))
    )
    postings.write.mode("overwrite").partitionBy("p").parquet(
        f"{path}/postings"
    )
    dl.write.mode("overwrite").parquet(f"{path}/doclen")
    dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


def search_text_index(
    spark: SparkSession, path: str, terms: list[str], k: int = _TOPK
) -> DataFrame:
    """BM25 top-k over a persisted index: the postings scan prunes to
    the partitions of the query terms' leading characters (partition
    filter) plus a pushed word IN (...) filter — no corpus scan, no
    tokenize. Scores are bit-identical to the scan path because both
    feed the same _bm25_from_components expression tree."""
    if not terms:
        raise ValueError("terms must be non-empty")
    prefixes = sorted({t[:1] for t in terms})
    # explicit schema: an empty corpus writes a partitioned postings
    # dir with no parquet files, where schema INFERENCE would throw —
    # with the schema pinned the read just yields zero rows
    tf = (
        spark.read.schema("word string, doc_id bigint, tf bigint, p string")
        .parquet(f"{path}/postings")
        .filter(F.col("p").isin(prefixes) & F.col("word").isin(list(terms)))
        .select("doc_id", F.col("word").alias("term"), "tf")
    )
    dl = spark.read.parquet(f"{path}/doclen")
    corpus = spark.read.parquet(f"{path}/stats")
    return (
        _score_sum(_bm25_from_components(tf, dl, corpus, list(terms)), list(terms))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


@query("text_bm25_indexed", oracle=_bm25_oracle())
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible gate for the persisted text-index lifecycle:
    build_text_index writes postings/doclen/stats once per session,
    then search_text_index answers the fixed query from the index
    alone — and must hash-match the SAME oracle as the scan-path
    text_bm25 (a full value gate, stronger than a recall bool: the
    index roundtrip may not move a single score by one ulp)."""
    import atexit
    import shutil
    import tempfile

    def build_index() -> str:
        path = tempfile.mkdtemp(prefix="smrf_text_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_text_index(load_table(spark, sf_dir, "documents"), path)
        return path

    path = get_or_build(spark, ("text_index", sf_dir), build_index)
    return search_text_index(spark, path, _BM25_TERMS, k=_TOPK)


# The batch workload: several user queries answered in ONE pass over
# the corpus (amortized tokenize + postings). Terms drawn from the
# shared _BM25_TERMS vocabulary plus a few more.
_BATCH_QUERIES: dict[str, list[str]] = {
    "q_vector_merge": ["vector", "merge"],
    "q_scan_table": ["scan", "query", "table"],
    "q_hash_join": ["hash", "join"],
}
_BATCH_TERMS = sorted({t for ts in _BATCH_QUERIES.values() for t in ts})
_BATCH_TOPK = 5


@per_session("bm25", persist=True)
def _bm25_pivot_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE persisted corpus pass behind the batch tier: the
    pivoted per-term contribution frame over _BATCH_TERMS, shared per
    (session, sf_dir) in the "bm25" family.
    Both text_bm25_batch and retrieval_eval_bm25 consume this frame,
    so their multi-arm plans reference a single materialized pivot
    instead of embedding one tokenize+postings subtree per arm
    (ADVICE r10: the eval query's unpersisted plan carried ~4 copies
    of the corpus pass)."""
    return _bm25_pivoted(spark, sf_dir, _BATCH_TERMS)


def _batch_oracle() -> str:
    pivots = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN c END), 0.0) AS c_{t}"
        for t in _BATCH_TERMS
    )
    arms = []
    for qid, terms in sorted(_BATCH_QUERIES.items()):
        contrib = " + ".join(f"c_{t}" for t in terms)
        arms.append(f"""(
    SELECT '{qid}' AS query_id, doc_id, ROUND({contrib}, 4) AS bm25
    FROM scored
    WHERE {" + ".join(f"c_{t}" for t in terms)} > 0.0
    ORDER BY ROUND({contrib}, 4) DESC, doc_id ASC
    LIMIT {_BATCH_TOPK}
)""")
        
    return f"""
WITH qterms(term) AS (VALUES {", ".join(f"('{t}')" for t in _BATCH_TERMS)}),
tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT t.doc_id, t.word AS term, COUNT(*) AS tf
    FROM tok t JOIN qterms q ON t.word = q.term
    GROUP BY t.doc_id, t.word
),
idf AS (
    SELECT term,
           ln(1.0 + (CAST(c.n AS DOUBLE) - COUNT(*) + 0.5)
                    / (COUNT(*) + 0.5)) AS idf
    FROM tf, corpus c
    GROUP BY term, c.n
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           idf.idf * (tf.tf * ({_K1} + 1.0))
               / (tf.tf + {_K1} * (1.0 - {_B}
                   + {_B} * (CAST(dl.dl AS DOUBLE) / c.avgdl))) AS c
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN idf ON idf.term = tf.term
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id, {pivots}
    FROM contrib GROUP BY doc_id
)
{" UNION ALL ".join(arms)}
"""


@query("text_bm25_batch", family="bm25", oracle=_batch_oracle())
@per_session("bm25")
def text_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: three queries answered from ONE corpus pass —
    the union of all query terms feeds a single tokenize + postings
    aggregate, each doc pivots into per-term contribution columns
    once, and every query's score is its own fixed-order sum over
    those shared columns (per-query top-k via TakeOrdered on the
    shared frame). This is how a serving tier amortizes the expensive
    part of BM25 (the corpus pass) across a query batch; per-query
    cost degenerates to a constant-width projection.

    Docs scoring 0 for a query (none of its terms) are excluded from
    that query's ranking, mirroring an inverted-index serving path.
    """
    # one shared pivoted frame (the SAME expression tree as text_bm25,
    # via _bm25_pivoted) serves every query's top-k
    scored = _bm25_pivot_shared(spark, sf_dir)
    arms = []
    for qid, terms in sorted(_BATCH_QUERIES.items()):
        score = sum(
            (F.col(f"c_{t}") for t in terms[1:]), F.col(f"c_{terms[0]}")
        )
        arms.append(
            scored.filter(score > 0.0)
            .select(
                F.lit(qid).alias("query_id"),
                "doc_id",
                F.round(score, 4).alias("bm25"),
            )
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(_BATCH_TOPK)
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out


# Retrieval-eval depth: metrics are @10 (deeper than the serving
# top-5 so recall has room to be a real statistic at bench scale).
_EVAL_K = 10


def _eval_arm_sql(qid: str, terms: list[str]) -> str:
    contrib = " + ".join(f"c_{t}" for t in terms)
    rel = " AND ".join(f"c_{t} > 0.0" for t in terms)
    return f"""(
    SELECT '{qid}' AS query_id, doc_id, ROUND({contrib}, 4) AS bm25,
           CASE WHEN {rel} THEN 1 ELSE 0 END AS is_rel
    FROM scored
    WHERE {contrib} > 0.0
    ORDER BY ROUND({contrib}, 4) DESC, doc_id ASC
    LIMIT {_EVAL_K}
)"""


def _eval_oracle() -> str:
    pivots = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN c END), 0.0) AS c_{t}"
        for t in _BATCH_TERMS
    )
    arms = " UNION ALL ".join(
        _eval_arm_sql(qid, terms) for qid, terms in sorted(_BATCH_QUERIES.items())
    )
    rels = " UNION ALL ".join(
        f"""SELECT '{qid}' AS query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
    FROM scored WHERE {" AND ".join(f"c_{t} > 0.0" for t in terms)}"""
        for qid, terms in sorted(_BATCH_QUERIES.items())
    )
    return f"""
WITH qterms(term) AS (VALUES {", ".join(f"('{t}')" for t in _BATCH_TERMS)}),
tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
tf AS (
    SELECT t.doc_id, t.word AS term, COUNT(*) AS tf
    FROM tok t JOIN qterms q ON t.word = q.term
    GROUP BY t.doc_id, t.word
),
idf AS (
    SELECT term,
           ln(1.0 + (CAST(c.n AS DOUBLE) - COUNT(*) + 0.5)
                    / (COUNT(*) + 0.5)) AS idf
    FROM tf, corpus c
    GROUP BY term, c.n
),
contrib AS (
    SELECT tf.doc_id, tf.term,
           idf.idf * (tf.tf * ({_K1} + 1.0))
               / (tf.tf + {_K1} * (1.0 - {_B}
                   + {_B} * (CAST(dl.dl AS DOUBLE) / c.avgdl))) AS c
    FROM tf
    JOIN dl ON dl.doc_id = tf.doc_id
    JOIN idf ON idf.term = tf.term
    CROSS JOIN corpus c
),
scored AS (
    SELECT doc_id, {pivots}
    FROM contrib GROUP BY doc_id
),
arms AS ({arms}),
ranked AS (
    SELECT query_id, is_rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY bm25 DESC, doc_id ASC) AS rnk
    FROM arms
),
rels AS ({rels}),
per_q AS (
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_ranked,
           CAST(SUM(is_rel) AS BIGINT) AS hits_at_k,
           CAST(COALESCE(MIN(CASE WHEN is_rel = 1 THEN rnk END), 0)
                AS BIGINT) AS first_rel_rank
    FROM ranked GROUP BY query_id
)
SELECT p.query_id, p.n_ranked, r.n_rel, p.hits_at_k, p.first_rel_rank,
       CASE WHEN p.first_rel_rank = 0 THEN 0.0
            ELSE 1.0 / p.first_rel_rank END AS rr_at_k,
       CAST(p.hits_at_k AS DOUBLE) / p.n_ranked AS precision_at_k,
       CAST(p.hits_at_k AS DOUBLE) / GREATEST(r.n_rel, 1) AS recall_at_k
FROM per_q p JOIN rels r ON r.query_id = p.query_id
"""


def _eval_metric_rows(topk: DataFrame, rels: DataFrame) -> DataFrame:
    """Per-query retrieval metrics from a ranked top-k union and a
    per-query relevant-set size table — factored out so the can-fail
    test can feed a deliberately corrupted ranking.

    ``topk``: (query_id, doc_id, bm25, is_rel), <= k rows per query.
    ``rels``: (query_id, n_rel). Every metric is a ratio of exact
    integers (rank, hit count, set size), so both engines produce
    bit-identical doubles — no floor needed; the driver's hash IS the
    gate. The window partitions by query_id over <= k rows per query
    (constant-size at any corpus scale)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    per_q = (
        topk.withColumn("rnk", F.row_number().over(w))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
            F.sum("is_rel").cast("bigint").alias("hits_at_k"),
            F.coalesce(
                F.min(F.when(F.col("is_rel") == 1, F.col("rnk"))), F.lit(0)
            )
            .cast("bigint")
            .alias("first_rel_rank"),
        )
    )
    return per_q.join(rels, "query_id").select(
        "query_id",
        "n_ranked",
        "n_rel",
        "hits_at_k",
        "first_rel_rank",
        F.when(F.col("first_rel_rank") == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_rel_rank"))
        .alias("rr_at_k"),
        (F.col("hits_at_k").cast("double") / F.col("n_ranked")).alias(
            "precision_at_k"
        ),
        (
            F.col("hits_at_k").cast("double")
            / F.greatest(F.col("n_rel"), F.lit(1))
        ).alias("recall_at_k"),
    )


@query("retrieval_eval_bm25", family="bm25", oracle=_eval_oracle())
def retrieval_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of BM25 over the fixed query batch
    (VERDICT r9 item 5): per-query MRR@k, precision@k, and recall@k
    against an independent relevance definition — a document is
    relevant to a query iff it contains EVERY query term (boolean-AND
    ground truth, the classic proxy labeling when no human judgments
    exist). The statistic this measures is real: does BM25's idf-
    weighted ranking surface all-terms documents above partial
    matches?

    Unlike a boolean-vs-floor gate, every metric here is emitted as an
    exact value and recomputed end-to-end by the DuckDB oracle
    (ranking, labels, and ratios), so the driver's hash checks the
    numbers themselves; rank ties break on doc_id in both engines, and
    each metric is a ratio of exact integers. Shape at scale: ONE
    corpus pass builds the shared pivoted contribution frame — the
    SAME persisted+memoized pivot text_bm25_batch serves from
    (_bm25_pivot_shared), so the three top-k arms and the relevant-set
    aggregate all read the materialized pivot instead of each
    embedding its own tokenize+postings subtree. Each arm is a
    TakeOrderedAndProject top-k; the relevant-set sizes come from one
    constant-width aggregate over the same frame. Everything
    downstream of the scan is constant-size.
    """
    scored = _bm25_pivot_shared(spark, sf_dir)
    arms = []
    rel_conds: dict[str, object] = {}
    for qid, terms in sorted(_BATCH_QUERIES.items()):
        score = sum(
            (F.col(f"c_{t}") for t in terms[1:]), F.col(f"c_{terms[0]}")
        )
        is_rel = F.lit(True)
        for t in terms:
            is_rel = is_rel & (F.col(f"c_{t}") > 0.0)
        rel_conds[qid] = is_rel
        arms.append(
            scored.filter(score > 0.0)
            .select(
                F.lit(qid).alias("query_id"),
                "doc_id",
                F.round(score, 4).alias("bm25"),
                F.when(is_rel, 1).otherwise(0).alias("is_rel"),
            )
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(_EVAL_K)
        )
    topk = arms[0]
    for a in arms[1:]:
        topk = topk.unionAll(a)
    # all per-query relevant-set sizes in ONE constant-width aggregate
    rels_wide = scored.agg(
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(qid)
            for qid, cond in rel_conds.items()
        ]
    )
    rels = rels_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        F.col(qid).alias("n_rel"),
                    )
                    for qid in rel_conds
                ]
            )
        ).alias("r")
    ).select("r.query_id", "r.n_rel")
    return _eval_metric_rows(topk, rels)


# Document-similarity join: hot-term cap. A term in df documents
# generates df^2 candidate pairs through the index join — the quadratic
# lever. Terms above the cap (and hapax terms, df=1, which can never
# pair) are dropped from the vocabulary on BOTH engines; at 100 TB the
# cap is what keeps the pair volume sum(df^2) linear-ish in the corpus.
_SIM_DF_MIN = 2
_SIM_DF_MAX = 100
_SIM_TOPK = 40


@query(
    "doc_similarity_sparse",
    family="selfcontained",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
kept AS (
    SELECT tf.doc_id, tf.word, tf.tf
    FROM tf JOIN df ON df.word = tf.word
    WHERE df.df BETWEEN {_SIM_DF_MIN} AND {_SIM_DF_MAX}
),
norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
    FROM kept a JOIN kept b
      ON a.word = b.word AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.n_shared, p.dot,
       CAST(p.dot AS DOUBLE)
           / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
           AS cosine
FROM pairs p
JOIN norms na ON na.doc_id = p.doc_a
JOIN norms nb ON nb.doc_id = p.doc_b
ORDER BY cosine DESC, p.doc_a ASC, p.doc_b ASC
LIMIT {_SIM_TOPK}
""",
)
@per_session("selfcontained")
def doc_similarity_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse document similarity through an inverted-index
    join: cosine over integer term-frequency vectors restricted to the
    mid-frequency vocabulary (2 <= df <= 100; _SIM_DF_MIN/_SIM_DF_MAX).
    This is the text twin of the embedding similarity join — candidate
    pairs come only from SHARED terms (docs with no kept term in
    common never meet), the classic postings-join pruning.

    Numeric policy: tf, df, dot products, and squared norms are all
    integer aggregations (order-independent, engine-exact); cosine is
    one final double expression over identical integers — no float
    SUM ever crosses an exchange, so the hash gate holds.

    Shape at scale: tokenize-explode -> tf groupBy (one fact exchange)
    -> df groupBy (vocab-sized) -> hot-term cap (the df^2 pair-volume
    lever, see _SIM_DF_MAX) -> self-join on word (shuffle on the term
    key, the inherent index-join exchange) -> pair groupBy -> two
    norm joins sized |docs| and left to AQE to broadcast-or-shuffle
    (a forced broadcast would be the funnel-at-extreme-cardinality
    mistake). The capped term table feeds three consumers (both join
    legs + norms), so it persists — re-deriving it would re-tokenize
    the full corpus per consumer; the persisted frame is
    post-aggregation, corpus-vocabulary-sized, not corpus-sized.
    Final ranking is TakeOrdered top-k, never a global sort. The
    approximate path at extreme scale stays dedup_minhash_lsh /
    ann_lsh_bucketed; this is the exact mid-frequency baseline.
    """

    def build_kept() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id",
            F.explode(tokens_regex(F.lower(F.col("text")))).alias("word"),
        )
        tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
        df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        return tf.join(
            df.filter(F.col("df").between(_SIM_DF_MIN, _SIM_DF_MAX)),
            "word",
        ).select("doc_id", "word", "tf")

    kept = shared_frame(
        spark, ("selfcontained", "sim_kept", sf_dir), build_kept
    )
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "word", F.col("tf").alias("tf_a")
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "word", F.col("tf").alias("tf_b")
    )
    pairs = (
        a.join(b, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", "dot", cosine.alias("cosine"))
        .orderBy(
            F.col("cosine").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(_SIM_TOPK)
    )
