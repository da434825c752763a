"""Text-analysis operators for the training-data pipeline tier
(BASELINE.json north star: language-ID, quality scoring, token counting,
document fingerprinting).

All row-level metrics are built-in-function expressions (JVM-side,
whole-stage codegen, no Python in the hot path); the language classifier
is a broadcast lexicon join. Every formula is duplicated verbatim in the
DuckDB oracle so results are bit-identical: integer counts, divisions of
identical integers, and md5 fingerprints only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens_regex
from ..registry import query
from ..session_memo import per_session, shared_frame
from ..sources import load_table
from .stages import _split_bucket, quality_features

# Per-language stopword lexicons for the language heuristic that seeds
# the trigram bootstrap. Deterministic + identical in the SQL oracle
# (the oracle VALUES list is generated from this dict at import time,
# so engine and oracle can never drift). Words are each language's
# highest-frequency function words; a handful of domain words keep the
# English-only synthetic corpus seedable. Cross-language homographs
# ("la" es/fr/it, "de" es/fr/pt/nl, "a" en/pt) are fine — the argmax
# over total hits, not any single word, picks the language.
_LEXICON: dict[str, list[str]] = {
    "en": [
        "the", "a", "of", "and", "to", "in", "is", "it", "you", "that",
        "was", "for", "on", "are", "with", "as", "his", "they", "at",
        "be", "this", "have", "from", "or", "had", "by", "not", "but",
        "value", "table", "row",
    ],
    "es": [
        "el", "la", "de", "y", "que", "en", "los", "por", "un", "una",
        "se", "del", "las", "con", "no", "su", "para", "es", "al", "lo",
        "como", "mas", "pero", "sus", "le", "ya", "o", "este", "si",
        "porque",
    ],
    "fr": [
        "le", "la", "de", "et", "les", "des", "un", "une", "du", "en",
        "est", "que", "pour", "qui", "dans", "ce", "il", "au", "pas",
        "sur", "se", "plus", "par", "avec", "son", "ne", "mais", "nous",
        "vous", "sont",
    ],
    "de": [
        "der", "die", "und", "das", "ist", "von", "mit", "ein", "den",
        "zu", "in", "des", "im", "dem", "nicht", "eine", "als", "auch",
        "es", "an", "auf", "werden", "aus", "er", "hat", "dass", "sie",
        "nach", "bei", "um",
    ],
    "it": [
        "il", "di", "che", "e", "la", "per", "un", "in", "una", "sono",
        "non", "le", "si", "con", "del", "da", "al", "come", "dei", "nel",
        "alla", "della", "ma", "anche", "piu", "questo", "gli", "ha",
        "era", "su",
    ],
    "pt": [
        "o", "a", "de", "que", "e", "do", "da", "em", "um", "para",
        "com", "nao", "uma", "os", "no", "se", "na", "por", "mais",
        "as", "dos", "como", "mas", "ao", "ele", "das", "seu", "sua",
        "ou", "quando",
    ],
    "nl": [
        "de", "het", "een", "en", "van", "is", "op", "dat", "te", "in",
        "zijn", "voor", "met", "die", "niet", "aan", "er", "om", "ook",
        "als", "maar", "dan", "bij", "uit", "naar", "heeft", "worden",
        "deze", "over", "tot",
    ],
    "zh": [
        "de5", "shi4", "zai4", "le5", "wo3", "you3", "he2", "ren2",
        "zhe4", "zhong1", "da4", "shang4", "guo2", "ge4", "dao4", "shuo1",
        "men5", "wei4", "zi4", "zhong4", "ni3", "ta1", "hui4", "yao4",
        "jiu4", "chu1", "ye3", "ke3", "dui4", "sheng1",
    ],
}


# GPT2-style pre-tokenizer shape (contractions | space+word |
# space+punct run) — shared verbatim with the oracle; avoids
# lookaheads so Java and RE2 agree.
_BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\w+| ?[^\s\w]+"

@query(
    "text_token_stats",
    oracle=rf"""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       CAST(LEN(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tokens,
       CAST(LEN(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
       CAST(LEN(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
       CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Token counting: whitespace-free \w+ tokens, a BPE-ish
    pre-tokenizer count (GPT2-style regex), and digit/punct tallies —
    all codegen'd regexp expressions, zero shuffles, linear in input
    bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(tokens_regex("text")).cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
        .cast("bigint")
        .alias("n_digits"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
        .cast("bigint")
        .alias("n_punct"),
    )


@query(
    "text_quality_score",
    oracle=r"""
SELECT doc_id,
       CAST(n_tok AS DOUBLE) / GREATEST(n_chars, 1) AS token_density,
       CAST(n_stop AS DOUBLE) / GREATEST(n_tok, 1) AS stopword_ratio,
       CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1) AS alpha_ratio,
       (CAST(n_stop AS DOUBLE) / GREATEST(n_tok, 1)
        + CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1)) / 2 AS quality
FROM (
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tok,
           CAST(LEN(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS BIGINT) AS n_stop,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha
    FROM documents
)
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio + alphabetic ratio,
    averaged. Ratios divide identical integers, so the doubles match any
    engine bit-for-bit. Row-local -> no shuffle, embarrassingly parallel
    at 100 TB."""
    q = quality_features()
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        *(q[c].alias(c) for c in (
            "token_density", "stopword_ratio", "alpha_ratio", "quality")),
    )


def _lexicon_sql_values() -> str:
    rows = []
    for lang, words in sorted(_LEXICON.items()):
        for w in words:
            rows.append(f"('{lang}', '{w}')")
    return ", ".join(rows)


# Trigram lang-ID parameters: docs whose lexicon score clears the seed
# threshold label the training set for their language; each language's
# profile keeps its top-N character trigrams by count (the classic
# count-profile method, Cavnar & Trenkle '94).
_TRI_SEED_MIN = 3
_TRI_PROFILE_SIZE = 200

# Language-ID model: (lexicon verdicts, trigram profile). Both are
# index artifacts — on a cluster the profile is a persisted table
# shared by every scoring run — so they are built once per session;
# only the per-doc scoring pass reruns.


def _char_trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, tg) — every character trigram of the lowercased text,
    as a codegen'd transform+explode (row-local, no shuffle)."""
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(lower(text)) >= 3 THEN "
                "transform(sequence(1, length(lower(text)) - 2), "
                "          i -> substring(lower(text), i, 3)) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("tg"),
    )


def _argmax(df: DataFrame, key: str, label: str, score: str) -> DataFrame:
    """Per-``key`` argmax of ``score`` with ties broken by ascending
    ``label`` — as ONE partial-aggregated groupBy: min over the struct
    (-score, label) is exactly ORDER BY score DESC, label ASC LIMIT 1,
    without the sort exchange a row_number window needs. At 100 TB the
    map side collapses each key to a single struct before the shuffle.
    """
    m = F.min(F.struct((-F.col(score)).alias("ns"), F.col(label).alias("l")))
    return df.groupBy(key).agg(m.alias("_m")).select(
        key,
        F.col("_m.l").alias(label),
        (-F.col("_m.ns")).alias(score),
    )


@per_session("selfcontained")
def _lang_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build (or reuse) the language-ID model: per-doc lexicon verdicts
    ``lb`` (doc_id, lex_lang, hits) and the per-language trigram
    ``profile`` (lang, tg), both shared frames."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [(lang, w) for lang, words in sorted(_LEXICON.items()) for w in words],
        "lex_lang string, lex_word string",
    )
    tok = docs.select(
        "doc_id", F.explode(tokens_regex(F.lower(F.col("text")))).alias("word")
    )
    lscores = (
        tok.join(F.broadcast(lex), tok.word == lex.lex_word)
        .groupBy("doc_id", "lex_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    lb = shared_frame(
        spark,
        ("selfcontained", "lang_lb", sf_dir),
        lambda: _argmax(lscores, "doc_id", "lex_lang", "hits"),
    )
    seeds = lb.filter(F.col("hits") >= _TRI_SEED_MIN).select(
        "doc_id", F.col("lex_lang").alias("lang")
    )
    pcounts = (
        _char_trigrams(docs)
        .join(seeds, "doc_id")
        .groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tg").asc())
    profile = shared_frame(
        spark,
        ("selfcontained", "lang_profile", sf_dir),
        lambda: pcounts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _TRI_PROFILE_SIZE)
        .select("lang", "tg"),
    )
    return lb, profile


@query(
    "text_lang_id",
    family="selfcontained",
    oracle=f"""
WITH lex(lex_lang, lex_word) AS (VALUES {_lexicon_sql_values()}),
tok AS (
    SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\\w+')) AS word
    FROM documents
),
lscores AS (
    SELECT t.doc_id, l.lex_lang, COUNT(*) AS hits
    FROM tok t JOIN lex l ON t.word = l.lex_word
    GROUP BY t.doc_id, l.lex_lang
),
lb AS (
    SELECT doc_id, lex_lang, hits FROM (
        SELECT doc_id, lex_lang, hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, lex_lang ASC) AS rn
        FROM lscores
    ) WHERE rn = 1
),
strs AS (SELECT doc_id, lower(text) AS s FROM documents),
tri AS (
    SELECT doc_id,
           UNNEST(list_transform(range(1, GREATEST(LENGTH(s) - 1, 1)),
                                 i -> substr(s, i, 3))) AS tg
    FROM strs
),
seeds AS (SELECT doc_id, lex_lang AS lang FROM lb WHERE hits >= {_TRI_SEED_MIN}),
pcounts AS (
    SELECT sd.lang, t.tg, COUNT(*) AS c
    FROM tri t JOIN seeds sd ON sd.doc_id = t.doc_id
    GROUP BY sd.lang, t.tg
),
profile AS (
    SELECT lang, tg FROM (
        SELECT lang, tg,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tg ASC) AS rn
        FROM pcounts
    ) WHERE rn <= {_TRI_PROFILE_SIZE}
),
tscores AS (
    SELECT t.doc_id, p.lang, COUNT(*) AS tri_hits
    FROM tri t JOIN profile p ON p.tg = t.tg
    GROUP BY t.doc_id, p.lang
),
tb AS (
    SELECT doc_id, lang, tri_hits FROM (
        SELECT doc_id, lang, tri_hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tri_hits DESC, lang ASC) AS rn
        FROM tscores
    ) WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(tb.lang, lb.lex_lang, 'und') AS pred_lang,
       CAST(COALESCE(tb.tri_hits, 0) AS BIGINT) AS tri_hits,
       CAST(COALESCE(lb.hits, 0) AS BIGINT) AS lex_hits,
       CASE WHEN tb.lang IS NOT NULL THEN 'trigram'
            WHEN lb.lex_lang IS NOT NULL THEN 'lexicon'
            ELSE 'und' END AS method
FROM documents d
LEFT JOIN tb ON tb.doc_id = d.doc_id
LEFT JOIN lb ON lb.doc_id = d.doc_id
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via per-language character-trigram count profiles
    (Cavnar & Trenkle), bootstrapped from the stopword lexicon and
    falling back to it.

    Stage 1 (seed): tokens join the broadcast lexicon; docs whose
    argmax language clears _TRI_SEED_MIN hits become that language's
    training set. Stage 2 (profile): each seed language keeps its top
    _TRI_PROFILE_SIZE char trigrams by count — the same count/rank
    pattern as the trigram-LM machinery (text_lm_coverage), on chars
    instead of words because short/no-stopword docs still have plenty
    of char trigrams. Stage 3 (score): every doc's trigrams join the
    broadcast profile table, argmax per doc (ties alphabetical);
    no trigram hits -> lexicon verdict -> 'und'.

    Scale: the profile is languages x N rows -> broadcast; both
    score shuffles are bounded by docs x languages; the trigram
    explode is row-local. Entirely shared (same seeds, same profile
    table, same tie-breaks) with the DuckDB oracle, so the whole
    bootstrap is hash-gated.
    """
    docs = load_table(spark, sf_dir, "documents")
    lb, profile = _lang_model(spark, sf_dir)
    tri = _char_trigrams(docs)
    tscores = (
        tri.join(F.broadcast(profile), "tg")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("tri_hits"))
    )
    tb = _argmax(tscores, "doc_id", "lang", "tri_hits")
    return (
        docs.select("doc_id")
        .join(tb, "doc_id", "left")
        .join(lb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lang", "lex_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("tri_hits", F.lit(0)).cast("bigint").alias("tri_hits"),
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("lex_hits"),
            F.when(F.col("lang").isNotNull(), "trigram")
            .when(F.col("lex_lang").isNotNull(), "lexicon")
            .otherwise("und")
            .alias("method"),
        )
    )


@query(
    "text_vocab",
    family="selfcontained",
    oracle=r"""
WITH counts AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT UNNEST(regexp_extract_all(lower(text), '\w+')) AS word
          FROM documents)
    GROUP BY word
    HAVING COUNT(*) >= 5
)
SELECT word,
       freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS BIGINT) AS vocab_id
FROM counts
""",
)
@per_session("selfcontained")
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary builder: corpus token frequencies with a
    min-count cutoff and deterministic id assignment (frequency-ranked,
    ties alphabetical) — the "build vocab" step of a training pipeline.

    The ranked vocab is memoized per session and its id-stamped sort
    is a shared frame, like the dedup shingle index: repeated
    invocations (bench passes, token-id consumers) reuse one cached
    copy instead of leaking a new persisted DataFrame into executor
    storage per call.

    Scale: the frequency table is a partial-aggregated groupBy (corpus
    tokens collapse per partition first). Id assignment is a
    *distributed* total sort (range-partitioned orderBy) ranked fully
    JVM-side with zero extra shuffles of the vocab: after the sort,
    monotonically_increasing_id encodes (partition id << 33 | local
    row index), so the global rank is the local index plus a prefix
    sum of partition sizes — the sizes are one tiny aggregate (<= one
    row per partition) collected for the prefix sum, then joined back
    as a broadcast. No Window node anywhere and — unlike the previous
    rdd.zipWithIndex — no Python serialization of the vocab: a
    min-count-5 vocab over 100 TB of web text (tens of millions of
    rows) ranks in parallel without leaving the JVM.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(tokens_regex(F.lower(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 5)
    )
    # shared: the id stamps must be identical in the sizes branch and
    # the final projection (monotonically_increasing_id is recompute-
    # sensitive if the exchange re-plans per branch)
    with_id = shared_frame(
        spark,
        ("selfcontained", "vocab_with_id", sf_dir),
        lambda: counts.orderBy(F.col("freq").desc(), F.col("word"))
        .withColumn("mid", F.monotonically_increasing_id())
        .select(
            "word",
            "freq",
            F.shiftright("mid", 33).alias("pid"),
            F.col("mid").bitwiseAND(F.lit((1 << 33) - 1)).alias("lidx"),
        ),
    )
    # partition-size prefix sums: <= n_partitions aggregated rows reach
    # the driver (constant-size coordination, like the Bloom merge)
    sizes = with_id.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    offsets, acc = [], 0
    for r in sorted(sizes, key=lambda r: r["pid"]):
        offsets.append((r["pid"], acc))
        acc += r["n"]
    off_df = spark.createDataFrame(offsets, "pid bigint, off bigint")
    return with_id.join(F.broadcast(off_df), "pid").select(
        "word",
        "freq",
        (F.col("lidx") + F.col("off") + 1).cast("bigint").alias("vocab_id"),
    )


# Winnowing fingerprint CTE chain, shared verbatim between the
# text_winnow_fingerprints oracle and the dedup_winnow near-dup oracle
# (the same shared-CTE discipline as llmfilters): fps(doc_id, fp).
WINNOW_FPS_CTES = r"""norm AS (
    SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
    FROM documents
),
grams AS (
    SELECT doc_id, p,
           CAST('0x' || substr(md5(substr(t, CAST(p AS INT), 8)), 1, 8) AS BIGINT) AS h
    FROM (SELECT doc_id, t, UNNEST(range(1, GREATEST(LENGTH(t) - 6, 1))) AS p
          FROM norm)
),
windowed AS (
    SELECT doc_id, p,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
    FROM grams
),
fps AS (
    SELECT DISTINCT doc_id, wmin AS fp
    FROM windowed
    WHERE p <= n_grams - 3
)"""


@query(
    "text_winnow_fingerprints",
    oracle=f"WITH {WINNOW_FPS_CTES}\nSELECT doc_id, fp FROM fps",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash k-grams, window
    minimum selection — the classic local-fingerprinting algorithm):
    k=8 char grams hashed with the engine-shared 32-bit md5 hash, then
    the minimum hash of every w=4 window, deduplicated.

    Guarantees at least one fingerprint per w consecutive grams, so
    matching substrings of length >= k+w-1 always share a fingerprint —
    the substring-plagiarism/near-dup primitive. Shape at scale: fully
    row-local (gram hashes, sliding minima, and per-doc dedup as array
    expressions inside one projection) — zero shuffles.
    """
    from ..functions import hex32

    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")).alias("t"),
    )
    # Fully row-local: the gram hashes, the w=4 sliding minima, and the
    # per-doc dedup all happen inside one projected row via array
    # functions — ZERO shuffles (the former formulation exploded one
    # row per char position and ran two windows over it). A document's
    # fingerprints never need cross-row state, so the plan is
    # scan -> project -> generate, embarrassingly parallel at 100 TB.
    grams = norm.select(
        "doc_id",
        F.when(
            F.length("t") >= 8,
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 7),
                lambda i: hex32(F.col("t").substr(i, F.lit(8))),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("hs"),
    )
    wmins = grams.select(
        "doc_id",
        F.when(
            F.size("hs") >= 4,
            F.transform(
                F.sequence(F.lit(1), F.size("hs") - 3),
                lambda p: F.array_min(F.slice(F.col("hs"), p, F.lit(4))),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("wm"),
    )
    return wmins.select(
        "doc_id", F.explode(F.array_distinct("wm")).alias("fp")
    )


@query(
    "text_fingerprint",
    oracle=r"""
SELECT doc_id,
       MD5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
       CAST(LENGTH(regexp_replace(trim(text), '\s+', ' ', 'g')) AS BIGINT) AS norm_len
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized, lowercased
    text — the exact-dedup key (see dedup_exact). Row-local, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(F.lower(norm)).alias("fingerprint"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


# Trigram language-model coverage: train on the hash-split train docs
# (the same salted-md5 split as traindata.split_train_test), score the
# test docs. Exactness: no logarithms anywhere — the score is trigram
# coverage (a ratio of identical integers) plus the min/max conditional
# trigram probability (each a single division of identical integers),
# so every double matches DuckDB bit-for-bit.
_LM_ORACLE = r"""
WITH toks AS (
    SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id,
           UNNEST(list_transform(range(1, GREATEST(LEN(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks
),
split AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
    FROM documents
),
train_tri AS (
    SELECT s.shingle,
           regexp_replace(s.shingle, ' [^ ]+$', '') AS ctx,
           COUNT(*) AS c3
    FROM shingles s JOIN split sp ON sp.doc_id = s.doc_id AND sp.bucket >= 10
    GROUP BY s.shingle
),
ctx_tot AS (
    SELECT ctx, SUM(c3) AS c2 FROM train_tri GROUP BY ctx
),
probs AS (
    SELECT t.shingle, CAST(t.c3 AS DOUBLE) / c.c2 AS p
    FROM train_tri t JOIN ctx_tot c ON c.ctx = t.ctx
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tri,
       CAST(COUNT(p.p) AS BIGINT) AS n_hit,
       CAST(COUNT(p.p) AS DOUBLE) / COUNT(*) AS hit_rate,
       MIN(p.p) AS min_p,
       MAX(p.p) AS max_p
FROM shingles s
JOIN split sp ON sp.doc_id = s.doc_id AND sp.bucket < 10
LEFT JOIN probs p ON p.shingle = s.shingle
GROUP BY s.doc_id
"""


@query("text_lm_coverage", family="shingle", oracle=_LM_ORACLE)
def text_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM scoring of held-out documents: conditional trigram
    probabilities (doc-frequency c3 / context marginal c2) estimated on
    the train split, then each test doc reports trigram coverage and
    its min/max conditional probability — the LM-based quality signal
    a data pipeline uses to flag out-of-distribution text, minus the
    logarithm (libm differs across engines; ratios of identical
    integers do not).

    Scale: reuses the shared shingle index; the model is one groupBy
    over train shingles (state = distinct trigram table, vocabulary-
    bounded, not corpus-bounded). Broadcast the model when it fits;
    past that the scoring join is an ordinary key-equi shuffle on the
    trigram — either way no per-row Python and no cross join.
    """
    from .dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    split = docs.select("doc_id", _split_bucket("doc_id").alias("bucket"))
    sh = _shingles(spark, sf_dir)
    train_tri = (
        sh.join(
            split.filter(F.col("bucket") >= 10).select("doc_id"), "doc_id"
        )
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c3"))
        .withColumn("ctx", F.regexp_replace("shingle", r" [^ ]+$", ""))
    )
    ctx_tot = train_tri.groupBy("ctx").agg(F.sum("c3").alias("c2"))
    probs = train_tri.join(ctx_tot, "ctx").select(
        "shingle", (F.col("c3").cast("double") / F.col("c2")).alias("p")
    )
    test_sh = sh.join(
        split.filter(F.col("bucket") < 10).select("doc_id"), "doc_id"
    )
    return (
        test_sh.join(probs, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.count("p").alias("n_hit"),
            (F.count("p").cast("double") / F.count(F.lit(1))).alias("hit_rate"),
            F.min("p").alias("min_p"),
            F.max("p").alias("max_p"),
        )
    )


@query(
    "text_token_ids",
    family="selfcontained",
    oracle=r"""
WITH counts AS (
    SELECT word, COUNT(*) AS freq
    FROM (SELECT UNNEST(regexp_extract_all(lower(text), '\w+')) AS word
          FROM documents)
    GROUP BY word
    HAVING COUNT(*) >= 5
),
vocab AS (
    SELECT word,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS BIGINT) AS vocab_id
    FROM counts
),
tok AS (
    SELECT doc_id, t.pos AS pos, t.word AS word
    FROM (SELECT doc_id,
                 UNNEST(list_transform(regexp_extract_all(lower(text), '\w+'),
                                       (w, i) -> struct_pack(pos := i, word := w))) AS t
          FROM documents)
)
SELECT tok.doc_id,
       STRING_AGG(CAST(COALESCE(v.vocab_id, 0) AS VARCHAR), ' '
                  ORDER BY tok.pos) AS token_ids,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN v.vocab_id IS NULL THEN 1 END) AS BIGINT) AS n_oov
FROM tok LEFT JOIN vocab v ON v.word = tok.word
GROUP BY tok.doc_id
""",
)
def text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization to id sequences: every document's tokens mapped
    through the frequency-ranked vocabulary (text_vocab's exact
    definition; OOV -> 0), emitted as the ordered id string plus OOV
    counts — the final text -> ids step before training.

    Scale: the vocab is small after the min-count cutoff -> broadcast
    join against the exploded tokens (ids assigned by text_vocab's
    distributed ranking, no global window); sequence order is restored
    by sorting (pos, id) structs inside each doc's aggregation, so no
    window over token rows is needed — one exchange on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    # id assignment comes from text_vocab (distributed sort +
    # zipWithIndex) — NOT a partitionless window, which would funnel
    # the whole vocabulary through one task at web scale.
    vocab = text_vocab(spark, sf_dir).select("word", "vocab_id")
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens_regex(F.lower(F.col("text")))).alias("pos", "word"),
    )
    joined = tok.join(F.broadcast(vocab), "word", "left").select(
        "doc_id",
        "pos",
        F.coalesce("vocab_id", F.lit(0)).alias("vid"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "vid"))
            ).alias("_seq"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("_seq"), lambda s: s["vid"].cast("string")), " "
            ).alias("token_ids"),
            F.size("_seq").cast("bigint").alias("n_tokens"),
            F.size(
                F.filter(F.col("_seq"), lambda s: s["vid"] == 0)
            ).cast("bigint").alias("n_oov"),
        )
    )
