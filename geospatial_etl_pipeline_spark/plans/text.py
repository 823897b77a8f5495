"""Text-analysis queries over the ``documents`` table (SURVEY §2j [EXT]).

Language-ID, quality scoring, token statistics, fingerprinting — all
pure JVM expressions from ``functions.text`` with exact SQL mirrors.

Every builder stages the token array as its own projection before
fanning out into multi-reference expressions — Catalyst duplicates
expression subtrees per reference, so an unstaged token split runs
once per token access (measured 13× slowdown; see functions.text.tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    STOPWORDS,
    bow_fingerprint_t,
    fingerprint_t,
    punct_count,
    sql_bow_fp,
    stopword_hits_t,
    token_count_t,
    tokens,
    word_ngrams_t,
)
from ._util import (
    at_rank,
    fan_out,
    int_hist,
    literal_df,
    med2,
    qsum,
    sql_at_rank,
    sql_int_hist,
    sql_med2,
    sql_qsum,
    t,
)
from .catalog import register

# SQL fragments mirroring functions.text builders exactly.
_SQL_NORM = "lower(trim(text))"
_SQL_TOKENS = rf"regexp_split_to_array({_SQL_NORM}, '\s+')"


def _staged(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """documents with the token array materialized once per row."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *extra, tokens("text").alias("_tok"))


def _sql_stopword_hits(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({inlist}))) AS BIGINT)"


# The length/stopword/punctuation quality heuristic — ONE definition.
# q31 emits it per-document, q166 builds decile profiles on it; both
# reference these two builders so the formula cannot fork (a weights
# tweak that missed one copy would leave both parities green while the
# decile profile scored a different quantity than q31 reports).
_SQL_QUALITY = f"""(LEAST(CAST(len({_SQL_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.4
         + (CAST({_sql_stopword_hits('en')} AS DOUBLE)
            / GREATEST(CAST(len({_SQL_TOKENS}) AS DOUBLE), 1.0)) * 0.4
         + CASE WHEN CAST(LENGTH(text) AS DOUBLE) > 0
                THEN 0.2 - LEAST(CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE)
                                 / CAST(LENGTH(text) AS DOUBLE), 0.2)
                ELSE 0.0 END)"""


def _quality_t(tok):
    """Spark mirror of _SQL_QUALITY over the staged token array (the
    text column must be in scope as ``text``)."""
    n_tok = token_count_t(tok).cast("double")
    n_chars = F.length("text").cast("double")
    sw = stopword_hits_t(tok, "en").cast("double")
    punct = punct_count("text").cast("double")
    return (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + (sw / F.greatest(n_tok, F.lit(1.0))) * F.lit(0.4)
        + F.when(
            n_chars > 0, F.lit(0.2) - F.least(punct / n_chars, F.lit(0.2))
        ).otherwise(F.lit(0.0))
    )


@register(
    "q30_text_stats",
    tags=("text", "llm-data"),
    oracle=f"""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS text_len,
       CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_SQL_TOKENS})) AS BIGINT) AS n_unique_tokens,
       CAST(list_sum(list_transform({_SQL_TOKENS}, x -> length(x))) AS DOUBLE)
         / len({_SQL_TOKENS}) AS avg_token_len
FROM documents
""",
)
def q30_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — scan-side only, zero shuffle."""
    tok = F.col("_tok")
    return _staged(spark, sf_dir, "lang", "text").select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("text_len"),
        token_count_t(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("bigint").alias("n_unique_tokens"),
        (
            F.aggregate(tok, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
            .cast("double")
            / F.size(tok)
        ).alias("avg_token_len"),
    )


@register(
    "q31_quality_score",
    tags=("text", "llm-data"),
    oracle=f"""
SELECT doc_id,
       CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
       {_sql_stopword_hits('en')} AS stopword_hits_en,
       CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS BIGINT) AS punct_cnt,
       {_SQL_QUALITY} AS quality
FROM documents
""",
)
def q31_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/punctuation quality heuristic (training-data
    filtering stage); one pass, no shuffle."""
    tok = F.col("_tok")
    quality = _quality_t(tok)
    return _staged(spark, sf_dir, "text").select(
        "doc_id",
        token_count_t(tok).alias("n_tokens"),
        stopword_hits_t(tok, "en").alias("stopword_hits_en"),
        punct_count("text").alias("punct_cnt"),
        quality.alias("quality"),
    )


def _langid_case_sql() -> str:
    en, es, fr = (
        _sql_stopword_hits("en"),
        _sql_stopword_hits("es"),
        _sql_stopword_hits("fr"),
    )
    return f"""CASE WHEN {en} >= {es} AND {en} >= {fr} THEN 'en'
        WHEN {es} >= {fr} THEN 'es' ELSE 'fr' END"""


@register(
    "q32_language_id",
    tags=("text", "llm-data"),
    oracle=f"""
SELECT doc_id, lang,
       {_sql_stopword_hits('en')} AS en_hits,
       {_sql_stopword_hits('es')} AS es_hits,
       {_sql_stopword_hits('fr')} AS fr_hits,
       {_langid_case_sql()} AS pred_lang
FROM documents
""",
)
def q32_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic with a deterministic argmax
    tie-break (en > es > fr)."""
    tok = F.col("_tok")
    en = stopword_hits_t(tok, "en")
    es = stopword_hits_t(tok, "es")
    fr = stopword_hits_t(tok, "fr")
    pred = (
        F.when((en >= es) & (en >= fr), "en").when(es >= fr, "es").otherwise("fr")
    )
    return _staged(spark, sf_dir, "lang").select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        pred.alias("pred_lang"),
    )


@register(
    "q33_fingerprint",
    tags=("text", "llm-data"),
    oracle=f"""
SELECT doc_id,
       md5(list_aggregate({_SQL_TOKENS}, 'string_agg', ' ')) AS fp,
       CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
FROM documents
""",
)
def q33_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical whitespace-normalized MD5 fingerprint per document."""
    tok = F.col("_tok")
    return _staged(spark, sf_dir).select(
        "doc_id",
        fingerprint_t(tok).alias("fp"),
        token_count_t(tok).alias("n_tokens"),
    )


@register(
    "q43_top_word_bigrams",
    tags=("text", "llm-data"),
    oracle=rf"""
WITH tok AS (
  SELECT {_SQL_TOKENS} AS tokens FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(tokens), 2)),
                i -> concat_ws(' ', tokens[i::INT], tokens[i::INT + 1]))) AS bigram
  FROM tok
)
SELECT bigram, COUNT(*) AS n
FROM bg
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
""",
)
def q43_top_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams — explode + count + TakeOrdered."""
    staged = _staged(spark, sf_dir)
    return (
        # explode_outer: avoids the pushed-down size>0 filter that would
        # inline the bigram pipeline below the scan (see q48 in dedup.py);
        # word_ngrams_t is never empty (sequence bound greatest(..,1)).
        staged.select(
            F.explode_outer(word_ngrams_t(F.col("_tok"), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@register(
    "q37_bpe_token_count",
    tags=("text", "llm-data", "tokenize"),
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
         AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_PAT}')))
            AS BIGINT) AS n_unique_bpe
FROM documents
""",
)
def q37_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (north-star "whitespace + a BPE-ish
    regex"): whitespace tokens vs a GPT-2-style pre-tokenizer
    approximation (letter runs | digit runs | punctuation runs — no
    lookarounds, so the pattern means the same thing to Java regex and
    RE2/DuckDB). Scan-side only, zero shuffle."""
    d = t(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("bigint").alias("n_unique_bpe"),
    )


_TFIDF_TOPK = 5
_TFIDF_Q = 10_000  # score quantizer; see overflow analysis in the docstring


@register(
    "q93_tfidf_salient_terms",
    tags=("text", "llm-data", "tfidf", "topk"),
    oracle=f"""
WITH tf AS (
  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents)
  GROUP BY doc_id, t
),
sc AS (
  SELECT doc_id, token, tf,
         CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df
  FROM tf
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
SELECT doc_id, token, tf, df, score_q, CAST(rn AS INT) AS rn FROM (
  SELECT doc_id, token, tf, df,
         CAST(({_TFIDF_Q} * tf * (2 * (SELECT n FROM n) - 2 * df + 1))
              // (2 * df + 1) AS BIGINT) AS score_q,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY ({_TFIDF_Q} * tf * (2 * (SELECT n FROM n) - 2 * df + 1))
                      // (2 * df + 1) DESC, token ASC) AS rn
  FROM sc
) WHERE rn <= {_TFIDF_TOPK}
""",
)
def q93_tfidf_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TFIDF_TOPK} salient terms per document by a TF-IDF-style
    score — the classic training-data keyword/topic surfacing stage.

    The usual tf·ln(N/df) is NOT cross-engine hashable (ln differs in
    the last ulp between libm and DuckDB, which can flip ranks and
    floors), so the idf factor is the BM25-style odds ratio
    (N - df + 1/2)/(df + 1/2) — same monotonicity in df, but exact:
    score_q = ({_TFIDF_Q}·tf·(2N - 2df + 1)) div (2df + 1), all BIGINT
    arithmetic, bit-identical in Spark and DuckDB. Overflow bound:
    {_TFIDF_Q}·tf·2N ≲ 1e4·1e4·2e10 = 2e18 < 2^63 even at a 10-billion
    document corpus with 10k-term docs.

    Shape at scale: explode → partial-agg count on (doc_id, token)
    (one shuffle), df via a count window PARTITION BY token (second
    shuffle, no join, no broadcast build), N as a 1-row broadcast
    cross join, top-k via row_number on the doc_id partitioning the
    first shuffle already established (HashPartitioning(doc_id, token)
    does not serve it, so this is the third and last exchange —
    stopword-skewed token partitions are bounded because the payload
    per (token) row is already aggregated to one row per document)."""
    # NULL-text docs must contribute NO tf rows (the oracle's
    # unnest(NULL) emits nothing; explode_outer's NULL-token row
    # survived into the salient-terms output — hostile sweep). The fix
    # is an isnotnull(text) prefilter ON THE RAW COLUMN (pushes into
    # the parquet scan, zero expression duplication) + explode_outer,
    # NOT plain explode: explode lets InferFiltersFromGenerate plant a
    # size(split(...))>0 filter below the staged projection, re-running
    # the regex split 3x per row (the README "Optimizer lessons" trap,
    # verified in this plan). Non-null text always tokenizes to >=1
    # element, so outer == inner there.
    from ..functions.text import tokens as _tokens

    nn_staged = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", _tokens("text").alias("_tok"))
    )
    tf = (
        nn_staged.select("doc_id", F.explode_outer("_tok").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_w = Window.partitionBy("token")
    sc = tf.withColumn("df", F.count(F.lit(1)).over(df_w))
    n1 = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("_n")
    )
    score = F.expr(
        f"CAST(({_TFIDF_Q} * tf * (2 * _n - 2 * df + 1)) div (2 * df + 1)"
        " AS BIGINT)"
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(), F.col("token").asc()
    )
    return (
        sc.crossJoin(F.broadcast(n1))
        .select("doc_id", "token", "tf", "df", score.alias("score_q"))
        .withColumn("rn", F.row_number().over(rank_w).cast("int"))
        .filter(F.col("rn") <= _TFIDF_TOPK)
    )


_RH_B = 131
_RH_M = 2147483647  # 2^31 - 1: acc*131 + 255 < 2^38, no BIGINT overflow
_RH_K = 5  # char-gram width

# NULL text reads as '' (both engines, explicitly): the un-coalesced
# forms diverged on NULL — Spark's IF(NULL>=5) fell to the else branch
# and aggregated a NULL array to NULL, while DuckDB's greatest(NULL,1)
# clamp manufactured hash 0 (hostile-input sweep). Empty and NULL docs
# now share one pinned fingerprint in both engines.
_SQL_RH_NORM = "lower(trim(coalesce(text, '')))"
_SQL_RH_GRAMS = (
    f"list_transform(range(1, greatest(length({_SQL_RH_NORM}) - {_RH_K - 1}, 1) + 1), "
    f"i -> substr({_SQL_RH_NORM}, i::INT, {_RH_K}))"
)
_SQL_RH_HASH = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(range(1, length(g) + 1), "
    "i -> ascii(substr(g, i::INT, 1))::BIGINT)), "
    f"(acc, c) -> (acc * {_RH_B} + c) % {_RH_M})"
)


@register(
    "q38_rolling_hash_fingerprint",
    tags=("text", "llm-data", "fingerprint"),
    oracle=f"""
WITH grams AS (
  SELECT doc_id, md5(coalesce(text, '')) AS tkey,
         unnest({_SQL_RH_GRAMS}) AS g
  FROM documents
),
hashes AS (
  SELECT doc_id, tkey, {_SQL_RH_HASH} AS h FROM grams
),
fp AS (
  SELECT doc_id, tkey,
         CAST(MIN(h) AS BIGINT) AS fp_min,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_grams
  FROM hashes
  GROUP BY doc_id, tkey
)
-- re-expand onto DOCUMENT ROWS (the q44 dup/NULL-id lesson): a bare
-- GROUP BY doc_id would merge duplicate-id rows' gram sets into one
-- fingerprint where the engine fingerprints each row
SELECT d.doc_id, f.fp_min, f.n_distinct_grams
FROM documents d
JOIN fp f ON f.doc_id IS NOT DISTINCT FROM d.doc_id
         AND f.tkey = md5(coalesce(d.text, ''))
""",
)
def q38_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (north-star "document
    fingerprinting (rolling hash)"): polynomial Rabin-Karp hash
    h = fold((acc*B + code) mod M) over every char {_RH_K}-gram, then
    the winnowing-style per-document MIN plus the distinct-gram
    cardinality. Integer modular arithmetic — bit-identical across
    engines. Zero shuffles, and the gram hashing is VECTORIZED in-row:
    ``split('')`` yields the char-code array in ONE pass, then each
    gram's hash is 5 ``element_at`` + a dot product with the
    precomputed powers of B (mod once at the end — identical mod M to
    the oracle's iterated fold; max sum ≈ 5·255·B⁴ ≈ 3.8e11 « 2^63, no
    overflow). The previous form materialized every 5-char gram with
    ``substring(norm, i, 5)`` and re-hashed it char by char — per-index
    substring seeks are O(i) on UTF8 strings, so that path went
    quadratic on long docs: measured 2.48 s → 0.64 s at sf0.1. Short
    docs (< {_RH_K} chars → a single short gram) take the iterated-fold
    branch, matching the oracle's substr clamp semantics."""
    from ..functions.text import normalized

    b4, b3, b2 = _RH_B**4, _RH_B**3, _RH_B**2
    # fan_out (r12, guide §2.5): the per-char rolling-hash transform is
    # the family's heaviest per-row pipeline and runs scan-side;
    # projected first so the exchange carries only (doc_id, text)
    d = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    staged = d.select(
        "doc_id", normalized(F.coalesce(F.col("text"), F.lit(""))).alias("_norm")
    ).select(
        "doc_id",
        F.expr(
            "transform(split(_norm, ''), ch -> CAST(ascii(ch) AS BIGINT))"
        ).alias("_codes"),
        F.length("_norm").alias("_L"),
    )
    hs = F.expr(
        f"IF(_L >= {_RH_K},"
        f" transform(sequence(1, _L - {_RH_K - 1}), i ->"
        f"  (element_at(_codes, i) * {b4} + element_at(_codes, i+1) * {b3}"
        f"   + element_at(_codes, i+2) * {b2}"
        f"   + element_at(_codes, i+3) * {_RH_B}"
        f"   + element_at(_codes, i+4)) % {_RH_M}),"
        f" array(aggregate(_codes, CAST(0 AS BIGINT),"
        f"   (acc, c) -> (acc * {_RH_B} + c) % {_RH_M})))"
    )
    return staged.select(
        "doc_id",
        F.array_min(hs).cast("bigint").alias("fp_min"),
        F.size(F.array_distinct(hs)).cast("bigint").alias("n_distinct_grams"),
    )


@register(
    "q76_token_length_histogram",
    tags=("text", "llm-data", "histogram"),
    oracle=f"""
SELECT lang,
       CAST(LENGTH(bin(CAST(len({_SQL_TOKENS}) AS BIGINT))) - 1 AS INT)
         AS log2_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len({_SQL_TOKENS}) AS BIGINT)) AS BIGINT) AS sum_tokens,
       CAST(MIN(len({_SQL_TOKENS})) AS BIGINT) AS min_tokens,
       CAST(MAX(len({_SQL_TOKENS})) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang, log2_bucket
""",
)
def q76_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution report: documents per (lang,
    floor(log2(n_tokens))) bucket with token totals — the
    sequence-length histogram that sizes packing/truncation budgets
    before training.

    floor(log2(n)) is computed EXACTLY as length(bin(n)) - 1 (binary
    digit count, integer-only — no libm log2 whose last-ulp rounding
    could flip a bucket boundary between engines). Single hash
    aggregate with map-side partial agg; integer sums, engine-exact."""
    tok = F.col("_tok")
    n_tok = token_count_t(tok)
    staged = _staged(spark, sf_dir, "lang")
    return (
        staged.select(
            "lang",
            n_tok.alias("n_tokens"),
            (F.length(F.bin(n_tok)) - 1).cast("int").alias("log2_bucket"),
        )
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
    )


_VOCAB_K = 100  # derived-vocabulary size


@register(
    "q105_oov_rate",
    tags=("text", "llm-data", "vocabulary"),
    oracle=f"""
WITH tf AS (
  SELECT t AS token, COUNT(*) AS n
  FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents)
  GROUP BY t
),
vocab AS (
  SELECT token FROM tf ORDER BY n DESC, token ASC LIMIT {_VOCAB_K}
),
vlist AS (SELECT list(token) AS v FROM vocab)
SELECT doc_id,
       CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
       CAST(len(list_filter({_SQL_TOKENS},
                t -> NOT list_contains(vlist.v, t))) AS BIGINT) AS n_oov,
       CAST(len(list_filter({_SQL_TOKENS},
                t -> NOT list_contains(vlist.v, t))) AS DOUBLE)
         / len({_SQL_TOKENS}) AS oov_rate
FROM documents, vlist
""",
)
def q105_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against a vocabulary DERIVED
    in the same job (top-{_VOCAB_K} corpus tokens by frequency,
    deterministic (count desc, token asc) order) — the tokenizer-fit
    health check run before committing to a vocab.

    Scale shape: the token count is a partial-agg exchange; the top-K
    is TakeOrderedAndProject (never a global sort); the K-row vocab
    folds to ONE array row and broadcast-joins back, so the per-doc
    membership test is an in-row array_contains fold over the staged
    token array — the 100 TB corpus side never shuffles. n_oov/n_tokens
    is an exact-integer ratio, engine-identical."""
    staged = _staged(spark, sf_dir)
    tf = (
        staged.select(F.explode_outer("_tok").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = tf.orderBy(F.col("n").desc(), F.col("token").asc()).limit(_VOCAB_K)
    vrow = vocab.agg(F.collect_list("token").alias("v"))
    tok = F.col("_tok")
    oov = F.size(
        F.filter(tok, lambda x: ~F.array_contains(F.col("v"), x))
    ).cast("bigint")
    return (
        staged.crossJoin(F.broadcast(vrow))
        .select(
            "doc_id",
            F.size(tok).cast("bigint").alias("n_tokens"),
            oov.alias("n_oov"),
            (oov.cast("double") / F.size(tok)).alias("oov_rate"),
        )
    )


@register(
    "q107_repetition_signals",
    tags=("text", "llm-data", "quality", "repetition"),
    oracle=f"""
WITH staged AS (
  SELECT doc_id, {_SQL_TOKENS} AS tok,
         string_split(text, chr(10)) AS lines
  FROM documents
),
bg AS (
  -- lines carried THROUGH (no doc_id re-join: a self-join on doc_id
  -- fans out on duplicate ids and drops NULL ids — the dup/NULL-id
  -- fixture caught the old shape emitting 515 rows for 505 documents)
  SELECT doc_id, lines,
         list_transform(range(1, greatest(len(tok), 2)),
                        i -> concat_ws(' ', tok[i::INT], tok[i::INT + 1])) AS bgs
  FROM staged
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
       CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
         / len(lines) AS dup_line_frac,
       CAST((SELECT MAX(cnt) FROM (
          SELECT COUNT(*) AS cnt FROM unnest(bgs) AS t(g) GROUP BY g))
         AS BIGINT) AS top_bigram_n,
       CAST((SELECT MAX(cnt) FROM (
          SELECT COUNT(*) AS cnt FROM unnest(bgs) AS t(g) GROUP BY g))
         AS DOUBLE) / len(bgs) AS top_bigram_frac
FROM bg
""",
)
def q107_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/MassiveText filter family,
    Rae et al. 2021 §A1.1): duplicate-line fraction and the fraction of
    bigrams taken by the single most frequent bigram — high values mark
    boilerplate/spam that length or stopword heuristics miss.

    All counts are integers (fractions are exact-int ratios in double),
    computed IN-ROW with higher-order functions: lines via split on
    newline, dup count = len − len(distinct), top-bigram count via an
    aggregate fold over the sorted bigram array — zero shuffles
    (plan-asserted), scan-proportional at any corpus size."""
    tok = F.col("_tok")
    lines = F.split(F.col("text"), "\n")
    bgs = word_ngrams_t(tok, 2)
    # top bigram count in-row: sort the bigram array, then fold counting
    # the longest run of equal neighbors (sort_array is JVM-side).
    top_run = F.expr(
        "aggregate(sort_array(_bgs), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L), "
        "  'best', GREATEST(acc.best, "
        "    IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L))), "
        "acc -> acc.best)"
    )
    staged = _staged(spark, sf_dir, "text").select(
        "doc_id", lines.alias("_lines"), tok.alias("_tok2"), bgs.alias("_bgs")
    )
    n_lines = F.size("_lines").cast("bigint")
    n_dup = (F.size("_lines") - F.size(F.array_distinct("_lines"))).cast("bigint")
    return staged.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_dup.alias("n_dup_lines"),
        (n_dup.cast("double") / n_lines).alias("dup_line_frac"),
        top_run.alias("top_bigram_n"),
        (top_run.cast("double") / F.size("_bgs")).alias("top_bigram_frac"),
    )


@register(
    "q108_c4_cleaning_flags",
    tags=("text", "llm-data", "quality", "c4"),
    oracle=r"""
WITH staged AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines,
         contains(text, '{') OR contains(text, '}') AS has_brace,
         contains(lower(text), 'lorem ipsum') AS has_lorem
  FROM documents
)
SELECT doc_id,
       has_brace, has_lorem,
       CAST(len(list_filter(lines, l -> l SIMILAR TO '.*[.!?"]\s*'))
            AS BIGINT) AS n_terminal_lines,
       CAST(len(list_filter(lines,
                l -> len(regexp_split_to_array(trim(l), '\s+')) < 3))
            AS BIGINT) AS n_short_lines,
       CAST(len(lines) AS BIGINT) AS n_lines,
       (NOT has_brace) AND (NOT has_lorem)
         AND len(list_filter(lines,
               l -> len(regexp_split_to_array(trim(l), '\s+')) < 3)) * 2
             <= len(lines) AS keep
FROM staged
""",
)
def q108_c4_cleaning_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic cleaning flags (Raffel et al. 2020 §2.2): code
    markers (curly braces), placeholder text ("lorem ipsum"), lines
    ending with terminal punctuation, too-short lines (<3 words), and
    the resulting keep/drop decision (no code markers, no placeholder,
    short lines at most half the doc).

    Every signal is a string predicate or exact-integer count folded
    IN-ROW over the line array — zero shuffles, scan-proportional; the
    regexes are RE2/Java-compatible (no lookarounds), so both engines
    match identically."""
    d = t(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    staged = d.select(
        "doc_id",
        lines.alias("_lines"),
        (F.col("text").contains("{") | F.col("text").contains("}")).alias(
            "has_brace"
        ),
        F.lower(F.col("text")).contains("lorem ipsum").alias("has_lorem"),
    )
    terminal = F.size(
        F.filter("_lines", lambda l: l.rlike(r'^.*[.!?"]\s*$'))
    ).cast("bigint")
    short = F.size(
        F.filter("_lines", lambda l: F.size(F.split(F.trim(l), r"\s+")) < 3)
    ).cast("bigint")
    n_lines = F.size("_lines").cast("bigint")
    return staged.select(
        "doc_id",
        "has_brace",
        "has_lorem",
        terminal.alias("n_terminal_lines"),
        short.alias("n_short_lines"),
        n_lines.alias("n_lines"),
        (
            ~F.col("has_brace")
            & ~F.col("has_lorem")
            & (short * 2 <= n_lines)
        ).alias("keep"),
    )


_BPE_TOPK = 20


@register(
    "q122_bpe_merge_candidates",
    tags=("text", "llm-data", "bpe", "tokenizer"),
    oracle=f"""
WITH words AS (
  SELECT unnest({_SQL_TOKENS}) AS w FROM documents
),
wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
  FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INT), 2) AS pair, wf
  FROM wf, unnest(range(1, length(w))) t(i)
)
SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {_BPE_TOPK}
""",
)
def q122_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: corpus-weighted
    adjacent symbol-pair counts, top-{_BPE_TOPK} merge candidates.
    This is the inner statistic the full BPE loop recomputes per merge;
    one exact step under the hash gate pins the induction semantics
    (the loop itself is driver-side control flow over the same plan,
    like k-means q114/q118).

    Scale shape: pair counting runs on the WORD-FREQUENCY table, not
    the token stream — `the` appearing 1e9 times costs one row with
    wf=1e9, so the pair fan-out (in-row substr transform, no join)
    touches |vocab| rows, orders of magnitude below corpus size. Two
    map-side-combined exchanges (vocab count, pair sum) + TakeOrdered;
    nothing at corpus scale ever shuffles except the vocab count's
    distinct words."""
    staged = _staged(spark, sf_dir)
    words = staged.select(F.explode(F.col("_tok")).alias("w")).filter(
        F.length("w") >= 2
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("wf"))
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    pairs = wf.select(F.explode(pair_arr).alias("pair"), "wf")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(_BPE_TOPK)
    )


@register(
    "q126_char_diversity_quality",
    tags=("text", "llm-data", "quality"),
    oracle=f"""
WITH c AS (
  SELECT doc_id, lang,
         list_transform(range(1, length({_SQL_NORM}) + 1),
                        i -> substring({_SQL_NORM}, CAST(i AS INT), 1))
           AS chars
  FROM documents
),
m AS (
  SELECT doc_id, lang,
         CAST(len(chars) AS BIGINT) AS n_chars_norm,
         CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
         CAST(COALESCE(list_max(list_transform(list_distinct(chars),
                d -> len(list_filter(chars, c2 -> c2 = d)))), 0) AS BIGINT)
           AS top_char_count
  FROM c
)
SELECT doc_id, lang, n_chars_norm, n_distinct_chars, top_char_count,
       CASE WHEN n_chars_norm > 0
            THEN CAST(top_char_count AS DOUBLE) / n_chars_norm
            ELSE 0.0 END AS top_char_frac,
       CASE WHEN n_chars_norm > 0
            THEN CAST(n_distinct_chars AS DOUBLE) / n_chars_norm
            ELSE 0.0 END AS char_diversity
FROM m
""",
)
def q126_char_diversity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality signals: alphabet size, modal
    character share, and diversity ratio per document — the cheap
    gibberish/keyboard-mash/banner-art screen that complements the
    token-level Gopher signals (q107): ASCII-art and mashed text pass
    word-ratio gates but collapse here (tiny alphabets, one dominant
    character).

    Entropy was considered and REJECTED for the compare surface: it
    needs log(), which is not IEEE-exact-rounded and can differ by an
    ulp between Java and C libm — these count/max/ratio signals are
    exact integers plus one final scalar divide, so the hash gate
    holds bit-for-bit.

    Scale shape: entirely in-row (char fan-out + distinct + modal count
    as nested array transforms inside codegen), ZERO exchanges — the
    per-row cost is O(alphabet x len), and alphabet is bounded (~1e2)
    so it stays linear in corpus size, all map-side."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    # Guard the fan-out: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0] (two rows of ''), where DuckDB's range(1, 1) is empty —
    # whitespace-only documents would diverge without the branch. NULL
    # text stays a NULL array (NOT empty): the oracle's range(1, NULL)
    # is NULL, so n_chars_norm/n_distinct_chars must be NULL in both
    # engines (hostile-input sweep finding; 0 would be a lie anyway).
    chars = F.when(
        norm.isNull(), F.lit(None).cast("array<string>")
    ).when(
        F.length(norm) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(norm)),
            lambda i: norm.substr(i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = d.select("doc_id", "lang", chars.alias("chars"))
    distinct = F.array_distinct(F.col("chars"))
    top = F.coalesce(
        F.array_max(
            F.transform(
                distinct,
                lambda dch: F.size(
                    F.filter(F.col("chars"), lambda c2: c2 == dch)
                ),
            )
        ),
        F.lit(0),
    )
    m = staged.select(
        "doc_id",
        "lang",
        F.size("chars").cast("bigint").alias("n_chars_norm"),
        F.size(distinct).cast("bigint").alias("n_distinct_chars"),
        top.cast("bigint").alias("top_char_count"),
    )
    nz = F.col("n_chars_norm") > 0
    return m.select(
        "doc_id",
        "lang",
        "n_chars_norm",
        "n_distinct_chars",
        "top_char_count",
        F.when(
            nz, F.col("top_char_count").cast("double") / F.col("n_chars_norm")
        )
        .otherwise(F.lit(0.0))
        .alias("top_char_frac"),
        F.when(
            nz,
            F.col("n_distinct_chars").cast("double") / F.col("n_chars_norm"),
        )
        .otherwise(F.lit(0.0))
        .alias("char_diversity"),
    )


_WILSON_Z = 1.96
_GATE_MIN_CHARS = 200


@register(
    "q144_quality_pass_wilson",
    tags=("text", "llm-data", "quality", "statistics"),
    oracle=f"""
WITH agg AS (
  SELECT lang, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_chars >= {_GATE_MIN_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pass
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_pass,
       CAST(n_pass AS DOUBLE) / n_docs AS pass_rate,
       (CAST(n_pass AS DOUBLE) / n_docs
          + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0 / (2.0e0 * n_docs)
        - {_WILSON_Z!r}e0 * sqrt(
            (CAST(n_pass AS DOUBLE) / n_docs)
            * (1.0e0 - CAST(n_pass AS DOUBLE) / n_docs) / n_docs
            + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0
              / (4.0e0 * n_docs * CAST(n_docs AS DOUBLE))))
       / (1.0e0 + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0 / n_docs) AS wilson_low,
       (CAST(n_pass AS DOUBLE) / n_docs
          + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0 / (2.0e0 * n_docs)
        + {_WILSON_Z!r}e0 * sqrt(
            (CAST(n_pass AS DOUBLE) / n_docs)
            * (1.0e0 - CAST(n_pass AS DOUBLE) / n_docs) / n_docs
            + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0
              / (4.0e0 * n_docs * CAST(n_docs AS DOUBLE))))
       / (1.0e0 + {_WILSON_Z!r}e0 * {_WILSON_Z!r}e0 / n_docs) AS wilson_high
FROM agg
""",
)
def q144_quality_pass_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate pass rates per (lang, source) with Wilson-score
    95% confidence intervals — the statistically honest form of the
    per-source dashboards that decide which crawl sources get dropped:
    a 3-doc source at 100% pass is NOT better than a 10k-doc source at
    97%, and Wilson (unlike the normal approximation) says so at small
    n without ever leaving [0, 1].

    Determinism: the two cells are exact integers from one
    map-side-combined aggregate; rate and both interval bounds are a
    scalar IEEE chain (divides, one sqrt) evaluated with the identical
    expression tree in both engines. Float CONSTANTS in the oracle use
    e-notation (1.96e0): DuckDB parses bare `1.96` as exact DECIMAL, so
    z² would be 3.8416 exactly against Spark's double
    3.8415999999999997 — a one-ulp hash mismatch found the hard way. Scale shape: ONE low-cardinality
    grouped count — nothing else touches the corpus."""
    d = t(spark, sf_dir, "documents")
    agg = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("n_chars") >= _GATE_MIN_CHARS, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass"),
    )
    n = F.col("n_docs")
    p = F.col("n_pass").cast("double") / n
    z2 = F.lit(_WILSON_Z * _WILSON_Z)
    center = p + z2 / (F.lit(2.0) * n)
    margin = F.lit(_WILSON_Z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n.cast("double"))
    )
    denom = F.lit(1.0) + z2 / n
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "n_pass",
        p.alias("pass_rate"),
        ((center - margin) / denom).alias("wilson_low"),
        ((center + margin) / denom).alias("wilson_high"),
    )


@register(
    "q154_langid_confusion",
    tags=("text", "llm-data", "eval"),
    oracle=f"""
WITH pred AS (
  SELECT lang, {_langid_case_sql()} AS pred_lang FROM documents
),
cm AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, n_docs,
       CAST(n_docs AS DOUBLE)
         / SUM(n_docs) OVER (PARTITION BY lang) AS row_share,
       CAST(lang = pred_lang AS BOOLEAN) AS is_correct
FROM cm
""",
)
def q154_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: q32's stopword-argmax classifier
    scored against the stored ``lang`` column — the eval readout a
    pipeline needs BEFORE trusting a heuristic filter to route
    terabytes per language (a 5% es->fr confusion silently starves the
    fr corpus).

    row_share is an integer ratio (count / per-lang total), so the
    double divide is engine-exact. Scale shape: classification is
    in-row (zero shuffle), then ONE hash agg on a |langs|^2-bounded
    key space; the share window runs on that tiny aggregate, not the
    corpus."""
    tok = F.col("_tok")
    en = stopword_hits_t(tok, "en")
    es = stopword_hits_t(tok, "es")
    fr = stopword_hits_t(tok, "fr")
    pred = (
        F.when((en >= es) & (en >= fr), "en").when(es >= fr, "es").otherwise("fr")
    )
    cm = (
        _staged(spark, sf_dir, "lang")
        .select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "row_share"
        ),
        (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
    )


_VOCAB_BUCKET_DOCS = 50  # docs per growth-curve bucket

# Bigram "terms": the unigram vocabulary of the synthetic corpus
# saturates within the first bucket (~50 words), which would collapse
# the curve to one row; the bigram vocabulary keeps growing corpus-long
# — the same reason production Heaps curves are run on n-grams.
_SQL_GROWTH_TERMS = (
    f"list_transform(range(1, greatest(len({_SQL_TOKENS}), 2)), "
    f"i -> concat_ws(' ', ({_SQL_TOKENS})[i::INT], ({_SQL_TOKENS})[i::INT + 1]))"
)


@register(
    "q155_vocab_growth",
    tags=("text", "llm-data", "corpus-stats"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_GROWTH_TERMS}) AS term FROM documents
),
first_seen AS (
  SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY term
),
bucketed AS (
  SELECT first_doc // {_VOCAB_BUCKET_DOCS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM first_seen GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket, new_terms,
       -- NULLS FIRST pinned: terms first seen only in NULL-id docs
       -- land in a NULL bucket, which Spark's window orders first and
       -- DuckDB last (dup/NULL-id fixture finding)
       CAST(SUM(new_terms) OVER (ORDER BY bucket ASC NULLS FIRST)
            AS BIGINT) AS vocab_size
FROM bucketed
""",
)
def q155_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-vocabulary size
    after each block of {_VOCAB_BUCKET_DOCS} documents (in doc_id
    order). A corpus whose curve flattens early is recycling content —
    the cheap pre-dedup smell test run before any MinHash pass.

    The curve is computed WITHOUT any running distinct-count: each
    term contributes exactly once, at its first-seen doc, so
    vocab(bucket) = cumulative sum of first-seen counts — turning an
    O(n * vocab) sliding distinct into one explode + two hash aggs.

    Scale shape: explode -> partial-agg min(doc_id) per term (map-side
    combine collapses within-partition repeats) -> tiny per-bucket agg
    -> cumulative window over |corpus|/{_VOCAB_BUCKET_DOCS} rows on
    the driver-sized aggregate. No sorts over the corpus; the single
    big exchange is the term-keyed agg, same ceiling as q67's df/cf."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens("text").alias("_tok"))
    term = F.explode(word_ngrams_t(F.col("_tok"), 2)).alias("term")
    first_seen = (
        staged.select("doc_id", term)
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bucketed = (
        first_seen.groupBy(
            F.floor(F.col("first_doc") / _VOCAB_BUCKET_DOCS).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "new_terms",
        F.sum("new_terms").over(w).cast("bigint").alias("vocab_size"),
    )


@register(
    "q156_zipf_curve",
    tags=("text", "llm-data", "corpus-stats"),
    oracle=f"""
WITH tok AS (
  SELECT lang, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (
  SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY lang, term
),
ranked AS (
  SELECT lang, freq,
         row_number() OVER (
           PARTITION BY lang ORDER BY freq DESC, term ASC) AS rnk
  FROM tf
)
SELECT lang,
       CAST(LENGTH(bin(rnk)) - 1 AS INT) AS log2_rank,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(freq) AS BIGINT) AS total_freq,
       CAST(MAX(freq) AS BIGINT) AS max_freq,
       CAST(MIN(freq) AS BIGINT) AS min_freq
FROM ranked
GROUP BY lang, log2_rank
""",
)
def q156_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve in log2-rank buckets, per language:
    the corpus-health fingerprint (a healthy natural corpus decays
    ~1/rank; template spam shows up as a fat head or a cliff).

    All-integer: frequency ranks use row_number with a (freq DESC,
    term ASC) total order — deterministic in both engines — and the
    bucket is the binary-digit-count floor(log2) trick (q76/q152), so
    no doubles exist anywhere in the result.

    Scale shape: explode -> (lang, term) partial agg (q67's ceiling),
    then the rank window partitions by LANG ONLY — the documented
    bottleneck. Vocabulary is sublinear in corpus size (Heaps: ~1e8
    terms at 100 TB), so the per-lang sort is a single fat partition
    of ~1e8 narrow rows — heavy but bounded, and it sorts the VOCAB,
    never the corpus. The rank-free alternative (freq-histogram +
    cumulative counts) is documented in SCALING.md for engines where
    even that sort is too hot."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(tokens("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("term"))
    ranked = tf.select("lang", "freq", F.row_number().over(w).alias("rnk"))
    bucket = (F.length(F.bin(F.col("rnk"))) - 1).cast("int")
    return ranked.groupBy("lang", bucket.alias("log2_rank")).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("freq").cast("bigint").alias("total_freq"),
        F.max("freq").cast("bigint").alias("max_freq"),
        F.min("freq").cast("bigint").alias("min_freq"),
    )


_QDEC_Q = 1_000_000  # quality lattice — same grain as q261's _LQP_Q


@register(
    "q166_quality_decile_profile",
    tags=("text", "llm-data", "quality", "percentile", "histogram"),
    oracle=f"""
WITH scored AS (
  SELECT lang,
         CAST(FLOOR({_SQL_QUALITY} * {_QDEC_Q}) AS BIGINT) AS quality_q
  FROM documents WHERE text IS NOT NULL
),
hist AS (
  {sql_int_hist('scored', 'quality_q', 'lang')}
)
SELECT lang, CAST((10 * below) // n AS INT) AS decile,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       MIN(quality_q) AS q_min_q,
       MAX(quality_q) AS q_max_q,
       CAST(SUM(quality_q * cnt) AS BIGINT) AS q_sum_q
FROM hist
GROUP BY lang, CAST((10 * below) // n AS INT)
""",
)
def q166_quality_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile normalization of the q31 quality score:
    each document lands in its lang-relative decile (cross-lingual
    quality thresholds are meaningless raw — a 0.6 in en and a 0.6 in
    fr sit at different percentiles; training-mix gates cut at
    deciles, not absolute scores). The profile reports each decile's
    population, quality range and quality mass — the gate-calibration
    table, on the _QDEC_Q integer lattice.

    r8 rewrite (the round-7 driver red): the old form bucketed on
    interpolated percentile() boundaries — doubles whose last ulp is
    engine-version-dependent, so one flipped ulp moved a document
    across a decile edge (rows/schema green, hash red). Now integer-
    exact end to end: quality quantized by FLOOR (bit-identical IEEE
    multiply+floor in both engines), deciles assigned as rank
    thresholds (10·below) DIV n over the (lang, quality_q) int_hist,
    and every output column derived from the histogram itself —
    no interpolated double exists anywhere in the plan.

    Scale: ONE corpus pass and ONE corpus-sized exchange (the
    map-side-combined histogram agg); everything after runs on the
    histogram, bounded by |langs| × the 1e6-point quality lattice
    regardless of corpus size. The old broadcast-back-to-scan pass is
    gone — the histogram already carries the per-decile populations
    and quality mass."""
    tok = F.col("_tok")
    scored = (
        _staged(spark, sf_dir, "lang", "text")
        .filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.floor(_quality_t(tok) * _QDEC_Q).cast("bigint").alias(
                "quality_q"
            ),
        )
    )
    hist = int_hist(scored, "quality_q", "lang")
    decile = F.expr("CAST((10 * below) div n AS INT)")
    return hist.groupBy("lang", decile.alias("decile")).agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.min("quality_q").alias("q_min_q"),
        F.max("quality_q").alias("q_max_q"),
        F.sum(F.col("quality_q") * F.col("cnt"))
        .cast("bigint")
        .alias("q_sum_q"),
    )


@register(
    "q167_source_boilerplate",
    tags=("text", "llm-data", "quality", "dedup"),
    oracle=f"""
WITH bg AS (
  SELECT source,
         unnest(list_transform(range(1, greatest(len({_SQL_TOKENS}), 2)),
                i -> concat_ws(' ', ({_SQL_TOKENS})[i::INT],
                               ({_SQL_TOKENS})[i::INT + 1]))) AS bigram
  FROM documents
),
per_bg AS (
  SELECT source, bigram, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY source, bigram
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS total_bigrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
       CAST(COUNT(*) AS DOUBLE) / SUM(c) AS type_token_ratio,
       CAST(MAX(c) AS BIGINT) AS max_bigram_count,
       CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)) AS repeat_mass
FROM per_bg
GROUP BY source
""",
)
def q167_source_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate detection per source: the bigram
    type-token ratio over a source's whole output (q107 measures
    repetition INSIDE one doc; a template farm repeats across docs and
    looks clean per-doc). A source whose million docs share 5k
    distinct bigrams (TTR → 0) is a mirror/template site — the
    RefinedWeb-style source-level kill decision this table feeds.
    repeat_mass is the Simpson collision probability of the source's
    bigram distribution (two random bigrams identical) — the same
    log-free diversity discipline as q165.

    Shape: explode → (source, bigram) partial agg (map-side combine
    collapses within-partition repeats — boilerplate by definition
    collapses hard), then |sources| rows. All integer sums, three
    final divides."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("source", tokens("text").alias("_tok"))
    per_bg = (
        staged.select(
            # plain explode (not explode_outer), matching q155: the oracle's
            # unnest(NULL/empty) emits nothing, and explode is the Spark twin
            # of that contract — explode_outer would emit a NULL-bigram row
            # for a NULL/empty text and silently diverge from the oracle
            "source", F.explode(word_ngrams_t(F.col("_tok"), 2)).alias("bigram")
        )
        .groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c")
    sc = F.sum(c)
    return per_bg.groupBy("source").agg(
        sc.cast("bigint").alias("total_bigrams"),
        F.count(F.lit(1)).alias("distinct_bigrams"),
        (F.count(F.lit(1)).cast("double") / sc).alias("type_token_ratio"),
        F.max(c).cast("bigint").alias("max_bigram_count"),
        (F.sum(c * c).cast("double") / (sc * sc)).alias("repeat_mass"),
    )


@register(
    "q176_tokenizer_fertility",
    tags=("text", "llm-data", "tokenize", "eval"),
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_pieces,
         CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS DOUBLE)
           / len({_SQL_TOKENS}) AS fertility
  FROM documents
),
fq AS (
  SELECT lang, CAST(FLOOR(fertility * 1000000.0) AS BIGINT) AS fqv
  FROM per_doc WHERE fertility IS NOT NULL
),
fh AS (
  {sql_int_hist('fq', 'fqv', 'lang')}
),
med AS (
  SELECT lang, {sql_med2('fqv')} AS fert2
  FROM fh GROUP BY lang
)
SELECT p.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_words) AS BIGINT) AS total_words,
       CAST(SUM(p.n_pieces) AS BIGINT) AS total_pieces,
       CAST(SUM(p.n_pieces) AS DOUBLE) / SUM(p.n_words) AS corpus_fertility,
       CAST(MIN(m.fert2) AS BIGINT) AS p50_fertility2_q,
       MAX(p.fertility) AS max_fertility
FROM per_doc p LEFT JOIN med m ON m.lang IS NOT DISTINCT FROM p.lang
GROUP BY p.lang
""",
)
def q176_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pieces per whitespace
    word (q37's two counters, evaluated as a corpus metric). Fertility
    is THE cross-lingual tokenizer-fairness number — a lang at 3×
    pieces/word pays 3× the context budget and 3× the compute per
    sentence; mixing policy (q120/q147) should see this table before
    weighting languages by raw document counts.

    Per-doc fertility is an integer-ratio double (engine-exact); the
    corpus ratio is a ratio of exact integer sums. r8 de-float
    (q166's class): the fertility median was an interpolated
    percentile over arbitrary doubles — engine-version ulp-fragile —
    and is now the exact integer midrank pair sum over the
    FLOOR(·1e6)-quantized fertility (p50_fertility2_q; median =
    value/2e6). max_fertility stays a raw double: a selection of a
    pinned expression, no arithmetic. Shape: in-row counts, one
    |langs| hash agg + a |langs|×lattice histogram median — never
    corpus-wide state."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("lang", "text", tokens("text").alias("_tok"))
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    per_doc = staged.select(
        "lang",
        F.size(F.col("_tok")).cast("bigint").alias("n_words"),
        F.size(bpe).cast("bigint").alias("n_pieces"),
        (F.size(bpe).cast("double") / F.size(F.col("_tok"))).alias("fertility"),
    )
    fh = int_hist(
        per_doc.filter(F.col("fertility").isNotNull()).select(
            "lang",
            F.floor(F.col("fertility") * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("fqv"),
        ),
        "fqv",
        "lang",
    )
    med = (
        fh.groupBy("lang")
        .agg(med2("fqv").alias("fert2"))
        .withColumnRenamed("lang", "_lang")
    )
    return (
        per_doc.join(
            F.broadcast(med),
            per_doc["lang"].eqNullSafe(F.col("_lang")),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_pieces").cast("bigint").alias("total_pieces"),
            (F.sum("n_pieces").cast("double") / F.sum("n_words")).alias(
                "corpus_fertility"
            ),
            F.min("fert2").cast("bigint").alias("p50_fertility2_q"),
            F.max("fertility").alias("max_fertility"),
        )
    )


@register(
    "q178_bow_duplicate_groups",
    tags=("text", "llm-data", "dedup", "contamination"),
    oracle=f"""
WITH fp AS (
  SELECT doc_id, lang, {sql_bow_fp(_SQL_TOKENS)} AS bow_fp
  FROM documents
),
groups AS (
  SELECT bow_fp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         MIN(doc_id) AS exemplar_doc
  FROM fp GROUP BY bow_fp
)
SELECT bow_fp, n_docs, n_langs, exemplar_doc
FROM groups
WHERE n_docs > 1
""",
)
def q178_bow_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words duplicate groups: documents whose DISTINCT token
    sets are identical (md5 of the sorted vocabulary) — the
    order-invariant duplicate class that exact fingerprints (q40/q33)
    miss by construction: token-shuffled templates, re-ordered
    boilerplate, column-permuted exports. The lang spread per group is
    the mislabel signal (one byte-identical vocabulary can't be two
    languages). Sits between q40 (exact) and q42 (MinHash ~Jaccard) in
    the dedup cascade: exact on the SET, free of MinHash's banding
    false negatives, one deterministic pass.

    Shape: in-row sort of the per-doc distinct vocabulary (bounded by
    doc length, not corpus), ONE fp-keyed partial agg, dup filter on
    the aggregate — q40's plan with a canonicalized key."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", "lang", tokens("text").alias("_tok"))
    fp = staged.select(
        "doc_id", "lang", bow_fingerprint_t(F.col("_tok")).alias("bow_fp")
    )
    return (
        fp.groupBy("bow_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q182_token_cdf",
    tags=("text", "llm-data", "histogram", "planning"),
    oracle=f"""
WITH per_doc AS (
  SELECT CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok FROM documents
  WHERE text IS NOT NULL
),
hist AS (
  SELECT CAST(LENGTH(bin(n_tok)) - 1 AS INT) AS log2_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY log2_tokens
)
SELECT log2_tokens, n_docs, n_tokens,
       CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
       CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(SUM(n_tokens) OVER w AS DOUBLE)
         / SUM(n_tokens) OVER () AS cum_token_share
FROM hist
WINDOW w AS (ORDER BY log2_tokens ROWS UNBOUNDED PRECEDING)
""",
)
def q182_token_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass CDF by document length: what fraction of the corpus's
    TOKENS (not documents) lives at or below each log2 length bucket —
    the context-length planning table (if 60% of token mass sits in
    docs longer than the training context, the chunker (q83) is doing
    most of the work and packing (q66) efficiency dominates cost).
    Extends q76's doc-count histogram with the token-mass cumulative —
    counts and masses are different curves when length is heavy-tailed.

    All-integer until the final share divide. Shape: in-row count, one
    ~15-key partial agg, cumulative windows over the 15-row aggregate
    (the OVER () total is a 1-row broadcast-style window on the same
    tiny relation, not a corpus exchange)."""
    # NULL-text docs are excluded in BOTH engines (explicit WHERE in
    # the oracle, scan prefilter here): a tokenless doc is not a length
    # bucket, and a NULL log2 group would sort NULLS-FIRST in Spark's
    # cumulative window but NULLS-LAST in DuckDB's — shifting the whole
    # CDF (hostile-input sweep finding).
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tok = F.size(tokens("text")).cast("bigint")
    hist = (
        d.select(n_tok.alias("n_tok"))
        .groupBy(
            (F.length(F.bin(F.col("n_tok"))) - 1).cast("int").alias("log2_tokens")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.orderBy("log2_tokens").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return hist.select(
        "log2_tokens",
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        (
            F.sum("n_tokens").over(w).cast("double")
            / F.sum("n_tokens").over(wall)
        ).alias("cum_token_share"),
    )


_PAIR_MIN_SUPPORT = 5
_PAIR_TOPK = 20


@register(
    "q183_token_pair_lift",
    tags=("text", "llm-data", "association", "topk"),
    oracle=f"""
WITH dt AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS tok FROM documents
),
tok_df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS co_df
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY tok_a, tok_b
)
SELECT p.tok_a, p.tok_b, p.co_df, da.df AS df_a, db.df AS df_b,
       CAST(p.co_df * n.n_docs AS DOUBLE) / (da.df * db.df) AS lift
FROM pairs p
JOIN tok_df da ON da.tok = p.tok_a
JOIN tok_df db ON db.tok = p.tok_b
CROSS JOIN n
WHERE p.co_df >= {_PAIR_MIN_SUPPORT}
ORDER BY lift DESC, tok_a ASC, tok_b ASC
LIMIT {_PAIR_TOPK}
""",
)
def q183_token_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair association mining by lift (q134's market-basket
    shape moved to text): P(a,b)/(P(a)·P(b)) over document
    co-occurrence, minimum support {_PAIR_MIN_SUPPORT}, top
    {_PAIR_TOPK} — collocation discovery (multi-word entities,
    template phrases) without logs: lift is an exact integer ratio,
    where PMI would drag in libm.

    Shape: per-doc DISTINCT tokens explode once; the pair join keys on
    doc_id, so fan-out is bounded by per-doc vocabulary² (docs are
    bounded; corpus size only multiplies the number of docs, not the
    per-doc work); token df's broadcast back onto the |vocab|²-bounded
    pair aggregate; TakeOrdered top-k. The support filter prunes the
    long tail before the df joins."""
    d = t(spark, sf_dir, "documents")
    # NOT repartition-staged (the lsh-operator fix does not transfer):
    # tok_df and n reach the join as BROADCAST sides, whose wrappers
    # block static ReusedExchange of a staged dt — measured 7 un-reused
    # exchanges staged vs 3 inline. The regex subtree re-evaluates per
    # branch instead, the cheaper trade at |vocab|≈50.
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    tok_df = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    a = dt.alias("a")
    b = dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= _PAIR_MIN_SUPPORT)
    )
    da = tok_df.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    db = tok_df.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "co_df",
            "df_a",
            "df_b",
            (
                (F.col("co_df") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(_PAIR_TOPK)
    )


@register(
    "q198_source_lang_routing",
    tags=("text", "llm-data", "mixing", "routing"),
    oracle="""
WITH m AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
),
ranked AS (
  -- NULLS FIRST pinned on the majority tie-break: a NULL-lang group is
  -- real data, and Spark's ASC orders it first where DuckDB's orders
  -- it last, flipping the winner on ties (dup/NULL-id fixture)
  SELECT source, lang, c,
         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n_source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY c DESC, lang ASC NULLS FIRST) AS rn
  FROM m
)
SELECT source, n_source,
       lang AS majority_lang,
       c AS majority_docs,
       CAST(c AS DOUBLE) / n_source AS purity
FROM ranked
WHERE rn = 1
""",
)
def q198_source_lang_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source→language routing table: each source's majority language
    and its purity (majority share). The ingestion-router QC that
    q154 (classifier confusion) and q165 (within-lang source mix)
    bracket from the other two sides: a source at purity 0.55 needs
    per-document routing, one at 0.99 can route wholesale — at 100 TB
    that decision is a 45% lang-ID compute saving.

    All integers + one integer-ratio divide; deterministic majority
    tie-break (count DESC, lang ASC). Shape: one (source, lang)
    partial agg; the share window and rank run on that tiny aggregate
    (one extra exchange on source)."""
    d = t(spark, sf_dir, "documents")
    m = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    ws = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    ranked = m.select(
        "source",
        "lang",
        "c",
        F.sum("c").over(ws).cast("bigint").alias("n_source"),
        F.row_number().over(wr).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "source",
        "n_source",
        F.col("lang").alias("majority_lang"),
        F.col("c").alias("majority_docs"),
        (F.col("c").cast("double") / F.col("n_source")).alias("purity"),
    )


@register(
    "q200_corpus_scorecard",
    tags=("text", "llm-data", "quality", "composition", "flagship"),
    oracle=f"""
WITH staged AS (
  SELECT doc_id, lang, source,
         md5(list_aggregate({_SQL_TOKENS}, 'string_agg', ' ')) AS fp,
         {sql_bow_fp(_SQL_TOKENS)} AS bow_fp,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
         {_SQL_QUALITY} AS quality
  FROM documents
),
lang_c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM staged GROUP BY lang
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM staged) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lang_c) AS n_langs,
       (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM staged)
         AS n_sources,
       (SELECT CAST(SUM(c) * SUM(c) AS DOUBLE) / SUM(c * c) FROM lang_c)
         AS effective_langs,
       (SELECT CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) FROM staged)
         AS exact_dup_docs,
       (SELECT CAST(COUNT(*) - COUNT(DISTINCT bow_fp) AS BIGINT) FROM staged)
         AS bow_dup_docs,
       (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM staged) AS total_tokens,
       (SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 5e-1) FROM staged)
         AS p50_tokens,
       (SELECT CAST({{qs}} AS DOUBLE) / 1e12 / COUNT(*) FROM staged)
         AS mean_quality
""".format(qs="SUM(CAST(FLOOR(quality * 1000000000000.0) AS BIGINT))"),
)
def q200_corpus_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus healthcheck scorecard — one row, nine numbers, every
    signal family in this catalog contributing its headline: volume
    (docs/tokens/p50 length), diversity (langs, sources, q165's
    inverse-Simpson effective languages), duplication (exact and
    bag-of-words dup counts — q40/q178's keys), and quality (q31's
    mean score). This is the table a corpus snapshot publishes beside
    its parquet: if one number moves week over week, the relevant
    deep-dive query (q154-q196) is one hop away.

    Shape: ONE staged scan computes every per-doc signal in-row
    (fingerprints, token count, quality), then a handful of
    driver-sized aggregates over it — two distinct-counts on 16-byte
    keys are the only exchanges that grow with the corpus. Quality
    reduces through the qsum ladder.

    p50_tokens is the ONE interpolated percentile the r8 de-float
    (q166's class) deliberately kept: at f = 1/2 over INTEGER-valued
    doubles below 2^52, every intermediate of every linear-
    interpolation formula — (n−1)·0.5, hi−lo, ·0.5, +lo, or
    (lo+hi)·0.5 — is exactly representable, so any correct
    implementation returns the identical bit pattern regardless of
    engine version. The hazard the de-float removed only exists for
    non-dyadic fractions or non-integer values. tools/ulp_canary.py
    allowlists exactly this expression."""
    d = t(spark, sf_dir, "documents")
    # token array staged ONCE (module-docstring rule: unstaged, the
    # regex split re-evaluates per referencing column — 4x here)
    tok = F.col("_tok")
    staged = d.select(
        "doc_id", "lang", "source", "text", tokens("text").alias("_tok")
    ).select(
        "doc_id",
        "lang",
        "source",
        fingerprint_t(tok).alias("fp"),
        bow_fingerprint_t(tok).alias("bow_fp"),
        F.size(tok).cast("bigint").alias("n_tokens"),
        _quality_t(tok).alias("quality"),
    )
    lang_c = staged.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    lc = lang_c.agg(
        F.count(F.lit(1)).alias("n_langs"),
        (
            (F.sum("c") * F.sum("c")).cast("double") / F.sum(F.col("c") * F.col("c"))
        ).alias("effective_langs"),
    )
    qq = F.sum(F.floor(F.col("quality") * F.lit(1e12)).cast("bigint"))
    main = staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("exact_dup_docs"),
        (F.count(F.lit(1)) - F.countDistinct("bow_fp"))
        .cast("bigint")
        .alias("bow_dup_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.percentile(F.col("n_tokens").cast("double"), 0.5).alias("p50_tokens"),
        (qq.cast("double") / F.lit(1e12) / F.count(F.lit(1))).alias(
            "mean_quality"
        ),
    )
    return main.crossJoin(F.broadcast(lc)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "effective_langs",
        "exact_dup_docs",
        "bow_dup_docs",
        "total_tokens",
        "p50_tokens",
        "mean_quality",
    )


# ---- q207: chunk-level (paragraph) deduplication census ------------------

_CHUNK_W = 8  # tokens per non-overlapping chunk ("paragraph" unit)

# Non-overlapping full chunks: chunk i covers tokens [(i-1)*W+1, i*W].
# floor(n/W) chunks; the oracle's doc-level len >= W filter and the
# Spark side's chunk-level "exactly W words" filter select the same
# rows (a truncated tail chunk has < W space-joined words; real tokens
# never contain whitespace — same equivalence q79 relies on).
_SQL_CHUNKS = (
    f"list_transform("
    f"range(1, CAST(FLOOR(len({_SQL_TOKENS}) / {float(_CHUNK_W)}) AS INT) + 1), "
    f"i -> concat_ws(' ', "
    + ", ".join(
        f"({_SQL_TOKENS})[(i-1)*{_CHUNK_W} + {j + 1}]" for j in range(_CHUNK_W)
    )
    + "))"
)


@register(
    "q207_chunk_dedup_census",
    tags=("text", "dedup", "llm-data", "agg"),
    oracle=f"""
WITH ch AS (
  SELECT doc_id, source, unnest({_SQL_CHUNKS}) AS chunk
  FROM documents
  WHERE len({_SQL_TOKENS}) >= {_CHUNK_W}
),
stats AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
  FROM ch GROUP BY chunk
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT c.chunk) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crossdoc_dup_chunks,
       CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_share
FROM ch c JOIN stats s ON s.chunk = c.chunk
GROUP BY c.source
""",
)
def q207_chunk_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) duplication census: documents are
    cut into non-overlapping {_CHUNK_W}-token chunks — the paragraph
    unit for corpora whose text carries no structural delimiters — and
    each source is scored by the share of its chunk occurrences whose
    chunk text recurs in ≥ 2 distinct documents. This is the
    boilerplate/template detector that document-level dedup (q40/q42)
    cannot see: two distinct pages sharing a nav footer dedup nowhere,
    but their shared chunks light up here.

    Shape: one staged tokenize + in-row chunk build (no join), one
    chunk-stats agg (map-side combine on the chunk key), one equi-join
    of occurrences back to stats, one per-source agg. At 100 TB the
    chunk string key becomes xxhash64(chunk) — same topology, 8-byte
    shuffle keys — and the stats relation is the reusable corpus-wide
    "chunk frequency" artifact."""
    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", "source", tokens("text").alias("_tok"))
    n_chunks = F.floor(F.size(F.col("_tok")) / F.lit(float(_CHUNK_W))).cast(
        "int"
    )
    chunk_expr = F.transform(
        F.sequence(F.lit(1), F.greatest(n_chunks, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            *[
                F.try_element_at(
                    F.col("_tok"), (i - 1) * _CHUNK_W + (j + 1)
                )
                for j in range(_CHUNK_W)
            ],
        ),
    )
    full_chunk = F.size(F.split(F.col("chunk"), " ")) == _CHUNK_W
    # repartition on the join key: the chunk-occurrence exchange feeds
    # both the stats agg and the join probe side (ReusedExchange), so
    # the tokenize+chunk pipeline runs once, and the stats agg becomes
    # partition-local on the pre-hashed key
    ch = (
        staged.select(
            "doc_id", "source", F.explode_outer(chunk_expr).alias("chunk")
        )
        .filter(full_chunk)
        .repartition("chunk")
    )
    stats = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        ch.join(stats, "chunk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("chunk").cast("bigint").alias("n_distinct_chunks"),
            F.sum(dup).cast("bigint").alias("n_crossdoc_dup_chunks"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_share"),
        )
    )


# ---- q217: bigram language-model fluency score ---------------------------

# Quantization for the smoothed bigram probability: p_q = (Q*(c12+1)) div
# (c1 + V), all BIGINT. Q=1e9 bounds Q*(c12+1) < 2^63 for bigram counts up
# to ~9.2e9 occurrences; at the 100 TB design point Q drops to 1e6 (same
# monotonicity, 3 fewer digits of resolution) — the dial is this constant.
_LM_Q = 1_000_000_000


@register(
    "q217_bigram_lm_score",
    tags=("text", "llm-data", "quality", "lm"),
    oracle=f"""
WITH nn AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> concat_ws(' ', toks[i::INT], toks[i::INT + 1]))) AS bigram
  FROM nn WHERE len(toks) >= 2
),
c12 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12 FROM occ GROUP BY bigram),
c1 AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM occ GROUP BY w1
),
v AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest({_SQL_TOKENS}) AS tok
        FROM documents WHERE text IS NOT NULL)
),
sc AS (
  SELECT b.bigram,
         CAST(({_LM_Q} * (b.c12 + 1)) // (c.c1 + (SELECT v FROM v)) AS BIGINT)
           AS p_q
  FROM c12 b JOIN c1 c ON c.w1 = split_part(b.bigram, ' ', 1)
),
docbg AS (
  SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS m
  FROM occ GROUP BY doc_id, bigram
)
SELECT d.doc_id,
       CAST(SUM(d.m) AS BIGINT) AS n_bigrams,
       CAST(SUM(d.m * s.p_q) AS BIGINT) AS sum_p_q,
       CAST(SUM(d.m * s.p_q) // SUM(d.m) AS BIGINT) AS avg_p_q
FROM docbg d JOIN sc s ON s.bigram = d.bigram
GROUP BY d.doc_id
""",
)
def q217_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM fluency scoring (the KenLM-style quality filter
    every pretraining pipeline runs, done cross-engine-exact): train an
    add-one-smoothed bigram model ON the corpus, then score each
    document by its mean smoothed bigram probability.

    The usual formulation is log-prob, but ln() differs in the last ulp
    between libm and DuckDB (the q93 lesson), so the score is the
    integer-quantized probability itself: p_q = (Q*(c12+1)) div
    (c1 + V) — same ordering of documents, bit-identical in both
    engines. c1 is the left-context occurrence count (sum over w2 of
    c12, computed directly from the bigram stream so the model is
    self-consistent), V the corpus vocabulary size.

    Scale shape: one explode into bigram occurrences feeds (a) the
    model counts c12/c1 (two partial-agg shuffles on bigram/w1 — the
    token-frequency table, NOT the token stream, is what shuffles
    twice) and (b) per-doc bigram multiplicities (doc_id,bigram). The
    scored model sc is bigram-keyed; the doc join probes it on bigram
    (SMJ at scale — the model is corpus-sized, never broadcast), then
    one final doc_id agg. V and nothing else crosses as a scalar
    broadcast."""
    # fan_out measured SLOWER here (1.51 → 2.69 s at sf0.1, r12): the
    # token pipeline feeds TWO aggregations that, unfanned, run as
    # concurrent independent scan stages; the serialized exchange write
    # through the single scan task costs more than the 32-way fan-out
    # of this query's moderate per-row work recovers.  Left unfanned —
    # the per-site-measurement rule (plans/_util.temb_f docstring).
    # ALSO measured (r12 wave 3): fan_out + localCheckpoint of the
    # tokenized (doc_id, _tok) relation — tokenize once, 32-wide, all
    # three consumers reading the materialization — is WORSE STILL
    # (1.30 → 2.10 s solo min-of-5): writing the token arrays costs
    # more than the two tokenize re-runs they replace.  The q42/q48
    # staging rule pays off only when the staged relation is NARROW
    # relative to the compute it deduplicates.
    nn = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
        .select("doc_id", tokens("text").alias("_tok"))
    )
    occ = (
        nn.filter(F.size("_tok") >= 2)
        .select(
            "doc_id",
            F.explode_outer(word_ngrams_t(F.col("_tok"), 2)).alias("bigram"),
        )
    )
    c12 = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    # c1 = Σ_w2 c12 — rolled up from the bigram table, NOT a second
    # explode of the token stream: the shuffle carries vocabulary-sized
    # counts either way, but this saves one full corpus scan+explode.
    c1 = (
        c12.groupBy(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1")
        )
        .agg(F.sum("c12").alias("c1"))
    )
    v1 = (
        nn.select(F.explode_outer("_tok").alias("tok"))
        .agg(F.countDistinct("tok").alias("_v"))
    )
    sc = (
        c12.join(
            c1,
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w1"),
        )
        .crossJoin(F.broadcast(v1))
        .select(
            "bigram",
            F.expr(f"CAST(({_LM_Q} * (c12 + 1)) div (c1 + _v) AS BIGINT)").alias(
                "p_q"
            ),
        )
    )
    docbg = occ.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("m"))
    return (
        docbg.join(sc, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("p_q")).cast("bigint").alias("sum_p_q"),
            F.expr("CAST(SUM(m * p_q) div SUM(m) AS BIGINT)").alias("avg_p_q"),
        )
    )


# ---- q218: per-source distribution divergence ----------------------------

# Total-variation distance (0.5 * L1 between unigram distributions) —
# chosen over KL/JS precisely because it needs NO logarithm: quantized
# probabilities subtract and take ABS in exact BIGINT arithmetic.
_TV_Q = 1_000_000_000


@register(
    "q218_source_divergence",
    tags=("text", "llm-data", "mixing", "drift"),
    oracle=f"""
WITH occ AS (
  SELECT source, unnest({_SQL_TOKENS}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM occ),
gtok AS (
  SELECT tok,
         CAST(({_TV_Q} * CAST(COUNT(*) AS BIGINT)) // (SELECT t FROM tot)
              AS BIGINT) AS p_q
  FROM occ GROUP BY tok
),
totp AS (SELECT CAST(SUM(p_q) AS BIGINT) AS total_p_q FROM gtok),
srctot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ts FROM occ GROUP BY source),
src AS (
  SELECT o.source, o.tok, CAST(COUNT(*) AS BIGINT) AS cst
  FROM occ o GROUP BY o.source, o.tok
)
SELECT s.source,
       CAST(MIN(st.ts) AS BIGINT) AS n_token_occ,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(ABS(({_TV_Q} * s.cst) // st.ts - g.p_q)) - SUM(g.p_q)
            + (SELECT total_p_q FROM totp) AS BIGINT) AS tv_q,
       CAST(SUM(ABS(({_TV_Q} * s.cst) // st.ts - g.p_q)) - SUM(g.p_q)
            + (SELECT total_p_q FROM totp) AS DOUBLE) / {2.0 * _TV_Q}
         AS tv
FROM src s
JOIN srctot st ON st.source IS NOT DISTINCT FROM s.source
JOIN gtok g ON g.tok = s.tok
GROUP BY s.source
""",
)
def q218_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift audit for corpus mixing: total-variation distance
    between each source's unigram distribution and the whole-corpus
    distribution. TV = ½·Σ|p_s - p| over ALL tokens; tokens absent
    from a source contribute p each, folded in as (total_p_q - Σ_{{t∈s}}
    p_q) so the join only materializes (source, token) pairs that
    exist — never the sources × vocabulary cross product.

    TV (not KL/JS) because it is logarithm-free: quantized integer
    probabilities ((Q·c) div T) subtract exactly in both engines. The
    double ``tv`` divides the integer by the exact constant 2Q —
    IEEE-deterministic.

    Scale: one explode feeds the (source,token) partial agg; the
    global token table joins on token (SMJ, both sides corpus-
    vocabulary-sized); per-source totals broadcast. Final agg is
    #sources rows."""
    occ = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", tokens("text").alias("_tok"))
        .select("source", F.explode_outer("_tok").alias("tok"))
    )
    # ONE explode + one (source,token) partial agg; every other count
    # is a rollup of `src` (vocabulary-sized shuffles, never the token
    # stream again): global token counts = Σ_sources cst, per-source
    # totals = Σ_tokens cst, corpus total = Σ ts.
    src = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cst"))
    srctot = src.groupBy("source").agg(F.sum("cst").alias("ts"))
    tot = srctot.agg(F.sum("ts").alias("_t"))
    glob = (
        src.groupBy("tok")
        .agg(F.sum("cst").alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.expr(f"CAST(({_TV_Q} * c) div _t AS BIGINT)").alias("p_q"),
        )
    )
    totp = glob.agg(F.sum("p_q").cast("bigint").alias("_total_p_q"))
    # null-safe equality on source: a NULL source must still find its
    # own total (the oracle's IS NOT DISTINCT FROM), or its rows drop
    # and the NULL group silently vanishes on one side only.
    j = (
        src.alias("s")
        .join(
            F.broadcast(srctot).alias("st"),
            F.expr("s.source <=> st.source"),
        )
        .select("s.source", "s.tok", "s.cst", "st.ts")
        .join(glob, "tok")
    )
    dev = F.abs(F.expr(f"({_TV_Q} * cst) div ts") - F.col("p_q"))
    return (
        j.groupBy("source")
        .agg(
            F.min("ts").cast("bigint").alias("n_token_occ"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
            (F.sum(dev) - F.sum("p_q")).alias("_part"),
        )
        .crossJoin(F.broadcast(totp))
        .select(
            "source",
            "n_token_occ",
            "n_distinct_tokens",
            (F.col("_part") + F.col("_total_p_q")).cast("bigint").alias("tv_q"),
            (
                (F.col("_part") + F.col("_total_p_q")).cast("double")
                / F.lit(2.0 * _TV_Q)
            ).alias("tv"),
        )
    )


# ---- q219: DSIR-style hashed importance weights --------------------------

_DSIR_B = 256  # hashed feature buckets
_DSIR_Q = 1_000_000_000
_DSIR_TARGET_LANG = "en"


@register(
    "q219_dsir_importance",
    tags=("text", "llm-data", "sampling", "quality"),
    oracle=f"""
WITH occ AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(unnest({_SQL_TOKENS})), 1, 8))::BIGINT % {_DSIR_B}
           AS b
  FROM documents WHERE text IS NOT NULL
),
raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM occ GROUP BY b),
rawtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tr FROM occ),
tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM occ
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
),
tgttot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM occ
  WHERE lang = '{_DSIR_TARGET_LANG}'
),
wt AS (
  SELECT r.b,
         CAST(({_DSIR_Q} * (COALESCE(g.ct, 0) + 1))
                // ((SELECT tt FROM tgttot) + {_DSIR_B})
              - ({_DSIR_Q} * (r.cr + 1))
                // ((SELECT tr FROM rawtot) + {_DSIR_B}) AS BIGINT) AS w_q
  FROM raw r LEFT JOIN tgt g ON g.b = r.b
),
docb AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS m FROM occ GROUP BY doc_id, b
)
SELECT d.doc_id,
       CAST(SUM(d.m) AS BIGINT) AS n_tokens,
       CAST(SUM(d.m * w.w_q) AS BIGINT) AS weight_q
FROM docb d JOIN wt w ON w.b = d.b
GROUP BY d.doc_id
""",
)
def q219_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hash unigram
    features into {_DSIR_B} buckets, estimate add-one-smoothed bucket
    distributions for the TARGET slice (lang = en — the proxy for
    "high-quality target domain") and the RAW corpus, and weight each
    document by Σ_tokens (p_target(b) - p_raw(b)).

    Published DSIR uses log-ratios; the quantized DIFFERENCE of bucket
    probabilities keeps the same resample ordering for near-flat ratios
    while staying in exact BIGINT arithmetic (no libm). md5 is the
    portable hash (the q140 convention): identical bucket assignment in
    both engines.

    Scale: the model side collapses to {_DSIR_B} rows — broadcast to
    the per-doc bucket multiplicities (one explode + one
    (doc_id,bucket) partial agg + map-side join + doc agg). The
    corpus never shuffles by token, only by the 256-bucket key and
    doc_id."""
    occ = (
        # fan_out measured SLOWER here (1.10 → 2.97 s at sf0.1, r12):
        # same two-consumer shape as q217 — unfanned, the cnt and docb
        # aggregations scan concurrently; fanned, both wait on one
        # serialized exchange write.  Left unfanned (the per-site-
        # measurement rule, plans/_util.temb_f docstring).
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", tokens("text").alias("_tok"))
        .select("doc_id", "lang", F.explode_outer("_tok").alias("_t"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("_t"), 1, 8), 16, 10).cast("bigint")
                % _DSIR_B
            ).alias("b"),
        )
        # r12 wave 3: localCheckpoint staging of this two-consumer
        # relation measured SLOWER too (0.98 → 1.08 s solo min-of-5) —
        # materializing one row per token costs more than the one
        # tokenize+md5 re-run it saves.  Left as concurrent re-compute.
    )
    # One (bucket, is-target) partial agg (≤ 2·B = 512 keys) feeds every
    # model count as a rollup — the token stream aggregates map-side
    # once for the model, once for the per-doc multiplicities.
    is_t = F.col("lang") == _DSIR_TARGET_LANG
    cnt = occ.groupBy("b", is_t.alias("_is_t")).agg(
        F.count(F.lit(1)).alias("c")
    )
    raw = cnt.groupBy("b").agg(F.sum("c").alias("cr"))
    # COALESCE(.., 0): the oracle's totals are COUNT(*) — 0, never
    # NULL, when the slice is empty — while SUM over an empty rollup
    # is NULL; an all-non-target corpus made every weight NULL in
    # Spark against real values in DuckDB (all_one fixture, r10)
    rawtot = raw.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("tr"))
    tgt = cnt.filter(F.col("_is_t")).select("b", F.col("c").alias("ct"))
    tgttot = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    wt = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(rawtot))
        .crossJoin(F.broadcast(tgttot))
        .select(
            "b",
            F.expr(
                f"CAST(({_DSIR_Q} * (COALESCE(ct, 0) + 1))"
                f" div (tt + {_DSIR_B})"
                f" - ({_DSIR_Q} * (cr + 1)) div (tr + {_DSIR_B}) AS BIGINT)"
            ).alias("w_q"),
        )
    )
    docb = occ.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("m"))
    return (
        docb.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_tokens"),
            F.sum(F.col("m") * F.col("w_q")).cast("bigint").alias("weight_q"),
        )
    )


# ---- q222: lexical richness / hapax census per source --------------------

_RICH_Q = 1_000_000  # type-token-ratio quantizer (ratio < 1, BIGINT-exact)


@register(
    "q222_lexical_richness",
    tags=("text", "llm-data", "quality"),
    oracle=f"""
WITH occ AS (
  SELECT source, unnest({_SQL_TOKENS}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ GROUP BY source, tok
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
       CAST(({_RICH_Q} * CAST(COUNT(*) AS BIGINT)) // SUM(c) AS BIGINT)
         AS ttr_q,
       CAST(({_RICH_Q} * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))
            // GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS BIGINT) AS hapax_share_q
FROM tc
GROUP BY source
""",
)
def q222_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness census per source — the vocabulary-health lens
    corpus curation reads next to q155's growth curve: token and type
    counts, hapax legomena (frequency-1 types — boilerplate-heavy or
    template-generated sources have anomalously FEW), dis legomena,
    and quantized type-token ratio + hapax share (Good-Turing's
    unseen-mass estimate is n_hapax/n_tokens — both numerators
    emitted, ratios integer-quantized so no float division).

    One explode → one (source,token) partial agg → one per-source
    rollup; the second shuffle carries vocabulary-sized rows. Zero
    joins, zero broadcasts."""
    occ = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", tokens("text").alias("_tok"))
        .select("source", F.explode_outer("_tok").alias("tok"))
    )
    tc = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        hapax.cast("bigint").alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dis"),
        F.expr(f"CAST(({_RICH_Q} * COUNT(1)) div SUM(c) AS BIGINT)").alias(
            "ttr_q"
        ),
        F.expr(
            f"CAST(({_RICH_Q} * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
            " div GREATEST(COUNT(1), 1) AS BIGINT)"
        ).alias("hapax_share_q"),
    )


# --------------------------------------------------------------------------
# q240 — quality-score language-bias AUC (rank-sum audit of the filter)
# --------------------------------------------------------------------------

_AUC_Q = 1_000_000


@register(
    "q240_quality_lang_bias_auc",
    tags=("text", "llm-data", "quality", "fairness", "eval"),
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         {_SQL_QUALITY} AS quality
  FROM documents
),
hist AS (
  -- unscoreable docs (NULL text => NULL quality) are excluded from the
  -- audit in BOTH engines: a NULL rank would otherwise ride each
  -- engine's opposite NULL ordering (hostile-fixture lesson)
  SELECT quality,
         CAST(SUM(is_en) AS BIGINT) AS n_en,
         CAST(SUM(1 - is_en) AS BIGINT) AS n_other
  FROM scored WHERE quality IS NOT NULL GROUP BY quality
),
cum AS (
  SELECT quality, n_en, n_other,
         COALESCE(SUM(n_en + n_other) OVER (
           ORDER BY quality ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM hist
)
SELECT CAST(SUM(n_en) AS BIGINT) AS n_en,
       CAST(SUM(n_other) AS BIGINT) AS n_other,
       CAST(SUM(n_en * (2*below + n_en + n_other + 1))
            - SUM(n_en) * (SUM(n_en) + 1) AS BIGINT) AS u_en_2x,
       CAST(CASE WHEN SUM(n_en) = 0 OR SUM(n_other) = 0 THEN 0
            ELSE FLOOR(
              (CAST(SUM(n_en * (2*below + n_en + n_other + 1))
                    - SUM(n_en) * (SUM(n_en) + 1) AS DOUBLE)
               / CAST(2 * SUM(n_en) * SUM(n_other) AS DOUBLE)) * {_AUC_Q})
            END AS BIGINT) AS auc_q
FROM cum
""",
)
def q240_quality_lang_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias audit of the q31 quality filter: the AUC of the quality
    score as a classifier of lang='en' vs everything else — rank-sum
    (Mann-Whitney) form, so it is exactly P(random en doc outscores a
    random non-en doc, ties half-credited). AUC far from 0.5 means the
    'quality' heuristic is substantially a LANGUAGE detector, and
    filtering on it reshapes the language mix — the audit every
    multilingual corpus pipeline should run before thresholding.

    Same engine-exact machinery as q234: value-histogram ranks,
    doubled midranks keep ties integral, one final division
    (correctly-rounded IEEE on identical integers) quantized to
    auc_q. Shape: one (quality-value) histogram agg +
    histogram-sized window; the corpus never sorts."""
    tok = F.col("_tok")
    scored = _staged(spark, sf_dir, "text", "lang").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        _quality_t(tok).alias("quality"),
    )
    hist = (
        scored.filter(F.col("quality").isNotNull())
        .groupBy("quality")
        .agg(
            F.sum("is_en").cast("bigint").alias("n_en"),
            F.sum(F.lit(1) - F.col("is_en")).cast("bigint").alias("n_other"),
        )
    )
    wbelow = Window.orderBy(F.col("quality").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "n_en",
        "n_other",
        F.coalesce(
            F.sum(F.col("n_en") + F.col("n_other")).over(wbelow), F.lit(0)
        ).alias("below"),
    )
    r2x = F.sum(
        F.col("n_en") * (2 * F.col("below") + F.col("n_en") + F.col("n_other") + 1)
    )
    n_en = F.sum("n_en")
    n_other = F.sum("n_other")
    u2x = r2x - n_en * (n_en + 1)
    return cum.agg(
        n_en.cast("bigint").alias("n_en"),
        n_other.cast("bigint").alias("n_other"),
        u2x.cast("bigint").alias("u_en_2x"),
        F.when((n_en == 0) | (n_other == 0), F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(
                (
                    u2x.cast("double")
                    / (2 * n_en * n_other).cast("double")
                )
                * _AUC_Q
            ).cast("bigint")
        )
        .alias("auc_q"),
    )


# --------------------------------------------------------------------------
# q246 — sentence segmentation census
# --------------------------------------------------------------------------


@register(
    "q246_sentence_stats",
    tags=("text", "llm-data", "segmentation"),
    oracle=r"""
WITH seg AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '[.!?]+'),
                     s -> trim(s) <> '') AS sents
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, source,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_sum(list_transform(sents,
                                             s -> length(trim(s)))), 0)
            AS BIGINT) AS sum_sent_chars,
       CAST(COALESCE(list_max(list_transform(sents,
                                             s -> length(trim(s)))), 0)
            AS BIGINT) AS max_sent_chars
FROM seg
""",
)
def q246_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation census — the unit every packing/chunking
    stage that respects sentence boundaries (q66/q83's smarter sibling)
    needs first: per document, terminal-punctuation sentence count and
    trimmed char mass/max. Empty segments (consecutive terminators,
    trailing punctuation) are dropped identically in both engines;
    NULL-text docs are absent per the q53 scan-prefilter convention.

    Shape: pure map-side row expressions — split, filter, fold — zero
    exchanges, the 100 TB shape for any per-doc text census."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    lens = F.transform(sents, lambda s: F.length(F.trim(s)))
    return d.select(
        "doc_id",
        "source",
        F.size(sents).cast("bigint").alias("n_sentences"),
        F.coalesce(
            F.aggregate(
                lens, F.lit(0).cast("bigint"), lambda a, x: a + x
            ),
            F.lit(0),
        ).cast("bigint").alias("sum_sent_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("bigint").alias(
            "max_sent_chars"
        ),
    )


# --------------------------------------------------------------------------
# q250 — corpus release manifest (the ship-it table)
# --------------------------------------------------------------------------

_REL_Q = 1_000_000
# the SAME thresholds as q39 — imported, not re-derived, so a ratio
# change cannot silently fork the split between q39 and the manifest
from .sampling import _TRAIN_CUT as _REL_TRAIN_CUT  # noqa: E402
from .sampling import _VAL_CUT as _REL_VAL_CUT  # noqa: E402


@register(
    "q250_corpus_release_manifest",
    tags=("text", "llm-data", "assembly", "manifest"),
    oracle=rf"""
WITH per_doc AS (
  SELECT doc_id, source,
         CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT < {_REL_TRAIN_CUT} THEN 'train'
              WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                    1, 8))::BIGINT < {_REL_VAL_CUT} THEN 'val'
              ELSE 'test' END AS split,
         md5(list_aggregate(regexp_split_to_array({_SQL_NORM}, '\s+'),
                            'string_agg', ' ')) AS fp,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
         CAST(FLOOR({_SQL_QUALITY} * {_REL_Q}) AS BIGINT) AS quality_q
  FROM documents WHERE text IS NOT NULL
),
keepered AS (
  SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_keeper
  FROM per_doc
)
SELECT split, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keepers,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(CASE WHEN is_keeper THEN n_tok ELSE 0 END) AS BIGINT)
         AS keeper_tokens,
       CAST(SUM(quality_q) AS BIGINT) AS sum_quality_q
FROM keepered
GROUP BY split, source
""",
)
def q250_corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELEASE MANIFEST — the table a corpus ships with, stitching
    the certified pieces into one (split × source) readout: document
    and exact-dedup-keeper counts, raw and keeper token mass, and the
    quantized quality mass. Every ingredient is an already-hash-checked
    builder reused verbatim (q39's content-addressed split thresholds,
    q40's canonical fingerprint with its NULL contract, q30's token
    count, q31's quality formula) — the manifest certifies their
    COMPOSITION, which is exactly what a data card reports and a
    reproduction audit re-derives.

    Shape: everything per-doc is in-row; keeper status is one window
    over the fingerprint key (exact-dup groups are tiny partitions);
    one (split × source)-key agg ends it. NULL-text docs are excluded
    (unscoreable and unfingerprintable — the q240 lesson applied at
    the manifest boundary)."""
    from ..functions.text import fingerprint_t, token_count_t

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = F.col("_tok")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    per_doc = d.select(
        "doc_id", "source", "text", tokens("text").alias("_tok")
    ).select(
        "doc_id",
        "source",
        F.when(bucket < _REL_TRAIN_CUT, "train")
        .when(bucket < _REL_VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
        # from the STAGED array — fingerprint("text") would re-run the
        # whitespace split per row (tokens() duplicates per reference)
        fingerprint_t(tok).alias("fp"),
        token_count_t(tok).cast("bigint").alias("n_tok"),
        F.floor(_quality_t(tok) * _REL_Q).cast("bigint").alias("quality_q"),
    )
    wfp = Window.partitionBy("fp")
    keepered = per_doc.withColumn(
        "is_keeper", F.col("doc_id") == F.min("doc_id").over(wfp)
    )
    keeper = F.when(F.col("is_keeper"), 1).otherwise(0)
    return keepered.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(keeper).cast("bigint").alias("n_keepers"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.sum(F.when(F.col("is_keeper"), F.col("n_tok")).otherwise(0))
        .cast("bigint").alias("keeper_tokens"),
        F.sum("quality_q").cast("bigint").alias("sum_quality_q"),
    )


# --------------------------------------------------------------------------
# q253 — Spearman rank agreement between quality signals
# --------------------------------------------------------------------------

_SPEAR_Q = 1_000_000


@register(
    "q253_quality_length_spearman",
    tags=("text", "llm-data", "stats", "calibration"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CAST(FLOOR({_SQL_QUALITY} * {_SPEAR_Q}) AS BIGINT) AS x,
         n_chars AS y
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
),
hx AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt,
         COALESCE(SUM(COUNT(*)) OVER (ORDER BY x ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM scored GROUP BY x
),
hy AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt,
         COALESCE(SUM(COUNT(*)) OVER (ORDER BY y ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM scored GROUP BY y
),
ranked AS (
  SELECT s.doc_id,
         2*hx.below + hx.cnt + 1 AS rx2,
         2*hy.below + hy.cnt + 1 AS ry2
  FROM scored s JOIN hx ON s.x = hx.x JOIN hy ON s.y = hy.y
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
         SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
         CAST(COUNT(*) AS HUGEINT)
           * (COUNT(*) + 1) * (COUNT(*) + 1) AS t1
  FROM ranked
)
SELECT n,
       -- centered form: Σ(2r)·anything cancels via Σ2r = n(n+1), so
       -- rho = (sxy − n(n+1)²) / sqrt((sxx − n(n+1)²)(syy − n(n+1)²))
       -- — every term ≲ 4n³; power sums in HUGEINT (int128) mirror the
       -- Spark plan's DECIMAL(38,0), exact to n ≈ 2.9e12 (the int64
       -- form hit its ceiling at n ≈ 1.3e6; r6 ADVICE finding)
       CAST(CASE WHEN sxx = t1 OR syy = t1 THEN 0
            ELSE FLOOR({_SPEAR_Q} *
              CAST(sxy - t1 AS DOUBLE)
              / (sqrt(CAST(sxx - t1 AS DOUBLE))
                 * sqrt(CAST(syy - t1 AS DOUBLE))))
            END AS BIGINT) AS spearman_q
FROM agg
""",
)
def q253_quality_length_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the q31 quality score and raw
    document length — the calibration question every heuristic filter
    must answer ("is 'quality' just a length detector?", the q240
    lesson as a correlation instead of an AUC). Midranks come from the
    two VALUE HISTOGRAMS (never a corpus rank sort), doubled so ties
    stay integral; Σ(2·midrank) = n(n+1) is an identity, so the rho
    numerator n·Σrxry − (n(n+1))² and both variance terms are exact
    integers, and only the final normalize touches doubles (one
    subtract, two exact-rounded sqrts, one multiply, one divide —
    identical in both engines). All-tied degenerate marginals pin rho
    to 0.

    Headroom: the power sums accumulate in DECIMAL(38,0) (DuckDB
    mirror: HUGEINT/int128 — internal CTE types are free to differ,
    only the BIGINT output schema is hashed); the centered-form terms
    are ≲ 4n³, exact to n ≈ 2.9×10¹² docs per census — the int64 form
    this replaces hit its ceiling at n ≈ 1.3×10⁶ and aborted loudly
    under ANSI mode (r6 ADVICE finding). Shape: two histogram aggs +
    two broadcastable rank joins + one 1-row rollup."""
    tok = F.col("_tok")
    scored = (
        _staged(spark, sf_dir, "text", "n_chars")
        # BOTH predicates, matching the oracle: a NULL-text doc has a
        # NULL quality, and its NULL histogram bucket would inflate
        # every rank via Spark's NULLS-FIRST window ordering (the
        # hostile fixture caught exactly this)
        .filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            F.floor(_quality_t(tok) * _SPEAR_Q).cast("bigint").alias("x"),
            F.col("n_chars").alias("y"),
        )
    )

    def hist(col: str):
        w = Window.orderBy(F.col(col).asc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        h = scored.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return h.select(
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(f"r{col}2"),
        )

    ranked = (
        scored.join(F.broadcast(hist("x")), "x")
        .join(F.broadcast(hist("y")), "y")
    )
    # power sums in DECIMAL(38,0): the per-pair product stays int64-safe
    # after one factor is widened (rx2 ≤ 2n+1), and the accumulator gets
    # ~1e38 of headroom — exact to n ≈ 2.9e12 (see docstring)
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rx2").cast(dec) * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2").cast(dec) * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2").cast(dec) * F.col("ry2")).alias("syy"),
    )
    # centered form (see oracle comment): terms bounded by ~4n³, not n⁴;
    # t1 = n(n+1)² itself outgrows int64 at n ≈ 2.6e6, so it is decimal
    t1 = F.col("n").cast(dec) * (F.col("n") + 1) * (F.col("n") + 1)
    num = (F.col("sxy") - t1).cast("double")
    denx = (F.col("sxx") - t1).cast("double")
    deny = (F.col("syy") - t1).cast("double")
    rho_q = F.when(
        (F.col("sxx") == t1) | (F.col("syy") == t1),
        F.lit(0).cast("bigint"),
    ).otherwise(
        F.floor(_SPEAR_Q * num / (F.sqrt(denx) * F.sqrt(deny))).cast("bigint")
    )
    return agg.select("n", rho_q.alias("spearman_q"))


# --------------------------------------------------------------------------
# q254 — content-defined chunking dedup census (variable boundaries)
# --------------------------------------------------------------------------

_CDC_DIV = 16  # expected chunk length in tokens (boundary probability 1/16)


@register(
    "q254_cdc_chunk_dedup",
    tags=("text", "dedup", "llm-data", "cdc", "window"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, md5(text) AS tkey,
         t.i AS pos, ({_SQL_TOKENS})[t.i::INT] AS tk
  FROM documents, unnest(range(1, len({_SQL_TOKENS}) + 1)) t(i)
  WHERE text IS NOT NULL
),
marked AS (
  -- the running boundary count partitions on (doc_id, source, tkey):
  -- partitioning on doc_id alone interleaves duplicate-id rows' token
  -- streams into one garbage chunk sequence whose tie order differs
  -- between engines (dup/NULL-id fixture)
  SELECT doc_id, source, tkey, pos, tk,
         SUM(CASE WHEN ('0x' || substr(md5(tk), 1, 8))::BIGINT
                       % {_CDC_DIV} = 0
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, source, tkey ORDER BY pos ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS chunk_id
  FROM tok
),
chunks AS (
  SELECT doc_id, source, chunk_id,
         string_agg(tk, ' ' ORDER BY pos) AS chunk,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM marked GROUP BY doc_id, source, tkey, chunk_id
),
stats AS (
  SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM chunks GROUP BY chunk
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT c.chunk) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crossdoc_dup_chunks,
       CAST(SUM(c.n_tok) AS BIGINT) AS sum_chunk_tokens,
       CAST(MAX(c.n_tok) AS BIGINT) AS max_chunk_tokens
FROM chunks c JOIN stats s ON s.chunk = c.chunk
GROUP BY c.source
""",
)
def q254_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking dedup census — the FastCDC idea at
    token granularity: a chunk boundary opens wherever a token's hash
    ≡ 0 (mod {_CDC_DIV}), so boundaries are properties of the CONTENT,
    not of positions. That is the property q207's fixed-width chunks
    lack: insert one word near the top of a boilerplate page and every
    fixed chunk after it shifts (nothing matches), while CDC chunks
    re-align at the next content boundary and the shared tail still
    lights up cross-doc. Expected chunk length {_CDC_DIV} tokens
    (geometric); census per source mirrors q207's for side-by-side
    reading, plus chunk-size mass/max.

    Determinism: the boundary predicate is the md5-mod machinery of
    q39/q69; chunk text reassembles in explicit pos order in BOTH
    engines (sorted struct array in Spark, ORDER BY inside string_agg
    in DuckDB — collect_list alone is order-nondeterministic).

    Shape: one posexplode (token occurrences, q67's cost), a doc-
    partitioned running boundary count, a (doc, chunk) rollup, then
    q207's stats join + source census. At 100 TB the chunk key becomes
    xxhash64(chunk) — 8-byte shuffle keys, same topology."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("tkey"),
        F.posexplode(tokens("text")).alias("pos0", "tk"),
    ).select(
        "doc_id", "source", "tkey", (F.col("pos0") + 1).alias("pos"), "tk"
    )
    is_boundary = (
        F.conv(F.substring(F.md5(F.col("tk")), 1, 8), 16, 10).cast("bigint")
        % _CDC_DIV
        == 0
    )
    # (doc_id, source, tkey) partition: see oracle comment — doc_id
    # alone interleaves duplicate-id rows' token streams
    wpos = (
        Window.partitionBy("doc_id", "source", "tkey")
        .orderBy(F.col("pos").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = tok.withColumn(
        "chunk_id", F.sum(is_boundary.cast("int")).over(wpos)
    )
    chunks = (
        marked.groupBy("doc_id", "source", "tkey", "chunk_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("tk")))
            ).alias("_parts"),
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ", F.transform(F.col("_parts"), lambda s: s["tk"])
            ).alias("chunk"),
            "n_tok",
        )
    )
    stats = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    return (
        chunks.join(stats, "chunk")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("chunk").cast("bigint").alias(
                "n_distinct_chunks"
            ),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint").alias("n_crossdoc_dup_chunks"),
            F.sum("n_tok").cast("bigint").alias("sum_chunk_tokens"),
            F.max("n_tok").cast("bigint").alias("max_chunk_tokens"),
        )
    )


# --------------------------------------------------------------------------
# q259 — token-budget frontier (the curation cost curve)
# --------------------------------------------------------------------------

_TBF_BINS = 20


@register(
    "q259_token_budget_frontier",
    tags=("text", "llm-data", "quality", "curation", "window"),
    oracle=f"""
WITH scored AS (
  SELECT CAST(FLOOR({_SQL_QUALITY} * {_TBF_BINS}.0) AS INT) AS bucket,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
hist AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM scored GROUP BY bucket
)
SELECT bucket, n_docs, n_tokens,
       CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
       CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
FROM hist
WINDOW w AS (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q259_token_budget_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation frontier every data-mix decision reads off: for each
    quality bin (quality score × {_TBF_BINS}, floored), how many docs
    and tokens the corpus holds AT that bin and CUMULATIVELY above it —
    i.e. "if the quality gate is set here, this is the training-token
    budget that survives". The same quality formula as q31/q166 (one
    definition, shared SQL builder), so the frontier prices exactly the
    gate q31 scores.

    Exactness: bin membership is floor() on the engine-identical
    quality chain; all frontier arithmetic is integer sums.

    Scale shape: one corpus scan → {_TBF_BINS + 1}-key partial agg; the
    cumulative window runs over the BIN HISTOGRAM (≤{_TBF_BINS + 1}
    rows — its SinglePartition exchange is bin-bounded by construction,
    the q229 pattern), never over the corpus."""
    tok = F.col("_tok")
    scored = (
        _staged(spark, sf_dir, "text")
        .filter(F.col("text").isNotNull())
        .select(
            F.floor(_quality_t(tok) * _TBF_BINS).cast("int").alias("bucket"),
            token_count_t(tok).cast("bigint").alias("n_tok"),
        )
    )
    hist = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )


# --------------------------------------------------------------------------
# q260 — intra-document repetition census (loop-generation detector)
# --------------------------------------------------------------------------

_IDR_Q = 1_000_000
_IDR_LOOPY = 0.5  # dup-sentence share at/above which a doc counts as loopy

_SQL_SENTS = (
    "list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),"
    " s -> trim(s)), s -> len(s) > 0)"
)


@register(
    "q260_intra_doc_repetition",
    tags=("text", "llm-data", "dedup", "quality"),
    oracle=f"""
WITH sents AS (
  SELECT doc_id, source,
         CAST(len({_SQL_SENTS}) AS BIGINT) AS n_sent,
         CAST(len(list_distinct({_SQL_SENTS})) AS BIGINT) AS n_uniq
  FROM documents WHERE text IS NOT NULL
),
shares AS (
  SELECT source, n_sent, n_sent - n_uniq AS n_dup,
         CAST(n_sent - n_uniq AS DOUBLE) / n_sent AS dup_share
  FROM sents WHERE n_sent > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_dup) AS BIGINT) AS n_dup_sents,
       CAST(SUM(CAST(FLOOR(dup_share * {_IDR_Q}) AS BIGINT)) AS BIGINT)
         AS sum_dup_share_q,
       CAST(SUM(CASE WHEN dup_share >= {_IDR_LOOPY!r} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_loopy
FROM shares GROUP BY source
""",
)
def q260_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document duplicate-sentence census — the loop-generation
    detector corpus filters run beside the Gopher repetition signals:
    a document whose sentences repeat themselves (dup_share = 1 −
    distinct/total over [.!?]-split, trimmed, non-empty sentences) is
    degenerate model output or boilerplate scaffolding, invisible to
    CROSS-document dedup because the doc only duplicates itself.
    Per-source rollup: docs, duplicated-sentence count, quantized mean
    numerator, and how many docs cross the {_IDR_LOOPY} loopy line.

    Exactness: sentence counts are exact integers; the share is one
    IEEE divide of two ints, quantized at the row before summing.

    Scale shape: the sentence arrays live and die INSIDE the row
    projection (never exploded, never shuffled); the only exchange is
    the |sources|-key rollup."""
    sents_expr = (
        "filter(transform(split(text, '[.!?]+'), s -> trim(s)),"
        " s -> length(s) > 0)"
    )
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    staged = d.select(
        "source",
        F.expr(f"CAST(size({sents_expr}) AS BIGINT)").alias("n_sent"),
        F.expr(
            f"CAST(size(array_distinct({sents_expr})) AS BIGINT)"
        ).alias("n_uniq"),
    ).filter(F.col("n_sent") > 0)
    dup_share = (F.col("n_sent") - F.col("n_uniq")).cast("double") / F.col(
        "n_sent"
    )
    shares = staged.select(
        "source",
        (F.col("n_sent") - F.col("n_uniq")).alias("n_dup"),
        dup_share.alias("dup_share"),
    )
    return shares.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_dup").cast("bigint").alias("n_dup_sents"),
        F.sum(F.floor(F.col("dup_share") * _IDR_Q).cast("bigint"))
        .cast("bigint")
        .alias("sum_dup_share_q"),
        F.sum(
            F.when(F.col("dup_share") >= _IDR_LOOPY, 1).otherwise(0)
        ).cast("bigint").alias("n_loopy"),
    )


# --------------------------------------------------------------------------
# q261 — lang-debiased quality percentile (per-doc midrank, histogram-built)
# --------------------------------------------------------------------------

_LQP_Q = 1_000_000


@register(
    "q261_lang_quality_percentile",
    tags=("text", "llm-data", "quality", "calibration", "window"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(FLOOR({_SQL_QUALITY} * {_LQP_Q}) AS BIGINT) AS quality_q
  FROM documents WHERE text IS NOT NULL
),
hist AS (
  SELECT lang, quality_q, CAST(COUNT(*) AS BIGINT) AS cnt,
         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY lang
           ORDER BY quality_q ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         SUM(COUNT(*)) OVER (PARTITION BY lang) AS n_lang
  FROM scored GROUP BY lang, quality_q
)
SELECT s.doc_id, s.lang, s.quality_q,
       CAST(((2 * h.below + h.cnt + 1) * {_LQP_Q}) // (2 * h.n_lang)
            AS BIGINT) AS pct_q
FROM scored s JOIN hist h
  ON s.lang IS NOT DISTINCT FROM h.lang AND s.quality_q = h.quality_q
""",
)
def q261_lang_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-debiased quality: each document's quality score mapped
    to its MIDRANK PERCENTILE within its own language — the q240
    lesson operationalized (the raw quality formula is an easier test
    for stopword-rich English than for anything else, so a single
    global gate systematically starves other languages; gating on the
    within-lang percentile equalizes pass rates by construction).
    pct_q is the tie-aware midrank (2·below + cnt + 1) / 2n, quantized
    — exact integer arithmetic end to end, the q253 midrank machinery
    emitted per document.

    Scale shape: ranks come from the (lang, quality_q) VALUE HISTOGRAM
    (per-lang windows over histogram-sized relations), then one
    broadcastable histogram join back to the corpus — never a
    corpus-wide rank sort. NULL lang is a real group (null-safe join,
    both engines)."""
    tok = F.col("_tok")
    scored = (
        _staged(spark, sf_dir, "text", "lang")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.floor(_quality_t(tok) * _LQP_Q).cast("bigint").alias(
                "quality_q"
            ),
        )
    )
    wb = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality_q").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("lang")
    hist = (
        scored.groupBy("lang", "quality_q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.col("lang").alias("h_lang"),
            F.col("quality_q").alias("h_qq"),
            "cnt",
            F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("below"),
            F.sum("cnt").over(wt).alias("n_lang"),
        )
    )
    joined = scored.join(
        F.broadcast(hist),
        scored["lang"].eqNullSafe(hist["h_lang"])
        & (scored["quality_q"] == hist["h_qq"]),
    )
    return joined.select(
        "doc_id",
        scored["lang"],
        "quality_q",
        F.expr(
            f"CAST(((2 * below + cnt + 1) * {_LQP_Q}) div (2 * n_lang)"
            " AS BIGINT)"
        ).alias("pct_q"),
    )


# --------------------------------------------------------------------------
# q262 — curation-filter overlap matrix (which gates are redundant?)
# --------------------------------------------------------------------------

_FOV_Q = 1_000_000
# (flag_id, name) in pinned order; the flag array below must match
_FOV_FLAGS = ["low_quality", "too_short", "has_brace", "dup_lines"]
_FOV_PAIRS = [
    (a, b) for a in range(len(_FOV_FLAGS)) for b in range(len(_FOV_FLAGS))
    if a <= b
]
_SQL_FOV_PAIRS = ", ".join(f"({a}, {b})" for a, b in _FOV_PAIRS)

_SQL_FOV_ARR = f"""[
  CASE WHEN {_SQL_QUALITY} < 0.3 THEN 1 ELSE 0 END,
  CASE WHEN len({_SQL_TOKENS}) < 10 THEN 1 ELSE 0 END,
  CASE WHEN contains(text, '{{') OR contains(text, '}}') THEN 1 ELSE 0 END,
  CASE WHEN len(string_split(text, chr(10)))
            - len(list_distinct(string_split(text, chr(10))))
          > 0.3 * len(string_split(text, chr(10))) THEN 1 ELSE 0 END
]"""


@register(
    "q262_filter_overlap_matrix",
    tags=("text", "llm-data", "quality", "curation", "audit"),
    oracle=f"""
WITH flagged AS (
  SELECT {_SQL_FOV_ARR} AS fl FROM documents WHERE text IS NOT NULL
),
pairs AS (SELECT * FROM (VALUES {_SQL_FOV_PAIRS}) p(fa, fb))
SELECT p.fa, p.fb,
       CAST(SUM(f.fl[p.fa + 1] * f.fl[p.fb + 1]) AS BIGINT) AS n_both,
       CAST(SUM(f.fl[p.fa + 1]) AS BIGINT) AS n_a,
       CAST(SUM(f.fl[p.fb + 1]) AS BIGINT) AS n_b,
       CAST(CASE WHEN SUM(f.fl[p.fa + 1]) + SUM(f.fl[p.fb + 1])
                      - SUM(f.fl[p.fa + 1] * f.fl[p.fb + 1]) = 0 THEN 0
            ELSE ({_FOV_Q} * SUM(f.fl[p.fa + 1] * f.fl[p.fb + 1]))
                 // (SUM(f.fl[p.fa + 1]) + SUM(f.fl[p.fb + 1])
                     - SUM(f.fl[p.fa + 1] * f.fl[p.fb + 1]))
            END AS BIGINT) AS jaccard_q
FROM flagged f, pairs p
GROUP BY p.fa, p.fb
""",
)
def q262_filter_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter REDUNDANCY audit: the pairwise overlap matrix of
    four rejection gates ({', '.join(_FOV_FLAGS)}) — co-rejection
    counts and rejection-set Jaccard per gate pair (diagonal = each
    gate's own rate). A pair at Jaccard ~1 means one gate is dead
    weight; near 0 means the gates catch DIFFERENT garbage and both
    earn their compute. This is the measurement that decides a filter
    cascade's ORDER and membership at 100 TB, where every extra gate
    is a full-corpus pass.

    Exactness: flags are exact integer predicates on the shared quality
    /token/line builders; the Jaccard is integer floor-division,
    quantized. Shape: ONE scan computes the 4-flag array in-row, the
    10 gate pairs come from an 10-row broadcast cross join, and the
    only exchange is the 10-key rollup — corpus cost is one pass
    regardless of how many gates the matrix compares."""
    tok = F.col("_tok")
    lines = F.split(F.col("text"), "\n")
    flags = F.array(
        F.when(_quality_t(tok) < 0.3, 1).otherwise(0),
        F.when(token_count_t(tok) < 10, 1).otherwise(0),
        F.when(
            F.col("text").contains("{") | F.col("text").contains("}"), 1
        ).otherwise(0),
        F.when(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            > 0.3 * F.size(lines),
            1,
        ).otherwise(0),
    )
    flagged = (
        _staged(spark, sf_dir, "text")
        .filter(F.col("text").isNotNull())
        .select(flags.alias("fl"))
    )
    pairs = literal_df(spark, _FOV_PAIRS, ["fa", "fb"])
    j = flagged.crossJoin(F.broadcast(pairs))
    va = F.element_at(F.col("fl"), F.col("fa") + 1)
    vb = F.element_at(F.col("fl"), F.col("fb") + 1)
    agg = j.groupBy("fa", "fb").agg(
        F.sum(va * vb).cast("bigint").alias("n_both"),
        F.sum(va).cast("bigint").alias("n_a"),
        F.sum(vb).cast("bigint").alias("n_b"),
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return agg.select(
        "fa",
        "fb",
        "n_both",
        "n_a",
        "n_b",
        F.when(union == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr(f"CAST(({_FOV_Q} * n_both) div (n_a + n_b - n_both) AS BIGINT)"))
        .alias("jaccard_q"),
    )


# --------------------------------------------------------------------------
# q266 — per-source quality-distribution drift (integer two-sample KS)
# --------------------------------------------------------------------------

_KS_Q = 1_000_000


@register(
    "q266_source_quality_drift",
    tags=("text", "llm-data", "quality", "drift", "histogram"),
    oracle=f"""
WITH scored AS (
  SELECT * FROM (
    SELECT source,
           CAST(FLOOR({_SQL_QUALITY} * {_QDEC_Q}) AS BIGINT) AS qq
    FROM documents WHERE text IS NOT NULL
  ) WHERE qq IS NOT NULL
),
h AS (
  SELECT source, qq, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM scored GROUP BY source, qq
),
g AS (
  SELECT qq,
         COALESCE(SUM(COUNT(*)) OVER (ORDER BY qq ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS gcum,
         SUM(COUNT(*)) OVER () AS n
  FROM scored GROUP BY qq
),
srcs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM scored GROUP BY source
),
filled AS (
  SELECT s.source, s.n_s, g.qq, g.gcum, g.n,
         SUM(COALESCE(h.cnt, 0)) OVER (PARTITION BY s.source
           ORDER BY g.qq ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
  FROM srcs s CROSS JOIN g
  LEFT JOIN h ON h.source IS NOT DISTINCT FROM s.source AND h.qq = g.qq
)
SELECT source,
       CAST(MIN(n_s) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN n > n_s THEN
         ABS((cum_s * {_KS_Q}) // n_s
             - ((gcum - cum_s) * {_KS_Q}) // (n - n_s)) END) AS BIGINT)
         AS ks_q
FROM filled
GROUP BY source
""",
)
def q266_source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources' quality DISTRIBUTIONS deviate from the rest of
    the corpus — the mix-rebalance trigger a mean (q165) can't give:
    a source whose mean matches but whose mass sits in both tails
    passes every average gate while skewing the training mix. ks_q is
    the two-sample Kolmogorov–Smirnov statistic between the source and
    the REST of the corpus (leave-one-out, so a dominant source can't
    mask its own drift), quantized to the {_KS_Q} lattice.

    Integer-exact by the r8 discipline: quality quantizes by FLOOR to
    the q166 lattice; both CDFs evaluate as floored integer ratios
    (cum·K div n) at every observed lattice value — the sup of a
    difference of step functions is attained at a jump point, and all
    jump points are in the global distinct-value set, so scanning that
    grid is exact (to one K-quantum from the floored division, the
    pinned definition). Headroom: cum·K ≤ n·1e6 < 2^63 to ~9e12 docs.

    Scale shape: ONE corpus-sized exchange (the (source, qq) histogram
    agg with map-side combine); the grid is |sources| × |distinct
    lattice values| ≤ |sources|·1e6 regardless of corpus size, and the
    fill windows run per source over that grid."""
    tok = F.col("_tok")
    scored = (
        _staged(spark, sf_dir, "source", "text")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.floor(_quality_t(tok) * _QDEC_Q).cast("bigint").alias("qq"),
        )
        # r9 (ADVICE r8): NULL-quality docs were counted in n_s and n but,
        # via the null-unsafe h.qq = g.qq join, never entered cum_s — so a
        # source's CDF could not reach 1 and ks_q was biased whenever NULL
        # qualities exist. Exclude them outright (mirrored in the oracle),
        # matching the q106/q159 convention.
        .filter(F.col("qq").isNotNull())
    )
    h = scored.groupBy("source", "qq").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wg = (
        Window.orderBy(F.col("qq").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = (
        scored.groupBy("qq")
        .agg(F.count(F.lit(1)).cast("bigint").alias("gcnt"))
        .select(
            "qq",
            F.coalesce(F.sum("gcnt").over(wg), F.lit(0)).alias("gcum"),
            F.sum("gcnt").over(Window.partitionBy()).alias("n"),
        )
    )
    srcs = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    grid = srcs.crossJoin(F.broadcast(g))
    filled = grid.join(
        h.select(
            F.col("source").alias("h_source"),
            F.col("qq").alias("h_qq"),
            "cnt",
        ),
        grid["source"].eqNullSafe(F.col("h_source"))
        & (grid["qq"] == F.col("h_qq")),
        "left",
    ).select(
        "source",
        "n_s",
        "qq",
        "gcum",
        "n",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt0"),
    )
    ws = Window.partitionBy("source").orderBy(
        F.col("qq").asc_nulls_first()
    ).rowsBetween(Window.unboundedPreceding, 0)
    cdf = filled.select(
        "source",
        "n_s",
        "gcum",
        "n",
        F.sum("cnt0").over(ws).alias("cum_s"),
    )
    d = F.expr(
        f"CASE WHEN n > n_s THEN"
        f" ABS((cum_s * {_KS_Q}) div n_s"
        f" - ((gcum - cum_s) * {_KS_Q}) div (n - n_s)) END"
    )
    return cdf.groupBy("source").agg(
        F.min("n_s").cast("bigint").alias("n_docs"),
        F.max(d).cast("bigint").alias("ks_q"),
    )


# --------------------------------------------------------------------------
# q268 — token-count Gini per language (exact, histogram-ranked)
# --------------------------------------------------------------------------


@register(
    "q268_token_count_gini",
    tags=("text", "llm-data", "composition", "inequality", "histogram"),
    oracle=f"""
WITH tc AS (
  SELECT lang, CAST(len({_SQL_TOKENS}) AS BIGINT) AS x
  FROM documents WHERE text IS NOT NULL
),
hist AS (
  {sql_int_hist('tc', 'x', 'lang')}
),
agg AS (
  SELECT lang,
         CAST(MAX(n) AS HUGEINT) AS n,
         SUM(CAST(x AS HUGEINT) * cnt) AS s1,
         SUM(CAST(x AS HUGEINT) * cnt * (below + 1 + cum)) AS sxr2
  FROM hist GROUP BY lang
)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       CAST(s1 AS BIGINT) AS total_tokens,
       CASE WHEN n > 1 AND s1 > 0 THEN
         CAST(sxr2 - (n + 1) * s1 AS DOUBLE) / CAST(n * s1 AS DOUBLE)
       END AS gini
FROM agg
""",
)
def q268_token_count_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length inequality per language: the Gini coefficient of
    token counts — the one-number answer to 'is this language's corpus
    a few giant documents plus dust?' (high Gini starves batch packing
    (q130/q249) and biases any per-document sampling toward boilerplate
    dust; q184's revenue Lorenz is the same economics for money).

    Exact with ties, no sort of the corpus: from the (lang, n_tokens)
    int_hist, a tie-run at value x occupying ranks [below+1, cum] has
    rank-sum cnt·(below+1+cum)/2, so 2·Σ rank·x = Σ x·cnt·(below+1+cum)
    — exact integer sufficient statistics (q174's discipline).
    Products ride DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): identical
    exact integers, each cast to DOUBLE once (round-half-even on the
    same operand — the msum wire-format argument), one IEEE division.
    gini = (2·Σrx − (n+1)·Σx) / (n·Σx) ∈ [0, 1); NULL for degenerate
    groups (n ≤ 1 or zero mass), pinned in both engines.

    Scale shape: one corpus-sized (lang, x) histogram exchange; the
    rank windows and the Gini aggregate run on the histogram, bounded
    by |langs| × the document-length domain."""
    tc = (
        _staged(spark, sf_dir, "lang", "text")
        .filter(F.col("text").isNotNull())
        .select("lang", F.size(F.col("_tok")).cast("bigint").alias("x"))
    )
    hist = int_hist(tc, "x", "lang")
    dec = "decimal(38,0)"
    agg = hist.groupBy("lang").agg(
        F.max("n").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec) * F.col("cnt")).alias("s1"),
        F.sum(
            F.col("x").cast(dec)
            * F.col("cnt")
            * (F.col("below") + 1 + F.col("cum"))
        ).alias("sxr2"),
    )
    gini = F.when(
        (F.col("n") > 1) & (F.col("s1") > 0),
        (F.col("sxr2") - (F.col("n") + 1) * F.col("s1")).cast("double")
        / (F.col("n") * F.col("s1")).cast("double"),
    )
    return agg.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("s1").cast("bigint").alias("total_tokens"),
        gini.alias("gini"),
    )
