"""Deduplication queries over ``documents`` (SURVEY §2j [EXT]).

The Spark side calls the reusable operators in ``operators.dedup``; the
oracle SQL re-derives the identical pipeline in DuckDB (same MD5 hash
family, same shingling, same banding), so the whole
shingle→minhash→band→bucket-join dataflow is differentially tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import (
    banded_signatures,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_sets,
)
from ._util import fan_out, qsum, qsum_big, sql_qsum, t
from .catalog import QUERIES, register

_NUM_HASHES = 8
_BANDS = 4
_SHINGLE_K = 3  # word trigrams (see operators.dedup._shingles rationale)
_JACCARD = 0.25

# ---- SQL mirrors of the operator pipeline ---------------------------------

_SQL_NORM = "lower(trim(text))"
_SQL_TOKENS = rf"regexp_split_to_array({_SQL_NORM}, '\s+')"
# word trigrams: mirror of functions.text.word_ngrams_t(tokens(text), 3) —
# sequence(1, greatest(n_tok-2, 1)) with concat_ws skipping the NULL
# tail elements on short docs.
_SQL_SHINGLES = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len({_SQL_TOKENS}) - {_SHINGLE_K - 2}, 2)), "
    f"i -> concat_ws(' ', "
    + ", ".join(f"({_SQL_TOKENS})[i::INT + {j}]" for j in range(_SHINGLE_K))
    + ")))"
)


def _sql_mh(i: int, shingles: str = "sh") -> str:
    # mirror of operators.dedup._signatures_from_shingles: four 32-bit
    # hash functions per md5 (8-hex-char slices), seed = i // 4
    seed, off = i // 4, (i % 4) * 8 + 1
    return (
        f"list_aggregate(list_transform({shingles}, "
        f"s -> substr(md5(concat('{seed}:', s)), {off}, 8)), 'min')"
    )


_SQL_SIG_COLS = ",\n       ".join(
    f"{_sql_mh(i)} AS mh{i}" for i in range(_NUM_HASHES)
)

_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_SQL_BAND_LIST = ", ".join(
    "md5(concat_ws('|', '{b}', {cols}))".format(
        b=b,
        cols=", ".join(
            f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(_BANDS)
)


@register(
    "q40_dedup_exact",
    tags=("dedup", "llm-data"),
    oracle=rf"""
SELECT md5(list_aggregate(regexp_split_to_array({_SQL_NORM}, '\s+'),
                          'string_agg', ' ')) AS text_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
""",
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the canonical fingerprint. Map-side
    partial agg collapses duplicates before the single shuffle."""
    return exact_dedup_groups(t(spark, sf_dir, "documents"))


@register(
    "q41_minhash_signatures",
    tags=("dedup", "llm-data", "minhash"),
    oracle=f"""
WITH sh_t AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
)
SELECT doc_id,
       {_SQL_SIG_COLS}
FROM sh_t
""",
)
def q41_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (8 hashes over word-trigram shingles) —
    scan-side, zero shuffle."""
    return minhash_signatures(
        t(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
    )


def sym_edges(pairs, extra=None):
    """Both edge directions of an (id_a, id_b) pair relation from ONE
    in-row explode — a unionAll of two selects would replay the entire
    un-materialized LSH pair pipeline twice. ``extra`` maps additional
    output column names to Columns carried on both directions (the
    weighted-PageRank edge weight). Shared by q125/q142/q216 so the
    symmetrization contract cannot drift between them."""
    extra = extra or {}

    def _side(a: str, b: str):
        return F.struct(
            F.col(a).alias("src"),
            F.col(b).alias("dst"),
            *[c.alias(n) for n, c in extra.items()],
        )

    return pairs.select(
        F.explode(F.array(_side("id_a", "id_b"), _side("id_b", "id_a"))).alias(
            "e"
        )
    ).select("e.*")


# the LSH pair pipeline as reusable CTEs (q42 emits the pairs; q49
# builds duplicate CLUSTERS on top of the same edge set)
_SQL_LSH_CTES = f"""sh_t AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
),
sig AS (
  SELECT doc_id,
         {_SQL_SIG_COLS}
  FROM sh_t
),
banded AS (
  SELECT doc_id, unnest([{_SQL_BAND_LIST}]) AS band_hash FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
lsh_pairs AS (
  SELECT cand.id_a, cand.id_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
           AS jaccard
  FROM cand
  JOIN sh_t sa ON sa.doc_id = cand.id_a
  JOIN sh_t sb ON sb.doc_id = cand.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
        >= {_JACCARD}
)"""


@register(
    "q42_lsh_near_dup_pairs",
    tags=("dedup", "llm-data", "minhash", "lsh"),
    oracle=f"""
WITH {_SQL_LSH_CTES}
SELECT id_a, id_b, jaccard FROM lsh_pairs
""",
)
def q42_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band-bucket equi-join prunes the
    pair space; exact Jaccard verifies only bucket-mates."""
    return lsh_candidate_pairs(
        t(spark, sf_dir, "documents"),
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )


@register(
    "q49_dedup_clusters",
    tags=("dedup", "llm-data", "graph", "iterative"),
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT l.doc_id,
       l.cluster_id,
       l.doc_id = l.cluster_id AS is_keeper,
       CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
         AS cluster_size
FROM labeled l
""",
)
def q49_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-clustering TAIL: LSH near-dup pairs → transitive
    closure → duplicate clusters with one canonical keeper (MIN doc id)
    per cluster — what a training-set dedup actually ships (keep one doc
    per cluster, drop the rest).

    Engine side runs ITERATIVE min-label propagation
    (operators.graph.connected_components — the Pregel/BSP shape, one
    join + one groupBy-min per round, converges in ≤ diameter rounds);
    the oracle states the same closure as a recursive CTE. An iterative
    Spark algorithm hash-checked against a recursive SQL spec — both
    sides deterministic (MIN labels)."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    from ..operators.graph import dedup_clusters

    return dedup_clusters(pairs, docs)


# q258's oracle reuses q49's registered CTE text verbatim up through the
# cluster labeling — runtime-sliced (the q175 discipline), so the split
# is keyed on EXACTLY the clusters q49 ships.
_CLUSTER_SPLIT_MARKER = "SELECT l.doc_id"
_q49_split = QUERIES["q49_dedup_clusters"].oracle.split(_CLUSTER_SPLIT_MARKER)
assert len(_q49_split) == 2, "q49 oracle lost its final-SELECT marker"
_SQL_CLUSTER_CTES = _q49_split[0].rstrip().rstrip(",")

_SPLIT_BUCKETS = (8, 1, 1)  # train/val/test out of 10 hash buckets


@register(
    "q258_cluster_aware_split",
    tags=("dedup", "llm-data", "sampling", "split", "iterative"),
    oracle=f"""
{_SQL_CLUSTER_CTES},
assigned AS (
  SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5('split:' ||
                COALESCE(CAST(cluster_id AS VARCHAR), '<null>')), 1, 8)
              )::BIGINT % 10 AS INT) AS bucket
  FROM labeled
)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < {_SPLIT_BUCKETS[0]} THEN 'train'
            WHEN bucket < {_SPLIT_BUCKETS[0] + _SPLIT_BUCKETS[1]} THEN 'val'
            ELSE 'test' END AS split
FROM assigned
""",
)
def q258_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test split — the assembly step naive
    content-addressed splitting (q39) gets wrong in a deduplicated
    world: hashing each doc_id independently strands near-duplicates on
    opposite sides of the train/test wall, so the eval set silently
    contains paraphrases of training documents. The split key here is
    the q49 DEDUP CLUSTER id (min-doc-id component of the LSH near-dup
    graph): every member of a near-dup cluster lands in the SAME split
    by construction, at the 80/10/10 mix of q39. Singletons hash on
    their own id (= their cluster id), so the mix stays content-
    addressed and resharding-stable.

    The oracle reuses q49's registered recursive-CTE closure verbatim
    (runtime-sliced, the q175 discipline) — the split is provably keyed
    on the clusters the dedup pass ships, not a reimplementation.

    Scale shape: q49's iterative closure (edge-endpoint-sized rounds)
    + one map-side hash over the labeled relation; no new exchanges
    beyond the cluster build itself."""
    from ..operators.graph import dedup_clusters

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    clusters = dedup_clusters(pairs, docs).select("doc_id", "cluster_id")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"),
                        F.coalesce(
                            F.col("cluster_id").cast("string"), F.lit("<null>")
                        ),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    ).cast("int")
    train_hi, val_hi = _SPLIT_BUCKETS[0], _SPLIT_BUCKETS[0] + _SPLIT_BUCKETS[1]
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < train_hi, F.lit("train"))
        .when(bucket < val_hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_SQL_BIGRAMS = (
    f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKENS}), 2)), "
    f"i -> concat_ws(' ', ({_SQL_TOKENS})[i::INT], ({_SQL_TOKENS})[i::INT + 1])))"
)
_NGRAM_JACCARD = 0.2
# Stop-bigram df-cap: a bigram present in > _DF_CAP_FRAC of the corpus
# is background phrasing, not dedup signal — drop it BEFORE the posting
# self-join. This bounds the inverted index's skew ceiling at
# (frac·n)² per bucket instead of max-posting², the same move as a
# search engine's stop list. Relative (not absolute) so the contract is
# scale-independent.
_DF_CAP_FRAC = 0.02


@register(
    "q48_ngram_jaccard_pairs",
    tags=("dedup", "llm-data", "ngram-jaccard"),
    oracle=f"""
WITH bg AS (
  SELECT doc_id, lang, {_SQL_BIGRAMS} AS bgs FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
p AS (SELECT lang, unnest(bgs) AS bigram FROM bg),
dfc AS (SELECT lang, bigram, count(*) AS df FROM p GROUP BY 1, 2),
stop AS (
  SELECT d.lang, list(d.bigram) AS stop_bgs
  FROM dfc d, n
  WHERE d.df > ceil(n.n_docs * {_DF_CAP_FRAC!r})
  GROUP BY d.lang
),
bgc AS (
  SELECT b.doc_id, b.lang,
         CASE WHEN s.stop_bgs IS NULL THEN b.bgs
              ELSE list_filter(b.bgs, g -> NOT list_contains(s.stop_bgs, g))
         END AS bgs
  FROM bg b LEFT JOIN stop s USING (lang)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.bgs, b.bgs)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.bgs, b.bgs))) AS DOUBLE) AS jaccard
FROM bgc a JOIN bgc b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.bgs, b.bgs)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.bgs, b.bgs))) AS DOUBLE)
      >= {_NGRAM_JACCARD}
""",
)
def q48_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-dup pairs, blocked by language.

    Jaccard = |A∩B| / |A∪B| over DISTINCT bigram sets — two exact
    integers, so the double division is bit-identical across engines and
    the threshold cut is exact.

    The oracle states the quadratic spec (pairwise array intersection
    within lang blocks); the engine runs the scale shape — an INVERTED
    INDEX: explode distinct bigrams, equi-join postings on (lang,
    bigram), count co-occurrences per pair (= |A∩B|), then
    |A∪B| = |A| + |B| − |A∩B|. Pairs sharing zero bigrams never
    materialize, per-pair work is a counter bump (no per-pair array
    hashing), and the shuffle key (lang, bigram) is fine-grained —
    measured 134 s → ~4 s at sf0.1.

    DF-CAP (the skew bound): bigrams with document frequency above
    {_DF_CAP_FRAC:.0%} of the corpus are stop-bigrams — removed from
    every document's set (both engines, in lockstep) before any join,
    so Jaccard is over INFORMATIVE bigrams and the posting self-join's
    per-bucket ceiling is (frac·n)², not max-posting². The stop list
    derives from one partial-agg pass (shuffle moves distinct
    (lang, bigram) pairs after map-side combine, never postings) and
    broadcasts back as a per-lang array for an in-row array_except —
    the main posting path still has exactly one exchange before the
    self-join. At 100 TB the stop list is a corpus statistic you'd
    precompute once per snapshot and cache."""
    from ..functions.text import tokens, word_ngrams_t

    d = t(spark, sf_dir, "documents")
    # stage the token array so the regex split runs once per row, not
    # once per element_at reference (see plans/text.py module docstring);
    # fan_out (r12, guide §2.5) spreads the regex+bigram pipeline across
    # the session instead of the single-file scan's one task — applied
    # AFTER a projection to the three columns this query reads, so the
    # fan-out exchange never carries (or hashes) the unused ones
    # (guide §2.3 "project before the exchange")
    staged = fan_out(d.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", tokens("text").alias("_tok")
    )
    # bg_raw is consumed TWICE (stop-list derivation + the main posting
    # path) and exchange reuse CANNOT deduplicate it: the main path
    # infers isnotnull(doc_id) from the pair join while the stop path
    # must not (the oracle's df counts include null-id docs), so the two
    # copies never canonicalize equal — verified in the runtime final
    # plan, where the stop path re-ran scan+tokenize+bigrams end to end
    # (a doc_id-keyed staging repartition was tried first and measured
    # 3.60 s; it did NOT fuse the subtrees for the same reason).
    # localCheckpoint materializes the tokenized bigram sets ONCE per
    # execution (inside the timed region — nothing persists across
    # runs) and both consumers read the checkpointed partitions: the
    # guide §2.4 "share one computation" rule where Catalyst's reuse
    # machinery can't see the sharing.  Measured 4.13 → 2.84 s at
    # sf0.1; at scale this is one corpus-sized local materialization
    # replacing a full scan+tokenize pass — the same trade the family's
    # reused exchanges already make.
    bg_raw = staged.select(
        "doc_id",
        "lang",
        F.array_distinct(word_ngrams_t(F.col("_tok"), 2)).alias("bgs"),
    ).localCheckpoint()
    # stop-bigram list: df per (lang, bigram) → keep only the > frac·n
    # head (small by construction: ≤ total_postings/(frac·n) entries)
    total = d.select(F.count(F.lit(1)).alias("n_docs"))
    dfc = (
        bg_raw.select("lang", F.explode_outer("bgs").alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stop = (
        dfc.crossJoin(F.broadcast(total))
        .filter(F.col("df") > F.ceil(F.col("n_docs") * F.lit(_DF_CAP_FRAC)))
        .groupBy("lang")
        .agg(F.collect_set("bigram").alias("stop_bgs"))
    )
    bg = bg_raw.join(F.broadcast(stop), "lang", "left").select(
        "doc_id",
        "lang",
        F.when(
            F.col("stop_bgs").isNotNull(),
            F.array_except(F.col("bgs"), F.col("stop_bgs")),
        )
        .otherwise(F.col("bgs"))
        .alias("bgs"),
    )
    # n_bg rides WITH each posting so |A| and |B| fall out of the
    # self-join for free — joining sizes back onto the ~|pairs|-sized
    # aggregate afterwards would be two more shuffles of the widest
    # relation in the query. explode_OUTER, not explode: inner explode
    # plants an implicit size()>0 filter whose pushdown re-inlines the
    # array pipeline below it (measured ~4 s extra at sf0.1 in the
    # pre-checkpoint r11 shape); outer explode emits no filter, and a
    # NULL key from an emptied array can never equi-join.
    #
    # r13 (guide §2.3 "narrower types" / "shuffle keys, not payloads"):
    # the join only needs EQUALITY of (lang, bigram), so each posting
    # carries xxhash64(lang, bigram) — one 8-byte key — instead of the
    # bigram string + lang through the exchange, the SMJ sort, and the
    # join compare.  Hashed in-row BELOW the explode (transform over
    # the surviving-bigram array) so the string never leaves the row.
    # Collision honesty: a 64-bit collision between two distinct
    # in-lang bigrams could overcount n_common for a doc pair holding
    # both; at p ~ (#distinct bigrams)²/2⁶⁵ that is ~1e-9 at the
    # tested SFs (oracle-verified green) and stays below 1e-3 until
    # ~10⁸ distinct informative bigrams per corpus — the standard
    # hashing-trick trade for a near-dup *candidate* stage.
    keyed = bg.select(
        "doc_id",
        F.size("bgs").alias("n_bg"),
        F.transform(
            "bgs", lambda g: F.xxhash64(F.col("lang"), g)
        ).alias("_keys"),
    )
    # r13 serial-fraction fix (guide §2.2/§2.5, measured): the posting
    # exchange's bytes are tiny at bench scale (~3 MB), so AQE
    # coalesced the self-join stage to 3 tasks — but the join's work is
    # QUADRATIC per bucket, invisible to byte-based coalescing, and
    # those 3 tasks ran ~4 s of compute while 29 cores idled (the
    # measured 8v32 scaling ratio 1.12).  A PINNED partition count
    # (sized to the session's parallelism — scale-adaptive, never a
    # local constant) opts this one exchange out of AQE coalescing; at
    # 100 TB the posting bytes exceed the advisory size and AQE would
    # not have coalesced anyway, so the pin only bites where it should.
    # Keyed on bg_key so BOTH self-join sides read ONE shuffle output
    # (ReusedExchange, unchanged from r12).
    nparts = spark.sparkContext.defaultParallelism
    postings = keyed.select(
        "doc_id", "n_bg", F.explode_outer("_keys").alias("bg_key")
    ).repartition(nparts, "bg_key")
    co = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.bg_key") == F.col("b.bg_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n_bg")).alias("na"),
            F.first(F.col("b.n_bg")).alias("nb"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return co.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= _NGRAM_JACCARD
    )


_SQL_FP = f"md5({_SQL_NORM})"


@register(
    "q77_incremental_dedup",
    tags=("dedup", "llm-data", "incremental", "anti-join"),
    oracle=f"""
SELECT i.doc_id, md5(lower(trim(i.text))) AS fp
FROM documents i
WHERE i.doc_id % 2 = 1
  AND NOT EXISTS (
    SELECT 1 FROM documents h
    WHERE h.doc_id % 2 = 0
      AND md5(lower(trim(h.text))) = md5(lower(trim(i.text))))
""",
)
def q77_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: the new batch (odd doc_ids) minus
    everything already in the corpus (even doc_ids) by content
    fingerprint — the daily-ingest stage of a training-data pipeline.

    Scale shape: both sides project to (doc_id, fp) BEFORE the anti
    join, so the shuffle moves two narrow columns, never text. The fp
    equi anti-join is the Spark-first answer to a "bloom pre-filter":
    with AQE enabled, InjectRuntimeFilter plants exactly that bloom on
    the incoming scan when the historical side is selective, and if the
    historical corpus is stored bucketed by fp the join goes
    exchange-free (operators/bucketing.py). At 100 TB the historical
    side is the big one — Spark builds/streams per-partition hash sides
    after the fp shuffle, constant memory per task."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    fp = F.md5(norm)
    incoming = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", fp.alias("fp")
    )
    historical = d.filter(F.col("doc_id") % 2 == 0).select(fp.alias("fp"))
    return incoming.join(historical, "fp", "left_anti").select("doc_id", "fp")


@register(
    "q78_canonical_doc_selection",
    tags=("dedup", "llm-data", "canonical", "window"),
    oracle=f"""
SELECT doc_id,
       FIRST_VALUE(doc_id) OVER (
         PARTITION BY {_SQL_FP}
         ORDER BY n_chars DESC, doc_id ASC) AS canonical_doc_id,
       CAST(COUNT(*) OVER (PARTITION BY {_SQL_FP}) AS BIGINT) AS group_size
FROM documents
""",
)
def q78_canonical_doc_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each exact-duplicate group
    (same normalized-text fingerprint) every row learns its group's
    canonical representative — longest text wins, doc_id breaks ties —
    the "which copy do we keep" stage that follows duplicate detection.

    ONE shuffle keyed on fp serves both the first_value and the count
    window; emitting the full mapping (not just survivors) is
    deliberate: downstream joins re-point references from any duplicate
    to its canonical id."""
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w_rank = Window.partitionBy("fp").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("fp")
    return (
        d.select("doc_id", "n_chars", fp.alias("fp"))
        .select(
            "doc_id",
            F.first("doc_id").over(w_rank).alias("canonical_doc_id"),
            F.count(F.lit(1)).over(w_all).cast("bigint").alias("group_size"),
        )
    )


_DECON_N = 5  # word n-gram width for contamination matching
_DECON_BENCH_IDS = 10  # doc_id < 10 plays the held-out benchmark set

_SQL_DECON_GRAMS = (
    f"list_distinct(list_transform("
    f"range(1, greatest(len({_SQL_TOKENS}) - {_DECON_N - 2}, 2)), "
    f"i -> concat_ws(' ', "
    + ", ".join(f"({_SQL_TOKENS})[i::INT + {j}]" for j in range(_DECON_N))
    + ")))"
)


@register(
    "q79_benchmark_decontamination",
    tags=("dedup", "llm-data", "decontamination"),
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SQL_DECON_GRAMS}) AS gram
  FROM documents
  WHERE doc_id < {_DECON_BENCH_IDS}
    AND len({_SQL_TOKENS}) >= {_DECON_N}
),
corpus AS (
  SELECT doc_id, unnest({_SQL_DECON_GRAMS}) AS gram
  FROM documents
  WHERE doc_id >= {_DECON_BENCH_IDS}
    AND len({_SQL_TOKENS}) >= {_DECON_N}
)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus c JOIN bench b ON b.gram = c.gram
GROUP BY c.doc_id
""",
)
def q79_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word {_DECON_N}-gram with a held-out evaluation set (doc_id <
    {_DECON_BENCH_IDS} stands in for the benchmark) and report how many
    distinct grams leak — the contamination-audit stage every serious
    pretraining pipeline runs (n-gram overlap flagging, as in the
    GPT-3/PaLM decontamination appendices).

    Scale shape: the benchmark gram set is tiny relative to the corpus
    → BROADCAST it; the corpus side explodes grams map-side and
    inner-joins without any corpus-wide shuffle, then aggregates hits
    per doc (partial agg on doc_id). The only exchange is the final
    per-doc count — asserted in tests/test_plan_shapes.py."""
    from ..functions.text import tokens, word_ngrams_t

    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens("text").alias("_tok"))
    grams = staged.select(
        "doc_id",
        F.array_distinct(word_ngrams_t(F.col("_tok"), _DECON_N)).alias("gs"),
    )
    # A doc with < _DECON_N tokens yields one truncated padded "gram"
    # (its whole text) — not a real n-gram; matching on it would flag
    # sub-n-gram overlap. Filter AFTER the explode on the gram's own
    # token count (exactly _DECON_N for every genuine gram): cheap
    # single-space split per exploded row, and — unlike a doc-level
    # size(_tok) predicate — it cannot be pushed below the generator to
    # re-inline the regex tokenization under the scan. The oracle states
    # the equivalent doc-level filter (len(tokens) >= n).
    full_gram = F.size(F.split(F.col("gram"), " ")) == _DECON_N
    bench = (
        grams.filter(F.col("doc_id") < _DECON_BENCH_IDS)
        .select(F.explode_outer("gs").alias("gram"))
        .filter(full_gram)
        .dropDuplicates(["gram"])
    )
    corpus = (
        grams.filter(F.col("doc_id") >= _DECON_BENCH_IDS)
        .select("doc_id", F.explode_outer("gs").alias("gram"))
        .filter(full_gram)
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        # plain count, NOT count_distinct: grams are array_distinct'd
        # per document before the explode, so (doc_id, gram) is already
        # unique and a distinct-agg would add a (doc_id, gram) exchange
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )


@register(
    "q111_dup_graph_degrees",
    tags=("dedup", "llm-data", "graph", "degree"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS doc_id, id_b AS nbr FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
deg AS (
  SELECT d.doc_id,
         CAST(COALESCE(s.cnt, 0) AS BIGINT) AS degree
  FROM documents d
  LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt FROM sym GROUP BY doc_id) s
    ON s.doc_id = d.doc_id
)
SELECT degree, COUNT(*) AS n_docs
FROM deg GROUP BY degree
""",
)
def q111_dup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph — the health
    metric that decides dedup policy: a fat tail (hub documents
    near-duplicating hundreds of others) means boilerplate that should
    be stop-listed before clustering, while mostly degree-0/1 means
    pairwise keep-one suffices.

    Built ON the same LSH pair operator q42 hash-checks (no second
    pair-finding implementation to drift): symmetrize edges, count per
    endpoint, left-join back so isolated docs report degree 0, then
    histogram. Exchanges: the pair pipeline's reused one + endpoint
    count + final histogram agg — all key-partitioned, no all-pairs
    anywhere."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    # endpoint fan-out via in-row explode, NOT unionAll of two selects:
    # a union duplicates the un-materialized LSH pair pipeline (the
    # whole shingle->minhash->band->jaccard DAG runs twice), while the
    # explode doubles rows map-side in ONE pass over one pipeline.
    sym = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("doc_id")
    )
    cnt = sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    deg = (
        docs.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select(F.coalesce("cnt", F.lit(0)).cast("bigint").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


_SPAN_L = 40  # char-span width for exact-substring matching
_SPAN_S = 10  # stride between sampled span starts


@register(
    "q119_shared_span_pairs",
    tags=("dedup", "llm-data", "exact-substring"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS nt FROM documents
),
spans AS (
  SELECT DISTINCT doc_id, substr(nt, p::INT, {_SPAN_L}) AS span
  FROM d, unnest(range(1, len(nt) - {_SPAN_L} + 2, {_SPAN_S})) t(p)
  WHERE len(nt) >= {_SPAN_L}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_spans
FROM spans a JOIN spans b
  ON a.span = b.span AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def q119_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring duplication (the Lee et al. 2022 "Deduplicating
    Training Data" family, strided): documents sharing any identical
    {_SPAN_L}-char span, detected via span fingerprints sampled every
    {_SPAN_S} chars — catches copied passages that word-level
    shingles/MinHash dilute (a 300-char verbatim quote inside two
    otherwise-different docs).

    Scale shape: postings are ~n_chars/{_SPAN_S} per doc (10× smaller
    than a sliding window) and near-unique outside true duplication, so
    the span equi-join touches only colliding spans; the exchange is
    keyed on the span itself (fine-grained) and reused by both
    self-join sides. Boilerplate spans (site headers, licenses) are the
    skew risk at 100 TB — the q48 stop-list df-cap applies verbatim to
    this posting relation (same (key, doc) shape). Character, not
    byte, offsets on both engines, so CJK text fingerprints
    identically."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("nt")
    )
    long_enough = d.filter(F.length("nt") >= _SPAN_L)
    positions = F.sequence(
        F.lit(1), F.length("nt") - _SPAN_L + 1, F.lit(_SPAN_S)
    )
    spans = (
        long_enough.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        positions,
                        lambda p: F.col("nt").substr(p, F.lit(_SPAN_L)),
                    )
                )
            ).alias("span"),
        )
        .repartition("span")
    )
    return (
        spans.alias("a")
        .join(
            spans.alias("b"),
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_spans"))
    )


_SQL_TRIGRAMS = (
    f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKENS}) - 1, 2)), "
    f"i -> concat_ws(' ', ({_SQL_TOKENS})[i::INT], ({_SQL_TOKENS})[i::INT + 1], "
    f"({_SQL_TOKENS})[i::INT + 2])))"
)
_CONTAINMENT = 0.25


@register(
    "q127_ngram_containment_pairs",
    tags=("dedup", "llm-data", "containment"),
    oracle=f"""
WITH tg AS (
  SELECT doc_id, lang, {_SQL_TRIGRAMS} AS gs FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
       CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
         / least(len(a.gs), len(b.gs)) AS containment
FROM tg a JOIN tg b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / least(len(a.gs), len(b.gs)) >= {_CONTAINMENT!r}
""",
)
def q127_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by word-trigram CONTAINMENT —
    |A∩B| / min(|A|, |B|) — the metric that catches subset duplication
    (a short doc embedded whole inside a long one), which Jaccard (q48)
    structurally misses: the union term dilutes any small-in-big
    overlap below threshold.

    Same inverted-index scale shape as q48 — postings equi-join on
    (lang, trigram), co-occurrence counting, sizes carried WITH the
    postings so no post-join size lookups, one ReusedExchange feeding
    both self-join sides. Containment = n_common / min(na, nb): two
    exact integers, one final scalar divide. The q48 stop-gram df-cap
    composes verbatim when corpus-scale skew demands it; kept out here
    so the two queries pin both the capped and uncapped index shapes."""
    from ..functions.text import tokens, word_ngrams_t

    d = t(spark, sf_dir, "documents")
    # fan_out measured SLOWER here (1.13 → 1.29 s at sf0.1, r12) — the
    # posting pipeline's consumers run as concurrent scan stages
    # unfanned; left unfanned per the measurement rule.
    staged = d.select("doc_id", "lang", "text").select(
        "doc_id", "lang", tokens("text").alias("_tok")
    )
    tg = staged.select(
        "doc_id",
        "lang",
        F.array_distinct(word_ngrams_t(F.col("_tok"), 3)).alias("gs"),
    )
    postings = tg.select(
        "doc_id",
        "lang",
        F.size("gs").alias("n_g"),
        F.explode_outer("gs").alias("gram"),
    ).repartition("lang", "gram")
    co = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n_g")).alias("na"),
            F.first(F.col("b.n_g")).alias("nb"),
        )
    )
    containment = F.col("n_common").cast("double") / F.least(
        F.col("na"), F.col("nb")
    ).cast("double")
    return co.select(
        "id_a", "id_b", "n_common", containment.alias("containment")
    ).filter(F.col("containment") >= _CONTAINMENT)


_PR_DAMP = 0.85
_PR_S = 10**12  # integer quantization denominator for contributions


@register(
    "q125_pagerank_dup_graph",
    tags=("dedup", "llm-data", "graph", "pagerank"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
contrib AS (
  SELECT s.dst,
         CAST({_PR_S} AS BIGINT) // (n.n * d.deg) AS qc
  FROM sym s JOIN deg d ON d.src = s.src, n
),
acc AS (SELECT dst, CAST(SUM(qc) AS BIGINT) AS q FROM contrib GROUP BY dst)
SELECT doc.doc_id,
       {1.0 - _PR_DAMP!r} / n.n
         + {_PR_DAMP!r} * (CAST(COALESCE(a.q, 0) AS DOUBLE) / {float(_PR_S)!r})
         AS pagerank
FROM documents doc
LEFT JOIN acc a ON a.dst = doc.doc_id, n
""",
)
def q125_pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact PageRank iteration (damping {_PR_DAMP}, uniform start,
    simplified dangling handling: isolated docs keep the teleport term
    only) over the SAME near-duplicate graph q42 hash-checks — the
    centrality signal that ranks boilerplate hubs: a doc near-duplicating
    hundreds of others collects mass from every neighbor, so the head of
    this ranking IS the stop-list candidate set q111's degree histogram
    motivates.

    Determinism: each in-neighbor's contribution 1/(n*deg) is quantized
    as the exact integer {_PR_S} // (n*deg) — integer division on
    positive BIGINTs is identical in both engines — summed exactly, and
    only the final teleport+rescale touches doubles (same IEEE ops both
    sides). The full damped loop is driver-side control over this plan,
    like k-means over q118's assign; one exact step pins the semantics.

    Scale shape: edges from the banded LSH pipeline (never all-pairs),
    degree = one map-side-combined count keyed like the contribution
    join that follows (ReusedExchange), mass accumulation = one hash
    agg on dst, then a doc_id-keyed left join to surface isolated docs.
    Per-iteration cost is |edges| through two key-partitioned
    exchanges — the connected-components loop (operators/graph.py)
    already proves this shape iterates safely with localCheckpoint
    lineage cuts."""
    from ..operators.dedup import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    sym = sym_edges(pairs)
    n = docs.select(F.count(F.lit(1)).alias("n"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib = (
        sym.join(deg, "src")
        .crossJoin(F.broadcast(n))
        .select(
            "dst",
            F.expr(f"{_PR_S}L div (n * deg)").alias("qc"),
        )
    )
    acc = contrib.groupBy("dst").agg(F.sum("qc").alias("q"))
    return (
        docs.select("doc_id")
        .join(acc, F.col("doc_id") == F.col("dst"), "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            (
                F.lit(1.0 - _PR_DAMP) / F.col("n")
                + F.lit(_PR_DAMP)
                * (
                    F.coalesce(F.col("q"), F.lit(0)).cast("double")
                    / F.lit(float(_PR_S))
                )
            ).alias("pagerank"),
        )
    )


@register(
    "q141_triangle_count",
    tags=("dedup", "llm-data", "graph", "triangles"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
e AS (SELECT id_a AS a, id_b AS b FROM lsh_pairs),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges
FROM tri
""",
)
def q141_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph — the transitivity
    signal that separates boilerplate CLIQUES (template families where
    every doc matches every other: many triangles) from chain-shaped
    false-positive strings (A~B~C without A~C: zero triangles), which
    tells you whether q49's transitive-closure clustering will
    over-merge.

    Shape: edges are id_a < id_b once each, so each triangle
    (x < y < z) is counted exactly once by the wedge-close join —
    e1=(x,y), e2=(y,z) joined on the shared middle vertex, closed by
    probing e3=(x,z). Two equi-joins on the edge relation, both
    key-partitioned; the classic skew control at 100 TB (order wedges
    by degree so high-degree hubs don't fan out) composes with q111's
    degree operator, and the LSH pair pipeline is planned ONCE with
    its exchange reused across the three edge references."""
    from ..operators.dedup import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # Materialize the edge list once: three self-references of an
    # un-materialized LSH DAG would plan the whole pair pipeline three
    # times (the q111/q125 lesson, one join deeper).
    e = pairs.localCheckpoint(eager=False)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(e3, ["x", "z"])
    n_edges = e.select(F.count(F.lit(1)).alias("n_edges"))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    )


_PRW_WQ = 10**6  # edge-weight quantization (jaccard -> integer)


@register(
    "q142_weighted_pagerank",
    tags=("dedup", "llm-data", "graph", "pagerank", "weighted"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
wedges AS (
  SELECT id_a AS src, id_b AS dst,
         CAST(floor(jaccard * {float(_PRW_WQ)!r}) AS BIGINT) AS qw
  FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a, CAST(floor(jaccard * {float(_PRW_WQ)!r}) AS BIGINT)
  FROM lsh_pairs
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
wsum AS (SELECT src, CAST(SUM(qw) AS BIGINT) AS w_out FROM wedges GROUP BY src),
contrib AS (
  SELECT e.dst,
         (CAST({_PR_S} AS BIGINT) * e.qw) // (n.n * w.w_out) AS qc
  FROM wedges e JOIN wsum w ON w.src = e.src, n
  WHERE w.w_out > 0
),
acc AS (SELECT dst, CAST(SUM(qc) AS BIGINT) AS q FROM contrib GROUP BY dst)
SELECT doc.doc_id,
       {1.0 - _PR_DAMP!r} / n.n
         + {_PR_DAMP!r} * (CAST(COALESCE(a.q, 0) AS DOUBLE) / {float(_PR_S)!r})
         AS pagerank
FROM documents doc
LEFT JOIN acc a ON a.dst = doc.doc_id, n
""",
)
def q142_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-WEIGHTED PageRank iteration over the near-dup graph:
    each node splits its mass across neighbors proportionally to edge
    Jaccard instead of uniformly — a 0.9-similarity template clone pulls
    far more hub mass than a borderline 0.25 match, so the boilerplate
    ranking (q125's unweighted form) stops being diluted by threshold-
    grazing edges.

    Exactness without summing doubles: edge weights floor-quantize to
    integers FIRST (qw = floor(jaccard * 1e6)), the out-weight is an
    exact integer sum, and each contribution is the integer division
    (S * qw) // (n * w_out) — identical BIGINT arithmetic in both
    engines, so the damped combine at the end is the only float op.
    Zero-out-weight nodes (possible only if every incident jaccard
    quantizes to 0) contribute nothing rather than dividing by zero.

    Same scale shape as q125: single-pipeline edge fan-out (the
    symmetrize explode rides the SAME union-free pattern via two
    branches of one pair relation in the oracle and the in-row explode
    in the engine), degree→contribution joins key-partitioned on src,
    one dst accumulation, isolated docs surfaced by the left join."""
    from ..operators.dedup import lsh_candidate_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    qw = F.floor(F.col("jaccard") * F.lit(float(_PRW_WQ))).cast("bigint")
    sym = sym_edges(pairs, extra={"qw": qw})
    n = docs.select(F.count(F.lit(1)).alias("n"))
    wsum = sym.groupBy("src").agg(F.sum("qw").alias("w_out"))
    contrib = (
        sym.join(wsum, "src")
        .filter(F.col("w_out") > 0)
        .crossJoin(F.broadcast(n))
        .select(
            "dst",
            F.expr(f"({_PR_S}L * qw) div (n * w_out)").alias("qc"),
        )
    )
    acc = contrib.groupBy("dst").agg(F.sum("qc").alias("q"))
    return (
        docs.select("doc_id")
        .join(acc, F.col("doc_id") == F.col("dst"), "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            (
                F.lit(1.0 - _PR_DAMP) / F.col("n")
                + F.lit(_PR_DAMP)
                * (
                    F.coalesce(F.col("q"), F.lit(0)).cast("double")
                    / F.lit(float(_PR_S))
                )
            ).alias("pagerank"),
        )
    )


@register(
    "q146_benchmark_leak_report",
    tags=("dedup", "llm-data", "decontamination", "report"),
    oracle=f"""
WITH bench AS (
  SELECT doc_id AS bench_doc_id, unnest({_SQL_DECON_GRAMS}) AS gram
  FROM documents
  WHERE doc_id < {_DECON_BENCH_IDS}
    AND len({_SQL_TOKENS}) >= {_DECON_N}
),
corpus AS (
  SELECT doc_id, unnest({_SQL_DECON_GRAMS}) AS gram
  FROM documents
  WHERE doc_id >= {_DECON_BENCH_IDS}
    AND len({_SQL_TOKENS}) >= {_DECON_N}
),
hits AS (
  SELECT DISTINCT b.bench_doc_id, c.doc_id
  FROM bench b JOIN corpus c ON c.gram = b.gram
)
SELECT d.doc_id AS bench_doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_leaking_docs
FROM documents d
LEFT JOIN (
  SELECT bench_doc_id, COUNT(*) AS n FROM hits GROUP BY bench_doc_id
) h ON h.bench_doc_id = d.doc_id
WHERE d.doc_id < {_DECON_BENCH_IDS}
""",
)
def q146_benchmark_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER direction of q79's decontamination: per BENCHMARK item,
    how many training documents share a word {_DECON_N}-gram with it —
    the eval-integrity report that decides which benchmark rows must be
    discarded from reported scores (a benchmark doc leaked into
    thousands of training docs is burned; zero-leak rows stay
    trustworthy).

    Scale shape: same broadcast-gram probe as q79 — the benchmark side
    (with its doc ids) broadcasts, the corpus explodes grams map-side,
    the join emits only leaking (bench, corpus) pairs, dedup + count
    aggregate relations bounded by |bench| x |leaks|. Zero-leak
    benchmark rows surface via the left join (absence of evidence must
    be REPORTED, not silently dropped)."""
    from ..functions.text import tokens, word_ngrams_t

    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens("text").alias("_tok"))
    grams = staged.select(
        "doc_id",
        F.array_distinct(word_ngrams_t(F.col("_tok"), _DECON_N)).alias("gs"),
    )
    full_gram = F.size(F.split(F.col("gram"), " ")) == _DECON_N
    bench = (
        grams.filter(F.col("doc_id") < _DECON_BENCH_IDS)
        .select(
            F.col("doc_id").alias("bench_doc_id"),
            F.explode_outer("gs").alias("gram"),
        )
        .filter(full_gram)
    )
    corpus = (
        grams.filter(F.col("doc_id") >= _DECON_BENCH_IDS)
        .select("doc_id", F.explode_outer("gs").alias("gram"))
        .filter(full_gram)
    )
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .select("bench_doc_id", "doc_id")
        .dropDuplicates(["bench_doc_id", "doc_id"])
        .groupBy("bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        d.filter(F.col("doc_id") < _DECON_BENCH_IDS)
        .select(F.col("doc_id").alias("bench_doc_id"))
        .join(hits, "bench_doc_id", "left")
        .select(
            "bench_doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
                "n_leaking_docs"
            ),
        )
    )


@register(
    "q150_dedup_savings_report",
    tags=("dedup", "llm-data", "accounting", "graph"),
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
-- PER-NODE labels, joined null-safely to per-ROW tokens: a per-row
-- label relation re-joined on doc_id fans out m×n on duplicate ids,
-- and a plain equi-join drops NULL-id rows (dup/NULL-id fixture)
labeled AS (
  SELECT n.doc_id, COALESCE(c.cluster_id, n.doc_id) AS cluster_id
  FROM (SELECT DISTINCT doc_id FROM documents) n
  LEFT JOIN comp c ON c.doc_id = n.doc_id
),
-- exact-keep flag computed IN-ROW (window), never re-joined by id:
-- an id-keyed keeper list marks every row sharing the winner's id.
-- rn ties (identical rows / same-fp id ties) are aggregate-invariant:
-- same fp ⇒ same token array ⇒ same n_tok.
tok AS (
  SELECT doc_id,
         CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok,
         row_number() OVER (
           PARTITION BY md5(list_aggregate({_SQL_TOKENS}, 'string_agg', ' '))
           ORDER BY doc_id) AS rn
  FROM documents
)
SELECT CAST(SUM(t.n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN t.rn = 1 THEN t.n_tok ELSE 0 END)
            AS BIGINT) AS exact_kept_tokens,
       CAST(SUM(CASE WHEN t.doc_id = l.cluster_id THEN t.n_tok ELSE 0 END)
            AS BIGINT) AS cluster_kept_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t.rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_kept,
       CAST(SUM(CASE WHEN t.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cluster_kept
FROM tok t
JOIN labeled l ON l.doc_id IS NOT DISTINCT FROM t.doc_id
""",
)
def q150_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-corpus-size accounting: total tokens vs tokens
    surviving EXACT dedup (one keeper per fingerprint) vs tokens
    surviving NEAR-DUP CLUSTER dedup (q49's transitive-closure keepers)
    — the number that tells you what a 100 TB crawl is actually worth
    in unique training tokens, and how much the two dedup tiers each
    buy. Both keeper sets ride the operators the catalog already
    hash-checks (q40's fingerprint, q49's min-label clusters).

    Scale shape: token counts and fingerprints are one staged scan;
    the exact-keeper window shares the fp exchange; cluster labels come
    from the iterative CC operator (localCheckpoint rounds); the final
    report is three flag-sums over one joined relation — output is ONE
    row however big the corpus."""
    from ..functions.text import fingerprint_t, token_count_t, tokens

    d = t(spark, sf_dir, "documents")
    staged = d.select("doc_id", tokens("text").alias("_tok"))
    tok = staged.select(
        "doc_id",
        token_count_t(F.col("_tok")).alias("n_tok"),
        fingerprint_t(F.col("_tok")).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    keep_flagged = tok.withColumn(
        "exact_keep", F.row_number().over(w) == 1
    )
    pairs = lsh_candidate_pairs(
        d,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    # PER-NODE labels joined null-safely: dedup_clusters' per-row output
    # re-joined on doc_id would fan out m×n on duplicate ids and a plain
    # equi-join would drop NULL-id rows (dup/NULL-id fixture finding)
    from ..operators.graph import connected_components

    comp = connected_components(
        pairs, d.select(F.col("doc_id").alias("node")), src="id_a", dst="id_b"
    )
    j = keep_flagged.join(
        comp, keep_flagged["doc_id"].eqNullSafe(comp["node"]), "left"
    ).withColumn(
        "cluster_keep",
        F.col("doc_id") == F.coalesce(F.col("component"), F.col("doc_id")),
    )
    return j.agg(
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("exact_keep"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("exact_kept_tokens"),
        F.sum(F.when(F.col("cluster_keep"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("cluster_kept_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("exact_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_kept"),
        F.sum(F.when(F.col("cluster_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cluster_kept"),
    )


@register(
    "q162_lsh_band_skew",
    tags=("dedup", "llm-data", "minhash", "skew-audit"),
    oracle=f"""
WITH sh_t AS (
  SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents
),
sig AS (
  SELECT doc_id, {_SQL_SIG_COLS} FROM sh_t
),
banded AS (
  SELECT doc_id, unnest([{_SQL_BAND_LIST}]) AS band_hash FROM sig
),
buckets AS (
  SELECT band_hash, CAST(COUNT(*) AS BIGINT) AS k
  FROM banded GROUP BY band_hash
)
SELECT CAST(LENGTH(bin(k)) - 1 AS INT) AS log2_bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(k) AS BIGINT) AS n_postings,
       CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS pair_work
FROM buckets
GROUP BY log2_bucket_size
""",
)
def q162_lsh_band_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket skew audit: the pre-flight cost model for q42's
    banded self-join. Buckets are (band, band_hash) groups; per
    log2(bucket size) stratum the audit reports how many buckets,
    how many postings, and the exact candidate-pair work Σ k·(k−1)/2
    each stratum will feed the join — the number a 100 TB operator
    reads BEFORE launching: one hot bucket of 1e6 postings means 5e11
    comparisons, and this census finds it with one cheap aggregate
    instead of a dead executor an hour into the join.

    Shape: the same scan-side signature/band expressions as q41/q42
    (any drift would break parity), one (band_hash) partial agg —
    bucket counts collapse map-side — then a ~30-key histogram agg.
    All integers, log2 via binary-digit-count (q76's trick)."""
    sigs = minhash_signatures(
        # fan_out (r12, guide §2.5): the shingle+md5 signature pipeline
        # runs scan-side — one task on the single-file testdata;
        # projected first so the exchange carries only (doc_id, text)
        fan_out(t(spark, sf_dir, "documents").select("doc_id", "text")),
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
    )
    banded = banded_signatures(sigs, "doc_id", _NUM_HASHES, _BANDS)
    buckets = banded.groupBy("band_hash").agg(F.count(F.lit(1)).alias("k"))
    k = F.col("k")
    return buckets.groupBy(
        (F.length(F.bin(k)) - 1).cast("int").alias("log2_bucket_size")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(k).cast("bigint").alias("n_postings"),
        # `div`, not `/`: long/long division in Spark yields doubles and
        # a >2^53 total pair_work would round — the audit's whole point
        # is exactness at 100 TB (oracle uses `//`, also exact)
        F.sum(F.expr("(k * (k - 1)) div 2")).cast("bigint").alias("pair_work"),
    )


_SQL_N_MATCH = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
    for i in range(_NUM_HASHES)
)


@register(
    "q163_minhash_calibration",
    tags=("dedup", "llm-data", "minhash", "eval"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
scored AS (
  SELECT c.id_a, c.id_b,
         CAST({_SQL_N_MATCH} AS INT) AS n_match,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
           AS jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
  JOIN sh_t sa ON sa.doc_id = c.id_a
  JOIN sh_t sb ON sb.doc_id = c.id_b
)
SELECT n_match,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       -- VARCHAR route: corpus-sized HUGEINT sums (qsum_big class) —
       -- DuckDB's direct HUGEINT->DOUBLE mis-rounds above 2^64
       CAST(CAST({sql_qsum('jaccard')} AS VARCHAR) AS DOUBLE)
            / 1e12 / COUNT(*) AS mean_jaccard,
       CAST(CAST({sql_qsum(f'ABS(CAST(n_match AS DOUBLE) / {float(_NUM_HASHES)!r} - jaccard)')}
            AS VARCHAR) AS DOUBLE) / 1e12 / COUNT(*) AS mean_abs_err
FROM scored
GROUP BY n_match
""",
)
def q163_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    compare the signature estimate (matching hashes / num_hashes,
    the textbook Pr[minhash match] = Jaccard identity) against the
    EXACT shingle Jaccard, stratified by match count. The sketch-trust
    report: if mean_abs_err at n_match=8 is 0.4, your '8/8 duplicate'
    bucket is full of false twins and the band/row dial needs turning
    BEFORE a 100 TB dedup run deletes the wrong half of the corpus.
    (Pr[minhash match] = true Jaccard is the textbook identity this
    measures empirically, per stratum.)

    Shape: identical scan-side signature expressions as q41/q42 (drift
    breaks parity), the same banded candidate join, then sig+shingle
    joins keyed on doc_id — candidates are LSH-pruned so the scored
    relation is bucket-mates only, never corpus². Final agg is 9 keys.
    Estimates are int/8 exact; the exact Jaccard is an integer ratio;
    both reduce through floor-quantized BIGINT sums (qsum)."""
    from ..operators.dedup import _signatures_from_shingles

    # fan_out measured SLOWER here (1.99 → 2.82 s at sf0.1, r12): the
    # shingle pipeline already materializes into the shared doc_id
    # exchange below, so the extra fan-out exchange only serializes the
    # scan through one task before it.  Left unfanned.
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE shingle pipeline materialized into ONE doc_id exchange; the
    # signature projection and both sh_a/sh_b join sides reuse it via
    # ReusedExchange (the lsh_candidate_pairs discipline) — building
    # shingles and signatures as separate pipelines ran the regex+md5
    # subtree twice.  NOTE (r12): the signature-staging localCheckpoint
    # that wins in lsh_candidate_pairs (q42 1.95→1.52 s) was MEASURED
    # NEUTRAL here (2.050 → 2.053 s solo min-of-5) — this query's cost
    # is the 4-way candidate join + exact-Jaccard verify, not the mh
    # folds — so the r11 exchange-reuse form stays (per-site rule).
    shingles = shingle_sets(
        docs, text_col="text", id_col="doc_id", mode="word", k=_SHINGLE_K
    ).repartition("doc_id")
    sigs = _signatures_from_shingles(shingles, "doc_id", _NUM_HASHES)
    banded = banded_signatures(sigs, "doc_id", _NUM_HASHES, _BANDS)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    siga = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(_NUM_HASHES)],
    )
    sigb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(_NUM_HASHES)],
    )
    sha = shingles.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    shb = shingles.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_match = sum(
        F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    ).cast("int")
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    scored = (
        cand.join(siga, "id_a")
        .join(sigb, "id_b")
        .join(sha, "id_a")
        .join(shb, "id_b")
        .select(n_match.alias("n_match"), jac.alias("jaccard"))
    )
    n = F.count(F.lit(1))
    est = F.col("n_match").cast("double") / F.lit(float(_NUM_HASHES))
    return scored.groupBy("n_match").agg(
        n.alias("n_pairs"),
        # qsum_big: pairs per n_match stratum grow with the corpus —
        # the int64 form wraps past ~9.2e6 pairs/stratum (r9 scale
        # audit, SCALING.md); value contract unchanged
        (qsum_big(F.col("jaccard")).cast("double") / F.lit(1e12) / n).alias(
            "mean_jaccard"
        ),
        (
            qsum_big(F.abs(est - F.col("jaccard"))).cast("double")
            / F.lit(1e12) / n
        ).alias("mean_abs_err"),
    )


from ..functions.text import sql_bow_fp as _sql_bow_fp_fn

_SQL_BOW_FP = _sql_bow_fp_fn(_SQL_TOKENS)


@register(
    "q179_dedup_cascade_agreement",
    tags=("dedup", "llm-data", "minhash", "eval"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
bow AS (
  SELECT doc_id, {_SQL_BOW_FP} AS bow_fp FROM documents
),
bow_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bow a JOIN bow b
    ON a.bow_fp = b.bow_fp AND a.doc_id < b.doc_id
),
merged AS (
  SELECT COALESCE(bp.id_a, lp.id_a) AS id_a,
         COALESCE(bp.id_b, lp.id_b) AS id_b,
         CASE WHEN bp.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_bow,
         CASE WHEN lp.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
  FROM bow_pairs bp
  FULL OUTER JOIN lsh_pairs lp
    ON lp.id_a = bp.id_a AND lp.id_b = bp.id_b
)
SELECT CAST(SUM(in_bow * in_lsh) AS BIGINT) AS n_both,
       CAST(SUM(in_bow * (1 - in_lsh)) AS BIGINT) AS n_bow_only,
       CAST(SUM((1 - in_bow) * in_lsh) AS BIGINT) AS n_lsh_only,
       CAST(SUM(in_bow * in_lsh) AS DOUBLE)
         / SUM(CASE WHEN in_bow + in_lsh > 0 THEN 1 ELSE 0 END)
         AS pair_jaccard
FROM merged
""",
)
def q179_dedup_cascade_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between two dedup tiers: BOW-set pairs (q178's
    order-invariant exact-on-vocabulary groups, expanded to pairs) vs
    MinHash-LSH pairs (q42, Jaccard ≥ {_JACCARD}). n_bow_only counts
    permutation duplicates LSH's banding missed; n_lsh_only counts
    near-dups invisible to the set signature; pair_jaccard is the
    tiers' overlap. This is the table that justifies (or kills) a
    cascade stage before a 100 TB run pays for both.

    Shape: BOW pairs come from a bow_fp equi-join (bounded by group
    sizes, same ceiling as q40); LSH pairs reuse the banded pipeline;
    the audit joins the two PAIR relations (each already tiny relative
    to the corpus) with a full outer on the pair key, then one 1-row
    reduction."""
    from ..functions.text import tokens as _tokens

    from ..functions.text import bow_fingerprint_t

    d = t(spark, sf_dir, "documents")
    bow = d.select(
        "doc_id", bow_fingerprint_t(_tokens("text")).alias("bow_fp")
    )
    a = bow.select(F.col("doc_id").alias("id_a"), "bow_fp")
    b = bow.select(F.col("doc_id").alias("id_b"), "bow_fp")
    bow_pairs = (
        a.join(b, "bow_fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1).alias("in_bow"))
    )
    lsh = lsh_candidate_pairs(
        d,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    ).select("id_a", "id_b", F.lit(1).alias("in_lsh"))
    merged = bow_pairs.join(lsh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_bow"), F.lit(0)).alias("in_bow"),
        F.coalesce(F.col("in_lsh"), F.lit(0)).alias("in_lsh"),
    )
    ib = F.col("in_bow")
    il = F.col("in_lsh")
    return merged.agg(
        F.sum(ib * il).cast("bigint").alias("n_both"),
        F.sum(ib * (F.lit(1) - il)).cast("bigint").alias("n_bow_only"),
        F.sum((F.lit(1) - ib) * il).cast("bigint").alias("n_lsh_only"),
        (
            F.sum(ib * il).cast("double")
            / F.sum(F.when(ib + il > 0, 1).otherwise(0))
        ).alias("pair_jaccard"),
    )


@register(
    "q196_dedup_threshold_sweep",
    tags=("dedup", "llm-data", "minhash", "tuning"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
jac AS (
  SELECT CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
           AS jaccard
  FROM cand
  JOIN sh_t sa ON sa.doc_id = cand.id_a
  JOIN sh_t sb ON sb.doc_id = cand.id_b
),
hist AS (
  SELECT CAST(FLOOR(jaccard * 1e1) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM jac GROUP BY bucket
)
SELECT bucket,
       CAST(bucket AS DOUBLE) / 1e1 AS threshold_lo,
       n_pairs,
       CAST(SUM(n_pairs) OVER (
         ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS pairs_at_or_above
FROM hist
""",
)
def q196_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy curve: how many candidate pairs the LSH stage
    yields AT OR ABOVE each Jaccard threshold (0.1-wide buckets with a
    descending cumulative) — q42 answers 'pairs at τ=0.25'; this
    answers 'what would ANY τ cost' in the same single pass, which is
    the table a dedup-policy review actually argues over (each 0.1 of
    τ here is N documents kept or killed at 100 TB). Reuses the exact
    q41/q42 CTEs (shared banded_signatures on the Spark side), so the
    curve prices the production pipeline, not a reimplementation.

    Exactness: Jaccard is an integer ratio; buckets floor identical
    doubles; the cumulative runs over ≤11 histogram rows."""
    from ..operators.dedup import _signatures_from_shingles

    docs = t(spark, sf_dir, "documents")
    shingles = shingle_sets(
        docs, text_col="text", id_col="doc_id", mode="word", k=_SHINGLE_K
    ).repartition("doc_id")
    sigs = _signatures_from_shingles(shingles, "doc_id", _NUM_HASHES)
    banded = banded_signatures(sigs, "doc_id", _NUM_HASHES, _BANDS)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sha = shingles.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    shb = shingles.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .select(
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard")
        )
    )
    hist = jac.groupBy(
        F.floor(F.col("jaccard") * 10.0).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        "bucket",
        (F.col("bucket").cast("double") / F.lit(10.0)).alias("threshold_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("pairs_at_or_above"),
    )


# ---- q206: corpus-vs-corpus shingle containment --------------------------


@register(
    "q206_corpus_containment",
    tags=("dedup", "llm-data", "containment", "join"),
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({_SQL_SHINGLES}) AS sh
  FROM documents
  WHERE len({_SQL_TOKENS}) >= {_SHINGLE_K}
),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sb.n_sh AS BIGINT) AS n_shingles_b,
       CAST(i.n_common AS DOUBLE) / sb.n_sh AS containment_b_in_a
FROM inter i JOIN sizes sb ON sb.source = i.source_b
""",
)
def q206_corpus_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus overlap matrix: for every ordered source pair
    (A, B), the share of B's distinct word-trigram shingles that also
    occur anywhere in A — the dataset-overlap estimate run before mixing
    a new crawl into an existing pretraining blend (answers "how much of
    B is already covered by A?"). Containment, not Jaccard: it is
    asymmetric, which is exactly what "is B worth adding to A" needs.

    Shape: one distinct (source, shingle) agg collapses the corpus to
    its source-level shingle inventory (the big reduction — map-side
    combine on a fine-grained key), then a postings self-join on the
    shingle key counts co-occurrences per pair, capped at |sources|²
    rows out. At 100 TB the inventory becomes minhash signatures per
    source and the same join estimates containment from signature
    agreement (q163's calibration machinery); the exact form here IS
    the oracle contract. Short docs (< {_SHINGLE_K} tokens) are
    excluded on both sides — their truncated shingles aren't trigrams
    (q79's gram-level ⟺ doc-level filter equivalence)."""
    from ..functions.text import tokens, word_ngrams_t

    d = t(spark, sf_dir, "documents")
    # fan_out measured SLOWER here (1.76 → 1.91 s at sf0.1, r12);
    # left unfanned per the measurement rule.
    staged = d.select("source", "text").select(
        "source", tokens("text").alias("_tok")
    )
    grams = staged.select(
        "source",
        F.array_distinct(word_ngrams_t(F.col("_tok"), _SHINGLE_K)).alias("gs"),
    )
    full_gram = F.size(F.split(F.col("sh"), " ")) == _SHINGLE_K
    # repartition on the join key so the distinct-inventory exchange is
    # READ TWICE (ReusedExchange) by the postings self-join instead of
    # re-running the tokenize+explode pipeline per side (q48's fix)
    sh = (
        grams.select("source", F.explode_outer("gs").alias("sh"))
        .filter(full_gram)
        .dropDuplicates(["source", "sh"])
        .repartition("sh")
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    # dataframe-alias self-join (NOT column-renamed copies): both sides
    # are the identical subtree, so the repartition("sh") exchange above
    # is built once and read twice (ReusedExchange)
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter.join(
        F.broadcast(sizes.withColumnRenamed("source", "source_b")),
        "source_b",
    ).select(
        "source_a",
        "source_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_sh").cast("bigint").alias("n_shingles_b"),
        (F.col("n_common").cast("double") / F.col("n_sh")).alias(
            "containment_b_in_a"
        ),
    )


# ---- q216: 2-hop reach on the near-duplicate graph -----------------------


@register(
    "q216_two_hop_reach",
    tags=("dedup", "llm-data", "graph", "two-hop"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach_pairs AS (
  SELECT DISTINCT src, dst FROM (
    SELECT e1.src, e2.dst
    FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
    WHERE e2.dst <> e1.src
    UNION ALL
    SELECT src, dst FROM sym
  )
),
reach AS (
  SELECT src, COUNT(*) AS n_two_hop FROM reach_pairs GROUP BY src
),
direct AS (
  SELECT src, COUNT(DISTINCT dst) AS n_direct FROM sym GROUP BY src
)
SELECT d.src AS doc_id,
       CAST(d.n_direct AS BIGINT) AS n_direct,
       CAST(COALESCE(r.n_two_hop, 0) AS BIGINT) AS n_within_two_hops,
       CAST(COALESCE(r.n_two_hop, 0) - d.n_direct AS BIGINT)
         AS n_new_at_hop2
FROM direct d LEFT JOIN reach r ON r.src = d.src
""",
)
def q216_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood census on the near-duplicate graph — the
    "how much does the duplicate cluster grow if I chase one more hop"
    signal that sizes transitive-closure work (q49) before running it.
    n_within_two_hops counts the distinct vertices reachable in one OR
    two hops (2-step walk endpoints a→x→c with c ≠ a, unioned with the
    direct neighbors — so a pendant neighbor with no common-neighbor
    path still counts), and n_new_at_hop2 = reach − degree ≥ 0 is the
    marginal cluster growth one more hop would buy.

    Shape: ONE materialized symmetric edge relation (built on the SAME
    LSH pair operator q42 hash-checks) self-joins on the middle vertex
    — cost Σ deg(v)², the standard 2-hop bound, kept sane by the same
    df-cap that bounds LSH bucket occupancy — then a distinct + two
    counts, all key-partitioned. The oracle restates the dataflow on
    the shared CTEs; the engines share NOTHING below the pair list."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    # materialize the symmetric edges once; both join sides and the
    # direct-degree count reuse this exchange
    sym = sym_edges(pairs).repartition("dst")
    e2 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    # reachable in <= 2 hops = 2-step walk endpoints (back-step a->b->a
    # excluded) UNION the direct neighbors — without the union, a
    # pendant neighbor with no common-neighbor path drops out and the
    # marginal-growth column can go negative (review finding, r6)
    reach_pairs = (
        sym.join(e2, sym.dst == e2.mid)
        .filter(F.col("dst2") != F.col("src"))
        .select("src", F.col("dst2").alias("dst"))
        .unionByName(sym.select("src", "dst"))
        .distinct()
    )
    reach = reach_pairs.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_two_hop")
    )
    direct = sym.groupBy("src").agg(
        F.countDistinct("dst").alias("n_direct")
    )
    return direct.join(reach, "src", "left").select(
        F.col("src").alias("doc_id"),
        F.col("n_direct").cast("bigint").alias("n_direct"),
        F.coalesce("n_two_hop", F.lit(0)).cast("bigint").alias(
            "n_within_two_hops"
        ),
        (F.coalesce("n_two_hop", F.lit(0)) - F.col("n_direct"))
        .cast("bigint")
        .alias("n_new_at_hop2"),
    )


# --------------------------------------------------------------------------
# q238 — duplicate-cluster source purity (provenance-leakage audit)
# --------------------------------------------------------------------------


@register(
    "q238_dup_cluster_source_purity",
    tags=("dedup", "llm-data", "graph", "provenance"),
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
sym AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
  UNION
  SELECT id_b, id_a FROM lsh_pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
by_src AS (
  SELECT c.cluster_id, d.source, CAST(COUNT(*) AS BIGINT) AS n
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
  GROUP BY c.cluster_id, d.source
)
SELECT cluster_id,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(source) AS BIGINT) AS n_sources,
       CAST(MAX(n) AS BIGINT) AS majority_n,
       CAST(COUNT(source) > 1 AS BOOLEAN) AS is_cross_source
FROM by_src
GROUP BY cluster_id
""",
)
def q238_dup_cluster_source_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance audit of the q49 duplicate clusters: does near-
    duplication stay WITHIN a source, or do clusters span sources?
    Cross-source duplicate clusters are the leakage signature every
    corpus audit wants surfaced — the same document arriving through
    two crawls (dedup saves double the bytes) or a benchmark bleeding
    into a crawl (q79's decontamination case caught upstream). Per
    multi-doc cluster: size, distinct sources, the majority source's
    count, and the cross-source flag.

    Same LSH pairs → min-label components engine path as q49 (one
    Pregel loop, localCheckpointed) with the recursive-CTE oracle
    extended by a (cluster, source) rollup; singleton docs never join
    a pair, so only REAL clusters reach the output (the relation is
    near-dup-pair-sized, tiny relative to the corpus at any scale).

    NULL-source rows group as their own provenance in both engines
    (GROUP BY keeps NULL); n_sources = COUNT(source) skips NULLs in
    both, so an all-NULL-source cluster reports 0 known sources and
    never flags cross-source."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    from ..operators.graph import connected_components

    # PER-NODE labels over EDGE NODES only (the oracle's comp relation:
    # a node is in a real cluster iff it has an edge), then ONE join to
    # per-row documents — dedup_clusters' per-row output re-joined on
    # doc_id would fan out m×n on duplicate ids, and its row-counted
    # cluster_size would promote an edgeless twice-repeated row to a
    # fake "cluster" (dup/NULL-id fixture finding)
    ends = (
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    comp = connected_components(pairs, ends, src="id_a", dst="id_b")
    by_src = (
        comp.join(
            docs.select("doc_id", "source"),
            comp["node"] == F.col("doc_id"),
        )
        .groupBy(F.col("component").alias("cluster_id"), "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return by_src.groupBy("cluster_id").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count("source").cast("bigint").alias("n_sources"),
        F.max("n").cast("bigint").alias("majority_n"),
        (F.count("source") > 1).alias("is_cross_source"),
    )


# --------------------------------------------------------------------------
# q239 — k-core peel census over the near-duplicate graph
# --------------------------------------------------------------------------

_CORE_K = 3
_CORE_ROUNDS = 4


def _sql_core_round(i: int) -> str:
    prev = f"s{i - 1}"
    return f"""d{i} AS (
  SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM {prev} GROUP BY a
),
n{i} AS (SELECT a FROM d{i} WHERE deg >= {_CORE_K}),
s{i} AS (
  SELECT e.a, e.b FROM {prev} e
  JOIN n{i} x ON e.a = x.a
  JOIN n{i} y ON e.b = y.a
)"""


@register(
    "q239_core_peel_census",
    tags=("dedup", "llm-data", "graph", "iterative"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
s0 AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
{",".join(_sql_core_round(i) for i in range(1, _CORE_ROUNDS + 1))}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT {i} AS round,"
      f" (SELECT CAST(COUNT(*) AS BIGINT) FROM n{i}) AS n_nodes,"
      f" (SELECT CAST(COUNT(*)//2 AS BIGINT) FROM s{i}) AS n_edges"
      for i in range(1, _CORE_ROUNDS + 1)
  )}
)
""",
)
def q239_core_peel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_CORE_K}-core peel over the LSH near-duplicate graph: rounds of
    'drop every doc with fewer than {_CORE_K} surviving near-dup
    neighbors' expose the DENSE duplication communities (template
    farms, mirrored boilerplate) that pairwise counts and q49's
    components both smear — a component can be a long thin chain; a
    core cannot. {_CORE_ROUNDS} fixed peels, each census'd
    (nodes, undirected edges), so convergence is visible in the
    output (stable rows ⇒ the true {_CORE_K}-core was reached); the
    oracle unrolls the same peels as plain CTE rounds — fixpoint
    iteration hash-checked round by round.

    Shape at scale: the symmetrized pair relation localCheckpoints
    once above the whole LSH DAG (q49's lesson); each peel is one
    degree agg + two semi joins on the PAIR-sized relation, so the
    loop never touches corpus-sized data."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    s = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionByName(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    ).localCheckpoint(eager=True)
    from functools import reduce

    stats = []
    for i in range(1, _CORE_ROUNDS + 1):
        deg = s.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        n = deg.filter(F.col("deg") >= _CORE_K).select("a")
        s = (
            s.join(n, "a", "left_semi")
            .join(n.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        # census rows stay DISTRIBUTED aggregates (1-row each), never a
        # driver-side .count() re-materialized as literals
        stats.append(
            n.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(
                s.agg(
                    F.expr("CAST(COUNT(1) div 2 AS BIGINT)").alias("n_edges")
                )
            )
            .select(
                F.lit(i).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )
    return reduce(lambda x, y: x.unionByName(y), stats)


# --------------------------------------------------------------------------
# q264 — quality-argmax cluster keeper (keep the BEST, not the first)
# --------------------------------------------------------------------------

from .text import _SQL_QUALITY as _KQ_SQL_QUALITY  # noqa: E402
from .text import _quality_t as _kq_quality_t  # noqa: E402

_KQ_Q = 1_000_000


@register(
    "q264_cluster_quality_keeper",
    tags=("dedup", "llm-data", "graph", "quality", "iterative"),
    oracle=f"""
{_SQL_CLUSTER_CTES},
-- PER-NODE labels (comp is one row per node) joined ONCE to per-row
-- scored documents — the q150/q238 discipline. Joining the per-row
-- `labeled` relation back to per-row documents fans out m×n on
-- duplicate doc_ids (a tripled id yields 9 scored rows) and inflates
-- n_docs relative to q49's cluster_size (r7 advice finding).
scored AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         CAST(FLOOR({_KQ_SQL_QUALITY.replace("documents", "d")}
                    * {_KQ_Q}) AS BIGINT) AS quality_q
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
  WHERE d.text IS NOT NULL
),
ranked AS (
  SELECT doc_id, cluster_id, quality_q,
         row_number() OVER (
           PARTITION BY cluster_id
           ORDER BY quality_q DESC, doc_id ASC NULLS FIRST) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs
  FROM scored
)
SELECT cluster_id, doc_id AS keeper_doc_id, quality_q AS keeper_quality_q,
       n_docs
FROM ranked WHERE rn = 1
""",
)
def q264_cluster_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection UPGRADED: q49 keeps each duplicate cluster's
    MIN-id doc — the deterministic default — but a curation pass wants
    the cluster's BEST copy (the crawl with the least boilerplate, the
    fullest text). Per q49 cluster: the member with the HIGHEST q31
    quality score (quantized; ties → smallest id, NULLS FIRST pinned),
    its score, and the cluster size. Reading this beside q49 prices
    the survivor-policy upgrade: every row where keeper_doc_id differs
    from the cluster id is a better document the min-id rule would
    have thrown away.

    Oracle reuses q49's sliced recursive-closure CTEs (the q258
    discipline) with the q31 quality builder applied to the SAME
    document rows — policy provably evaluated on the clusters the
    dedup pass ships. NULL-text docs drop (no scoreable content) in
    both engines. Labels are PER NODE (connected_components output,
    one row per distinct doc_id) left-joined once onto the per-row
    scored documents — the q150/q238 discipline: a per-row label
    relation re-joined by id fans out m×n on duplicate doc_ids and
    inflates n_docs against q49's cluster_size (r7 advice finding).

    Scale shape: the cluster build is q49's (edge-node-sized iterative
    rounds); scoring is one in-row projection; the keeper pick is one
    cluster-keyed window (rank + size share the exchange)."""
    from ..functions.text import tokens as _tok_fn
    from ..operators.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    comp = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node")), src="id_a", dst="id_b"
    )
    scored_docs = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("d_id"),
            "text",
            _tok_fn("text").alias("_tok"),
        )
        .select(
            "d_id",
            F.floor(_kq_quality_t(F.col("_tok")) * _KQ_Q)
            .cast("bigint")
            .alias("quality_q"),
        )
    )
    scored = scored_docs.join(
        comp, scored_docs["d_id"].eqNullSafe(comp["node"]), "left"
    ).select(
        F.col("d_id").alias("doc_id"),
        F.coalesce(F.col("component"), F.col("d_id")).alias("cluster_id"),
        "quality_q",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_q").desc(), F.col("doc_id").asc_nulls_first()
    )
    ws = Window.partitionBy("cluster_id")
    ranked = scored.select(
        "doc_id",
        "cluster_id",
        "quality_q",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(ws).cast("bigint").alias("n_docs"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("quality_q").alias("keeper_quality_q"),
        "n_docs",
    )


# --------------------------------------------------------------------------
# q265 — rare-trigram link pairs (related-doc discovery, df-bounded)
# --------------------------------------------------------------------------

_RTL_MAX_DF = 3      # a trigram is "rare" if <= this many docs carry it
_RTL_MIN_SHARED = 3  # pairs must share at least this many rare trigrams


@register(
    "q265_rare_trigram_link_pairs",
    tags=("dedup", "llm-data", "text", "linking"),
    oracle=rf"""
WITH tg AS (
  -- NULL ids excluded explicitly (they could never form an a<b pair,
  -- but they would inflate df); duplicate-id rows collapse via the
  -- DISTINCT so a repeated row cannot double a posting (dup/NULL-id
  -- fixture)
  SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS g
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
df_t AS (
  SELECT g, list(doc_id ORDER BY doc_id) AS ids
  FROM (SELECT DISTINCT g, doc_id FROM tg)
  GROUP BY g
  HAVING COUNT(*) BETWEEN 2 AND {_RTL_MAX_DF}
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM df_t, unnest(ids) a(doc_id), unnest(ids) b(doc_id)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cand
GROUP BY id_a, id_b
HAVING COUNT(*) >= {_RTL_MIN_SHARED}
""",
)
def q265_rare_trigram_link_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-document DISCOVERY — the retrieval neighbor of dedup:
    two docs sharing ≥{_RTL_MIN_SHARED} RARE word trigrams (document
    frequency ≤ {_RTL_MAX_DF}) are about the same entity/event even
    when their bigram Jaccard is nowhere near the q48 duplicate
    threshold — the citation/coverage clusters a corpus map surfaces.
    (Single rare TOKENS don't exist in a closed synthetic vocabulary —
    measured df-min 177 — which is itself the real-world lesson: the
    rarity signal lives in n-gram order, and trigrams are the first
    order with a long tail here.)

    The df cap is the whole scale story: rare-trigram posting lists
    hold ≤{_RTL_MAX_DF} docs BY DEFINITION, so per-term pair fan-out
    is ≤{_RTL_MAX_DF * (_RTL_MAX_DF - 1) // 2} and total candidates
    are bounded by the rare-trigram count — an inverted index whose
    quadratic term is structurally capped (q48 needs an explicit
    stop-list cap; here the rarity predicate IS the cap).

    Shape: explode distinct trigrams (q127's builder) → gram-keyed agg
    keeping 2..{_RTL_MAX_DF}-doc grams with SORTED posting arrays →
    in-row pair expansion → (id_a, id_b) count agg. Two keyed
    exchanges, no corpus self-join."""
    from ..functions.text import tokens as _rtl_tokens
    from ..functions.text import word_ngrams_t as _rtl_ngrams

    # r12, guide §2.5 — parallelize the trigram pipeline; projected and
    # prefiltered first so the exchange moves only live (doc_id, text)
    d = fan_out(
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
    )
    # token array STAGED as its own projection before the trigram
    # fan-out — the 13× tokens() re-evaluation trap (plans/text.py
    # header): unstaged, every try_element_at inside the n-gram lambda
    # re-split the text per element (measured 9 s → staged at sf0.1)
    staged = d.select("doc_id", _rtl_tokens("text").alias("_tok"))
    tg = staged.select(
        "doc_id",
        F.explode(
            F.array_distinct(_rtl_ngrams(F.col("_tok"), 3))
        ).alias("g"),
    )
    # collect_set, not collect_list: duplicate-id rows collapse inside
    # the gram agg (the oracle's DISTINCT), keeping ONE exchange. A
    # count-first + semi-join variant was measured SLOWER here: the
    # trigram explode dominates and it would run twice; posting lists
    # are bounded at this df anyway because df>cap lists are dropped
    # immediately after the agg.
    postings = (
        tg.groupBy("g")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .withColumn("df", F.size("ids"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _RTL_MAX_DF))
    )
    pair = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids)), b -> struct(a, b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
    return (
        pair.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _RTL_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# q269 / q270 — dup-graph structure: triangle census & degree assortativity
# --------------------------------------------------------------------------

_TRI_Q = 1_000_000


@register(
    "q269_dup_graph_triangles",
    tags=("dedup", "llm-data", "graph", "triangles"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
e AS (
  SELECT DISTINCT id_a AS a, id_b AS b FROM lsh_pairs
),
sym AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY v),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
              THEN e.b ELSE e.a END AS w
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM o e1 JOIN o e2 ON e2.u = e1.w
            JOIN o e3 ON e3.u = e1.u AND e3.w = e2.w
),
base AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
         (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
           AS n_wedges
)
SELECT b.n_nodes, b.n_edges, b.n_wedges, t.n_triangles,
       CASE WHEN b.n_wedges > 0
            THEN CAST(({_TRI_Q} * 3 * t.n_triangles) // b.n_wedges
                      AS BIGINT) END AS closure_q
FROM base b, tri t
""",
)
def q269_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph plus the global
    clustering (transitivity) ratio 3·triangles/wedges — the structure
    probe that tells dedup policy WHAT the dup graph is: high closure
    means tight cliques of mutual near-copies (transitive-closure
    clustering like q49 is safe — members really are alike), low
    closure with high degree (q111's fat tail) means hub/boilerplate
    chaining, where min-label closure would glue unrelated documents
    through a shared template and a stop-list pass must run first.

    Exact, never all-pairs: edges orient from the (degree, id)-smaller
    endpoint to the larger — every triangle x<y<z in that total order
    is counted exactly once as (x→y)(y→z)(x→z) — so wedge enumeration
    is bounded by Σ out-deg², and out-degree under degree orientation
    is bounded by the graph's degeneracy (the standard distributed
    triangle bound), not by the max hub degree. Built ON the same LSH
    pair operator q42 hash-checks; all emitted values integers
    (closure quantized to the 1e6 lattice).

    Shape: one pair pipeline + two node-keyed joins to orient + the
    e1.dst=e2.src wedge join probed against oriented edges — every
    exchange keyed, no driver state beyond the final scalar row."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    e = pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=True)
    sym = e.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("v")
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("id_a") < F.col("id_b"))
    )
    o = (
        e.join(da, e["id_a"] == F.col("_va"))
        .join(db, e["id_b"] == F.col("_vb"))
        .select(
            F.when(a_first, F.col("id_a")).otherwise(F.col("id_b")).alias("u"),
            F.when(a_first, F.col("id_b")).otherwise(F.col("id_a")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = o.select(F.col("u").alias("u1"), F.col("w").alias("w1"))
    e2 = o.select(F.col("u").alias("u2"), F.col("w").alias("w2"))
    e3 = o.select(F.col("u").alias("u3"), F.col("w").alias("w3"))
    tri = (
        e1.join(e2, F.col("w1") == F.col("u2"))
        .join(e3, (F.col("u1") == F.col("u3")) & (F.col("w2") == F.col("w3")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    base = (
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("(d * (d - 1)) div 2")).cast("bigint").alias(
                "n_wedges"
            ),
        )
        .crossJoin(
            F.broadcast(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        )
    )
    return base.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.expr(f"CAST(({_TRI_Q} * 3 * n_triangles) div n_wedges AS BIGINT)"),
        ).alias("closure_q"),
    )


@register(
    "q270_dup_graph_assortativity",
    tags=("dedup", "llm-data", "graph", "assortativity"),
    oracle=f"""
WITH {_SQL_LSH_CTES},
e AS (
  SELECT DISTINCT id_a AS a, id_b AS b FROM lsh_pairs
),
sym AS (
  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
),
deg AS (
  SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
),
dp AS (
  SELECT da.d AS x, db.d AS y
  FROM sym s JOIN deg da ON da.v = s.a JOIN deg db ON db.v = s.b
),
st AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM dp
)
SELECT CAST(k AS BIGINT) AS n_directed_edges,
       CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(({_TRI_Q} * sx) // k AS BIGINT) AS mean_end_degree_q,
       CASE WHEN CAST(k * sxx - sx * sx AS DOUBLE) > 0e0
             AND CAST(k * syy - sy * sy AS DOUBLE) > 0e0
            THEN CAST(k * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(k * syy - sy * sy AS DOUBLE)))
       END AS assortativity
FROM st
""",
)
def q270_dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-duplicate graph: the Pearson
    correlation of endpoint degrees over every directed edge — the
    one-number hub diagnosis that complements q269's closure.
    Disassortative (r < 0, hubs linking to leaves) is the boilerplate-
    template signature — a stop-list candidate BEFORE clustering;
    assortative (r > 0) means dup clusters of similar multiplicity,
    where q49's transitive closure behaves.

    Determinism: degrees are exact integers; the correlation reduces
    through exact integer sufficient statistics (k, Σx, Σy, Σxy, Σx²,
    Σy² — the q164 _sql_corr discipline) carried in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — identical exact integers, q268's
    width discipline — because the FINAL cross-products (k·Σxy, Σx·Σy,
    k·Σx²) square the sums: a single hub of degree d contributes d³ to
    Σx², so int64 dies near d ≈ 5e4 — exactly the boilerplate-hub
    input this query exists to diagnose. 128-bit integers hold to
    d ≈ 1e9. Each exact integer casts to DOUBLE once (round-half-even
    on identical operands) and the final expression is pinned
    per-symbol IEEE, identical in both engines. NULL when a side is
    degree-constant (r undefined), pinned both sides.

    Shape: one pair pipeline + a node-keyed degree agg + two degree
    lookups per directed edge + one scalar aggregate — every exchange
    keyed on node ids."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs,
        num_hashes=_NUM_HASHES,
        shingle_k=_SHINGLE_K,
        bands=_BANDS,
        jaccard_threshold=_JACCARD,
    )
    e = pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=True)
    sym = e.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).unionByName(e.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
    deg = (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .select(F.col("a").alias("v"), "d")
    )
    da = deg.select(F.col("v").alias("_va"), F.col("d").alias("x"))
    db = deg.select(F.col("v").alias("_vb"), F.col("d").alias("y"))
    dp = (
        sym.join(da, sym["a"] == F.col("_va"))
        .join(db, sym["b"] == F.col("_vb"))
        .select("x", "y")
    )
    dec = "decimal(38,0)"
    st = dp.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    dx = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return st.crossJoin(F.broadcast(n_nodes)).select(
        F.col("k").cast("bigint").alias("n_directed_edges"),
        "n_nodes",
        # div, not `/`: decimal division rounds at its result scale
        # before any cast, which can bump a .999999 ratio past the
        # floor the oracle's `//` takes
        F.expr(f"CAST(({_TRI_Q} * sx) div k AS BIGINT)").alias(
            "mean_end_degree_q"
        ),
        F.when(
            (dx > 0.0) & (dy > 0.0),
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.sqrt(dx) * F.sqrt(dy)),
        ).alias("assortativity"),
    )
