"""Similarity-search queries over ``embeddings`` (SURVEY §2j [EXT]).

Brute-force cosine top-k is the exact baseline; the scale path
(LSH-bucketed ANN) lives in ``operators.similarity``.

Numeric determinism: embedding math produces full-mantissa doubles, so
reductions use the floor-quantized integer sum (``_util.qsum``) — the
only construction that is bit-identical across Spark and DuckDB for
arbitrary doubles (see _util docstring). Scale 12 keeps |x*y|·10^12
well under 2^53 for unit-normalized vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import (
    _SQL_EMB,
    _SQL_QNZ,
    has_quantizable_element,
    qsum,
    qsum_big,
    sql_qsum,
    sql_qsum_nullprop,
    t,
    temb,
    temb_f,
)
from .catalog import QUERIES, register

_QUERY_VEC_ID = 0
_S = float(10**12)  # quantization rescale factor


@register(
    "q50_cosine_topk",
    tags=("similarity", "llm-data", "topk"),
    oracle=f"""
WITH e AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings WHERE vec_id <> {_QUERY_VEC_ID}),
q AS (SELECT embedding AS qv FROM {_SQL_EMB} embeddings WHERE vec_id = {_QUERY_VEC_ID}),
prod AS (
  SELECT e.vec_id,
         e.embedding[i::INT]::DOUBLE AS x,
         qv[i::INT]::DOUBLE AS y
  FROM e, q, unnest(range(1, len(e.embedding) + 1)) t(i)
),
agg AS (
  SELECT vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY vec_id
)
SELECT vec_id, dot / (sqrt(na) * sqrt(nq)) AS cosine_sim
FROM agg
ORDER BY cosine_sim DESC, vec_id ASC
LIMIT 10
""",
)
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 against the query vector
    (vec_id=0). Broadcast query side; the dot/norm fold runs as zip_with
    + integer aggregate INSIDE each row — no explode, no aggregation
    shuffle; the only exchange is the final TakeOrdered top-k. The
    per-element floor-quantized integers are identical to the oracle's
    explode+SUM formulation because integer addition is order-free."""
    # self-norms staged per ROW below the broadcast join (r12 — the
    # q53/q224 fix): nq re-ran the O(d) fold once per corpus row for a
    # single broadcast value.  Same expression, same row → same bits.
    e = temb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).select(
        "vec_id", "v",
        (_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S)).alias("na"),
    )
    q = e.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("na").alias("nq")
    )
    agg = (
        e.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_qdot(F.col("v"), F.col("qv")).cast("double") / F.lit(_S)).alias("dot"),
            "na",
            "nq",
        )
    )
    return (
        agg.select(
            "vec_id",
            (F.col("dot") / (F.sqrt("na") * F.sqrt("nq"))).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "q51_label_centroids",
    tags=("similarity", "llm-data", "agg"),
    oracle=f"""
SELECT label, i::INT AS dim,
       -- VARCHAR route: this HUGEINT sum is corpus-sized (qsum_big),
       -- and DuckDB's direct HUGEINT->DOUBLE mis-rounds above 2^64
       CAST(CAST({sql_qsum('embedding[i::INT]::DOUBLE')} AS VARCHAR) AS DOUBLE)
         / {_S!r} / COUNT(*)
         AS centroid
FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i)
GROUP BY label, i
""",
)
def q51_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension). Explode +
    hash-agg: partial aggregation makes the shuffle carry
    |labels|×dim rows regardless of corpus size."""
    e = temb(spark, sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = e.select("label", F.posexplode("v").alias("i", "x"))
    return ex.groupBy("label", (F.col("i") + 1).cast("int").alias("dim")).agg(
        # qsum_big: rows per (label, dim) = vectors per label — corpus-
        # sized, so the int64 form wraps past ~9.2e6 vectors/label (r9
        # scale audit, SCALING.md); value contract unchanged
        (qsum_big(F.col("x")).cast("double") / F.lit(_S) / F.count(F.lit(1)))
        .alias("centroid")
    )


@register(
    "q52_norm_stats_per_label",
    tags=("similarity", "llm-data", "agg"),
    oracle=f"""
WITH norms AS (
  SELECT label, vec_id,
         sqrt(CAST({sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')}
              AS DOUBLE) / {_S!r}) AS l2
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i)
  GROUP BY label, vec_id
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(CAST({sql_qsum('l2', 9)} AS VARCHAR) AS DOUBLE)
         / 1000000000.0 / COUNT(*) AS avg_norm,
       MIN(l2) AS min_norm,
       MAX(l2) AS max_norm
FROM norms GROUP BY label
""",
)
def q52_norm_stats_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm folded inside the row (zip_with integer sum —
    order-free, so identical to the oracle's explode+SUM), then ONE
    shuffle for the per-label stats."""
    e = temb(spark, sf_dir).select(
        "label", "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    norms = e.select(
        "label",
        "vec_id",
        F.sqrt(_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S)).alias(
            "l2"
        ),
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            # qsum_big: rows/label are corpus-sized (r9 scale audit)
            qsum_big(F.col("l2"), scale=9).cast("double")
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("avg_norm"),
        F.min("l2").alias("min_norm"),
        F.max("l2").alias("max_norm"),
    )


def _sign_block(vec_col, nbits: int):
    """Blocking key: concatenated sign bits of the first nbits raw float
    components. Pure comparison on stored values — no arithmetic, so the
    key is trivially bit-identical across engines."""
    return F.concat(
        *[
            F.when(F.element_at(vec_col, j + 1) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(nbits)
        ]
    )


def _qdot(a, b):
    """Order-independent quantized dot product: per-element
    floor((x*y)*1e12) -> BIGINT, exact integer sum. Associative integer
    addition means ANY reduction order gives the same bits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.floor(x * y * F.lit(_S)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


_ND_BITS = 6
_ND_TOPK = 25
_ND_TAU = 0.0  # cosine threshold, applied BELOW the global top-k

_SQL_ND_BLK = (
    "list_aggregate(list_transform(embedding[1:"
    + str(_ND_BITS)
    + "], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
)


@register(
    "q55_embedding_near_dup",
    tags=("similarity", "dedup", "llm-data", "topk"),
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {_SQL_ND_BLK} AS blk FROM {_SQL_EMB} embeddings
),
norms AS (
  SELECT vec_id,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS qn
  FROM e, unnest(range(1, len(embedding) + 1)) t(i)
  GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id
),
dots AS (
  SELECT id_a, id_b,
         {sql_qsum('ea[i::INT]::DOUBLE * eb[i::INT]::DOUBLE')} AS qd
  FROM pairs, unnest(range(1, len(ea) + 1)) t(i)
  GROUP BY id_a, id_b
)
SELECT * FROM (
  SELECT d.id_a, d.id_b,
         (CAST(d.qd AS DOUBLE) / {_S!r})
           / (sqrt(CAST(na.qn AS DOUBLE) / {_S!r})
              * sqrt(CAST(nb.qn AS DOUBLE) / {_S!r})) AS cosine_sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.id_a
  JOIN norms nb ON nb.vec_id = d.id_b
)
WHERE cosine_sim >= {_ND_TAU!r}
ORDER BY cosine_sim DESC, id_a ASC, id_b ASC
LIMIT {_ND_TOPK}
""",
)
def q55_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: sign-LSH blocked
    self-join + exact cosine re-rank, ``cosine_sim >= {_ND_TAU}``
    pushed BELOW the global top-{_ND_TOPK} (the TakeOrdered input is
    only threshold-passing pairs, not every blocked pair).

    The blocking key (sign bits of the first {_ND_BITS} components)
    turns the O(n²) pair space into per-bucket self-joins — shuffle
    keyed on the block. {_ND_BITS} bits fit this test corpus. THE
    PRODUCTION PATH IS q271 (operators.similarity.ivf_cell_near_dup),
    NOT a bigger sign-bit dial: the r9 scale curve measured sign-LSH
    blocking degenerating ~quadratically on clustered corpora — and
    auto_block_bits making it WORSE (tail exponent ~1.9), because
    clustered vectors share their centroid's sign pattern, so more
    bits never split the giant buckets — while IVF Voronoi-cell
    blocking holds expected occupancy n/ncells regardless of
    clustering (measured tail 0.95, 4.7x faster at the sf1 clone).
    This entry stays registered as the flat-corpus/legacy dial and the
    family's simplest oracle shape (this corpus is near-orthogonal,
    max pairwise cosine ≈ 0.51, so τ={_ND_TAU} keeps the result
    non-trivial).

    Cosine is computed from per-element floor-quantized integer dots
    (order-free integer sums), so Spark and DuckDB agree bit-for-bit.

    The quantized self-norm ``qn`` is projected at the scan and carried
    through BOTH sides of the blocked self-join, so the pair relation
    never has to be re-shuffled against a norms table — the plan is one
    blocked equi-join plus in-row arithmetic (two fewer exchanges of
    the pair relation than a post-join norm lookup)."""
    e = temb_f(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        _sign_block(F.col("embedding"), _ND_BITS).alias("blk"),
    )
    e = e.withColumn("qn", _qdot(F.col("v"), F.col("v")))
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        "blk",
        F.col("qn").alias("qna"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        "blk",
        F.col("qn").alias("qnb"),
    )
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    # explode(array(cosine)) is a DELIBERATE Generate barrier (r12 —
    # operators.similarity._pair_score): written as select + filter,
    # Catalyst pushes the τ predicate into the blocked join condition,
    # re-running the O(d) quantized dot for both orderings of every
    # block-mate pair and once more for survivors.  Behind the
    # generator each unordered pair pays exactly one fold; rows and
    # values are unchanged.
    cos = (
        _qdot(F.col("va"), F.col("vb")).cast("double") / F.lit(_S)
    ) / (
        F.sqrt(F.col("qna").cast("double") / F.lit(_S))
        * F.sqrt(F.col("qnb").cast("double") / F.lit(_S))
    )
    out = pairs.select(
        "id_a", "id_b", F.explode(F.array(cos)).alias("cosine_sim")
    )
    return (
        out.filter(F.col("cosine_sim") >= _ND_TAU)
        .orderBy(
            F.col("cosine_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        .limit(_ND_TOPK)
    )


_IVF_K = 16
_IVF_NPROBE = 4
_IVF_TOPK = 10


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """Shared IVF quantizer build: (e, corpus, assign) where assign(df,
    idc, vc, keep_n) maps each vector to its keep_n nearest seed cells
    via the broadcast in-row argmax fold. Extracted verbatim from q56 so
    the cell-occupancy audit (q175) measures EXACTLY the index q56
    probes — any drift would break both parities at once."""
    e = temb_f(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = e.filter(F.col("vec_id") >= 3)
    h = F.md5(F.concat(F.lit("42:"), F.col("vec_id").cast("string")))
    w_cent = Window.orderBy("_h", "vec_id")
    # centroid-draw eligibility (r11, mirrors operators.sampled_centroids
    # and the oracle's dnorm/WHERE dqn > 0): degenerate vectors
    # (zero-norm / NULL / empty / NULL-element) never become centroids —
    # a zero-norm centroid scores 0/0 = NaN for every vector and the
    # engines rank NaN on opposite ends
    cents = (
        corpus.filter(_qdot(F.col("v"), F.col("v")) > 0)
        .withColumn("_h", h)
        .orderBy("_h", "vec_id")
        .limit(_IVF_K)
        .select(
            (F.row_number().over(w_cent) - 1).alias("cent_id"),
            F.col("v").alias("cv"),
        )
    )
    cnorm = cents.select("cent_id", _qdot(F.col("cv"), F.col("cv")).alias("qnc"))
    # ONE row holding all (cent_id, cv, qnc) structs: assignment becomes a
    # broadcast of a single row + an in-row argmax fold — the previous
    # crossJoin(x ncells) + row_number() window shuffled corpus x ncells
    # rows and sorted them, a full-corpus exchange that exists only to
    # pick each row's best centroid. In-row, assignment is map-side only.
    carr = cents.join(cnorm, "cent_id").agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cv", "qnc"))).alias(
            "_cents"
        )
    )

    def assign(df, idc, vc, keep_n, payload=()):
        # struct(-score, cent_id): ascending struct order == the window's
        # (score DESC, cent_id ASC) — same comparator, same tiebreak.
        # ``payload`` columns ride along so callers can carry the vector
        # (and its precomputed norm) THROUGH the assignment instead of
        # re-joining the corpus afterwards — the r6→r7 q56 fix: the old
        # shape re-joined corpus-sized relations three times (vectors +
        # both norm sides) after candidate generation.
        scored = F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (
                    -(
                        (_qdot(F.col(vc), c["cv"]).cast("double") / F.lit(_S))
                        / F.sqrt(c["qnc"].cast("double") / F.lit(_S))
                    )
                ).alias("negscore"),
                c["cent_id"].alias("cent_id"),
            ),
        )
        top = F.slice(F.array_sort(scored), 1, keep_n)
        return (
            df.crossJoin(F.broadcast(carr))
            .select(F.col(idc), *payload, F.explode(top).alias("_t"))
            .select(idc, *payload, F.col("_t.cent_id").alias("cent_id"))
        )

    return e, corpus, assign


@register(
    "q56_ivf_topk",
    tags=("similarity", "llm-data", "ann", "ivf", "topk"),
    oracle=f"""
WITH corpus AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings WHERE vec_id >= 3),
cdnorm AS (
  -- null-propagating draw-eligibility norm (r11): mirrors the engine's
  -- quantized_dot fold, where one NULL element nulls the whole dot —
  -- degenerate vectors (zero/NULL/empty/NULL-element) never become
  -- centroids in either engine
  SELECT vec_id,
         {sql_qsum_nullprop('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS dqn
  FROM corpus, unnest(range(1, len(embedding) + 1)) t(i) GROUP BY vec_id
),
cents AS (
  SELECT row_number() OVER (
           ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cent_id,
         embedding AS cv
  FROM corpus JOIN cdnorm USING (vec_id)
  WHERE cdnorm.dqn > 0
  ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {_IVF_K}
),
cnorm AS (
  SELECT cent_id, {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM cents, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cent_id
),
vass AS (
  SELECT c.vec_id, k.cent_id,
         {sql_qsum('c.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM corpus c, cents k, unnest(range(1, len(c.embedding) + 1)) t(i)
  GROUP BY c.vec_id, k.cent_id
),
cells AS (
  SELECT vec_id, cent_id FROM (
    SELECT v.vec_id, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM vass v JOIN cnorm n USING (cent_id)
  ) WHERE arn = 1
),
qv AS (SELECT vec_id AS query_id, embedding AS qvec
       FROM {_SQL_EMB} embeddings WHERE vec_id < 3),
qass AS (
  SELECT q.query_id, k.cent_id,
         {sql_qsum('q.qvec[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM qv q, cents k, unnest(range(1, len(q.qvec) + 1)) t(i)
  GROUP BY q.query_id, k.cent_id
),
qcells AS (
  SELECT query_id, cent_id FROM (
    SELECT a.query_id, a.cent_id,
           row_number() OVER (PARTITION BY a.query_id
             ORDER BY (CAST(a.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      a.cent_id ASC) AS arn
    FROM qass a JOIN cnorm n USING (cent_id)
  ) WHERE arn <= {_IVF_NPROBE}
),
cand AS (
  SELECT qc.query_id, ce.vec_id
  FROM qcells qc JOIN cells ce USING (cent_id)
),
vnorm AS (
  SELECT vec_id,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS qn
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i) GROUP BY vec_id
),
cdot AS (
  SELECT cd.query_id, cd.vec_id,
         {sql_qsum('q.qvec[i::INT]::DOUBLE * c.embedding[i::INT]::DOUBLE')} AS qd
  FROM cand cd
  JOIN qv q ON q.query_id = cd.query_id
  JOIN corpus c ON c.vec_id = cd.vec_id,
  unnest(range(1, len(c.embedding) + 1)) t(i)
  GROUP BY cd.query_id, cd.vec_id
)
SELECT query_id, vec_id, cosine_sim, CAST(rn AS INT) AS rn FROM (
  SELECT d.query_id, d.vec_id,
         (CAST(d.qd AS DOUBLE) / {_S!r})
           / (sqrt(CAST(nq.qn AS DOUBLE) / {_S!r})
              * sqrt(CAST(nv.qn AS DOUBLE) / {_S!r})) AS cosine_sim,
         row_number() OVER (PARTITION BY d.query_id
           ORDER BY (CAST(d.qd AS DOUBLE) / {_S!r})
                      / (sqrt(CAST(nq.qn AS DOUBLE) / {_S!r})
                         * sqrt(CAST(nv.qn AS DOUBLE) / {_S!r})) DESC,
                    d.vec_id ASC) AS rn
  FROM cdot d
  JOIN vnorm nq ON nq.vec_id = d.query_id
  JOIN vnorm nv ON nv.vec_id = d.vec_id
) WHERE rn <= {_IVF_TOPK}
""",
)
def q56_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-{_IVF_TOPK} for 3 query vectors — the inverted-file
    scale path beside q54's LSH: corpus partitioned into {_IVF_K} Voronoi
    cells around *sampled* seed centroids (the {_IVF_K} corpus vectors
    ranking smallest under md5('42:'||id) — a seeded uniform draw, so the
    quantizer is independent of the id distribution, compiles to a
    partial top-k (TakeOrderedAndProject, never a full sort), and stays
    SQL-expressible so the ENTIRE index build + probe is oracle-checked,
    unlike seeded-random LSH), queries probe their {_IVF_NPROBE} nearest
    cells, exact cosine re-ranks candidates.

    {_IVF_K} cells fit this test corpus; the production dial is
    operators.similarity.auto_ncells (√n) so the cent_id join key keeps
    real cardinality at 100 TB — see operators.similarity.ivf_topk.

    Scale shape (tightened r7 after the r6 bench flag): centroids
    broadcast (map-side assignment, no shuffle), and the corpus vector +
    its quantized self-dot ride THROUGH the assignment as payload, so
    candidate generation is ONE BroadcastHashJoin of the corpus-side
    cells against the 3×nprobe-row qcells (query vector + norm also
    carried) — the corpus is scanned once, never exchanged, never
    re-joined for vectors or norms. The only shuffle left is the final
    per-query top-k window (WindowGroupLimit pre-prunes map-side). The
    old shape SMJ'd corpus-sized cells against 12 rows and then re-joined
    corpus-sized relations three more times. All similarity math is
    floor-quantized integer sums (bit-identical across engines)."""
    e, corpus, _assign = _ivf_parts(spark, sf_dir)
    corpus_n = corpus.withColumn("qnv", _qdot(F.col("v"), F.col("v")))
    cells = _assign(corpus_n, "vec_id", "v", 1, payload=("v", "qnv"))
    qv = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qvec"),
        _qdot(F.col("v"), F.col("v")).alias("qnq"),
    )
    qcells = _assign(qv, "query_id", "qvec", _IVF_NPROBE, payload=("qvec", "qnq"))
    cand = cells.join(F.broadcast(qcells), "cent_id")
    cosine = (_qdot(F.col("qvec"), F.col("v")).cast("double") / F.lit(_S)) / (
        F.sqrt(F.col("qnq").cast("double") / F.lit(_S))
        * F.sqrt(F.col("qnv").cast("double") / F.lit(_S))
    )
    scored = cand.select("query_id", "vec_id", cosine.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _IVF_TOPK)
    )


_IVFND_TOPK = 25
_IVFND_TAU = 0.0  # cosine threshold, applied BELOW the global top-k
_IVFND_NCELLS_FLOOR = 16  # auto_ncells' 4*nprobe floor, mirrored in SQL
# The flat dial's PRODUCTION nassign (r11, measured in
# tools/neardup_recall.py on the 21k clustered clone with planted
# near-dups at cosine 0.95-0.999): nassign=1 blocked only 63.6% of
# planted pairs (78.5% at cosine>=0.99, decaying with n); nassign=2
# with ncells re-balanced to 2*sqrt(n) blocks 91.0% / 98.5% at 2.1x
# candidate cost (the linear law).  Mirrored in the oracle: nc scales
# by this factor, cells keeps arn <= nassign, pairs dedupe (DISTINCT).
_IVFND_NASSIGN = 2
_NDR_NANCHOR = 20   # census anchor split: vec_id < 20 (the q237 convention)
_NDR_TAU = 0.25     # "true near-dup" cosine on this near-orthogonal corpus

# ---- shared near-dup SQL blocks (r11) --------------------------------
# q271 (flat IVF), q272 (hierarchical), and the blocking-recall
# censuses (q273/q274/q275) interpolate these NAMED module-level CTE
# constants.  This retires the r10 runtime-slicing of registered oracle
# texts on literal markers ('vnorm AS (' / 'nc AS (' / 'pairs AS ('),
# whose import-time asserts caught a LOST marker but not semantic
# drift: a CTE inserted before a marker, or a name collision between
# two sliced prefixes, would have composed silently into wrong SQL
# (ADVICE r10).  Composition is now by construction: the stem owns
# {e, dnorm, enz, vnorm}, the flat chain owns {nc, ranked, cents,
# cnorm, vass, cells}, the hierarchical chain owns {fc, r1, c1, n1,
# v1, a1, subs, subsnz, c2, n2, v2, a2}, the census stem owns
# {apairs, truep} — disjointness asserted at import below.

_SQL_NDR_STEM = f"""e AS (
  SELECT vec_id, embedding FROM {_SQL_EMB} embeddings
),
dnorm AS (
  -- NULL-PROPAGATING quantized self-norm: the centroid-DRAW
  -- eligibility relation (r11).  Mirrors the engine's quantized_dot
  -- fold (one NULL element nulls the whole dot; plain SQL SUM would
  -- skip it).  A vector whose norm QUANTIZES to 0 — all |x| < ~1e-6
  -- passes the validity boundary but floors to 0 — must never become
  -- a centroid: a zero-norm centroid scores 0/0 = NaN for every
  -- vector, and Spark's struct sort places NaN last while the SQL
  -- row_number ranks it first, assigning different cells per engine
  -- (the embeddings_tiny_norm hostile fixture forces the case).
  SELECT vec_id,
         {sql_qsum_nullprop('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS dqn
  FROM e, unnest(range(1, len(embedding) + 1)) t(i) GROUP BY vec_id
),
enz AS (
  SELECT e.vec_id, e.embedding
  FROM e JOIN dnorm USING (vec_id) WHERE dnorm.dqn > 0
),
vnorm AS (
  SELECT vec_id,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS qn
  FROM e, unnest(range(1, len(embedding) + 1)) t(i) GROUP BY vec_id
)"""

_SQL_FLAT_CHAIN = f"""nc AS (
  -- auto_ncells' nassign*sqrt(n) production dial, computed FROM the
  -- corpus in EXACT integer arithmetic (largest f with f*f <= n —
  -- mirrors math.isqrt, replacing FLOOR(SQRT(n)): correctly-rounded
  -- float sqrt rounds k*k - 1 UP to k once n ~ 2^52, splitting the
  -- dial across engines; same discipline as fc's cube root).  The
  -- {_IVFND_NASSIGN}x factor re-balances for multi-assignment so the
  -- candidate cost stays LINEAR in nassign (auto_ncells r11).  Floor
  -- {_IVFND_NCELLS_FLOOR} = 4*nprobe; range bound 1e5 covers corpora
  -- to 1e10 rows — and the CASE guard makes the bound LOUD (ADVICE
  -- r11): past 1e10 rows this oracle's isqrt search would silently
  -- cap while the engine's math.isqrt keeps growing, so the oracle
  -- errors instead of diverging.
  SELECT CASE WHEN (SELECT COUNT(*) FROM e) > 10000000000
              THEN CAST(error('flat near-dup oracle: corpus exceeds the 1e10-row isqrt search bound') AS BIGINT)
              ELSE GREATEST({_IVFND_NCELLS_FLOOR}, {_IVFND_NASSIGN} * MAX(t.f))
         END AS ncells
  FROM (SELECT unnest(range(1, 100001)) AS f) t
  WHERE t.f * t.f <= (SELECT COUNT(*) FROM e)
),
ranked AS (
  SELECT row_number() OVER (
           ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cent_id,
         embedding AS cv
  FROM enz
),
cents AS (
  SELECT cent_id, cv FROM ranked WHERE cent_id < (SELECT ncells FROM nc)
),
cnorm AS (
  SELECT cent_id, {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM cents, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cent_id
),
vass AS (
  SELECT v.vec_id, k.cent_id,
         {sql_qsum('v.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM e v, cents k, unnest(range(1, len(v.embedding) + 1)) t(i)
  GROUP BY v.vec_id, k.cent_id
),
cells AS (
  -- top-{_IVFND_NASSIGN} cells per vector (multi-assignment): this
  -- relation is MULTI-VALUED per vec_id — consumers pairing on it
  -- must dedupe (q271's DISTINCT) or aggregate (the censuses' MAX)
  SELECT vec_id, cent_id FROM (
    SELECT v.vec_id, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM vass v JOIN cnorm n USING (cent_id)
  ) WHERE arn <= {_IVFND_NASSIGN}
)"""

_SQL_HIER_CHAIN = f"""fc AS (
  -- auto_fanout's EXACT integer cube root (largest f with f^3 <= n,
  -- floor 4): integer arithmetic is the only cube-root form both
  -- engines reproduce bit-identically (libm pow is not correctly
  -- rounded); range bound 1e5 covers corpora to 1e15 rows, and the
  -- CASE guard errors LOUDLY past it instead of silently capping
  -- while the engine's exact cube root keeps growing (ADVICE r11)
  SELECT CASE WHEN (SELECT COUNT(*) FROM e) > 1000000000000000
              THEN CAST(error('hier near-dup oracle: corpus exceeds the 1e15-row icbrt search bound') AS BIGINT)
              ELSE GREATEST(4, (SELECT MAX(t.f)
                      FROM (SELECT unnest(range(1, 100001)) AS f) t
                      WHERE t.f * t.f * t.f <= (SELECT COUNT(*) FROM e)))
         END AS f
),
r1 AS (
  SELECT row_number() OVER (
           ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cent_id,
         embedding AS cv
  FROM enz
),
c1 AS (SELECT cent_id, cv FROM r1 WHERE cent_id < (SELECT f FROM fc)),
n1 AS (
  SELECT cent_id, {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM c1, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cent_id
),
v1 AS (
  SELECT v.vec_id, k.cent_id,
         {sql_qsum('v.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM e v, c1 k, unnest(range(1, len(v.embedding) + 1)) t(i)
  GROUP BY v.vec_id, k.cent_id
),
a1 AS (
  SELECT vec_id, cent_id AS cell1 FROM (
    SELECT v.vec_id, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM v1 v JOIN n1 n USING (cent_id)
  ) WHERE arn = 1
),
subs AS (
  SELECT a.cell1, a.vec_id, e.embedding
  FROM a1 a JOIN e ON e.vec_id = a.vec_id
),
subsnz AS (
  -- the sub-centroid DRAW ranks only draw-eligible members
  -- (dnorm.dqn > 0 — same r11 rule as the level-1 draw); every subs
  -- member is still ASSIGNED a leaf via v2 below
  SELECT s.cell1, s.vec_id, s.embedding,
         row_number() OVER (PARTITION BY s.cell1
           ORDER BY md5('42b:' || CAST(s.vec_id AS VARCHAR)), s.vec_id) - 1
           AS srn
  FROM subs s JOIN dnorm d USING (vec_id)
  WHERE d.dqn > 0
),
c2 AS (
  SELECT cell1, srn AS cent_id, embedding AS cv
  FROM subsnz WHERE srn < (SELECT f FROM fc)
),
n2 AS (
  SELECT cell1, cent_id,
         {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM c2, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cell1, cent_id
),
v2 AS (
  SELECT s.vec_id, s.cell1, k.cent_id,
         {sql_qsum('s.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM subs s JOIN c2 k ON k.cell1 = s.cell1,
       unnest(range(1, len(s.embedding) + 1)) t(i)
  GROUP BY s.vec_id, s.cell1, k.cent_id
),
a2 AS (
  SELECT vec_id, cell1, cent_id AS cell2 FROM (
    SELECT v.vec_id, v.cell1, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM v2 v JOIN n2 n ON n.cell1 = v.cell1 AND n.cent_id = v.cent_id
  ) WHERE arn = 1
)"""

# pdot + final cosine/top-k select shared by q271/q272 — expects a
# `pairs(id_a, id_b)` CTE composed by the caller
_SQL_NDR_SCORE = f"""pdot AS (
  SELECT p.id_a, p.id_b,
         {sql_qsum('ea.embedding[i::INT]::DOUBLE * eb.embedding[i::INT]::DOUBLE')} AS qd
  FROM pairs p
  JOIN e ea ON ea.vec_id = p.id_a
  JOIN e eb ON eb.vec_id = p.id_b,
  unnest(range(1, len(ea.embedding) + 1)) t(i)
  GROUP BY p.id_a, p.id_b
)
SELECT * FROM (
  SELECT d.id_a, d.id_b,
         (CAST(d.qd AS DOUBLE) / {_S!r})
           / (sqrt(CAST(na.qn AS DOUBLE) / {_S!r})
              * sqrt(CAST(nb.qn AS DOUBLE) / {_S!r})) AS cosine_sim
  FROM pdot d
  JOIN vnorm na ON na.vec_id = d.id_a
  JOIN vnorm nb ON nb.vec_id = d.id_b
)
WHERE cosine_sim >= {_IVFND_TAU!r}
ORDER BY cosine_sim DESC, id_a ASC, id_b ASC
LIMIT {_IVFND_TOPK}"""

# sampled-anchor exact ground truth shared by the recall censuses
_SQL_NDR_TRUEP = f"""apairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {sql_qsum('a.embedding[i::INT]::DOUBLE * b.embedding[i::INT]::DOUBLE')} AS qd
  FROM e a JOIN e b ON a.vec_id < {_NDR_NANCHOR} AND b.vec_id > a.vec_id,
       unnest(range(1, len(a.embedding) + 1)) t(i)
  GROUP BY a.vec_id, b.vec_id
),
truep AS (
  SELECT p.id_a, p.id_b
  FROM apairs p
  JOIN vnorm na ON na.vec_id = p.id_a
  JOIN vnorm nb ON nb.vec_id = p.id_b
  WHERE (CAST(p.qd AS DOUBLE) / {_S!r})
          / (sqrt(CAST(na.qn AS DOUBLE) / {_S!r})
             * sqrt(CAST(nb.qn AS DOUBLE) / {_S!r})) >= {_NDR_TAU!r}
)"""


# ---- deletion-grade hierarchical chain (r12) -------------------------
# The r11 verdict's headline ask: a sub-n^1.5 dial at deletion-grade
# recall.  nassign=2 at BOTH levels with the fan-out RE-BALANCED to
# f = 2·⌊n^(1/3)⌋ (auto_fanout r12): leaves 4·n^(2/3), memberships
# n·4, candidate pairs 2·n^(4/3) — measured on the planted-pair
# fixture (NEARDUP_RECALL_r12, 21k clustered clone) at 99.7% recall of
# cosine ≥ 0.99 pairs / 3.16M candidates, above the flat production
# dial's 98.5% recall and below its 5.48M cost.  Same machinery as
# _SQL_HIER_CHAIN with arn <= 2 at both argmaxes and the doubled
# fan-out; CTE names are g-prefixed so censuses can compose this chain
# beside the flat/hier ones.
_HIER2_NASSIGN = 2

_SQL_HIER2_CHAIN = f"""gfc AS (
  -- auto_fanout(n, nassign={_HIER2_NASSIGN}): {_HIER2_NASSIGN}x the
  -- EXACT integer cube root (floor 4) — the r12 re-balance that keeps
  -- the candidate-pair law sub-n^1.5 under multi-assignment; CASE
  -- guard as in fc (loud past the 1e15-row search bound)
  SELECT CASE WHEN (SELECT COUNT(*) FROM e) > 1000000000000000
              THEN CAST(error('hier2 near-dup oracle: corpus exceeds the 1e15-row icbrt search bound') AS BIGINT)
              ELSE GREATEST(4, {_HIER2_NASSIGN} * (SELECT MAX(t.f)
                      FROM (SELECT unnest(range(1, 100001)) AS f) t
                      WHERE t.f * t.f * t.f <= (SELECT COUNT(*) FROM e)))
         END AS f
),
gr1 AS (
  SELECT row_number() OVER (
           ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cent_id,
         embedding AS cv
  FROM enz
),
gc1 AS (SELECT cent_id, cv FROM gr1 WHERE cent_id < (SELECT f FROM gfc)),
gn1 AS (
  SELECT cent_id, {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM gc1, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cent_id
),
gv1 AS (
  SELECT v.vec_id, k.cent_id,
         {sql_qsum('v.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM e v, gc1 k, unnest(range(1, len(v.embedding) + 1)) t(i)
  GROUP BY v.vec_id, k.cent_id
),
ga1 AS (
  -- top-{_HIER2_NASSIGN} L1 cells per vector: multi-valued per vec_id
  SELECT vec_id, cent_id AS cell1 FROM (
    SELECT v.vec_id, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM gv1 v JOIN gn1 n USING (cent_id)
  ) WHERE arn <= {_HIER2_NASSIGN}
),
gsubs AS (
  SELECT a.cell1, a.vec_id, e.embedding
  FROM ga1 a JOIN e ON e.vec_id = a.vec_id
),
gsubsnz AS (
  -- the sub-centroid DRAW ranks only draw-eligible members
  -- (dnorm.dqn > 0 — the r11 rule); a vector in {_HIER2_NASSIGN}
  -- beam cells is an independent draw candidate in each
  SELECT s.cell1, s.vec_id, s.embedding,
         row_number() OVER (PARTITION BY s.cell1
           ORDER BY md5('42b:' || CAST(s.vec_id AS VARCHAR)), s.vec_id) - 1
           AS srn
  FROM gsubs s JOIN dnorm d USING (vec_id)
  WHERE d.dqn > 0
),
gc2 AS (
  SELECT cell1, srn AS cent_id, embedding AS cv
  FROM gsubsnz WHERE srn < (SELECT f FROM gfc)
),
gn2 AS (
  SELECT cell1, cent_id,
         {sql_qsum('cv[i::INT]::DOUBLE * cv[i::INT]::DOUBLE')} AS qnc
  FROM gc2, unnest(range(1, len(cv) + 1)) t(i) GROUP BY cell1, cent_id
),
gv2 AS (
  SELECT s.vec_id, s.cell1, k.cent_id,
         {sql_qsum('s.embedding[i::INT]::DOUBLE * k.cv[i::INT]::DOUBLE')} AS qd
  FROM gsubs s JOIN gc2 k ON k.cell1 = s.cell1,
       unnest(range(1, len(s.embedding) + 1)) t(i)
  GROUP BY s.vec_id, s.cell1, k.cent_id
),
ga2 AS (
  -- top-{_HIER2_NASSIGN} sub-cells per (vector, beam cell):
  -- {_HIER2_NASSIGN}² leaf memberships per vector — consumers pairing
  -- on it must dedupe (q277's DISTINCT) or aggregate (q278's MAX)
  SELECT vec_id, cell1, cent_id AS cell2 FROM (
    SELECT v.vec_id, v.cell1, v.cent_id,
           row_number() OVER (PARTITION BY v.vec_id, v.cell1
             ORDER BY (CAST(v.qd AS DOUBLE) / {_S!r})
                        / sqrt(CAST(n.qnc AS DOUBLE) / {_S!r}) DESC,
                      v.cent_id ASC) AS arn
    FROM gv2 v JOIN gn2 n ON n.cell1 = v.cell1 AND n.cent_id = v.cent_id
  ) WHERE arn <= {_HIER2_NASSIGN}
)"""


def _cte_names(sql_block: str) -> set:
    import re as _re

    return set(_re.findall(r"(?m)^(\w+) AS \(", sql_block))


# composition safety: EVERY pair of blocks a query might compose must
# be disjoint, including the score/truep tails and the CALL-SITE CTE
# names each @register oracle introduces ('pairs', 'flags', 'occ') —
# a future chain CTE named pairs/pdot/flags/occ would compose into
# silently shadowed SQL (ADVICE r11).  ValueError, not assert: the
# check must survive python -O.
_NDR_CALLSITE_CTES = frozenset({"pairs", "flags", "occ", "rec", "cost"})
_NDR_BLOCKS = {
    "stem": _cte_names(_SQL_NDR_STEM),
    "flat": _cte_names(_SQL_FLAT_CHAIN),
    "hier": _cte_names(_SQL_HIER_CHAIN),
    "hier2": _cte_names(_SQL_HIER2_CHAIN),
    "truep": _cte_names(_SQL_NDR_TRUEP),
    "score": _cte_names(_SQL_NDR_SCORE),
    "callsite": set(_NDR_CALLSITE_CTES),
}
for _i, (_na, _sa) in enumerate(sorted(_NDR_BLOCKS.items())):
    for _nb, _sb in sorted(_NDR_BLOCKS.items())[_i + 1:]:
        if _sa & _sb:
            raise ValueError(
                f"near-dup CTE name collision between {_na} and {_nb}: "
                f"{sorted(_sa & _sb)}"
            )


@register(
    "q271_ivf_cell_near_dup",
    tags=("similarity", "dedup", "llm-data", "ann", "ivf", "topk"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_FLAT_CHAIN},
pairs AS (
  -- DISTINCT: a pair sharing both of its {_IVFND_NASSIGN} assigned
  -- cells must score once (the engine's dropDuplicates on the id pair)
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cells a JOIN cells b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
),
{_SQL_NDR_SCORE}
""",
)
def q271_ivf_cell_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF Voronoi cells — the
    q55-family PRODUCTION dial, registered so the driver's correctness
    gate exercises the operator a 100 TB user would actually run
    (r9 verdict item 1).

    Why this is the production path: the r9 scale curve measured q55's
    sign-LSH blocking degenerating ~quadratically on CLUSTERED
    embedding corpora (the realistic shape — auto_block_bits tail
    exponent ~1.9, because clustered vectors share their centroid's
    sign pattern and more bits never split the giant buckets), while
    cell blocking keeps expected occupancy n/ncells REGARDLESS of
    clustering: measured tail 0.95 and 4.7x faster at the sf1 clone
    (SCALE_CURVE_r09.json). The √n ncells dial balances the flat-IVF
    cost law — assignment O(n·ncells·d) vs pairs O(ncells·(n/ncells)²)
    — and is computed from the corpus in BOTH engines (oracle CTE
    ``nc``), so the catalog entry runs the true dial at every scale
    factor, not a parity-pinned constant.

    nassign={_IVFND_NASSIGN} (r11 — the MEASURED production default,
    tools/neardup_recall.py on the 21k clustered clone with planted
    near-dups at cosine 0.95–0.999): single assignment blocked only
    63.6% of planted pairs (78.5% at cosine ≥ 0.99, decaying with n);
    top-2 cells with ncells re-balanced to 2√n blocks 91.0% / 98.5%
    at 2.1× candidate cost (linear, by the auto_ncells re-balance).
    The oracle runs the same dial: nc scales by {_IVFND_NASSIGN},
    cells keeps arn ≤ {_IVFND_NASSIGN}, pairs are DISTINCT on the id
    pair exactly like the engine's dropDuplicates.

    r12 caveat (NEARDUP_RECALL_r12, the 63k sf3 clone): this dial's
    recall decays with n even at nassign=2 (97.0% at cosine ≥ 0.99 at
    63k — below deletion grade).  It stays the flat REFERENCE dial
    (simplest plan, exchange-free assignment, its q274 census reports
    recall per corpus); deletion-grade dedup belongs to q277 (the
    re-balanced hierarchical dial — better recall AND cost at every
    measured scale ≥ 21k) or flat nassign=4 (measured 100% at
    cosine ≥ 0.99 at all three scales).

    This entry calls operators.similarity.ivf_cell_near_dup DIRECTLY
    (no plan-side reimplementation): r10 moved the operator's
    assignment argmax and final cosine onto floor-quantized integer
    dots, so the operator itself is bit-identical to this oracle. One
    corpus count() sizes the index (sanctioned driver action: index
    sizing). τ={_IVFND_TAU} below a global top-{_IVFND_TOPK} mirrors
    q55's dial on this near-orthogonal test corpus.

    Plan shape (asserted in tests/test_plan_shapes.py): ONE broadcast
    centroid-array row (map-side assignment — the corpus is never
    exchanged to be assigned), the pair self-join shuffles on cent_id
    (~√n distinct keys), and no BroadcastNestedLoop/CartesianProduct
    anywhere."""
    from ..operators.similarity import auto_ncells, ivf_cell_near_dup

    e = temb_f(spark, sf_dir)
    # index sizing on the UNfanned twin — same rows, skips the fanning
    # exchange the count would otherwise pay (see _ndr_ground_truth)
    n = temb(spark, sf_dir).count()
    out = ivf_cell_near_dup(
        e,
        ncells=auto_ncells(n, nassign=_IVFND_NASSIGN),
        threshold=_IVFND_TAU,
        topk=_IVFND_TOPK,
        nassign=_IVFND_NASSIGN,
        corpus_rows=n,
    )
    return out.select("id_a", "id_b", "cosine_sim")


@register(
    "q272_hierarchical_near_dup",
    tags=("similarity", "dedup", "llm-data", "ann", "ivf", "topk",
          "hierarchical"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_HIER_CHAIN},
pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM a2 x JOIN a2 y
    ON x.cell1 = y.cell1 AND x.cell2 = y.cell2 AND x.vec_id < y.vec_id
),
{_SQL_NDR_SCORE}
""",
)
def q272_hierarchical_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by the TWO-LEVEL hierarchical
    quantizer — the sub-n^1.5 scale path past flat IVF (q271),
    registered r10 so the driver gates the operator rather than a
    property-tested shadow.

    Level 1 is q271's machinery verbatim (md5-sampled centroids,
    broadcast struct-array, in-row quantized argmax); level 2 refines
    within each cell via a per-cell md5-ranked sub-centroid draw and a
    second argmax; pairs join on the composite (cell, subcell) key —
    f² leaves of expected occupancy n/f².  auto_fanout's EXACT integer
    cube root (f³ ≤ n, mirrored in the oracle's integer MAX — libm pow
    is not correctly rounded, so a float cube root could 1-ulp-split
    the dial across engines) balances both assignment passes and
    within-leaf pair work at O(n^(4/3)·d), below the flat path's
    measured-optimal O(n^1.5); the crossover against flat IVF's lower
    constant is measured in SCALE_CURVE_r10 (q55_hier_cells), not
    asserted.

    All scoring is floor-quantized integer dots — the operator itself
    (operators.similarity.hierarchical_cell_near_dup) is called
    directly and is bit-identical to this oracle.  One corpus count()
    sizes the fan-out (sanctioned driver action: index sizing)."""
    from ..operators.similarity import auto_fanout, hierarchical_cell_near_dup

    e = temb(spark, sf_dir)
    n = e.count()  # index sizing — the one sanctioned driver action here
    out = hierarchical_cell_near_dup(
        e,
        fanout=auto_fanout(n),
        threshold=_IVFND_TAU,
        topk=_IVFND_TOPK,
        corpus_rows=n,
    )
    return out.select("id_a", "id_b", "cosine_sim")


def _ndr_ground_truth(spark: SparkSession, sf_dir: str):
    """Shared census ground truth: (e, n, truep) — the corpus behind
    the validity boundary, its row count (index sizing), and the
    anchor pairs (vec_id < {_NDR_NANCHOR} vs the rest) whose EXACT
    quantized cosine clears τ={_NDR_TAU}.  O(anchors·n·d): anchors
    broadcast against one corpus scan, never all-pairs.  Used by all
    three recall censuses (q273 both-dial, q274 flat, q275
    hierarchical) so their ground truth cannot drift."""
    e = temb_f(spark, sf_dir)
    # index sizing — the one sanctioned driver action here.  Counted on
    # the UNfanned relation: same rows by construction (fan_out is a
    # repartition), but the fanned count pays the xxhash64 full-row
    # exchange just to throw the rows away (measured 0.56 vs 0.32 s
    # solo at sf0.1, r12).
    n = temb(spark, sf_dir).count()
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("qn", _qdot(F.col("v"), F.col("v")))
    anch = base.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("qn").alias("qna"),
    )
    cos = (_qdot(F.col("va"), F.col("v")).cast("double") / F.lit(_S)) / (
        F.sqrt(F.col("qna").cast("double") / F.lit(_S))
        * F.sqrt(F.col("qn").cast("double") / F.lit(_S))
    )
    # explode(array(cos)) = Generate barrier (operators._pair_score
    # rule, r12): unbarriered, the τ filter is substituted through the
    # projection and the O(d) anchor dot runs twice per surviving row
    truep = (
        base.crossJoin(F.broadcast(anch))
        .filter(F.col("vec_id") > F.col("id_a"))
        .select(
            "id_a", F.col("vec_id").alias("id_b"),
            F.explode(F.array(cos)).alias("c"),
        )
        .filter(F.col("c") >= _NDR_TAU)
        .select("id_a", "id_b")
    )
    return e, n, truep


@register(
    "q273_near_dup_blocking_recall",
    tags=("similarity", "dedup", "llm-data", "ann", "eval"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_HIER_CHAIN},
{_SQL_FLAT_CHAIN},
{_SQL_NDR_TRUEP},
flags AS (
  -- recalled iff ANY shared cell: cells is multi-valued per vec_id
  -- (nassign > 1), so the hit is a per-pair MAX over the join fan-out
  SELECT t.id_a, t.id_b,
         MAX(CASE WHEN ca.cent_id = cb.cent_id THEN 1 ELSE 0 END)
           AS ivf_hit,
         MAX(CASE WHEN xa.cell1 = xb.cell1 AND xa.cell2 = xb.cell2
              THEN 1 ELSE 0 END) AS hier_hit
  FROM truep t
  JOIN cells ca ON ca.vec_id = t.id_a
  JOIN cells cb ON cb.vec_id = t.id_b
  JOIN a2 xa ON xa.vec_id = t.id_a
  JOIN a2 xb ON xb.vec_id = t.id_b
  GROUP BY t.id_a, t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(ivf_hit) AS BIGINT) AS ivf_recalled,
       CASE WHEN COUNT(*) > 0
            THEN CAST(SUM(ivf_hit) AS DOUBLE) / COUNT(*) END AS ivf_recall,
       CAST(SUM(hier_hit) AS BIGINT) AS hier_recalled,
       CASE WHEN COUNT(*) > 0
            THEN CAST(SUM(hier_hit) AS DOUBLE) / COUNT(*) END AS hier_recall
FROM flags
""",
)
def q273_near_dup_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-recall census for the q55-family production dials: of
    the anchor pairs whose EXACT cosine clears τ={_NDR_TAU}, what
    fraction would q271's flat √n cells and q272's two-level leaves
    have blocked together?  This measures the recall caveat both
    operator docstrings admit ("near-dups whose cells differ are
    missed") — the number a 100 TB dedup owner needs BEFORE deleting
    the losers, and the quantitative basis for the nassign dial
    (boundary-recall mitigation).  Interpretation: τ={_NDR_TAU} sits
    far below a production dedup threshold on this near-orthogonal
    corpus (max pairwise cosine ≈ 0.5), so the census reads as a
    LOWER bound — weakly-similar pairs scatter across cells by
    design, while true near-identical pairs (cosine → 1) land in the
    same Voronoi cell with a probability MEASURED in r11 on planted
    pairs (tools/neardup_recall.py / NEARDUP_RECALL_r11.json): 98.5%
    at cosine ≥ 0.99 for the flat nassign=2 production dial, NOT →1 —
    which is exactly why the dial defaults to nassign=2.  Measured at
    sf0.01 on THIS near-orthogonal corpus: flat (nassign=2) recalls
    30.8% and the two-level leaves (nassign=1) 8.1% of τ≥0.25 pairs —
    the hierarchy's smaller leaves trade recall for its n^(4/3) cost,
    which is why it stays the candidate-mining dial, not the
    deletion-grade one.

    Method: the standard SAMPLED ground truth — exact quantized
    cosines for the {_NDR_NANCHOR}-anchor split (vec_id <
    {_NDR_NANCHOR}, the q237 convention) against the whole corpus:
    O(anchors·n·d), linear in the corpus, never all-pairs.  Both
    assignment relations come from the extracted operators
    (ivf_cell_assignments / hierarchical_cell_assignments), and the
    oracle interpolates the SAME named module-level CTE constants
    (_SQL_FLAT_CHAIN / _SQL_HIER_CHAIN) that render q271's and q272's
    registered oracles (r11 — replacing the r10 runtime slicing of
    rendered texts, per ADVICE), so census and production assignments
    cannot drift apart.  A pair is recalled iff both ends share ANY
    cell (flat — multi-valued at the nassign={_IVFND_NASSIGN} default,
    per-pair MAX over the join fan-out) / both levels (hierarchical,
    single-valued at its nassign=1 default).

    Scale shape: anchors broadcast (one sanctioned tiny-side cross),
    assignments map-side (broadcast centroid arrays; the L2 window is
    the one corpus exchange), flags are four broadcastable joins on
    the tiny true-pair relation, output is ONE row."""
    from ..operators.similarity import (
        auto_fanout,
        auto_ncells,
        hierarchical_cell_assignments,
        ivf_cell_assignments,
    )

    e, n, truep = _ndr_ground_truth(spark, sf_dir)
    ivf = ivf_cell_assignments(
        e,
        ncells=auto_ncells(n, nassign=_IVFND_NASSIGN),
        nassign=_IVFND_NASSIGN,
        corpus_rows=n,
    )
    # Stage the NARROW (id, cell1, cell2) assignment once per execution
    # (r13, mirroring q275/q278): without it the xa broadcast build and
    # the xb side each re-ran the L2 assignment pipeline — measured
    # +21% at sf0.3 in the census-reshape A/B before this checkpoint.
    # eager=False per the measured q275/q278 rule (racing consumers
    # overlap; up-front materialization lost at sf0.3).
    hier = hierarchical_cell_assignments(
        e, fanout=auto_fanout(n), corpus_rows=n
    ).select("vec_id", "cell1", "cell2").localCheckpoint(eager=False)
    # r13 census-join shape (guide §3.1 + §2.5, applied to every
    # recall census — q273/q274/q275/q278): truep's id_a values are
    # the < _NDR_NANCHOR anchors BY CONSTRUCTION, so the a-side
    # assignment joins need only the ≤ nanchor·nassign anchor rows —
    # filtered and BROADCAST, those joins are map-side, the anchor
    # filter prunes the a-side assignment pipeline to anchor rows at
    # the scan, and the 20-distinct-key id_a shuffle (a parallelism
    # ceiling no partition count can fix) never exists.  The b-side
    # joins the full relation on the n-cardinality id_b through a
    # PINNED exchange (the q48 rule: AQE's byte-based coalescing
    # folded this exploding join to ONE task at bench scale — ~5 s of
    # census compute on 1 of 32 cores); the (id_a, id_b) groupBy then
    # rides the id_b partitioning exchange-free (hash partitioning on
    # a subset of the group keys already co-locates every pair).
    nparts = spark.sparkContext.defaultParallelism
    ca = ivf.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"), F.col("cent_id").alias("ka")
    )
    cb = ivf.select(F.col("vec_id").alias("id_b"), F.col("cent_id").alias("kb"))
    xa = hier.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"),
        F.col("cell1").alias("h1a"),
        F.col("cell2").alias("h2a"),
    )
    xb = hier.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell1").alias("h1b"),
        F.col("cell2").alias("h2b"),
    )
    # recalled iff ANY shared cell: the ivf relation is multi-valued
    # per id (nassign > 1), so the hit is a per-pair MAX over the
    # join fan-out (the oracle's GROUP BY form)
    flags = (
        truep.repartition(nparts, "id_b")
        .join(F.broadcast(ca), "id_a")
        .join(cb, "id_b")
        .join(F.broadcast(xa), "id_a")
        .join(xb, "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(F.col("ka") == F.col("kb"), 1).otherwise(0)
            ).alias("ivf_hit"),
            F.max(
                F.when(
                    (F.col("h1a") == F.col("h1b"))
                    & (F.col("h2a") == F.col("h2b")),
                    1,
                ).otherwise(0)
            ).alias("hier_hit"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("ivf_hit").cast("bigint").alias("ivf_recalled"),
        F.sum("hier_hit").cast("bigint").alias("hier_recalled"),
    )
    nz = F.col("n_true_pairs") > 0
    return agg.select(
        "n_true_pairs",
        "ivf_recalled",
        F.when(
            nz, F.col("ivf_recalled").cast("double") / F.col("n_true_pairs")
        ).alias("ivf_recall"),
        "hier_recalled",
        F.when(
            nz, F.col("hier_recalled").cast("double") / F.col("n_true_pairs")
        ).alias("hier_recall"),
    )


@register(
    "q274_flat_blocking_recall",
    tags=("similarity", "dedup", "llm-data", "ann", "eval"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_FLAT_CHAIN},
{_SQL_NDR_TRUEP},
flags AS (
  -- recalled iff ANY shared cell (cells is multi-valued per vec_id at
  -- nassign {_IVFND_NASSIGN} — per-pair MAX over the join fan-out)
  SELECT t.id_a, t.id_b,
         MAX(CASE WHEN ca.cent_id = cb.cent_id THEN 1 ELSE 0 END)
           AS ivf_hit
  FROM truep t
  JOIN cells ca ON ca.vec_id = t.id_a
  JOIN cells cb ON cb.vec_id = t.id_b
  GROUP BY t.id_a, t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(ivf_hit) AS BIGINT) AS ivf_recalled,
       CASE WHEN COUNT(*) > 0
            THEN CAST(SUM(ivf_hit) AS DOUBLE) / COUNT(*) END AS ivf_recall
FROM flags
""",
)
def q274_flat_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q273's census restricted to the FLAT √n dial (q271) — split out
    (r11, per the r10 verdict) so each census oracle composes ONE
    blocking chain plus the anchor ground truth instead of both: at
    the sf1 clone q273's combined oracle profiled 95.9 s (past the
    90 s sweep budget), while each single-chain census fits, putting
    blocking-recall parity coverage INTO the sf1 sweep rather than
    the exclusion list.  Ground truth, anchor split, τ, and the flat
    assignment relation are shared with q273 via _ndr_ground_truth /
    ivf_cell_assignments / _SQL_FLAT_CHAIN — the three censuses
    cannot drift from each other or from the registered q271."""
    from ..operators.similarity import auto_ncells, ivf_cell_assignments

    e, n, truep = _ndr_ground_truth(spark, sf_dir)
    ivf = ivf_cell_assignments(
        e,
        ncells=auto_ncells(n, nassign=_IVFND_NASSIGN),
        nassign=_IVFND_NASSIGN,
        corpus_rows=n,
    )
    # NOTE (r12): narrow localCheckpoint staging of the two-consumer
    # (ca, cb) relation was MEASURED SLOWER here (2.15 -> 2.40 s solo)
    # — the flat argmax is one map-side pass whose duplicate runs
    # concurrently as independent scan stages, cheaper than the
    # materialization barrier; contrast q275/q278, where the staged
    # relation saves a windowed two-level pipeline and wins.  Left
    # unstaged (the per-site-measurement rule).
    # r13 census-join shape (see q273): anchor side filtered to the
    # < _NDR_NANCHOR rows and broadcast (the anchor filter prunes that
    # side's assignment pass to anchor rows at the scan); b side on
    # the n-cardinality id_b through a pinned exchange; the pair
    # groupBy rides the id_b partitioning exchange-free.
    nparts = spark.sparkContext.defaultParallelism
    ca = ivf.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"), F.col("cent_id").alias("ka")
    )
    cb = ivf.select(F.col("vec_id").alias("id_b"), F.col("cent_id").alias("kb"))
    # ANY-shared-cell hit: per-pair MAX over the multi-assignment fan-out
    flags = (
        truep.repartition(nparts, "id_b")
        .join(F.broadcast(ca), "id_a")
        .join(cb, "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(F.col("ka") == F.col("kb"), 1).otherwise(0)
            ).alias("ivf_hit")
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("ivf_hit").cast("bigint").alias("ivf_recalled"),
    )
    nz = F.col("n_true_pairs") > 0
    return agg.select(
        "n_true_pairs",
        "ivf_recalled",
        F.when(
            nz, F.col("ivf_recalled").cast("double") / F.col("n_true_pairs")
        ).alias("ivf_recall"),
    )


@register(
    "q275_hier_blocking_recall",
    tags=("similarity", "dedup", "llm-data", "ann", "eval"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_HIER_CHAIN},
{_SQL_NDR_TRUEP},
flags AS (
  -- per-pair MAX form for uniformity with the flat census (a2 is
  -- single-valued at the hier dial's nassign=1 default, so the GROUP
  -- BY is a no-op today — but the hit stays correct if it ever isn't)
  SELECT t.id_a, t.id_b,
         MAX(CASE WHEN xa.cell1 = xb.cell1 AND xa.cell2 = xb.cell2
              THEN 1 ELSE 0 END) AS hier_hit
  FROM truep t
  JOIN a2 xa ON xa.vec_id = t.id_a
  JOIN a2 xb ON xb.vec_id = t.id_b
  GROUP BY t.id_a, t.id_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(hier_hit) AS BIGINT) AS hier_recalled,
       CASE WHEN COUNT(*) > 0
            THEN CAST(SUM(hier_hit) AS DOUBLE) / COUNT(*) END AS hier_recall
FROM flags
""",
)
def q275_hier_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q273's census restricted to the HIERARCHICAL two-level dial
    (q272) — the other half of the r11 census split (see q274's
    docstring for the sf1 sweep-budget rationale).  Shares
    _ndr_ground_truth and the _SQL_HIER_CHAIN constant with
    q272/q273."""
    from ..operators.similarity import (
        auto_fanout,
        hierarchical_cell_assignments,
    )

    e, n, truep = _ndr_ground_truth(spark, sf_dir)
    hier = hierarchical_cell_assignments(
        e, fanout=auto_fanout(n), corpus_rows=n
    )
    # TWO consumers (xa, xb): stage the narrow assignment triple once
    # per execution instead of re-running the L2 argmax per side (r12,
    # the q48/q278 rule — vectors never enter the checkpoint).
    # eager=False is MEASURED, not an oversight (r13, sf0.3 interleaved
    # min-of-6): eager=True serializes the assignment materialization
    # into one up-front job and LOST (q275 4.88→5.48, q278 6.63→8.04,
    # q273 6.00→7.47 s) — the lazy form's racing consumers duplicate
    # the compute but overlap on otherwise-idle cores, and at bench
    # scale the overlap wins.  At cluster scale the duplicated pipeline
    # costs real resources; revisit only with a measured regression.
    hier = hier.select("vec_id", "cell1", "cell2").localCheckpoint(
        eager=False
    )
    # r13 census-join shape (see q273): anchor side filtered (reads
    # the checkpointed blocks) and broadcast; b side on id_b through a
    # pinned exchange; pair groupBy exchange-free on that partitioning.
    nparts = spark.sparkContext.defaultParallelism
    xa = hier.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"),
        F.col("cell1").alias("h1a"),
        F.col("cell2").alias("h2a"),
    )
    xb = hier.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell1").alias("h1b"),
        F.col("cell2").alias("h2b"),
    )
    # per-pair MAX form for uniformity with the flat census (no-op at
    # the hier dial's single-valued nassign=1 default)
    flags = (
        truep.repartition(nparts, "id_b")
        .join(F.broadcast(xa), "id_a")
        .join(xb, "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(
                    (F.col("h1a") == F.col("h1b"))
                    & (F.col("h2a") == F.col("h2b")),
                    1,
                ).otherwise(0)
            ).alias("hier_hit")
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("hier_hit").cast("bigint").alias("hier_recalled"),
    )
    nz = F.col("n_true_pairs") > 0
    return agg.select(
        "n_true_pairs",
        "hier_recalled",
        F.when(
            nz, F.col("hier_recalled").cast("double") / F.col("n_true_pairs")
        ).alias("hier_recall"),
    )


@register(
    "q276_blocking_cost_census",
    tags=("similarity", "dedup", "llm-data", "ann", "eval"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_FLAT_CHAIN},
occ AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM cells GROUP BY cent_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c) AS BIGINT) AS n_assignments,
       CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs,
       CAST(MAX(c) AS BIGINT) AS max_cell,
       CASE WHEN SUM(c) > 0
            THEN CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c)
       END AS skew_ratio
FROM occ
""",
)
def q276_blocking_cost_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COST side of the recall/cost tradeoff the r11 measurements
    quantified (NEARDUP_RECALL_r11.json): one row with the registered
    flat dial's cell count, total assignments (n·nassign), candidate
    pairs Σ C(occupancy, 2) — the exact number of cosine evaluations
    q271 will perform — the largest cell, and the occupancy skew ratio
    (max/mean).  A 100 TB dedup owner reads this BEFORE launching the
    pair stage: candidate_pairs is the job's dominant cost term (the
    measured linear-in-nassign law), and skew_ratio predicts the
    longest shuffle partition.  Companion to q274's recall census —
    together they are the measured dial table, per corpus, from the
    engine itself.

    Composes the SAME _SQL_FLAT_CHAIN constant / ivf_cell_assignments
    relation as q271/q273/q274, so the census can never drift from the
    registered blocking.  Scale shape: assignments map-side (broadcast
    centroid array), one groupBy on cent_id (~nassign·√n keys), one
    1-row aggregate."""
    from ..operators.similarity import auto_ncells, ivf_cell_assignments

    e = temb(spark, sf_dir)
    n = e.count()  # index sizing — the one sanctioned driver action here
    occ = (
        ivf_cell_assignments(
            e,
            ncells=auto_ncells(n, nassign=_IVFND_NASSIGN),
            nassign=_IVFND_NASSIGN,
            corpus_rows=n,
        )
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nz = F.col("n_assignments") > 0
    return occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("c").cast("bigint").alias("n_assignments"),
        F.sum(F.expr("c * (c - 1) DIV 2"))
        .cast("bigint")
        .alias("candidate_pairs"),
        F.max("c").cast("bigint").alias("max_cell"),
    ).select(
        "n_cells",
        "n_assignments",
        "candidate_pairs",
        "max_cell",
        F.when(
            nz,
            F.col("max_cell").cast("double")
            * F.col("n_cells")
            / F.col("n_assignments"),
        ).alias("skew_ratio"),
    )


@register(
    "q54_ann_lsh_topk",
    tags=("similarity", "llm-data", "ann", "lsh", "topk"),
    oracle=None,  # the Gaussian-plane float-matmul path is not
    # SQL-reproducible (sign-at-boundary of a float dot differs between
    # engines); recall vs the exact baseline is asserted in
    # tests/test_similarity_ops.py, and the IDENTICAL dataflow (bucket
    # join on (table, bucket), dedup, cosine re-rank) is value-hash
    # oracle-checked by the md5-plane twin q84_lsh_ann_oracle.
    oracle_twin="q84_lsh_ann_oracle",
)
def q54_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors — the 100 TB scale path for q50's
    brute force: sign-LSH bucket join generates candidates for 3 query
    vectors, exact cosine re-ranks only candidates (operators.similarity
    .lsh_ann_topk). Deterministic (seeded planes, total-order tiebreak)
    but not relational — registered rows-only."""
    from ..operators.similarity import lsh_ann_topk

    e = temb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # fan_out on the corpus side measured NEUTRAL-to-slower here (1.10
    # → 1.13 s solo min-of-5, r12 wave 3): the embeddings corpus is
    # small enough that the 4×8×64 sign computation doesn't repay the
    # exchange.  Left unfanned (per-site measurement rule).
    corpus = e.filter(F.col("vec_id") >= 3)
    # dim=64: the embeddings tables are fixed 64-d by contract
    # (TESTDATA.md); passing it keeps the index build fully lazy —
    # no driver probe job (VERDICT r1 "What's wrong" #4).
    return lsh_ann_topk(corpus, queries, k=10, nbits=8, ntables=4, dim=64)


_LSH_T, _LSH_B, _LSH_D = 4, 8, 64  # tables, bits, embedding dim
_LSH_TOPK = 10


def _md5_planes() -> list[list[list[float]]]:
    """Hyperplane component (t,b,d) = md5('p:t:b:d') first 32 bits
    mapped to [-1, 1) — every step (int/2^31, minus 1) is exact dyadic
    float64 arithmetic, so Python, Spark literals and DuckDB compute
    the IDENTICAL plane matrix. Rademacher/uniform planes preserve
    sign-LSH's cosine-collision property (only the direction
    distribution changes); what matters here is that the whole index
    becomes engine-reproducible."""
    import hashlib

    return [
        [
            [
                int(
                    hashlib.md5(f"p:{t_}:{b_}:{d_}".encode()).hexdigest()[:8],
                    16,
                )
                / 2147483648.0
                - 1.0
                for d_ in range(_LSH_D)
            ]
            for b_ in range(_LSH_B)
        ]
        for t_ in range(_LSH_T)
    ]


_SQL_PLANE = (
    "('0x' || substr(md5('p:' || t || ':' || b || ':' || d), 1, 8))::BIGINT"
    " / 2147483648.0 - 1.0"
)


@register(
    "q84_lsh_ann_oracle",
    tags=("similarity", "llm-data", "ann", "lsh", "topk"),
    oracle=f"""
WITH planes AS (
  SELECT t.t, b.b, d.d, {_SQL_PLANE} AS pc
  FROM range({_LSH_T}) t(t), range({_LSH_B}) b(b), range({_LSH_D}) d(d)
),
corpus AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings WHERE vec_id >= 3),
qv AS (SELECT vec_id AS query_id, embedding AS qvec
       FROM {_SQL_EMB} embeddings WHERE vec_id < 3),
cbits AS (
  SELECT c.vec_id, p.t, p.b,
         CASE WHEN {sql_qsum('c.embedding[p.d + 1]::DOUBLE * p.pc')} >= 0
              THEN '1' ELSE '0' END AS bit
  FROM corpus c, planes p
  GROUP BY c.vec_id, p.t, p.b
),
cbuckets AS (
  SELECT vec_id, t, string_agg(bit, '' ORDER BY b) AS bucket
  FROM cbits GROUP BY vec_id, t
),
qbits AS (
  SELECT q.query_id, p.t, p.b,
         CASE WHEN {sql_qsum('q.qvec[p.d + 1]::DOUBLE * p.pc')} >= 0
              THEN '1' ELSE '0' END AS bit
  FROM qv q, planes p
  GROUP BY q.query_id, p.t, p.b
),
qbuckets AS (
  SELECT query_id, t, string_agg(bit, '' ORDER BY b) AS bucket
  FROM qbits GROUP BY query_id, t
),
cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM qbuckets qb JOIN cbuckets cb
    ON cb.t = qb.t AND cb.bucket = qb.bucket
),
vnorm AS (
  SELECT vec_id,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS qn
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i) GROUP BY vec_id
),
cdot AS (
  SELECT cd.query_id, cd.vec_id,
         {sql_qsum('q.qvec[i::INT]::DOUBLE * c.embedding[i::INT]::DOUBLE')} AS qd
  FROM cand cd
  JOIN qv q ON q.query_id = cd.query_id
  JOIN corpus c ON c.vec_id = cd.vec_id,
  unnest(range(1, len(c.embedding) + 1)) t(i)
  GROUP BY cd.query_id, cd.vec_id
)
SELECT query_id, vec_id, cosine_sim, CAST(rn AS INT) AS rn FROM (
  SELECT d.query_id, d.vec_id,
         (CAST(d.qd AS DOUBLE) / {_S!r})
           / (sqrt(CAST(nq.qn AS DOUBLE) / {_S!r})
              * sqrt(CAST(nv.qn AS DOUBLE) / {_S!r})) AS cosine_sim,
         row_number() OVER (PARTITION BY d.query_id
           ORDER BY (CAST(d.qd AS DOUBLE) / {_S!r})
                      / (sqrt(CAST(nq.qn AS DOUBLE) / {_S!r})
                         * sqrt(CAST(nv.qn AS DOUBLE) / {_S!r})) DESC,
                    d.vec_id ASC) AS rn
  FROM cdot d
  JOIN vnorm nq ON nq.vec_id = d.query_id
  JOIN vnorm nv ON nv.vec_id = d.vec_id
) WHERE rn <= {_LSH_TOPK}
""",
)
def q84_lsh_ann_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with the ENTIRE index hash-checked — the companion
    to q54 that closes its no-oracle gap: hyperplanes derive from
    md5('p:t:b:d') (exact dyadic map to [-1,1), identical in Python,
    Spark and DuckDB), bucket bits come from floor-quantized integer
    dots (order-free), so bucket assignment, candidate generation AND
    the cosine re-rank all hash-match the SQL oracle. q54 remains the
    fast production path (numpy matmul bucketing, Gaussian planes);
    this query proves the LSH dataflow itself — bucket join on
    (table, bucket), dedup, re-rank — is correct end to end."""
    e = temb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = e.filter(F.col("vec_id") >= 3)
    qv = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    planes = _md5_planes()

    def buckets(df, idc, vc):
        vcol = F.col(vc)
        arr = F.transform(
            F.lit(planes),
            lambda table: F.array_join(
                F.transform(
                    table,
                    lambda plane: F.when(
                        _qdot(vcol, plane) >= 0, F.lit("1")
                    ).otherwise(F.lit("0")),
                ),
                "",
            ),
        )
        return df.select(
            F.col(idc), F.posexplode(arr).alias("t", "bucket")
        )

    cb = buckets(corpus, "vec_id", "v")
    qb = buckets(qv, "query_id", "qvec")
    cand = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    vnorm = e.select("vec_id", _qdot(F.col("v"), F.col("v")).alias("qn"))
    dots = (
        cand.join(F.broadcast(qv), "query_id")
        .join(corpus, "vec_id")
        .select("query_id", "vec_id", _qdot(F.col("qvec"), F.col("v")).alias("qd"))
    )
    nq = vnorm.select(F.col("vec_id").alias("query_id"), F.col("qn").alias("qnq"))
    nv = vnorm.select("vec_id", F.col("qn").alias("qnv"))
    cosine = (F.col("qd").cast("double") / F.lit(_S)) / (
        F.sqrt(F.col("qnq").cast("double") / F.lit(_S))
        * F.sqrt(F.col("qnv").cast("double") / F.lit(_S))
    )
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(nv, "vec_id")
        .select("query_id", "vec_id", cosine.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _LSH_TOPK)
    )


@register(
    "q114_kmeans_clusters",
    tags=("similarity", "llm-data", "kmeans", "iterative"),
    oracle=None,  # iterative float algorithm: the trajectory is
    # deterministic (md5 init, exact argmin, decimal means — asserted in
    # tests/test_operators.py with the inertia-monotone invariant), but
    # a 3-iteration argmin-over-k SQL unrolling is not practical;
    # registered rows-only per the iterative-algorithm contract.
)
def q114_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's k-means over the embeddings table (k=8, 3
    iterations) — the iterative-algorithm family beyond connected
    components, and the trained version of q56's one-shot IVF
    quantizer. Per iteration: broadcast-centroid in-row argmin
    assignment (no explode, no |corpus|x k shuffle) + one
    (cluster, dim) partial-agg exchange for the means; centroids pass
    between iterations as k*d plain floats, so no lineage growth.
    Returns per-cluster sizes and quantized inertia contribution."""
    from ..operators.clustering import kmeans

    e = temb(spark, sf_dir)
    assigned, _cents, _inertias = kmeans(e, k=8, iters=3)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("dist2").cast("decimal(38,6)"))
        .cast("double")
        .alias("inertia"),
    )


_KM_K = 8


@register(
    "q118_kmeans_assign_iter1",
    tags=("similarity", "llm-data", "kmeans", "argmin"),
    oracle=f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY md5('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cl
  FROM {_SQL_EMB} embeddings
),
cents AS (SELECT cl, embedding AS cv FROM ranked WHERE cl < {_KM_K}),
d AS (
  SELECT e.vec_id, c.cl,
         list_aggregate(list_transform(range(1, len(e.embedding) + 1),
           i -> (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)
                * (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)),
           'sum') AS d2
  FROM {_SQL_EMB} e, cents c
)
SELECT vec_id, cluster FROM (
  SELECT vec_id, cl AS cluster,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, cl ASC) AS rn
  FROM d
)
WHERE rn = 1
""",
)
def q118_kmeans_assign_iter1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means' NON-iterative core under the hash gate: the exact
    iteration-1 assignment (md5-ranked init → broadcast-centroid in-row
    argmin) that q114's loop repeats. The oracle unrolls the same
    argmin in SQL (k-way cross join + rank), so the operator's
    deterministic-init and argmin semantics are value-checked
    cross-engine; the LOOP stays property-tested (inertia-monotone,
    determinism) per the iterative-algorithm contract.

    Distances are left-fold double sums in array order on BOTH engines
    (Spark F.aggregate, DuckDB list_aggregate), so argmin inputs are
    bit-identical; ties break on centroid index identically."""
    from ..operators.clustering import assign_clusters, init_centroids

    e = temb(spark, sf_dir)
    cents = init_centroids(e, _KM_K)
    return assign_clusters(e, cents).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


_FILT_TOPK = 5
_FILT_NQ = 3  # vec_id < 3 are the query vectors


@register(
    "q124_filtered_cosine_topk",
    tags=("similarity", "llm-data", "topk", "filtered-ann"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label, embedding AS qv
  FROM {_SQL_EMB} embeddings WHERE vec_id < {_FILT_NQ}
),
c AS (
  SELECT vec_id, label, embedding
  FROM {_SQL_EMB} embeddings WHERE vec_id >= {_FILT_NQ}
),
prod AS (
  SELECT q.query_id, c.vec_id,
         c.embedding[i::INT]::DOUBLE AS x,
         q.qv[i::INT]::DOUBLE AS y
  FROM q JOIN c ON c.label = q.label,
       unnest(range(1, len(c.embedding) + 1)) t(i)
),
agg AS (
  SELECT query_id, vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS nc,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, cosine_sim, CAST(rn AS INT) AS rn FROM (
  SELECT query_id, vec_id,
         dot / (sqrt(nc) * sqrt(nq)) AS cosine_sim,
         row_number() OVER (PARTITION BY query_id
           ORDER BY dot / (sqrt(nc) * sqrt(nq)) DESC, vec_id ASC) AS rn
  FROM agg
) WHERE rn <= {_FILT_TOPK}
""",
)
def q124_filtered_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered retrieval — the RAG serving shape: each query
    vector retrieves its top-{_FILT_TOPK} neighbors ONLY among corpus
    vectors satisfying its metadata predicate (here label equality).
    Filter-THEN-search: the label predicate joins before any similarity
    math, so the dot-product work is |matching candidates|, not
    |corpus| — the pre-filter answer to post-filtering's recall loss.

    Scale shape: the query side broadcasts (queries are the small
    relation in serving), the label equi-join prunes map-side against
    the corpus scan (label also being a parquet partition/cluster key
    at scale makes it partition pruning), cosines are in-row quantized
    folds, and the per-query top-k window partitions on query_id. The
    only exchange is the window's — sized |candidates|, already
    threshold-pruned."""
    # self-norms staged per ROW below the label join (r12 — the
    # q53/q224 fix): both O(d) folds re-ran per (corpus × query) pair
    # for per-row values.  Same expression, same rows, same bits.
    e = temb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).select(
        "vec_id", "label", "v",
        F.sqrt(_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S)).alias(
            "nr"
        ),
    )
    q = e.filter(F.col("vec_id") < _FILT_NQ).select(
        F.col("vec_id").alias("query_id"),
        "label",
        F.col("v").alias("qv"),
        F.col("nr").alias("nq"),
    )
    c = e.filter(F.col("vec_id") >= _FILT_NQ)
    scored = c.join(F.broadcast(q), "label").select(
        "query_id",
        "vec_id",
        (
            (_qdot(F.col("qv"), F.col("v")).cast("double") / F.lit(_S))
            / (F.col("nr") * F.col("nq"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w).cast("int")).filter(
        F.col("rn") <= _FILT_TOPK
    )


_SD_TAU = 0.35  # within-cluster cosine above this = semantic duplicate


@register(
    "q121_semantic_dedup",
    tags=("similarity", "llm-data", "semdedup", "kmeans"),
    oracle=f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY md5('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cl
  FROM {_SQL_EMB} embeddings
),
cents AS (SELECT cl, embedding AS cv FROM ranked WHERE cl < {_KM_K}),
d AS (
  SELECT e.vec_id, c.cl,
         list_aggregate(list_transform(range(1, len(e.embedding) + 1),
           i -> (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)
                * (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)),
           'sum') AS d2
  FROM {_SQL_EMB} e, cents c
),
asg AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cl AS cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cl ASC) AS rn
    FROM d
  ) WHERE rn = 1
),
prod AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         va.embedding[i::INT]::DOUBLE AS xa,
         vb.embedding[i::INT]::DOUBLE AS xb
  FROM asg x
  JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings va ON va.vec_id = x.vec_id
  JOIN embeddings vb ON vb.vec_id = y.vec_id,
       unnest(range(1, len(va.embedding) + 1)) t(i)
),
agg AS (
  SELECT id_a, id_b,
         CAST({sql_qsum('xa * xb')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('xa * xa')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('xb * xb')} AS DOUBLE) / {_S!r} AS nb
  FROM prod GROUP BY id_a, id_b
),
dropped AS (
  SELECT DISTINCT id_b FROM agg
  WHERE dot / (sqrt(na) * sqrt(nb)) >= {_SD_TAU!r}
)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       CASE WHEN dr.id_b IS NULL THEN 1 ELSE 0 END AS keep
FROM asg a LEFT JOIN dropped dr ON dr.id_b = a.vec_id
""",
)
def q121_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then mark as
    duplicates any vector whose cosine to a LOWER-id cluster-mate
    exceeds tau={_SD_TAU} — pairwise comparison never crosses cluster
    boundaries, which is the whole trick: quadratic work shrinks from
    |corpus|^2 to sum over clusters of |cluster|^2.

    Clustering reuses the exact k-means iteration-1 machinery q118
    hash-checks (md5-ranked init, broadcast-centroid in-row argmin), so
    the assignment is deterministic and the full pipeline sits under
    the value-hash gate end to end.

    Scale shape (r7 — the pair join became a per-cluster kernel): ONE
    cluster-keyed exchange of |corpus| rows into applyInPandas, which
    computes the within-cluster pair cosines as chunked numpy
    broadcasting (bounded memory: CHUNK×|cluster|×dim per block) and
    emits the keep flag directly. The r6 shape self-joined the
    assignment into a |pairs|-row relation — each pair row carrying two
    64-double vectors through the shuffle (~1.5 GB of duplicated
    vector bytes at sf0.1) — then distinct'd and re-joined. The kernel
    math is BIT-IDENTICAL to the relational form: per-element
    floor(x*y*1e12) int64 sums (numpy float64 multiply/floor are the
    same IEEE ops as the JVM's), so the oracle is unchanged. The
    100 TB dial is k: SemDeDup runs k ~ 50k on web-scale corpora
    precisely so |cluster| ~ corpus/k keeps the per-cluster quadratic
    bounded; k is a parameter here for the same reason (fixed at
    {_KM_K} only to stay in lockstep with the q118/q114 oracle
    family), and group parallelism = k, so the dial also sets how many
    executor cores the prune can use."""
    return semdedup_prune(spark, sf_dir, _KM_K)


def semdedup_prune(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """q121's full SemDeDup pipeline with the cluster count as the
    dial: the registered entry pins k=_KM_K to stay in lockstep with
    the q118/q114 oracle family; the scale curve probes the production
    dial (k = √n, the flat-quantizer balanced law — assignment
    O(n·k·d) vs per-cluster pairs O(n²/k) meet at k≈√n, exactly the
    ivf_cell_near_dup cost law) through this same code path so the
    measured exponent is the registered kernel's, not a shadow's."""
    import numpy as np
    import pandas as pd

    from ..operators.clustering import assign_clusters, init_centroids

    e = temb(spark, sf_dir)
    cents = init_centroids(e, k)
    a = assign_clusters(e, cents).select("vec_id", "cluster", "_v")

    tau, scale = float(_SD_TAU), float(_S)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        # id order == the oracle's x.vec_id < y.vec_id pair orientation
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        out = pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster": pdf["cluster"].astype("int64"),
            }
        )
        if m <= 1:
            out["keep"] = np.ones(m, dtype=np.int32)
            return out
        # temb guarantees non-null/non-empty/finite/nonzero vectors but
        # NOT uniform dimensionality (q202 audits n_distinct_dims > 1 as
        # a real ingest defect); np.stack on ragged input would die with
        # an opaque shape error mid-kernel, so fail with the contract
        # named instead (r7 advice finding)
        dims = {len(v) for v in pdf["_v"]}
        if len(dims) > 1:
            raise ValueError(
                f"q121 SemDeDup kernel requires uniform embedding"
                f" dimensionality per corpus; cluster"
                f" {int(pdf['cluster'].iloc[0])} has dims {sorted(dims)}"
                " — run q202_embedding_validation_audit and fix ingest"
            )
        V = np.stack(pdf["_v"].to_numpy())  # m × dim float64
        qn = np.floor(V * V * scale).astype(np.int64).sum(axis=1)
        norm = np.sqrt(qn.astype(np.float64) / scale)
        dropped = np.zeros(m, dtype=bool)
        # chunked pairwise quantized cosines: CHUNK×m×dim per block
        chunk = max(1, min(256, (1 << 22) // max(m, 1)))
        for s0 in range(0, m, chunk):
            blk = V[s0:s0 + chunk]
            qd = (
                np.floor(blk[:, None, :] * V[None, :, :] * scale)
                .astype(np.int64)
                .sum(axis=-1)
            )
            cos = (qd.astype(np.float64) / scale) / (
                norm[s0:s0 + chunk, None] * norm[None, :]
            )
            rows, cols = np.nonzero(cos >= tau)
            dropped[cols[(rows + s0) < cols]] = True
        out["keep"] = np.where(dropped, 0, 1).astype(np.int32)
        return out

    return a.groupBy("cluster").applyInPandas(
        prune, "vec_id bigint, cluster bigint, keep int"
    )


@register(
    "q128_embedding_int8_export",
    tags=("similarity", "llm-data", "quantization", "export"),
    oracle=f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         {sql_qsum('x * x', 12).replace('x * x', 'embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')}
           AS qn
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i)
  GROUP BY vec_id, label, embedding
)
SELECT vec_id, label,
       CASE WHEN qn > 0
            THEN array_to_string(list_transform(embedding,
                   x -> CAST(floor(x::DOUBLE
                        / sqrt(CAST(qn AS DOUBLE) / {_S!r}) * 127.0)
                        AS BIGINT)), ',')
            ELSE NULL END AS q8,
       CASE WHEN qn > 0
            THEN sqrt(CAST(qn AS DOUBLE) / {_S!r}) / 127.0
            ELSE 0.0 END AS scale
FROM n
""",
)
def q128_embedding_int8_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-format export: L2-normalize each embedding and quantize
    to int8 range (floor(x/||x|| * 127) per element), emitting the
    per-vector dequantization scale — the standard memory-4x reduction
    step before shipping vectors to an ANN serving index.

    Determinism: the norm is the quantized integer self-dot (order-free
    sum), and each output element is a per-element SCALAR chain
    (divide, multiply, floor) of IEEE ops identical in both engines —
    no aggregation of computed doubles anywhere. Zero-norm vectors
    export NULL with scale 0 rather than dividing by zero.

    Scale shape: pure scan projection, ZERO exchanges — this is the
    map-side write path in front of a partitioned sink
    (operators/sinks.py) at 100 TB."""
    e = temb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    qn = _qdot(F.col("v"), F.col("v"))
    norm = F.sqrt(qn.cast("double") / F.lit(_S))
    staged = e.select("vec_id", "label", "v", qn.alias("qn"), norm.alias("nrm"))
    return staged.select(
        "vec_id",
        "label",
        # serialized as a canonical CSV string: the driver's value hash
        # digests scalars only, and the string is the wire format a
        # serving-index loader would parse anyway
        F.when(
            F.col("qn") > 0,
            F.array_join(
                F.transform(
                    F.col("v"),
                    lambda x: F.floor(x / F.col("nrm") * F.lit(127.0)).cast(
                        "bigint"
                    ),
                ),
                ",",
            ),
        ).alias("q8"),
        F.when(F.col("qn") > 0, F.col("nrm") / F.lit(127.0))
        .otherwise(F.lit(0.0))
        .alias("scale"),
    )


_NEG_ANCHORS = 4  # vec_id < this are the anchor vectors
_NEG_K = 4


@register(
    "q129_negative_sampling",
    tags=("similarity", "llm-data", "contrastive", "sampling"),
    oracle=f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label
  FROM {_SQL_EMB} embeddings WHERE vec_id < {_NEG_ANCHORS}
),
ranked AS (
  SELECT a.anchor_id, c.vec_id AS neg_id, c.label AS neg_label,
         row_number() OVER (
           PARTITION BY a.anchor_id
           ORDER BY md5('neg:' || CAST(a.anchor_id AS VARCHAR) || ':'
                        || CAST(c.vec_id AS VARCHAR)),
                    c.vec_id) AS rn
  FROM anchors a
  JOIN embeddings c
    ON c.label <> a.anchor_label AND c.vec_id >= {_NEG_ANCHORS}
)
SELECT anchor_id, neg_id, neg_label, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {_NEG_K}
""",
)
def q129_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws {_NEG_K} pseudo-random negatives from the corpus rows
    whose label differs — ranked by md5(anchor, candidate), so the
    draw is content-addressed (reshuffle-stable, seedable by changing
    the tag) exactly like the q39 split and q98 caps.

    Scale shape: anchors are the SMALL side (a training micro-batch),
    so the label-mismatch join broadcasts them — a nested-loop only
    over |corpus| x |anchors| with the anchor side in memory, which is
    the sanctioned broadcast-small-dim shape; the md5 rank then needs
    one anchor_id-partitioned window exchange whose input is already
    |corpus| x {_NEG_ANCHORS} rows at most. For large anchor batches
    you shard anchors and union — the per-shard plan is this one."""
    e = temb(spark, sf_dir)
    anchors = e.filter(F.col("vec_id") < _NEG_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
    )
    cand = e.filter(F.col("vec_id") >= _NEG_ANCHORS).select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    joined = cand.join(
        F.broadcast(anchors), F.col("neg_label") != F.col("anchor_label")
    )
    rank_key = F.md5(
        F.concat(
            F.lit("neg:"),
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(rank_key, F.col("neg_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _NEG_K)
        .select("anchor_id", "neg_id", "neg_label", "rn")
    )


@register(
    "q135_embedding_covariance",
    tags=("similarity", "llm-data", "linalg", "covariance"),
    oracle=f"""
WITH d AS (SELECT len(embedding) AS dim FROM {_SQL_EMB} embeddings LIMIT 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {_SQL_EMB} embeddings),
m AS (
  SELECT i::INT AS dim_i,
         {sql_qsum('embedding[i::INT]::DOUBLE')} AS qs
  FROM {_SQL_EMB} embeddings, d, unnest(range(1, d.dim + 1)) t(i)
  GROUP BY i
),
xy AS (
  SELECT i::INT AS dim_i, j::INT AS dim_j,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[j::INT]::DOUBLE')}
           AS qsxy
  FROM {_SQL_EMB} embeddings, d,
       unnest(range(1, d.dim + 1)) t(i),
       unnest(range(1, d.dim + 1)) u(j)
  WHERE j >= i
  GROUP BY i, j
)
SELECT xy.dim_i, xy.dim_j,
       (CAST(xy.qsxy AS DOUBLE) / {_S!r}) / n.n
         - ((CAST(ma.qs AS DOUBLE) / {_S!r}) / n.n)
           * ((CAST(mb.qs AS DOUBLE) / {_S!r}) / n.n) AS cov
FROM xy
JOIN m ma ON ma.dim_i = xy.dim_i
JOIN m mb ON mb.dim_i = xy.dim_j, n
""",
)
def q135_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix of the embedding space (upper
    triangle, population covariance) — the linear-algebra primitive
    under PCA whitening, spectral diagnostics, and anisotropy checks a
    vector corpus gets before indexing.

    Determinism: Σx and Σxy are floor-quantized integer sums; the
    E[xy] − E[x]E[y] combination is a scalar IEEE chain from those
    exact integers, so every cell hash-matches cross-engine.

    Scale shape: the d(d+1)/2 cell fan-out happens IN-ROW (one struct
    array per row, one explode), and partial aggregation collapses
    each partition to ≤ d² cells before the single exchange — the
    shuffle moves O(partitions × d²) rows, independent of corpus
    size. The per-dim means are a second tiny agg broadcast onto the
    cells. d is bounded (embedding width), so this is the map-reduce
    covariance every distributed PCA uses; the power-iteration loop on
    top is driver-side control like k-means (q114/q118)."""
    e = temb(spark, sf_dir).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    n = e.select(F.count(F.lit(1)).alias("n"))
    dims = F.sequence(F.lit(1), F.size("v"))
    # per-dim quantized sums (for the mean term)
    m = (
        e.select(F.posexplode("v").alias("i0", "x"))
        .select((F.col("i0") + 1).cast("int").alias("dim_i"), "x")
        .groupBy("dim_i")
        .agg(qsum(F.col("x")).alias("qs"))
    )
    # in-row upper-triangle outer product -> one explode -> one agg
    cells = F.flatten(
        F.transform(
            dims,
            lambda i: F.transform(
                F.slice(F.col("v"), i, F.size("v") - i + 1),
                lambda xj, k: F.struct(
                    i.cast("int").alias("dim_i"),
                    (i + k).cast("int").alias("dim_j"),
                    F.floor(
                        F.element_at(F.col("v"), i) * xj * F.lit(_S)
                    )
                    .cast("bigint")
                    .alias("q"),
                ),
            ),
        )
    )
    xy = (
        e.select(F.explode(cells).alias("c"))
        .select("c.dim_i", "c.dim_j", "c.q")
        .groupBy("dim_i", "dim_j")
        .agg(F.sum("q").alias("qsxy"))
    )
    ma = m.select(F.col("dim_i").alias("_mi"), F.col("qs").alias("qsa"))
    mb = m.select(F.col("dim_i").alias("_mj"), F.col("qs").alias("qsb"))
    return (
        xy.join(F.broadcast(ma), F.col("dim_i") == F.col("_mi"))
        .join(F.broadcast(mb), F.col("dim_j") == F.col("_mj"))
        .crossJoin(F.broadcast(n))
        .select(
            "dim_i",
            "dim_j",
            (
                (F.col("qsxy").cast("double") / F.lit(_S)) / F.col("n")
                - ((F.col("qsa").cast("double") / F.lit(_S)) / F.col("n"))
                * ((F.col("qsb").cast("double") / F.lit(_S)) / F.col("n"))
            ).alias("cov"),
        )
    )


@register(
    "q139_rag_retrieve_with_metadata",
    tags=("similarity", "llm-data", "rag", "join"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label, embedding AS qv
  FROM {_SQL_EMB} embeddings WHERE vec_id < {_FILT_NQ}
),
c AS (
  SELECT vec_id, label, embedding
  FROM {_SQL_EMB} embeddings WHERE vec_id >= {_FILT_NQ}
),
prod AS (
  SELECT q.query_id, c.vec_id,
         c.embedding[i::INT]::DOUBLE AS x,
         q.qv[i::INT]::DOUBLE AS y
  FROM q JOIN c ON c.label = q.label,
       unnest(range(1, len(c.embedding) + 1)) t(i)
),
agg AS (
  SELECT query_id, vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS nc,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY query_id, vec_id
),
hits AS (
  SELECT query_id, vec_id, cosine_sim, CAST(rn AS INT) AS rn FROM (
    SELECT query_id, vec_id,
           dot / (sqrt(nc) * sqrt(nq)) AS cosine_sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY dot / (sqrt(nc) * sqrt(nq)) DESC, vec_id ASC) AS rn
    FROM agg
  ) WHERE rn <= {_FILT_TOPK}
)
SELECT h.query_id, h.vec_id, h.cosine_sim, h.rn,
       d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM hits h JOIN documents d ON d.doc_id = h.vec_id
""",
)
def q139_rag_retrieve_with_metadata(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full RAG read path: metadata-filtered retrieval (q124's
    filter-then-search) JOINED back to the document store for the
    context fields a prompt builder needs — the retrieval result is
    useless until it re-attaches text metadata, and that join is where
    naive RAG serving loses its latency budget.

    Scale shape: the hit set is |queries| x k rows (tiny by
    construction), so the metadata join broadcasts the HITS onto the
    document store scan — the corpus side streams map-side and prunes
    on doc_id min/max parquet statistics; the document store is never
    shuffled. Same id-space convention as the fixtures (vec_id is the
    embedded doc's id)."""
    hits = q124_filtered_cosine_topk(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    return d.join(
        F.broadcast(hits), d["doc_id"] == hits["vec_id"]
    ).select(
        "query_id", "vec_id", "cosine_sim", "rn", "lang", "source", "n_chars"
    )


_CT_TOPK = 5
_CT_Q = 1000  # integer score factor (q93's odds-ratio idf scheme)


@register(
    "q145_cluster_topic_terms",
    tags=("similarity", "llm-data", "topics", "c-tf-idf"),
    oracle=f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY md5('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cl
  FROM {_SQL_EMB} embeddings
),
cents AS (SELECT cl, embedding AS cv FROM ranked WHERE cl < {_KM_K}),
d AS (
  SELECT e.vec_id, c.cl,
         list_aggregate(list_transform(range(1, len(e.embedding) + 1),
           i -> (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)
                * (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)),
           'sum') AS d2
  FROM {_SQL_EMB} e, cents c
),
asg AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cl AS cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cl ASC) AS rn
    FROM d
  ) WHERE rn = 1
),
tf AS (
  SELECT a.cluster, tk AS token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM asg a
  JOIN documents doc ON doc.doc_id = a.vec_id,
       unnest(regexp_split_to_array(lower(trim(doc.text)), '\\s+')) t(tk)
  GROUP BY a.cluster, tk
),
scored AS (
  SELECT cluster, token, tf,
         CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df,
         ({_CT_Q} * tf * (2 * {_KM_K} - 2 * COUNT(*) OVER (PARTITION BY token) + 1))
           // (2 * COUNT(*) OVER (PARTITION BY token) + 1) AS score_q
  FROM tf
)
SELECT CAST(cluster AS BIGINT) AS cluster, token, tf, df,
       CAST(score_q AS BIGINT) AS score_q, CAST(rn AS INT) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster
              ORDER BY score_q DESC, token ASC) AS rn
  FROM scored
) WHERE rn <= {_CT_TOPK}
""",
)
def q145_cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling via c-TF-IDF (the BERTopic recipe): after
    embedding-space clustering (q118's hash-checked assignment, using
    the vec_id == doc_id convention from q139), each cluster's top
    terms are the tokens frequent INSIDE it but present in FEW
    clusters — turning anonymous centroids into human-readable topics,
    the corpus-exploration step between clustering and curation.

    Scoring reuses q93's integer odds-ratio idf (BIGINT-only ranks,
    no log ulps): score = Q·tf·(2K−2df+1)//(2df+1) where df counts
    clusters containing the token — all exact integers.

    Scale shape: assignment is the broadcast-argmin scan; the doc join
    keys on the id; token counting is one (cluster, token) hash agg
    with map-side combine; df is a count window over the ALREADY
    AGGREGATED relation (rows = distinct (cluster, token), bounded by
    K x vocab, corpus-independent); per-cluster top-k windows over the
    same tiny relation."""
    from ..operators.clustering import assign_clusters, init_centroids

    e = temb(spark, sf_dir)
    cents = init_centroids(e, _KM_K)
    asg = assign_clusters(e, cents).select("vec_id", "cluster")
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    from ..functions.text import tokens as tok_fn

    joined = asg.join(docs, asg["vec_id"] == docs["doc_id"]).select(
        "cluster", tok_fn("text").alias("_tok")
    )
    tf = (
        joined.select("cluster", F.explode_outer("_tok").alias("token"))
        .groupBy("cluster", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wdf = Window.partitionBy("token")
    scored = tf.select(
        "cluster",
        "token",
        "tf",
        F.count(F.lit(1)).over(wdf).cast("bigint").alias("df"),
    ).select(
        "cluster",
        "token",
        "tf",
        "df",
        F.expr(
            f"({_CT_Q} * tf * (2 * {_KM_K} - 2 * df + 1)) div (2 * df + 1)"
        )
        .cast("bigint")
        .alias("score_q"),
    )
    wtop = Window.partitionBy("cluster").orderBy(
        F.col("score_q").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rn") <= _CT_TOPK)
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "token",
            "tf",
            "df",
            "score_q",
            "rn",
        )
    )


@register(
    "q160_standardized_centroids",
    tags=("similarity", "llm-data", "agg", "feature-prep"),
    oracle=f"""
WITH ex AS (
  SELECT label, i::INT AS dim, embedding[i::INT]::DOUBLE AS x
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i)
),
gstats AS (
  -- GREATEST(.., 0): the quantized E[x2]-E[x]2 can round a hair
  -- NEGATIVE on a zero-variance dimension (floor(x*x*S) <= x*x while
  -- the squared mean doesn't floor twice) — DuckDB's sqrt ERRORS on
  -- negatives where Spark yields NaN, so an unclamped variance is an
  -- engine-divergence on any constant dim (all_one fixture, r10)
  SELECT dim,
         CAST({sql_qsum('x')} AS DOUBLE) / {_S!r} / COUNT(*) AS mu,
         sqrt(GREATEST(
              CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} / COUNT(*)
              - (CAST({sql_qsum('x')} AS DOUBLE) / {_S!r} / COUNT(*))
                * (CAST({sql_qsum('x')} AS DOUBLE) / {_S!r} / COUNT(*)),
              0e0)
         ) AS sigma
  FROM ex GROUP BY dim
),
cent AS (
  SELECT label, dim,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST({sql_qsum('x')} AS DOUBLE) / {_S!r} / COUNT(*) AS centroid
  FROM ex GROUP BY label, dim
)
SELECT c.label, c.dim, c.n_vecs, c.centroid, g.mu, g.sigma,
       CASE WHEN g.sigma > 0e0 THEN (c.centroid - g.mu) / g.sigma
            ELSE NULL END AS centroid_std
FROM cent c JOIN gstats g ON g.dim = c.dim
""",
)
def q160_standardized_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-standardized label centroids: each label's mean
    vector expressed in units of the GLOBAL per-dim standard deviation
    — the feature-relevance readout (a dim where centroids sit ±2σ
    apart separates the labels; a dim where they all sit at 0σ is
    noise) and the exact statistics a standardization/whitening export
    reuses.

    Determinism: both moments go through the floor-quantized BIGINT
    sum (qsum — computed doubles never touch a decimal or double
    reduction), and the variance is E[x²]−E[x]² of two exact-sum
    ratios with pinned per-row IEEE arithmetic. Population (not
    sample) sigma.

    Scale shape: ONE explode feeds two partial aggs — (label, dim)
    and (dim) — each shuffling |keys| rows only; the global stats
    (dim rows) BROADCAST back onto the label-centroid aggregate. No
    corpus-sized join, no second scan of the vectors."""
    e = temb(spark, sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ex = e.select(
        "label", F.posexplode("v").alias("i", "x")
    ).select("label", (F.col("i") + 1).cast("int").alias("dim"), "x")
    n = F.count(F.lit(1))
    mean = qsum(F.col("x")).cast("double") / F.lit(_S) / n
    glob = ex.groupBy("dim").agg(
        mean.alias("mu"),
        # clamp before sqrt: quantized E[x²]−E[x]² rounds a hair
        # negative on zero-variance dims — DuckDB sqrt ERRORS there
        # while Spark yields NaN (all_one fixture, r10)
        F.sqrt(
            F.greatest(
                qsum(F.col("x") * F.col("x")).cast("double") / F.lit(_S) / n
                - mean * mean,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    cent = ex.groupBy("label", "dim").agg(
        n.cast("bigint").alias("n_vecs"), mean.alias("centroid")
    )
    return cent.join(F.broadcast(glob), "dim").select(
        "label",
        "dim",
        "n_vecs",
        "centroid",
        "mu",
        "sigma",
        # zero-variance guard (q164's rule): a constant dimension must
        # yield NULL identically in both engines, never a /0 Inf (DuckDB)
        # vs NULL (Spark) parity break
        F.when(
            F.col("sigma") > 0.0,
            (F.col("centroid") - F.col("mu")) / F.col("sigma"),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("centroid_std"),
    )


# q175's oracle reuses q56's registered CTE text verbatim up through the
# per-vector cell assignment — sliced at runtime, so the audit cannot
# drift from the index it audits.
_IVF_SPLIT_MARKER = "),\nqv AS"
_ivf_parts_split = QUERIES["q56_ivf_topk"].oracle.split(_IVF_SPLIT_MARKER)
# str.split degrades SILENTLY to the whole string when the marker is
# missing (a reformat of q56's oracle would produce malformed SQL whose
# failure surfaces as a confusing DuckDB parse error) — fail at import
# with the cause instead.
assert len(_ivf_parts_split) == 2, "q56 oracle lost the qv-AS CTE marker"
_SQL_IVF_CELL_CTES = _ivf_parts_split[0] + ")"


@register(
    "q175_ivf_cell_census",
    tags=("similarity", "llm-data", "ann", "ivf", "skew-audit"),
    oracle=f"""
{_SQL_IVF_CELL_CTES},
occ AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM cells GROUP BY cent_id
),
tot AS (
  SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(MAX(n_vectors) AS BIGINT) AS max_cell
  FROM occ
)
SELECT o.cent_id, o.n_vectors,
       CAST(o.n_vectors AS DOUBLE) / t.n_total AS share,
       CAST(o.n_vectors AS DOUBLE) * t.n_cells / t.n_total AS balance_ratio,
       CAST(t.max_cell AS BIGINT) AS max_cell
FROM occ o, tot t
""",
)
def q175_ivf_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy census: how many corpus vectors each Voronoi
    cell of q56's index holds, each cell's share, and its balance
    ratio (occupancy / ideal-uniform occupancy) — the q162 discipline
    applied to the ANN index: a cell at balance_ratio 40 means probe
    latency is 40× the uniform estimate whenever a query lands there,
    and re-seeding (or splitting hot cells) beats discovering that in
    the p99 latency chart. Audits the EXACT assignment q56 serves
    (shared builder `_ivf_parts` + runtime-sliced oracle CTEs — the
    index and its audit cannot drift apart).

    Shape: assignment is the broadcast in-row argmax fold (map-side,
    no shuffle), then one ncells-key partial agg and a 1-row total
    broadcast back."""
    _e, corpus, assign = _ivf_parts(spark, sf_dir)
    cells = assign(corpus, "vec_id", "v", 1)
    occ = cells.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = occ.agg(
        F.sum("n_vectors").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n_vectors").cast("bigint").alias("max_cell"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cent_id",
        "n_vectors",
        (F.col("n_vectors").cast("double") / F.col("n_total")).alias("share"),
        (
            F.col("n_vectors").cast("double")
            * F.col("n_cells")
            / F.col("n_total")
        ).alias("balance_ratio"),
        F.col("max_cell").cast("bigint").alias("max_cell"),
    )


@register(
    "q180_quantization_error",
    tags=("similarity", "llm-data", "quantization", "eval"),
    oracle=f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         {sql_qsum('embedding[i::INT]::DOUBLE * embedding[i::INT]::DOUBLE')} AS qn
  FROM {_SQL_EMB} embeddings, unnest(range(1, len(embedding) + 1)) t(i)
  GROUP BY vec_id, label, embedding
),
el AS (
  SELECT label, vec_id,
         embedding[i::INT]::DOUBLE / sqrt(CAST(qn AS DOUBLE) / {_S!r}) AS xn,
         CAST(floor(embedding[i::INT]::DOUBLE
              / sqrt(CAST(qn AS DOUBLE) / {_S!r}) * 127.0) AS BIGINT) AS q8
  FROM n, unnest(range(1, len(embedding) + 1)) t(i)
  WHERE qn > 0
)
SELECT label,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS n_elems,
       CAST({sql_qsum('ABS(xn - CAST(q8 AS DOUBLE) / 127.0)')} AS DOUBLE)
         / 1e12 / COUNT(*) AS mean_abs_err,
       MAX(ABS(xn - CAST(q8 AS DOUBLE) / 127.0)) AS max_abs_err
FROM el
GROUP BY label
""",
)
def q180_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error QA for q128's int8 export: per label, the
    mean and max absolute error between the L2-normalized original and
    its dequantized int8 element (q/127) — the acceptance gate for a
    serving-index export (floor quantization guarantees every element
    error < 1/127 ≈ 0.0079; a max_abs_err above that bound means the
    export and its QA disagree about the quantizer, pinned in
    test_catalog).

    Exactness: the quantized element, its dequantization and the error
    are per-row IEEE chains on engine-identical inputs; the mean goes
    through floor-quantized BIGINT sums (qsum). Shape: one explode →
    (label) partial agg; at 100 TB this runs beside the export scan
    and adds no exchange beyond the |labels|-row rollup."""
    e = temb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    qn = _qdot(F.col("v"), F.col("v"))
    staged = e.select("vec_id", "label", "v", qn.alias("qn")).filter(
        F.col("qn") > 0
    )
    nrm = F.sqrt(F.col("qn").cast("double") / F.lit(_S))
    el = staged.select(
        "label",
        "vec_id",
        (F.explode("v")).alias("x"),
        nrm.alias("nrm"),
    ).select(
        "label",
        "vec_id",
        (F.col("x") / F.col("nrm")).alias("xn"),
        F.floor(F.col("x") / F.col("nrm") * F.lit(127.0))
        .cast("bigint")
        .alias("q8"),
    )
    err = F.abs(F.col("xn") - F.col("q8").cast("double") / F.lit(127.0))
    return el.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).alias("n_elems"),
        (qsum(err).cast("double") / F.lit(1e12) / F.count(F.lit(1))).alias(
            "mean_abs_err"
        ),
        F.max(err).alias("max_abs_err"),
    )


# q187 reuses q55's registered CTE text (e/norms/pairs/dots) verbatim —
# runtime-sliced like q175, so the tuning histogram measures EXACTLY
# the blocked pair population the near-dup query ranks.
_ND_SPLIT_MARKER = ")\nSELECT * FROM ("
_nd_split = QUERIES["q55_embedding_near_dup"].oracle.split(_ND_SPLIT_MARKER)
assert len(_nd_split) == 2, "q55 oracle lost its final-SELECT marker"
_SQL_ND_CTES = _nd_split[0] + ")"


@register(
    "q187_blocked_pair_cosine_histogram",
    tags=("similarity", "llm-data", "dedup", "histogram", "tuning"),
    oracle=f"""
{_SQL_ND_CTES},
cos AS (
  SELECT (CAST(d.qd AS DOUBLE) / {_S!r})
           / (sqrt(CAST(na.qn AS DOUBLE) / {_S!r})
              * sqrt(CAST(nb.qn AS DOUBLE) / {_S!r})) AS cosine_sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.id_a
  JOIN norms nb ON nb.vec_id = d.id_b
)
SELECT CAST(FLOOR(cosine_sim * 20.0) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MIN(cosine_sim) AS min_cos,
       MAX(cosine_sim) AS max_cos
FROM cos
GROUP BY bucket
""",
)
def q187_blocked_pair_cosine_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-tuning histogram for q55's near-dup pass: the cosine
    distribution of ALL blocked candidate pairs in 0.05-wide buckets.
    The near-dup threshold τ is a guess until this histogram shows
    where the duplicate mode separates from the background bulk — at
    100 TB you run this once on a sample, read the valley, and only
    then spend the full pair budget. Runtime-sliced q55 CTEs: the
    histogram measures exactly the pair population q55 ranks.

    Buckets are floor(cos·20) on engine-identical doubles (the cosine
    is quantized-integer dot ratios); the histogram agg is ≤41 keys."""
    e = temb(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        _sign_block(F.col("embedding"), _ND_BITS).alias("blk"),
    ).withColumn("qn", _qdot(F.col("v"), F.col("v")))
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        "blk",
        F.col("qn").alias("qna"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        "blk",
        F.col("qn").alias("qnb"),
    )
    pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    cos = pairs.select(
        (
            (_qdot(F.col("va"), F.col("vb")).cast("double") / F.lit(_S))
            / (
                F.sqrt(F.col("qna").cast("double") / F.lit(_S))
                * F.sqrt(F.col("qnb").cast("double") / F.lit(_S))
            )
        ).alias("cosine_sim")
    )
    return cos.groupBy(
        F.floor(F.col("cosine_sim") * 20.0).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("cosine_sim").alias("min_cos"),
        F.max("cosine_sim").alias("max_cos"),
    )


@register(
    "q188_ivf_recall_eval",
    tags=("similarity", "llm-data", "ann", "ivf", "eval"),
    oracle=f"""
WITH ivf AS ({QUERIES["q56_ivf_topk"].oracle}),
bfq AS (SELECT vec_id AS query_id, embedding AS qv
        FROM {_SQL_EMB} embeddings WHERE vec_id < 3),
bfe AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings WHERE vec_id >= 3),
bfprod AS (
  SELECT q.query_id, e.vec_id,
         e.embedding[i::INT]::DOUBLE AS x, qv[i::INT]::DOUBLE AS y
  FROM bfe e, bfq q, unnest(range(1, len(e.embedding) + 1)) t(i)
),
bfagg AS (
  SELECT query_id, vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM bfprod GROUP BY query_id, vec_id
),
bf AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY dot / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC
           ) AS rn
    FROM bfagg
  ) WHERE rn <= {_IVF_TOPK}
)
SELECT b.query_id,
       CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
       CAST(COUNT(i.vec_id) AS DOUBLE) / {_IVF_TOPK} AS recall_at_{_IVF_TOPK}
FROM bf b
LEFT JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
GROUP BY b.query_id
""",
)
def q188_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_IVF_TOPK} of the IVF index against exact brute force,
    per query — the eval-as-a-query pattern: the approximate arm is
    q56's REGISTERED plan invoked directly (and its registered oracle
    nested verbatim in this one), the exact arm is the q53 broadcast
    fold restricted to q56's own query/corpus split, so the number is
    the recall of the index actually served, not of a reimplementation.
    An ANN rollout gate reads this table, not a promise.

    Shape: brute force is the broadcast-query in-row fold (one window
    per query for top-k); the probe side is q56's plan; the comparison
    joins two |queries|×k relations."""
    ivf = QUERIES["q56_ivf_topk"].fn(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("ivf_vec")
    )
    # self-norms staged per ROW below the broadcast join (r12 — the
    # q53/q224 fix): both O(d) folds re-ran per (corpus × query) pair
    # for per-row values.  Same expression, same rows, same bits.
    e = temb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).select(
        "vec_id", "v",
        F.sqrt(_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S)).alias(
            "nr"
        ),
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nr").alias("nq"),
    )
    corpus = e.filter(F.col("vec_id") >= 3)
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (
            (_qdot(F.col("v"), F.col("qv")).cast("double") / F.lit(_S))
            / (F.col("nr") * F.col("nq"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    bf = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_TOPK)
        .select("query_id", "vec_id")
    )
    joined = bf.join(
        ivf,
        (bf.query_id == ivf.query_id) & (bf.vec_id == ivf.ivf_vec),
        "left_outer",
    ).select(bf.query_id, ivf.ivf_vec)
    return joined.groupBy("query_id").agg(
        F.count("ivf_vec").cast("bigint").alias("n_hits"),
        (F.count("ivf_vec").cast("double") / F.lit(float(_IVF_TOPK))).alias(
            f"recall_at_{_IVF_TOPK}"
        ),
    )


@register(
    "q202_embedding_validation_audit",
    tags=("similarity", "llm-data", "validation", "audit"),
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_vec,
       CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_vec,
       CAST(SUM(CASE WHEN embedding IS NOT NULL
                 AND len(list_filter(embedding,
                       x -> x IS NULL OR NOT isfinite(x))) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_elem_vec,
       CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding,
                       x -> x IS NULL OR NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x <> 0)) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec,
       CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding,
                       x -> x IS NULL OR NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x <> 0)) > 0
                 AND NOT ({_SQL_QNZ})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_qzero_vec,
       CAST(SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding,
                       x -> x IS NULL OR NOT isfinite(x))) = 0
                 AND len(list_filter(embedding, x -> x <> 0)) > 0
                 AND {_SQL_QNZ}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(COUNT(DISTINCT CASE WHEN embedding IS NOT NULL
                 THEN len(embedding) END) AS BIGINT) AS n_distinct_dims,
       CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_ids,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
          SELECT vec_id FROM embeddings
          WHERE vec_id IS NOT NULL GROUP BY vec_id HAVING COUNT(*) > 1))
         AS n_dup_ids
FROM embeddings
""",
)
def q202_embedding_validation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The observability half of the embeddings validity boundary: one
    row counting every defect class the boundary rejects — NULL vector,
    empty vector, vector with a NULL/NaN/±Inf element, all-zero
    vector — next to the
    valid count and the distinct-dimension census (a second model's
    vectors landing in the same table show up here as n_distinct_dims
    > 1 before they shear a zip_with downstream), plus the IDENTITY
    census: NULL vec_ids and ids carried by more than one row. The
    similarity family addresses vectors BY id (norm lookups, IVF
    cells, pair relations), so unique non-null vec_id is its ingest
    precondition — this audit is where a violated contract surfaces,
    and the hostile embeddings_dupid fixture hash-checks exactly these
    two columns while the id-keyed family runs crash-coverage-only
    there (tools/hostile_sweep.py CONTRACT_EXEMPT).

    This query intentionally reads the RAW table (the only similarity
    query that does): validation that can't report what it dropped is
    indistinguishable from silent data loss. The CASE conditions are
    the EXACT `_util._SQL_EMB`/`valid_embeddings` predicate split into
    disjoint classes, so n_valid here equals the row count every other
    similarity plan sees — drift between the audit and the boundary is
    structurally impossible on the SQL side and pinned by test on the
    Spark side.

    Scale: one scan, one 1-row partial agg; the per-row predicates are
    in-row array folds inside codegen."""
    from ._util import bad_embedding_element as bad

    e = t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    is_null = v.isNull()
    is_empty = v.isNotNull() & (F.size(v) == 0)
    has_bad = v.isNotNull() & F.exists(v, bad)
    nonnull_clean = v.isNotNull() & (F.size(v) > 0) & ~F.exists(v, bad)
    is_zero = nonnull_clean & ~F.exists(v, lambda x: x != F.lit(0.0))
    nonzero_clean = nonnull_clean & F.exists(v, lambda x: x != F.lit(0.0))
    # r11 class: nonzero elements but all-zero at the quantizer's
    # resolution (see _util._SQL_QNZ) — rejected by the boundary
    # because its quantized cosines have no defined value
    is_qzero = nonzero_clean & ~has_quantizable_element(v)
    is_valid = nonzero_clean & has_quantizable_element(v)

    def cnt(cond) -> Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        cnt(is_null).alias("n_null_vec"),
        cnt(is_empty).alias("n_empty_vec"),
        cnt(has_bad).alias("n_bad_elem_vec"),
        cnt(is_zero).alias("n_zero_vec"),
        cnt(is_qzero).alias("n_qzero_vec"),
        cnt(is_valid).alias("n_valid"),
        F.countDistinct(F.when(v.isNotNull(), F.size(v)))
        .cast("bigint")
        .alias("n_distinct_dims"),
        cnt(F.col("vec_id").isNull()).alias("n_null_ids"),
    ).crossJoin(
        # ids carried by >1 row need their own (vec_id-keyed) agg pass;
        # the result is one broadcast row joined onto the scalar audit
        F.broadcast(
            e.filter(F.col("vec_id").isNotNull())
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_ids"))
        )
    )


# --------------------------------------------------------------------------
# q236 — simplified silhouette over the k-means iteration-1 clustering
# --------------------------------------------------------------------------

_SIL_Q = 1_000_000


@register(
    "q236_simplified_silhouette",
    tags=("similarity", "llm-data", "kmeans", "cluster-quality"),
    oracle=f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY md5('kmeans:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cl
  FROM {_SQL_EMB} embeddings
),
cents AS (SELECT cl, embedding AS cv FROM ranked WHERE cl < {_KM_K}),
d AS (
  SELECT e.vec_id, c.cl,
         list_aggregate(list_transform(range(1, len(e.embedding) + 1),
           i -> (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)
                * (e.embedding[i::INT]::DOUBLE - c.cv[i::INT]::DOUBLE)),
           'sum') AS d2
  FROM {_SQL_EMB} e, cents c
),
rk AS (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, cl ASC) AS rn
  FROM d
),
ab AS (
  SELECT vec_id,
         MIN(CASE WHEN rn = 1 THEN cl END) AS cluster,
         MIN(CASE WHEN rn = 1 THEN d2 END) AS a,
         MIN(CASE WHEN rn = 2 THEN d2 END) AS b
  FROM rk WHERE rn <= 2 GROUP BY vec_id
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(FLOOR(
         (CASE WHEN GREATEST(a, b) = 0.0 THEN 0.0
               ELSE (b - a) / GREATEST(a, b) END) * {_SIL_Q}
       ) AS BIGINT)) AS BIGINT) AS sum_sil_q,
       SUM(CAST(FLOOR(a * {_SIL_Q}) AS BIGINT)) AS sum_a_q,
       SUM(CAST(FLOOR(b * {_SIL_Q}) AS BIGINT)) AS sum_b_q
FROM ab GROUP BY cluster
""",
)
def q236_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the
    cluster-quality audit for the q118/q121 clustering stack: per
    vector, a = squared distance to its OWN centroid, b = squared
    distance to the NEAREST OTHER centroid, s = (b-a)/max(a,b) in
    [-1, 1]; clusters whose mean s collapses toward 0 are candidates
    for splitting (SemDeDup's k dial made measurable). Computed on
    squared distances (monotone in the classic form, no sqrt in the
    hot path).

    Engine-exactness: distances are the q118 left-fold doubles against
    the SAME md5-ranked centroids; a, b, and s are then single IEEE
    ops on identical inputs, quantized at the row.

    Shape at scale: NO |corpus|×k fan-out and NO per-vector window —
    one in-row fold carries (best, best-cluster, second-best) across
    the k broadcast centroids, so the corpus is scanned once and the
    only exchange is the k-row final agg."""
    from ..operators.clustering import init_centroids

    e = temb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = init_centroids(temb(spark, sf_dir), _KM_K)
    if not cents:
        # zero-row corpus (r9 all_empty fixture): an empty F.lit([])
        # centroid literal cannot be typed; the silhouette relation is
        # definitionally empty — same guard as clustering.assign_clusters
        return e.select(
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("bigint").alias("n_vecs"),
            F.lit(None).cast("bigint").alias("sum_sil_q"),
            F.lit(None).cast("bigint").alias("sum_a_q"),
            F.lit(None).cast("bigint").alias("sum_b_q"),
        ).limit(0)
    v = F.col("v")

    def dist2(c):
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    k = len(cents)
    acc0 = F.struct(
        F.lit(float("inf")).alias("d1"),
        F.lit(-1).alias("cl1"),
        F.lit(float("inf")).alias("d2nd"),
    )
    pairs = F.zip_with(
        F.lit(cents),
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    # Each centroid distance is computed EXACTLY ONCE (transform to
    # (d, i) structs), then the fold compares precomputed scalars — the
    # previous shape called dist2() inside both WHEN branches and the
    # result struct, re-evaluating the 64-element fold up to 3x per
    # centroid per row (r6 ADVICE finding; same Catalyst
    # per-reference-duplication trap as functions.text.tokens).
    dists = F.transform(
        pairs,
        lambda ci: F.struct(dist2(ci["c"]).alias("d"), ci["i"].alias("i")),
    )
    best2 = F.aggregate(
        dists,
        acc0,
        lambda acc, di: F.when(
            di["d"] < acc["d1"],
            F.struct(
                di["d"].alias("d1"),
                di["i"].alias("cl1"),
                acc["d1"].alias("d2nd"),
            ),
        )
        .when(
            di["d"] < acc["d2nd"],
            F.struct(
                acc["d1"].alias("d1"),
                acc["cl1"].alias("cl1"),
                di["d"].alias("d2nd"),
            ),
        )
        .otherwise(acc),
    )
    # best2 staged as ONE aliased column before the 3-way field fan-out:
    # CollapseProject inlines only cheap multi-referenced aliases, so the
    # fold runs once per row instead of once per referencing expression.
    ab = e.select(best2.alias("_b")).select(
        F.col("_b.cl1").alias("cluster"),
        F.col("_b.d1").alias("a"),
        # the fold's +inf "no second centroid" sentinel must surface as
        # NULL: a k=1 clustering has no b by definition — the oracle's
        # MIN(CASE WHEN rn=2 ...) is NULL there, while floor(inf) cast
        # saturated to LONG_MAX in the non-ANSI cast (all_one fixture,
        # r10). F.greatest and the NULL-propagating s arithmetic then
        # match DuckDB's exactly.
        F.when(
            F.col("_b.d2nd") != F.lit(float("inf")), F.col("_b.d2nd")
        ).alias("b"),
    )
    mx = F.greatest(F.col("a"), F.col("b"))
    s = F.when(mx == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / mx
    )
    return ab.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.floor(s * _SIL_Q).cast("bigint")).cast("bigint").alias(
            "sum_sil_q"
        ),
        F.sum(F.floor(F.col("a") * _SIL_Q).cast("bigint")).alias("sum_a_q"),
        F.sum(F.floor(F.col("b") * _SIL_Q).cast("bigint")).alias("sum_b_q"),
    )


# --------------------------------------------------------------------------
# q237 — hard-negative mining for contrastive training
# --------------------------------------------------------------------------

_HN_NQ = 20  # anchor set: vec_id < 20
_HN_K = 3    # hard negatives per anchor


@register(
    "q237_hard_negative_mining",
    tags=("similarity", "llm-data", "topk", "contrastive"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
  FROM {_SQL_EMB} embeddings WHERE vec_id < {_HN_NQ}
),
e AS (SELECT vec_id, label, embedding FROM {_SQL_EMB} embeddings),
prod AS (
  SELECT q.query_id, q.qlabel, e.vec_id, e.label AS nlabel,
         e.embedding[i::INT]::DOUBLE AS x, qv[i::INT]::DOUBLE AS y
  FROM e, q, unnest(range(1, len(e.embedding) + 1)) t(i)
  WHERE e.label IS DISTINCT FROM q.qlabel
),
agg AS (
  SELECT query_id, qlabel, vec_id, nlabel,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY query_id, qlabel, vec_id, nlabel
)
SELECT query_id, qlabel, vec_id AS neg_id, nlabel AS neg_label,
       CAST(rn AS BIGINT) AS rn,
       CAST(FLOOR((dot / (sqrt(na) * sqrt(nq))) * 1000000.0) AS BIGINT)
         AS cos_q
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY dot / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC) AS rn
  FROM agg
)
WHERE rn <= {_HN_K}
""",
)
def q237_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training curation step:
    for each anchor vector, the {_HN_K} most-similar vectors carrying
    a DIFFERENT label (IS DISTINCT FROM, so unlabeled rows count as
    different — pinned in both engines). High-cosine wrong-label
    neighbors are exactly the negatives that make an embedding model
    learn boundaries instead of memorizing easy contrasts.

    Cosines ride the quantized-dot chain (exact int sums, then only
    correctly-rounded IEEE ops: /, sqrt, *), so the emitted cos_q is
    bit-identical cross-engine, not just rank-stable.

    Shape: anchors broadcast across the corpus scan (the q53/q224
    brute-force arm — at scale the candidate set comes from the q56
    IVF cells, identical tail), one top-k window on the anchor key,
    output |anchors|×{_HN_K} rows."""
    # self-norms fold ONCE per corpus row / per anchor, never per pair
    # (the vnorm discipline from q50/q55): only the cross dot runs
    # inside the |corpus|x|anchors| expression
    e = temb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("na", _qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S))
    q = e.filter(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("na").alias("nq"),
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(~F.col("label").eqNullSafe(F.col("qlabel")))
        .select(
            "query_id", "qlabel", "vec_id",
            F.col("label").alias("neg_label"),
            (_qdot(F.col("v"), F.col("qv")).cast("double") / F.lit(_S)).alias("dot"),
            "na",
            "nq",
        )
    )
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nq"))
    w = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HN_K)
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neg_id"),
            "neg_label",
            F.col("rn").cast("bigint").alias("rn"),
            F.floor(cos * F.lit(1_000_000.0)).cast("bigint").alias("cos_q"),
        )
    )


# --------------------------------------------------------------------------
# q245 — IVF cell rebalance plan (split/merge proposals from occupancy)
# --------------------------------------------------------------------------


@register(
    "q245_ivf_rebalance_plan",
    tags=("similarity", "llm-data", "ann", "ivf", "ops"),
    oracle=f"""
{_SQL_IVF_CELL_CTES},
occ AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM cells GROUP BY cent_id
),
tot AS (
  SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM occ
)
SELECT o.cent_id, o.n_vectors,
       CASE WHEN o.n_vectors * t.n_cells > 2 * t.n_total THEN 'split'
            WHEN 2 * o.n_vectors * t.n_cells < t.n_total THEN 'merge'
            ELSE 'keep' END AS decision
FROM occ o, tot t
""",
)
def q245_ivf_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance PLAN for the q56 IVF index from q175's occupancy
    census: cells holding more than 2× the uniform share are split
    candidates (probe latency hotspots), cells under half the uniform
    share are merge candidates (wasted quantizer capacity) — the
    maintenance decision an index rebuild job consumes. Thresholds are
    integer cross-multiplications (n·cells vs 2·total), so the
    decision column is engine-exact, never a ratio comparison.

    Shape: identical to q175 (broadcast-argmax assignment map-side,
    one ncells-key agg, 1-row totals broadcast) plus a CASE — the
    audit and the plan share the `_ivf_parts` builder, so the index,
    its census, and its maintenance plan cannot drift apart."""
    _e, corpus, assign = _ivf_parts(spark, sf_dir)
    cells = assign(corpus, "vec_id", "v", 1)
    occ = cells.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    tot = occ.agg(
        F.sum("n_vectors").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cent_id",
        "n_vectors",
        F.when(
            F.col("n_vectors") * F.col("n_cells") > 2 * F.col("n_total"),
            "split",
        )
        .when(
            2 * F.col("n_vectors") * F.col("n_cells") < F.col("n_total"),
            "merge",
        )
        .otherwise("keep")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# q247 — reciprocal-rank fusion of the exact and IVF retrieval arms
# --------------------------------------------------------------------------

_RRF_K = 60            # the standard RRF smoothing constant
_RRF_Q = 1_000_000_000  # integer reciprocal quantizer
_RRF_TOPK = 5


@register(
    "q247_rrf_fusion",
    tags=("similarity", "llm-data", "retrieval", "fusion", "topk"),
    oracle=f"""
WITH arm_b AS (
  SELECT query_id, vec_id, rn FROM ({{Q56_ORACLE}})
),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM {_SQL_EMB} embeddings WHERE vec_id < 3),
e AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings WHERE vec_id >= 3),
prod AS (
  SELECT q.query_id, e.vec_id,
         e.embedding[i::INT]::DOUBLE AS x, qv[i::INT]::DOUBLE AS y
  FROM e, q, unnest(range(1, len(e.embedding) + 1)) t(i)
),
agg AS (
  SELECT query_id, vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY query_id, vec_id
),
arm_a AS (
  SELECT query_id, vec_id, rn FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY dot / (sqrt(na) * sqrt(nq)) DESC, vec_id ASC) AS rn
    FROM agg
  ) WHERE rn <= {_IVF_TOPK}
),
fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.vec_id, b.vec_id) AS vec_id,
         COALESCE({_RRF_Q} // ({_RRF_K} + a.rn), 0)
           + COALESCE({_RRF_Q} // ({_RRF_K} + b.rn), 0) AS rrf_q,
         a.rn IS NOT NULL AS in_exact,
         b.rn IS NOT NULL AS in_ivf
  FROM arm_a a FULL OUTER JOIN arm_b b
    ON a.query_id = b.query_id AND a.vec_id = b.vec_id
)
SELECT query_id, vec_id, CAST(rrf_q AS BIGINT) AS rrf_q,
       CAST(fr AS INT) AS fused_rank, in_exact, in_ivf
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_q DESC, vec_id ASC) AS fr
  FROM fused
) WHERE fr <= {_RRF_TOPK}
""",
)
def q247_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the hybrid-retrieval combiner every
    two-arm search stack ships: the exact brute-force top-{_IVF_TOPK}
    and q56's IVF top-{_IVF_TOPK} fuse by Σ 1/(k+rank) with k={_RRF_K},
    computed as the INTEGER reciprocal {_RRF_Q} div (k+rank) so the
    fused score is engine-exact (a float 1/(k+r) sum would be
    reduction-order-stable here, but the integer form removes even
    that caveat). Candidates missing from one arm contribute 0 from
    it; the in_exact/in_ivf flags make arm agreement auditable
    (q188's recall as a per-hit bit).

    The oracle embeds q56's ENTIRE index-build+probe oracle as the
    IVF arm (nested CTE subquery) — fusing two independently
    hash-checked arms and hash-checking the fusion.

    Shape: both arms end |queries|×k-sized; the fusion is a full-outer
    join + window on that tiny relation. The arms themselves keep
    their own scale shapes (brute: broadcast queries over one scan;
    IVF: map-side assignment + cell-pruned re-rank)."""
    arm_b = QUERIES["q56_ivf_topk"].fn(spark, sf_dir).select(
        F.col("query_id").alias("qb"),
        F.col("vec_id").alias("vb"),
        F.col("rn").alias("rn_b"),
    )
    # self-norms staged per ROW below the broadcast join (r12 — the
    # q53/q224 fix): inside the pair projection each O(d) fold re-ran
    # per (corpus × query) pair for per-row values.  Same expression on
    # the same row → identical IEEE bits; only the evaluation site
    # moves.
    e = temb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).select(
        "vec_id", "v",
        (_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S)).alias("na"),
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("na").alias("nq"),
    )
    corpus = e.filter(F.col("vec_id") >= 3)
    agg = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (_qdot(F.col("v"), F.col("qv")).cast("double") / F.lit(_S)).alias("dot"),
        "na",
        "nq",
    )
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nq"))
    wa = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col("vec_id").asc()
    )
    arm_a = (
        agg.withColumn("rn_a", F.row_number().over(wa))
        .filter(F.col("rn_a") <= _IVF_TOPK)
        .select("query_id", "vec_id", "rn_a")
    )
    fused = arm_a.join(
        arm_b,
        (F.col("query_id") == F.col("qb")) & (F.col("vec_id") == F.col("vb")),
        "full_outer",
    ).select(
        F.coalesce(F.col("query_id"), F.col("qb")).alias("query_id"),
        F.coalesce(F.col("vec_id"), F.col("vb")).alias("vec_id"),
        (
            F.coalesce(
                F.expr(f"{_RRF_Q} div ({_RRF_K} + rn_a)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_Q} div ({_RRF_K} + rn_b)"), F.lit(0)
            )
        ).alias("rrf_q"),
        F.col("rn_a").isNotNull().alias("in_exact"),
        F.col("rn_b").isNotNull().alias("in_ivf"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_q").desc(), F.col("vec_id").asc()
    )
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .filter(F.col("fr") <= _RRF_TOPK)
        .select(
            "query_id",
            "vec_id",
            F.col("rrf_q").cast("bigint").alias("rrf_q"),
            F.col("fr").cast("int").alias("fused_rank"),
            "in_exact",
            "in_ivf",
        )
    )


# splice the IVF arm's full oracle into q247's (registration ran with a
# placeholder; the registry entry is mutable by design for this seam)
QUERIES["q247_rrf_fusion"].oracle = QUERIES["q247_rrf_fusion"].oracle.replace(
    "{Q56_ORACLE}", QUERIES["q56_ivf_topk"].oracle
)


# --------------------------------------------------------------------------
# q263 — embedding-space decontamination (cross-set semantic leakage)
# --------------------------------------------------------------------------

_SDC_NEVAL = 20   # eval sample: vec_id < 20 (the q237 anchor split)
_SDC_TAU = 0.35   # cosine at/above which a corpus vector "leaks" (q121's τ)
_SDC_Q = 1_000_000


@register(
    "q263_semantic_decontamination",
    tags=("similarity", "llm-data", "dedup", "decontamination", "eval"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS eval_id, embedding AS qv
  FROM {_SQL_EMB} embeddings WHERE vec_id < {_SDC_NEVAL}
),
e AS (SELECT vec_id, embedding FROM {_SQL_EMB} embeddings
      WHERE vec_id >= {_SDC_NEVAL}),
prod AS (
  SELECT q.eval_id, e.vec_id,
         e.embedding[i::INT]::DOUBLE AS x, qv[i::INT]::DOUBLE AS y
  FROM e, q, unnest(range(1, len(e.embedding) + 1)) t(i)
),
agg AS (
  SELECT eval_id, vec_id,
         CAST({sql_qsum('x * y')} AS DOUBLE) / {_S!r} AS dot,
         CAST({sql_qsum('x * x')} AS DOUBLE) / {_S!r} AS na,
         CAST({sql_qsum('y * y')} AS DOUBLE) / {_S!r} AS nq
  FROM prod GROUP BY eval_id, vec_id
),
cos AS (
  SELECT eval_id, vec_id,
         dot / (sqrt(na) * sqrt(nq)) AS c
  FROM agg
)
SELECT eval_id,
       CAST(SUM(CASE WHEN c >= {_SDC_TAU!r} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaks,
       CAST(FLOOR(MAX(c) * {_SDC_Q}) AS BIGINT) AS max_cos_q,
       CAST(MIN(CASE WHEN c >= {_SDC_TAU!r} THEN vec_id END) AS BIGINT)
         AS first_leak_id
FROM cos
GROUP BY eval_id
""",
)
def q263_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — q79's benchmark-leak detector moved
    from n-gram space to embedding space: for each eval vector, how
    many corpus vectors sit at cosine ≥ {_SDC_TAU} (paraphrase-level
    leakage that exact or n-gram matching misses entirely), the
    hottest match (quantized), and the smallest leaking corpus id as
    a deterministic exhibit. An eval set whose items all report
    n_leaks = 0 is clean AT THIS THRESHOLD; τ comes from the same
    dial q121's SemDeDup prune uses, and q187's histogram is where
    it gets read off.

    Exactness: quantized integer dots rescaled to double (the q53
    machinery) — bit-identical across engines; max/count/min are
    order-free.

    Scale shape: broadcast eval sample × one corpus scan (linear, the
    q237 shape) with an {_SDC_NEVAL}-row build side and a per-eval-id
    rollup; at real scale the candidate set comes from q56's IVF cells
    instead (the q255 pattern — probe the eval vector's nprobe cells
    and only re-rank those), same tail."""
    e = temb_f(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < _SDC_NEVAL).select(
        F.col("vec_id").alias("eval_id"), F.col("v").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= _SDC_NEVAL)
    cos = (
        (_qdot(F.col("v"), F.col("qv")).cast("double") / F.lit(_S))
        / (
            F.sqrt(_qdot(F.col("v"), F.col("v")).cast("double") / F.lit(_S))
            * F.sqrt(_qdot(F.col("qv"), F.col("qv")).cast("double") / F.lit(_S))
        )
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "eval_id", "vec_id", cos.alias("c")
    )
    return scored.groupBy("eval_id").agg(
        F.sum(F.when(F.col("c") >= _SDC_TAU, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaks"),
        F.floor(F.max("c") * _SDC_Q).cast("bigint").alias("max_cos_q"),
        F.min(F.when(F.col("c") >= _SDC_TAU, F.col("vec_id")))
        .cast("bigint")
        .alias("first_leak_id"),
    )


@register(
    "q277_hier2_deletion_near_dup",
    tags=("similarity", "dedup", "llm-data", "ann", "ivf", "topk",
          "hierarchical"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_HIER2_CHAIN},
pairs AS (
  -- DISTINCT: a pair sharing more than one of its nassign² leaves
  -- must score once (the engine's structural min-shared-leaf filter)
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM ga2 x JOIN ga2 y
    ON x.cell1 = y.cell1 AND x.cell2 = y.cell2 AND x.vec_id < y.vec_id
),
{_SQL_NDR_SCORE}
""",
)
def q277_hier2_deletion_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by the DELETION-GRADE
    re-balanced hierarchical quantizer — the r11 verdict's headline
    ask, closed by measurement (NEARDUP_RECALL_r12): nassign=2 at both
    levels with the fan-out re-balanced to f = 2·⌊n^(1/3)⌋
    (auto_fanout's r12 law) blocks 99.7% of planted pairs at
    cosine ≥ 0.99 (91.6% overall) on the 21k clustered clone at 3.16M
    candidate pairs — ABOVE the flat production dial q271's 98.5%
    recall and BELOW its 5.48M candidate cost, while the cost law
    stays a²·n^(4/3)/2, strictly sub-n^1.5.  The losing re-balances
    are kept as measured negative controls in the tool: fixed fan-out
    nassign=2 costs 12× (the r11 finding), f = a^1.5·∛n drops to 97.0%
    recall, and the global-leaf top-k mode collapses to 89–93%.

    Pair dedup is STRUCTURAL (the flat dial's r11 rule): one
    corpus-sized groupBy assembles each vector's sorted leaf_id array
    (≤ nassign² bigints, vectors never in the aggregate payload), and
    a pair is emitted only in the minimum shared leaf — an in-row
    array_intersect filter matching this oracle's DISTINCT.

    Scale shape: leaves 4·n^(2/3) distinct join keys (never a handful
    of partitions); both assignment argmaxes are in-row over broadcast
    struct arrays; the only corpus exchanges are the L1-key hop the
    two-level refinement needs and the leaf-assembly groupBy.  One
    corpus count() sizes the fan-out (sanctioned: index sizing)."""
    from ..operators.similarity import hierarchical_cell_near_dup

    e = temb_f(spark, sf_dir)
    # index sizing on the UNfanned twin — same rows, skips the fanning
    # exchange the count would otherwise pay (see _ndr_ground_truth)
    n = temb(spark, sf_dir).count()
    out = hierarchical_cell_near_dup(
        e,
        threshold=_IVFND_TAU,
        topk=_IVFND_TOPK,
        nassign=_HIER2_NASSIGN,
        corpus_rows=n,
    )
    return out.select("id_a", "id_b", "cosine_sim")


@register(
    "q278_hier2_blocking_census",
    tags=("similarity", "dedup", "llm-data", "ann", "eval"),
    oracle=f"""
WITH {_SQL_NDR_STEM},
{_SQL_HIER2_CHAIN},
{_SQL_NDR_TRUEP},
flags AS (
  -- recalled iff ANY shared leaf (ga2 is multi-valued per vec_id at
  -- nassign {_HIER2_NASSIGN} — per-pair MAX over the join fan-out)
  SELECT t.id_a, t.id_b,
         MAX(CASE WHEN xa.cell1 = xb.cell1 AND xa.cell2 = xb.cell2
              THEN 1 ELSE 0 END) AS hit
  FROM truep t
  JOIN ga2 xa ON xa.vec_id = t.id_a
  JOIN ga2 xb ON xb.vec_id = t.id_b
  GROUP BY t.id_a, t.id_b
),
occ AS (
  SELECT cell1, cell2, CAST(COUNT(*) AS BIGINT) AS c
  FROM ga2 GROUP BY cell1, cell2
),
rec AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
         CAST(SUM(hit) AS BIGINT) AS hier2_recalled,
         CASE WHEN COUNT(*) > 0
              THEN CAST(SUM(hit) AS DOUBLE) / COUNT(*) END AS hier2_recall
  FROM flags
),
cost AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leaves,
         CAST(SUM(c) AS BIGINT) AS n_assignments,
         CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS candidate_pairs,
         CAST(MAX(c) AS BIGINT) AS max_leaf,
         CASE WHEN SUM(c) > 0
              THEN CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c)
         END AS skew_ratio
  FROM occ
)
SELECT * FROM rec, cost
""",
)
def q278_hier2_blocking_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND cost census of the deletion-grade dial (q277) in one
    row — the measured dial table entry for the re-balanced
    hierarchical quantizer, composed from the SAME _SQL_HIER2_CHAIN /
    hierarchical_cell_assignments relation as the registered pairs so
    census and production cannot drift.  Recall side mirrors
    q274/q275 (anchor ground truth at τ={_NDR_TAU}, ANY-shared-leaf
    per-pair MAX over the nassign² membership fan-out); cost side
    mirrors q276 (Σ C(occupancy, 2) over the composite leaves, max
    leaf, occupancy skew).  A 100 TB dedup owner reads this row to
    price the sub-n^1.5 path against q274+q276's flat numbers on
    their own corpus.

    Scale shape: assignments as in q277; ONE groupBy on the ~4·n^(2/3)
    leaf keys; two 1-row aggregates broadcast-crossed."""
    from ..operators.similarity import (
        auto_fanout,
        hierarchical_cell_assignments,
    )

    e, n, truep = _ndr_ground_truth(spark, sf_dir)
    # The assignment relation feeds THREE consumers (xa, xb, occ) and
    # the L2 argmax + window pipeline re-ran per consumer in the
    # runtime final plan (3x — AQE exchange reuse cannot dedupe it for
    # the same pushed-filter reason as the operator's L1 stage).
    # Stage the NARROW projection once per execution (3 small ints per
    # assignment row — never the vector payload); all three consumers
    # read the checkpointed partitions (r12, the q48 rule).
    hier = hierarchical_cell_assignments(
        e,
        fanout=auto_fanout(n, nassign=_HIER2_NASSIGN),
        nassign=_HIER2_NASSIGN,
        corpus_rows=n,
    ).select("vec_id", "cell1", "cell2").localCheckpoint(eager=False)
    # r13 census-join shape (see q273): anchor side filtered (reads
    # the checkpointed blocks) and broadcast; b side on id_b through a
    # pinned exchange; pair groupBy exchange-free on that partitioning.
    nparts = spark.sparkContext.defaultParallelism
    xa = hier.filter(F.col("vec_id") < _NDR_NANCHOR).select(
        F.col("vec_id").alias("id_a"),
        F.col("cell1").alias("h1a"),
        F.col("cell2").alias("h2a"),
    )
    xb = hier.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell1").alias("h1b"),
        F.col("cell2").alias("h2b"),
    )
    flags = (
        truep.repartition(nparts, "id_b")
        .join(F.broadcast(xa), "id_a")
        .join(xb, "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.when(
                    (F.col("h1a") == F.col("h1b"))
                    & (F.col("h2a") == F.col("h2b")),
                    1,
                ).otherwise(0)
            ).alias("hit")
        )
    )
    rec = flags.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("hit").cast("bigint").alias("hier2_recalled"),
    ).select(
        "n_true_pairs",
        "hier2_recalled",
        F.when(
            F.col("n_true_pairs") > 0,
            F.col("hier2_recalled").cast("double") / F.col("n_true_pairs"),
        ).alias("hier2_recall"),
    )
    occ = hier.groupBy("cell1", "cell2").agg(F.count(F.lit(1)).alias("c"))
    cost = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaves"),
        F.sum("c").cast("bigint").alias("n_assignments"),
        F.sum(F.expr("c * (c - 1) DIV 2"))
        .cast("bigint")
        .alias("candidate_pairs"),
        F.max("c").cast("bigint").alias("max_leaf"),
    ).select(
        "n_leaves",
        "n_assignments",
        "candidate_pairs",
        "max_leaf",
        F.when(
            F.col("n_assignments") > 0,
            F.col("max_leaf").cast("double")
            * F.col("n_leaves")
            / F.col("n_assignments"),
        ).alias("skew_ratio"),
    )
    return rec.crossJoin(F.broadcast(cost))
