"""Shared helpers for oracle-matched plan builders."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import fan_out, load_table  # noqa: F401 — fan_out re-exported for plans

DEC = "decimal(38,6)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---- validated embeddings boundary (the similarity family's input) ----
#
# A single malformed vector must not take down a 100 TB similarity job:
# unvalidated, a NULL embedding crashes the Arrow kernels, an empty one
# throws INVALID_ARRAY_INDEX out of element_at, and an all-zero one
# turns every cosine into ANSI DIVIDE_BY_ZERO — while DuckDB silently
# produces NaN/vacuous values for the same rows, so the engines don't
# even fail the same way (hostile-input sweep, round 5). The contract:
# every similarity/ANN/clustering plan reads THIS relation — non-null,
# non-empty, NaN-free, nonzero-norm vectors — and its SQL twin
# ``_SQL_EMB`` appears in every oracle, so both engines see the same
# rows. q202_embedding_validation_audit accounts for the rejects
# per defect class (validation must be observable, never silent).

# The quantized-norm conjunct (r11): the similarity family's value
# contract is the QUANTIZED cosine (floor(x*y*1e12) integer sums), so a
# vector whose quantized self-norm is 0 — all |x| < ~1e-6, which PASSES
# the element-level checks — is all-zero AT THE QUANTIZER'S RESOLUTION
# and has no cosine direction: engine-side its cosines divide by zero
# (a crash under ANSI), oracle-side they are ±Inf/NaN, and as a sampled
# centroid it scores NaN for every vector (the embeddings_tiny_norm
# hostile fixture forces all three).  Same rationale as the exact-zero
# exclusion, one lattice step wider.
#
# Form: with every quantized term floor(x*x*1e12) >= 0, the integer sum
# is positive IFF some term is >= 1, i.e. IFF some x*x*1e12 >= 1 — an
# EXISTENCE predicate in pure double math.  Deliberately no FLOOR and
# no BIGINT cast: the predicate must be TOTAL on rows the other
# conjuncts reject (AND is not guaranteed to short-circuit in either
# engine, and floor(Inf*Inf*1e12)::BIGINT is an ANSI overflow crash —
# found by the Inf-element hostile vector the moment the summed form
# shipped).
_SQL_QNZ = (
    "len(list_filter(embedding,"
    " x -> (x::DOUBLE * x::DOUBLE) * 1000000000000.0 >= 1.0)) > 0"
)

_SQL_EMB = (
    "(SELECT * FROM embeddings WHERE embedding IS NOT NULL"
    " AND len(embedding) > 0"
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
    f" AND {_SQL_QNZ})"
)


def bad_embedding_element(x: Column) -> Column:
    """THE element-level validity predicate: NULL, NaN, or ±Inf. One
    definition, used by both the boundary filter (valid_embeddings) and
    the rejection audit (q202) — the audit's class counts must
    partition exactly against the filter (its test asserts
    n_valid == temb().count()), so two private copies would let the
    two drift on the next edit."""
    return x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))


def has_quantizable_element(vec: Column) -> Column:
    """Spark twin of :data:`_SQL_QNZ`: some element survives the
    quantizer (x*x*1e12 >= 1, i.e. |x| >= 1e-6), which for the
    non-negative squared terms is exactly "quantized self-norm > 0".
    Pure double math — total on NULL/NaN/Inf elements (no FLOOR, no
    BIGINT cast: conjuncts are not guaranteed to short-circuit, and
    the cast form ANSI-overflows on the Inf hostile vector).  Elements
    cast to DOUBLE before the square so both engines run the same
    IEEE ops."""
    return F.exists(
        vec,
        lambda x: x.cast("double") * x.cast("double") * F.lit(1e12)
        >= F.lit(1.0),
    )


def valid_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rows whose vector is usable: non-null, non-empty, every ELEMENT
    non-null and finite (NULL elements make Spark's fold NULL while
    SQL SUM skips them — silent divergence; NaN/±Inf poison quantized
    sums and crash FLOOR casts), at least one non-zero element
    (zero-norm vectors have no cosine direction), and a POSITIVE
    quantized self-norm (r11 — see :data:`_SQL_QNZ`: all-tiny
    vectors are zero at the quantizer's resolution; engine cosines
    would /0-crash under ANSI where the oracle says ±Inf). Spark twin
    of :data:`_SQL_EMB`."""
    e = F.col(vec_col)
    return df.filter(
        e.isNotNull()
        & (F.size(e) > 0)
        & ~F.exists(e, bad_embedding_element)
        & F.exists(e, lambda x: x != F.lit(0.0))
        & has_quantizable_element(e)
    )


def temb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table behind the validity boundary."""
    return valid_embeddings(load_table(spark, sf_dir, "embeddings"))


def temb_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temb behind :func:`fan_out` — for plans whose scan-side per-row
    work (argmax folds, pair scoring, kernel evaluation) dominates and
    MEASURABLY wins from the extra exchange (r12, guide §2.5: the
    single-file testdata scan is one task, so unfanned, all that work
    runs on one core).  Kept separate from temb because the exchange is
    NOT free: plans that are already exchange-heavy at this corpus size
    (iterative k-means loops, multi-arm fusions, banded multi-table
    hashing) measured SLOWER with it — each site chooses by
    measurement, recorded in OPTIMIZATION_r12.md."""
    return fan_out(temb(spark, sf_dir))


def sql_literal(v: str | int | float) -> str:
    """SQL text of a constant, typed and non-nullable as ``F.lit`` types
    it: a str is a STRING (``\\`` and ``'`` escaped), an int an INT, or
    a BIGINT outside the INT range, and a finite float a DOUBLE (the
    ``D`` suffix: ``CAST(... AS DOUBLE)`` would make the column
    nullable). A non-finite float raises ``ValueError``, any other type
    ``TypeError``."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, bool):
        raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"no SQL literal for a non-finite float: {v!r}")
        return f"{v!r}D"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def literal_df(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Broadcast-sized DataFrame from literal rows as a PURE-JVM plan.

    ``spark.createDataFrame(list)`` routes through a Python RDD
    (``applySchemaToPythonRDD``): every action that touches it launches
    Python workers just to emit a dozen constant rows. Here the rows are
    one SQL expression, ``inline(array(named_struct(...), ...))`` over
    ``range(1)``: no Python, no RDD, constant-folded by Catalyst, and one
    py4j call to build, where a ``Column`` per value cost several."""
    structs = ", ".join(
        "named_struct("
        + ", ".join(f"{sql_literal(c)}, {sql_literal(v)}" for v, c in zip(row, cols))
        + ")"
        for row in rows
    )
    return spark.range(1).selectExpr(f"inline(array({structs}))")


def dsum(col: Column | str) -> Column:
    """Deterministic sum of a double expression.

    Per-row double arithmetic is IEEE-deterministic and identical across
    engines; only the *reduction* order varies. Casting each row value to
    DECIMAL(38,6) and summing exactly removes the order dependence, then
    the total goes back to DOUBLE for a scale-free wire type. The oracle
    SQL mirrors the same construction.

    Cost note (measured, sf0.1 q01): the DECIMAL(38,6) sum is ~2x the
    cost of an exact micro-scaled BIGINT sum (2.09s vs 1.01s) because
    the >18-digit aggregation buffer is not long-backed. The long path
    was evaluated and REJECTED: a per-group long sum of micro-scaled
    money overflows 2^63 around 1e12 rows/group (q01 groups to 6 keys
    at any scale, so a 100 TB corpus overflows it), while decimal(38)
    has 1e32 of headroom. Correct-at-scale beats fast-at-sf0.1.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def sql_big_to_double(expr: str) -> str:
    """Correctly-rounded wide-integer/decimal -> DOUBLE for DuckDB oracles.

    DuckDB's direct ``CAST(HUGEINT AS DOUBLE)`` (and the
    DECIMAL(38,*) cast that rides on it) converts the upper and lower
    64-bit words separately, so it is NOT correctly rounded above 2^64
    — measured r10: ~1.3% of random 70-bit integers land 1 ulp away
    from Python's float(int).  Spark's DECIMAL(38,0)->DOUBLE goes
    through BigDecimal.doubleValue and IS correctly rounded (measured
    r10: 0/500 mismatches on the same integers).  Routing the oracle's
    conversion through VARCHAR (exact digits, then DuckDB's
    correctly-rounded strtod) makes both engines perform ONE correct
    rounding of the same exact value at ANY magnitude.  Use this for
    every oracle conversion of an unbounded (HUGEINT / DECIMAL(38,0)
    qsum_big-class) aggregate to DOUBLE; below 2^64 it is
    value-identical to the direct cast, so parity hashes don't move."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str) -> str:
    """Oracle twin of dsum. The DOUBLE conversion routes through
    VARCHAR (see sql_big_to_double): DuckDB's direct DECIMAL->DOUBLE
    double-rounds (hugeint->double, then the scale division) and its
    hugeint conversion is not correctly rounded above 2^64, while
    Spark's decimal->double is a single correct rounding — the VARCHAR
    route gives DuckDB the same single correct rounding, value-
    identical below the 2^53 internal-unit range where both paths were
    already exact."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


def qsum(col: Column, scale: int = 12) -> Column:
    """Deterministic sum of COMPUTED doubles (full random mantissas).

    Decimal laundering (dsum) is only engine-exact for "clean" values
    (money-like, digits beyond the scale ≈ 0 or 9): Spark rounds the
    exact decimal expansion while DuckDB rounds the 10^k-scaled double,
    and the two disagree near scale boundaries. For arbitrary doubles the
    engine-invariant quantizer is FLOOR(x * 10^k) -> BIGINT — the scaled
    multiply is the same IEEE double op in both engines, so the integer
    is bit-identical. Sum the integers exactly, rescale at the end.

    Requires |x| * 10^scale < 2^53 per row.
    """
    return F.sum(F.floor(col * F.lit(float(10**scale))).cast("bigint"))


def sql_qsum(expr: str, scale: int = 12) -> str:
    return f"SUM(CAST(FLOOR(({expr}) * {float(10 ** scale)!r}) AS BIGINT))"


def sql_qterm(expr: str, scale: int = 12) -> str:
    """The per-row integer term inside :func:`sql_qsum` — for sites
    that need the quantized value BEFORE aggregation (e.g. the
    null-propagating draw-eligibility norm)."""
    return f"CAST(FLOOR(({expr}) * {float(10 ** scale)!r}) AS BIGINT)"


def sql_qsum_nullprop(expr: str, scale: int = 12) -> str:
    """NULL-PROPAGATING qsum: the engine's quantized_dot folds
    acc + x with F.aggregate, so ONE NULL element nulls the whole dot —
    while SQL SUM silently SKIPS NULLs, yielding a partial (non-NULL)
    sum for the same vector.  The CASE pins SUM to the engine's fold
    semantics: NULL unless every element quantized to a non-NULL term.
    Used wherever the oracle must reproduce quantized_dot on possibly
    NULL-element inputs (the centroid-draw eligibility norm, r11)."""
    t = sql_qterm(expr, scale)
    return f"CASE WHEN COUNT(*) = COUNT({t}) THEN SUM({t}) END"


def qsum_big(col: Column, scale: int = 12) -> Column:
    """qsum for UNBOUNDED group cardinality (r9 scale audit).

    qsum's int64 accumulator is exact only while the GROUP's sum stays
    under 2^63 — a horizon of ~9.2e18 / (|x| * 10^scale) rows per
    group.  That is fine for domain-bounded groups (64-dim dot
    products, k-capped neighbor lists) but sites whose rows-per-group
    grows with the corpus (per-dimension stats over ALL vectors, global
    calibration means, per-day value sums) cross it long before 100 TB,
    and Spark's non-ANSI SUM(BIGINT) wraps SILENTLY while the DuckDB
    oracle's SUM(BIGINT) promotes to HUGEINT and stays exact — a parity
    break that only manifests at scale.  This variant keeps the
    identical per-row quantization (so the value contract and the
    sql_qsum oracle are unchanged) and accumulates in DECIMAL(38,0):
    exact to 1e38, i.e. 1e12 rows/group at the worst per-row magnitude
    the 2^53 row contract admits.  Partial aggregation still applies —
    the decimal accumulator merges associatively across executors; it
    is ~3.5x slower per row than int64 (measured on q01, r6), which is
    why qsum remains the choice for bounded groups on hot paths.

    Returns DECIMAL(38,0); call sites cast to double or to string for
    exact-integer wire columns.  WIRE-CONVERSION CONTRACT (r10): Spark's
    DECIMAL(38,0)->DOUBLE is correctly rounded, but DuckDB's
    HUGEINT->DOUBLE is NOT above 2^64 (it converts the two 64-bit words
    separately — ~1.3% of values 1 ulp off, measured) — only ~2x past
    the int64 horizon this helper exists to cross.  Every oracle that
    converts the matching SUM to DOUBLE must therefore route through
    VARCHAR (sql_big_to_double), which is value-identical below 2^64
    and correctly rounded above it.
    """
    return F.sum(
        F.floor(col * F.lit(float(10**scale)))
        .cast("bigint")
        .cast("decimal(38,0)")
    )


# ---- salted mergeable money sums (round 6) -------------------------------
#
# dsum's DECIMAL(38,6) accumulator is exact at any scale but ~0.45 s per
# aggregate per 600 k rows (the 128-bit buffer is not long-backed).
# The mergeable form keeps the exactness and moves the hot loop to
# int64: per row, FLOOR(x * 10^scale) -> BIGINT (one IEEE multiply —
# engine-identical); partial sums accumulate per (group, salt) in
# exact int64 (the salt bounds rows per partial so the sum stays far
# from 2^63 — 1024 buckets holds to ~10^12 rows/group at money
# magnitudes); the merge re-aggregates the ≤ buckets partials per group
# in DECIMAL(38,0) — exact with 10^20 headroom over int64. Measured on
# q01's five sums at sf0.1: 2.13 s (decimal) -> 0.60 s (salted int64).
#
# Wire format: CAST(exact_sum AS DOUBLE) / 10^scale. The cast rounds
# the exact integer once (identical round-half-even in both engines;
# DuckDB's HUGEINT sum takes the same cast) and the division by a
# power of ten is correctly rounded on identical operands — DuckDB
# evaluates DECIMAL / INT in double, so presenting the exact decimal
# quotient instead would 1-ulp-diverge above 2^53 (verified).
#
# NOTE the value contract differs from dsum's at the 6th decimal: rows
# quantize by FLOOR, not round-half-up. Every query migrating to msum
# migrates its oracle in the same commit.

_MSUM_BUCKETS = 1024


def mq(col: Column | str, scale: int = 6) -> Column:
    """Per-row money quantizer: FLOOR(x * 10^scale) as int64.
    Requires |x| * 10^scale < 2^53 (money magnitudes: ample)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**scale))).cast("bigint")


def msalt(*cols: Column | str, buckets: int = _MSUM_BUCKETS) -> Column:
    """Deterministic salt for the partial-sum layer: a hash of the row's
    own measure columns — no extra scan column, uniform by construction.
    Any deterministic row function works; correctness never depends on
    the salt (integer addition is associative), only overflow headroom
    does."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.pmod(F.hash(*cs), F.lit(buckets))


def munscale(sum_col: Column | str, scale: int = 6) -> Column:
    """Merge partial int64 sums exactly in DECIMAL(38,0) and present as
    double: CAST(exact AS DOUBLE) / 10^scale (see wire-format note)."""
    c = F.col(sum_col) if isinstance(sum_col, str) else sum_col
    return F.sum(c.cast("decimal(38,0)")).cast("double") / F.lit(
        float(10**scale)
    )


def sql_msum(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of the whole quantize->sum->present pipeline (the
    single-level SUM is exact in HUGEINT, so no salt is needed on the
    oracle side — associativity is the point)."""
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {float(10 ** scale)!r}) AS BIGINT))"
        f" AS DOUBLE) / {float(10 ** scale)!r}"
    )


def mqsum(col: Column | str, scale: int = 6) -> Column:
    """Single-level quantized money sum for FINE-GRAINED groups (many
    groups, few rows each — e.g. per order key): the int64 partial can
    never approach 2^63 because the group itself is small, so the salt
    layer of the msalt/munscale form would be pure overhead. Same wire
    format and oracle mirror (sql_msum); ANSI mode turns any
    miscalibrated overflow into a loud error, never a wrap."""
    return F.sum(mq(col, scale)).cast("double") / F.lit(float(10**scale))


# ---- integer-exact rank statistics (round 8) ------------------------------
#
# Round 7's one driver red (q166) was an interpolated-percentile ULP:
# Spark's percentile() and DuckDB's quantile_cont() agree bit-for-bit
# in THIS environment, but the interpolation formula
# (lo + (hi-lo)*f vs lo*(1-f) + hi*f) is engine-VERSION-dependent in
# its last ulp, and one flipped ulp moves a row across a bucket edge.
# The fix is categorical, not numeric: no interpolated double may feed
# a bucket assignment or a hashed output column. Every quantile-ish
# statistic in the catalog instead derives from exact integer ranks
# over a quantized-value histogram:
#
#   1. quantize the pinned double expression per row:
#      FLOOR(x * 10^k) -> BIGINT. The multiply and floor are single
#      IEEE ops on identical operands — bit-identical across engines
#      and versions even when x is NOT on a 10^-k lattice.
#   2. histogram: GROUP BY (keys, v) with cnt / below / cum / n rank
#      columns (int_hist / sql_int_hist below, q261's midrank
#      machinery generalized).
#   3. derive the statistic as integer arithmetic on ranks:
#      bucket  = (B * below) DIV n              (equi-depth bucket)
#      p_q     = MIN(v) WHERE cum >= ceil(q*n)  (discrete quantile,
#                ceil(a/b) = (a + b - 1) DIV b — sql_at_rank below)
#      median2 = at_rank(1,2) + at_rank via n DIV 2 + 1  (midrank PAIR
#                SUM: median = median2/2, exact — no /2 emitted)
#
# Scale: the histogram is |distinct quantized v| per group — bounded
# by the quantized VALUE DOMAIN, independent of corpus size for
# physical quantities (money cents, [0,1]-scores on a 1e-6 lattice,
# integer days). The per-group window sorts that histogram once; when
# the domain is itself corpus-sized (per-entity aggregates on a fine
# lattice) SCALING.md documents the coarse/fine two-pass split, and
# approx_percentile remains the 100 TB swap for non-parity paths.

def int_hist(
    df: DataFrame,
    vcol: str,
    *keys: str,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """(keys, vcol) value histogram with exact integer rank columns:
    ``cnt`` (rows at this value), ``below`` (rows strictly less),
    ``cum`` (rows <= value), ``n`` (group total). Window ordering is
    pinned asc_nulls_first — the oracle twin (sql_int_hist) pins
    ``ASC NULLS FIRST`` so a NULL value group ranks identically.
    ``extra`` carries per-value payload aggregates (e.g. an order
    count to sum per bucket downstream) through the histogram."""
    extra = extra or {}
    w = Window.partitionBy(*keys).orderBy(F.col(vcol).asc_nulls_first())
    wb = w.rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy(*keys)
    below = F.coalesce(F.sum("cnt").over(wb), F.lit(0).cast("bigint"))
    return (
        df.groupBy(*keys, vcol)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            *[c.alias(a) for a, c in extra.items()],
        )
        .select(
            *keys,
            vcol,
            "cnt",
            *extra.keys(),
            below.alias("below"),
            (below + F.col("cnt")).alias("cum"),
            F.sum("cnt").over(wt).alias("n"),
        )
    )


def sql_int_hist(
    src: str, vcol: str, *keys: str, extra: dict[str, str] | None = None
) -> str:
    """DuckDB twin of int_hist: a SELECT body (wrap in a CTE). below /
    cum / n come out HUGEINT (SUM over BIGINT) — cast at the emit."""
    extra = extra or {}
    ksel = (", ".join(keys) + ", ") if keys else ""
    esel = "".join(f"         {e} AS {a},\n" for a, e in extra.items())
    part = ("PARTITION BY " + ", ".join(keys) + " ") if keys else ""
    wpart = ("PARTITION BY " + ", ".join(keys)) if keys else ""
    below = (
        f"COALESCE(SUM(COUNT(*)) OVER ({part}ORDER BY {vcol} ASC NULLS FIRST"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    return (
        f"SELECT {ksel}{vcol}, CAST(COUNT(*) AS BIGINT) AS cnt,\n"
        f"{esel}"
        f"         {below} AS below,\n"
        f"         {below} + COUNT(*) AS cum,\n"
        f"         SUM(COUNT(*)) OVER ({wpart}) AS n\n"
        f"  FROM {src} GROUP BY {ksel}{vcol}"
    )


def at_rank(vcol: str, num: int, den: int) -> Column:
    """Aggregate over an int_hist: the smallest value whose cumulative
    count reaches rank ceil(num*n/den) — the exact type-1 discrete
    quantile at q = num/den, as pure integer arithmetic."""
    thresh = F.expr(f"({num} * n + {den - 1}) div {den}")
    return F.min(F.when(F.col("cum") >= thresh, F.col(vcol)))


def sql_at_rank(vcol: str, num: int, den: int) -> str:
    return (
        f"MIN(CASE WHEN cum >= ({num} * n + {den - 1}) // {den}"
        f" THEN {vcol} END)"
    )


def med2(vcol: str) -> Column:
    """Aggregate over an int_hist: the exact median as a midrank PAIR
    SUM — x_⌈n/2⌉ + x_⌊n/2⌋₊₁ (for odd n both ranks coincide, so the
    sum is 2× the middle element; median = med2/2, never emitted as a
    division). ONE definition for every median-family query — the
    two-private-copies hazard bad_embedding_element's docstring warns
    about applies verbatim to this rank arithmetic."""
    hi = F.min(F.when(F.col("cum") >= F.expr("n div 2 + 1"), F.col(vcol)))
    return at_rank(vcol, 1, 2) + hi


def sql_med2(vcol: str) -> str:
    """DuckDB twin of med2 (same pair-sum, same rank thresholds)."""
    return (
        f"{sql_at_rank(vcol, 1, 2)}"
        f" + MIN(CASE WHEN cum >= n // 2 + 1 THEN {vcol} END)"
    )
