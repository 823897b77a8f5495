"""Raster queries (SURVEY §2a/§2i raster core) — oracle-expressible form.

The testdata ships no rasters, so the grid is generated declaratively
(``spark.range`` ↔ DuckDB ``range()``) with a deterministic integer cell
function — the *operators* under test are the reference's clip semantics
(cell-in-polygon masking, copy_esrigrid…py:303–310) and the implicit
raster statistics it zips as sidecars (:5, :315). The real ASC-file
reader and raster-struct operators live in ``sources.asc`` /
``operators.raster`` (unit-tested on synthetic .asc files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import literal_df
from .catalog import register

_W, _H = 160, 120  # grid width/height (cells)

# Region rectangles in cell space: 4 overlapping "council" footprints.
_REGIONS = [
    ("north", 0, 60, 160, 120),
    ("south", 0, 0, 160, 60),
    ("east", 80, 0, 160, 120),
    ("core", 40, 30, 120, 90),
]
_SQL_REGIONS = ", ".join(
    f"('{r}', {a}, {b}, {c}, {d})" for r, a, b, c, d in _REGIONS
)


def _grid(spark: SparkSession) -> DataFrame:
    """One row per cell: (i, j, val) with val = (i*31 + j*17) % 101.

    Generated with ``spark.range`` so the scan parallelizes; i is the
    column (x), j the row (y)."""
    g = spark.range(_W * _H)
    return g.select(
        (F.col("id") % _W).cast("int").alias("i"),
        (F.col("id") / _W).cast("int").alias("j"),
        ((F.col("id") % _W) * 31 + (F.col("id") / _W).cast("int") * 17)
        .cast("int")
        .alias("raw"),
    ).select("i", "j", (F.col("raw") % 101).alias("val"))


@register(
    "q90_raster_clip_stats",
    tags=("raster", "clip", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i,
         CAST(id // {_W} AS INT) AS j,
         CAST(((id % {_W}) * 31 + (id // {_W}) * 17) % 101 AS INT) AS val
  FROM range({_W * _H}) t(id)
)
SELECT r.region_code,
       COUNT(*) AS n_cells,
       CAST(SUM(g.val) AS BIGINT) AS sum_val,
       MIN(g.val) AS min_val,
       MAX(g.val) AS max_val,
       CAST(SUM(g.val) AS DOUBLE) / COUNT(*) AS mean_val
FROM grid g
JOIN (VALUES {_SQL_REGIONS}) AS r(region_code, xmin, ymin, xmax, ymax)
  ON g.i >= r.xmin AND g.i < r.xmax AND g.j >= r.ymin AND g.j < r.ymax
GROUP BY r.region_code
""",
)
def q90_raster_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-by-region + zonal statistics: every region masks the cells
    whose centers fall inside it (the engine's defined clip semantics,
    SURVEY §7 hard-part 1), then min/max/mean/count — the sidecar stats
    the reference zips per clipped raster (copy_esrigrid…py:315–339).

    Shape note: grid ⋈ regions is the rasters×regions fan-out
    (:229–270). With a broadcast region side each cell is tested once
    per region — at scale, bucketing cells by a space-filling-curve key
    prunes this to overlapping buckets only."""
    g = _grid(spark)
    r = literal_df(
        spark, _REGIONS, ["region_code", "xmin", "ymin", "xmax", "ymax"]
    )
    cond = (
        (g.i >= F.col("xmin")) & (g.i < F.col("xmax"))
        & (g.j >= F.col("ymin")) & (g.j < F.col("ymax"))
    )
    return (
        g.join(F.broadcast(r), cond)
        .groupBy("region_code")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("val").cast("bigint").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            (F.sum("val").cast("double") / F.count(F.lit(1))).alias("mean_val"),
        )
    )


@register(
    "q91_raster_histogram",
    tags=("raster", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(((id % {_W}) * 31 + (id // {_W}) * 17) % 101 AS INT) AS val
  FROM range({_W * _H}) t(id)
)
SELECT CAST(val // 10 AS INT) AS bucket,
       COUNT(*) AS n_cells,
       MIN(val) AS min_val,
       MAX(val) AS max_val
FROM grid
GROUP BY 1
""",
)
def q91_raster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-value histogram (decade buckets) — the raster statistics
    profile; partial-aggregable, shuffle carries only bucket rows."""
    g = _grid(spark)
    return (
        g.groupBy((F.col("val") / 10).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
    )


_TILE_PX = 13  # deliberately not a divisor of 160/120: edge tiles shrink


@register(
    "q92_tiled_raster_stats",
    tags=("raster", "tiling", "agg"),
    oracle=f"""
WITH cells AS (
  SELECT g.base_name,
         CASE WHEN ((id % {_W}) + (id // {_W}) + g.off) % 57 = 0 THEN -9999.0
              ELSE CAST(((id % {_W}) * 31 + (id // {_W}) * 17 + g.off) % 101
                        AS DOUBLE) END AS val
  FROM (VALUES ('g0', 0), ('g5', 5)) AS g(base_name, off),
       range({_W * _H}) t(id)
)
SELECT base_name,
       COUNT(*) AS n_cells,
       MIN(val) AS min_val,
       MAX(val) AS max_val,
       AVG(val) AS mean_val
FROM cells WHERE val <> -9999.0
GROUP BY base_name
""",
)
def q92_tiled_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiling operator under the hash gate: build two {_W}×{_H}
    rasters declaratively (integer-valued cells + NODATA holes), split
    them with operators.raster.tile({_TILE_PX}px — a non-divisor, so
    edge tiles shrink), then raster_stats over the TILE rows. The oracle
    computes the same stats straight from the cell function: any
    dropped/duplicated/misindexed cell in the tiler breaks the hash.

    Determinism: cells are integer-valued doubles (sums < 2^53), so
    min/max/avg are exact in any reduction order. Scale shape: tiling is
    one explode (rows × ~W·H/tile_px² tiles), stats stay a partial-agg
    groupBy on base_name."""
    from ..operators.raster import raster_stats, tile

    ids = F.sequence(F.lit(0), F.lit(_W * _H - 1))

    def cells_for(off: int):
        return F.transform(
            ids,
            lambda i: F.when(
                ((i % _W) + F.floor(i / _W) + off) % 57 == 0, F.lit(-9999.0)
            ).otherwise(
                (((i % _W) * 31 + F.floor(i / _W) * 17 + off) % 101).cast(
                    "double"
                )
            ),
        )

    base = literal_df(spark, [("g0", 0), ("g5", 5)], ["base_name", "off"])
    rasters = base.select(
        F.lit("mem").alias("path"),
        "base_name",
        F.lit(_W).alias("width"),
        F.lit(_H).alias("height"),
        F.lit(0.0).alias("xllcorner"),
        F.lit(0.0).alias("yllcorner"),
        F.lit(1.0).alias("cellsize"),
        F.lit(-9999.0).alias("nodata_value"),
        F.lit("EPSG:27200").alias("crs"),
        F.when(F.col("off") == 0, cells_for(0))
        .otherwise(cells_for(5))
        .alias("cells"),
    )
    return raster_stats(tile(rasters, _TILE_PX)).select(
        "base_name", "n_cells", "min_val", "max_val", "mean_val"
    )


_DS_F = 8  # downsample factor for the declarative twin


@register(
    "q103_raster_block_downsample",
    tags=("raster", "resample", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i,
         CAST(id // {_W} AS INT) AS j,
         CAST(((id % {_W}) * 31 + (id // {_W}) * 17) % 101 AS INT) AS val
  FROM range({_W * _H}) t(id)
)
SELECT CAST(i // {_DS_F} AS INT) AS bi,
       CAST(j // {_DS_F} AS INT) AS bj,
       COUNT(*) AS n_cells,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_val
FROM grid
GROUP BY bi, bj
""",
)
def q103_raster_block_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-aggregate downsample (the cartographic "Aggregate" op,
    mean per {_DS_F}×{_DS_F} block) in oracle-expressible form: integer
    cell sums per block, mean as exact-int-sum / count — engine-exact.
    The raster-struct production path is
    operators.raster.downsample_block_mean (JVM higher-order fold,
    nodata-aware), pixel-tested against numpy in tests/test_raster.py;
    this declarative twin hash-checks the same block arithmetic
    relationally. One partial-agg exchange on (bi, bj)."""
    g = _grid(spark)
    return (
        g.groupBy(
            (F.col("i") / _DS_F).cast("int").alias("bi"),
            (F.col("j") / _DS_F).cast("int").alias("bj"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("val").cast("bigint").alias("sum_val"),
            (F.sum("val").cast("double") / F.count(F.lit(1))).alias("mean_val"),
        )
    )


@register(
    "q181_focal_slope_histogram",
    tags=("raster", "focal", "histogram"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i,
         CAST(id // {_W} AS INT) AS j
  FROM range({_W * _H}) t(id)
  WHERE id % {_W} > 0 AND id % {_W} < {_W - 1}
    AND id // {_W} > 0 AND id // {_W} < {_H - 1}
),
sl AS (
  SELECT i, j,
         ( (((i+1)*31 + (j-1)*17) % 101 + 2*(((i+1)*31 + j*17) % 101)
            + (((i+1)*31 + (j+1)*17) % 101))
         - (((i-1)*31 + (j-1)*17) % 101 + 2*(((i-1)*31 + j*17) % 101)
            + (((i-1)*31 + (j+1)*17) % 101)) ) AS gx,
         ( (((i-1)*31 + (j+1)*17) % 101 + 2*((i*31 + (j+1)*17) % 101)
            + (((i+1)*31 + (j+1)*17) % 101))
         - (((i-1)*31 + (j-1)*17) % 101 + 2*((i*31 + (j-1)*17) % 101)
            + (((i+1)*31 + (j-1)*17) % 101)) ) AS gy
  FROM grid
)
SELECT CAST(LENGTH(bin(CAST(gx*gx + gy*gy + 1 AS BIGINT))) - 1 AS INT)
         AS log2_slope2,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(gx*gx + gy*gy) AS BIGINT) AS min_slope2,
       CAST(MAX(gx*gx + gy*gy) AS BIGINT) AS max_slope2
FROM sl
GROUP BY log2_slope2
""",
)
def q181_focal_slope_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal-slope (Horn 3×3 squared-gradient) histogram over the
    synthetic analysis grid — the DECLARATIVE twin of
    ``operators.raster.focal_slope``: the same kernel arithmetic on
    the cell relation, hash-checked against DuckDB, while the
    struct-side operator (O(1) element_at neighbor reads, nodata
    propagation, tile-halo composition) is pixel-tested against this
    very formula in tests/test_raster.py. Interior cells only (the
    operator emits nodata at borders; the twin simply excludes them).

    All-integer: the grid formula, the kernel sums and the log2 bucket
    (binary-digit-count of slope²+1 — +1 keeps flat cells' log2(0)
    defined). One generated scan, one ~20-key agg, zero joins."""
    g = _grid(spark)

    def val(di: int, dj: int):
        return ((F.col("i") + di) * 31 + (F.col("j") + dj) * 17) % 101

    interior = (
        (F.col("i") > 0)
        & (F.col("i") < _W - 1)
        & (F.col("j") > 0)
        & (F.col("j") < _H - 1)
    )
    gx = (val(1, -1) + F.lit(2) * val(1, 0) + val(1, 1)) - (
        val(-1, -1) + F.lit(2) * val(-1, 0) + val(-1, 1)
    )
    gy = (val(-1, 1) + F.lit(2) * val(0, 1) + val(1, 1)) - (
        val(-1, -1) + F.lit(2) * val(0, -1) + val(1, -1)
    )
    sl = g.filter(interior).select(
        (gx * gx + gy * gy).alias("slope2")
    )
    bucket = (
        F.length(F.bin((F.col("slope2") + 1).cast("bigint"))) - 1
    ).cast("int")
    return sl.groupBy(bucket.alias("log2_slope2")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("slope2").cast("bigint").alias("min_slope2"),
        F.max("slope2").cast("bigint").alias("max_slope2"),
    )


# ---- q204: zonal aspect octants ------------------------------------------

# Shared octant spec: direction of the Horn gradient (gx, gy) classified
# into 8 compass sectors split at the 45-degree diagonals, ties resolved
# by the explicit CASE order below (axis-dominant wins; exact diagonals
# fall to the ordinal sectors; a zero gradient is 'flat'). The CASE *is*
# the operator's definition — integer comparisons only, no trig.
_SQL_ASPECT = """CASE
  WHEN gx = 0 AND gy = 0 THEN 'flat'
  WHEN ABS(gx) > ABS(gy) AND gx > 0 THEN 'E'
  WHEN ABS(gx) > ABS(gy) THEN 'W'
  WHEN ABS(gy) > ABS(gx) AND gy > 0 THEN 'N'
  WHEN ABS(gy) > ABS(gx) THEN 'S'
  WHEN gx > 0 AND gy > 0 THEN 'NE'
  WHEN gx > 0 THEN 'SE'
  WHEN gy > 0 THEN 'NW'
  ELSE 'SW' END"""


def _aspect_col() -> F.Column:
    gx, gy = F.col("gx"), F.col("gy")
    ax, ay = F.abs(gx), F.abs(gy)
    return (
        F.when((gx == 0) & (gy == 0), "flat")
        .when((ax > ay) & (gx > 0), "E")
        .when(ax > ay, "W")
        .when((ay > ax) & (gy > 0), "N")
        .when(ay > ax, "S")
        .when((gx > 0) & (gy > 0), "NE")
        .when(gx > 0, "SE")
        .when(gy > 0, "NW")
        .otherwise("SW")
    )


@register(
    "q204_aspect_octants",
    tags=("raster", "focal", "clip", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i, CAST(id // {_W} AS INT) AS j
  FROM range({_W * _H}) t(id)
),
grad AS (
  SELECT i, j,
    ((((i+1)*31 + (j-1)*17) % 101) + 2*(((i+1)*31 + j*17) % 101)
       + (((i+1)*31 + (j+1)*17) % 101))
    - ((((i-1)*31 + (j-1)*17) % 101) + 2*(((i-1)*31 + j*17) % 101)
       + (((i-1)*31 + (j+1)*17) % 101)) AS gx,
    ((((i-1)*31 + (j+1)*17) % 101) + 2*((i*31 + (j+1)*17) % 101)
       + (((i+1)*31 + (j+1)*17) % 101))
    - ((((i-1)*31 + (j-1)*17) % 101) + 2*((i*31 + (j-1)*17) % 101)
       + (((i+1)*31 + (j-1)*17) % 101)) AS gy
  FROM grid
  WHERE i > 0 AND i < {_W - 1} AND j > 0 AND j < {_H - 1}
)
SELECT r.region_code, {_SQL_ASPECT} AS aspect,
       COUNT(*) AS n_cells,
       CAST(SUM(gx*gx + gy*gy) AS BIGINT) AS sum_slope2,
       CAST(MAX(gx*gx + gy*gy) AS BIGINT) AS max_slope2
FROM grad g
JOIN (VALUES {_SQL_REGIONS}) AS r(region_code, xmin, ymin, xmax, ymax)
  ON g.i >= r.xmin AND g.i < r.xmax AND g.j >= r.ymin AND g.j < r.ymax
GROUP BY r.region_code, aspect
""",
)
def q204_aspect_octants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal aspect map: Horn 3×3 gradient per interior cell (q181's
    kernel), gradient direction classified into 8 compass octants +
    'flat' (integer sign/magnitude comparisons only — no trig, so the
    classification is engine-exact), then clipped per region footprint
    and aggregated — the aspect + zonal-histogram pair every terrain
    pipeline derives next to slope (the reference's grids are exactly
    such DEM derivatives, copy_esrigrid…py:259-261).

    One generated scan computes both gradient components in-row (no
    neighbor self-join — the grid function is algebraic), the region
    clip is a broadcast containment join, and the only shuffle is the
    final ~36-key aggregate. On file-backed tiles the same kernel runs
    per tile with a 1-cell halo (operators.raster.focal machinery)."""
    g = _grid(spark).select("i", "j")

    def val(di: int, dj: int):
        return ((F.col("i") + di) * 31 + (F.col("j") + dj) * 17) % 101

    interior = (
        (F.col("i") > 0) & (F.col("i") < _W - 1)
        & (F.col("j") > 0) & (F.col("j") < _H - 1)
    )
    gx = (val(1, -1) + F.lit(2) * val(1, 0) + val(1, 1)) - (
        val(-1, -1) + F.lit(2) * val(-1, 0) + val(-1, 1)
    )
    gy = (val(-1, 1) + F.lit(2) * val(0, 1) + val(1, 1)) - (
        val(-1, -1) + F.lit(2) * val(0, -1) + val(1, -1)
    )
    grad = g.filter(interior).select(
        "i", "j", gx.alias("gx"), gy.alias("gy")
    )
    r = literal_df(
        spark, _REGIONS, ["region_code", "xmin", "ymin", "xmax", "ymax"]
    )
    cond = (
        (grad.i >= F.col("xmin")) & (grad.i < F.col("xmax"))
        & (grad.j >= F.col("ymin")) & (grad.j < F.col("ymax"))
    )
    slope2 = F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")
    return (
        grad.join(F.broadcast(r), cond)
        .groupBy("region_code", _aspect_col().alias("aspect"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(slope2).cast("bigint").alias("sum_slope2"),
            F.max(slope2).cast("bigint").alias("max_slope2"),
        )
    )


# ---- q220: D8 flow-direction census --------------------------------------

# Neighbor order IS the tie-break priority (first max drop wins), pinned
# identically in both engines' CASE chains. j+1 is north (the q204
# convention).
_D8_DIRS = [
    ("E", 1, 0), ("NE", 1, 1), ("N", 0, 1), ("NW", -1, 1),
    ("W", -1, 0), ("SW", -1, -1), ("S", 0, -1), ("SE", 1, -1),
]


def _sql_d8_val(di: int, dj: int) -> str:
    return f"(((i+{di})*31 + (j+{dj})*17) % 101)" if (di or dj) else \
        "((i*31 + j*17) % 101)"


_SQL_D8_DROPS = ",\n         ".join(
    f"{_sql_d8_val(0, 0)} - {_sql_d8_val(di, dj)} AS d_{name.lower()}"
    for name, di, dj in _D8_DIRS
)
_SQL_D8_MAX = "GREATEST(" + ", ".join(f"d_{n.lower()}" for n, _, _ in _D8_DIRS) + ")"
_SQL_D8_CASE = (
    "CASE WHEN maxdrop <= 0 THEN 'sink' "
    + " ".join(
        f"WHEN d_{n.lower()} = maxdrop THEN '{n}'" for n, _, _ in _D8_DIRS
    )
    + " END"
)


@register(
    "q220_d8_flow_census",
    tags=("raster", "focal", "hydrology", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i, CAST(id // {_W} AS INT) AS j
  FROM range({_W * _H}) t(id)
  WHERE id % {_W} > 0 AND id % {_W} < {_W - 1}
    AND id // {_W} > 0 AND id // {_W} < {_H - 1}
),
drops AS (
  SELECT i, j,
         {_SQL_D8_DROPS}
  FROM grid
),
d8 AS (
  SELECT i, j, {_SQL_D8_MAX} AS maxdrop,
         d_e, d_ne, d_n, d_nw, d_w, d_sw, d_s, d_se
  FROM drops
)
SELECT r.region_code,
       {_SQL_D8_CASE} AS flow_dir,
       COUNT(*) AS n_cells,
       CAST(SUM(maxdrop) AS BIGINT) AS sum_drop,
       CAST(MAX(maxdrop) AS BIGINT) AS max_drop
FROM d8 g
JOIN (VALUES {_SQL_REGIONS}) AS r(region_code, xmin, ymin, xmax, ymax)
  ON g.i >= r.xmin AND g.i < r.xmax AND g.j >= r.ymin AND g.j < r.ymax
GROUP BY r.region_code, flow_dir
""",
)
def q220_d8_flow_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow-direction census — the hydrology primitive downstream of
    the reference's DEM grids (copy_esrigrid…py:259-261 ships exactly
    such terrain derivatives): each interior cell drains to the
    steepest-descent neighbor among its 8, ties broken by a pinned
    compass priority (E,NE,N,NW,W,SW,S,SE — first max wins), cells
    with no positive drop are sinks. Zonal census per region footprint
    (broadcast containment join) counts cells and drop mass per
    direction — the input a flow-accumulation or watershed-labeling
    pass would consume.

    All-integer (grid formula, drops, GREATEST, CASE) so the
    classification is engine-exact. No neighbor self-join: the grid
    function is algebraic, so all 8 neighbor values are in-row
    expressions; on file-backed tiles the same kernel runs per tile
    with a 1-cell halo (operators.raster focal machinery). One
    generated scan, one broadcast join, one ~40-key agg."""
    g = _grid(spark).select("i", "j")

    def val(di: int, dj: int):
        return ((F.col("i") + di) * 31 + (F.col("j") + dj) * 17) % 101

    interior = (
        (F.col("i") > 0) & (F.col("i") < _W - 1)
        & (F.col("j") > 0) & (F.col("j") < _H - 1)
    )
    drops = g.filter(interior).select(
        "i",
        "j",
        *[
            (val(0, 0) - val(di, dj)).alias(f"d_{n.lower()}")
            for n, di, dj in _D8_DIRS
        ],
    )
    d8 = drops.withColumn(
        "maxdrop", F.greatest(*[F.col(f"d_{n.lower()}") for n, _, _ in _D8_DIRS])
    )
    flow = F.when(F.col("maxdrop") <= 0, "sink")
    for n, _, _ in _D8_DIRS:
        flow = flow.when(F.col(f"d_{n.lower()}") == F.col("maxdrop"), n)
    r = literal_df(
        spark, _REGIONS, ["region_code", "xmin", "ymin", "xmax", "ymax"]
    )
    cond = (
        (d8.i >= F.col("xmin")) & (d8.i < F.col("xmax"))
        & (d8.j >= F.col("ymin")) & (d8.j < F.col("ymax"))
    )
    return (
        d8.join(F.broadcast(r), cond)
        .groupBy("region_code", flow.alias("flow_dir"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("maxdrop").cast("bigint").alias("sum_drop"),
            F.max("maxdrop").cast("bigint").alias("max_drop"),
        )
    )


# ---- q221: D8 inflow census (one flow-accumulation step) -----------------

# The drain assignment (maxdrop/tie-break/sink) is q220's, restated as a
# reusable SQL fragment over the `drops` relation.
_SQL_D8_DIR_IDX = (
    "CASE WHEN " + _SQL_D8_MAX + " <= 0 THEN -1 "
    + " ".join(
        f"WHEN d_{n.lower()} = {_SQL_D8_MAX} THEN {k}"
        for k, (n, _, _) in enumerate(_D8_DIRS)
    )
    + " END"
)


def _d8_drain_cells(cells: DataFrame) -> DataFrame:
    """(i, j, tcell) for every DRAINING interior cell — tcell is the
    packed (row-major j*W+i) id of the steepest-descent neighbor, ties
    broken by the pinned compass priority (first max in _D8_DIRS
    order == the oracle's CASE chain).

    Form chosen for CODEGEN SIZE, after two failed shapes (bench
    stderr: "Code grows beyond 64 KB", whole stage falling back to
    interpreted eval — q221 was the slowest extra at 34× sentinel):
    per-direction when-chains comparing against GREATEST-of-8 subtrees
    re-inline ~80 ops per branch per reference, and even a staged
    dir_idx column explodes because consecutive projections fuse into
    one whole-stage method where every reference re-expands its
    operand tree twice (isNull + value) PER NESTING LEVEL — the 8
    neighbor-drop expressions appeared 1400+ times in the generated
    method. Here the drain is ONE expression referenced once: the
    drops build a single array, array_position(drops,
    array_max(drops)) picks the first max (1-based), and a literal
    offset table maps it straight to the packed target id. Consumers
    join on the single tcell key."""

    def val(di: int, dj: int):
        return ((F.col("i") + di) * 31 + (F.col("j") + dj) * 17) % 101

    drops = F.array(
        *[
            (val(0, 0) - val(di, dj)).cast("int")
            for _, di, dj in _D8_DIRS
        ]
    )
    offs = F.lit([dj * _W + di for _, di, dj in _D8_DIRS])
    staged = cells.select("i", "j", drops.alias("_drops")).filter(
        # sink test on the array directly: cheap to push down, and it
        # guarantees array_position below always finds a match
        F.array_max(F.col("_drops")) > 0
    )
    pos = F.array_position(
        F.col("_drops"), F.array_max(F.col("_drops"))
    ).cast("int")
    return staged.select(
        "i",
        "j",
        (
            (F.col("j") * _W + F.col("i")) + F.element_at(offs, pos)
        ).cast("bigint").alias("tcell"),
    )


@register(
    "q221_d8_inflow_census",
    tags=("raster", "focal", "hydrology", "graph", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i, CAST(id // {_W} AS INT) AS j
  FROM range({_W * _H}) t(id)
  WHERE id % {_W} > 0 AND id % {_W} < {_W - 1}
    AND id // {_W} > 0 AND id // {_W} < {_H - 1}
),
drops AS (
  SELECT i, j, {_SQL_D8_DROPS} FROM grid
),
dirs AS (
  SELECT i, j, {_SQL_D8_DIR_IDX} AS dir_idx FROM drops
),
edges AS (
  SELECT i, j,
         i + CASE dir_idx {' '.join(f'WHEN {k} THEN {di}' for k, (_, di, _) in enumerate(_D8_DIRS))} END AS ti,
         j + CASE dir_idx {' '.join(f'WHEN {k} THEN {dj}' for k, (_, _, dj) in enumerate(_D8_DIRS))} END AS tj
  FROM dirs WHERE dir_idx >= 0
),
indeg AS (
  SELECT g.i, g.j, CAST(COUNT(e.ti) AS BIGINT) AS n_in
  FROM grid g LEFT JOIN edges e ON e.ti = g.i AND e.tj = g.j
  GROUP BY g.i, g.j
)
SELECT n_in,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(i + j * {_W}) AS BIGINT) AS min_cell_id,
       CAST(MAX(i + j * {_W}) AS BIGINT) AS max_cell_id
FROM indeg
GROUP BY n_in
""",
)
def q221_d8_inflow_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One flow-accumulation step on the D8 drain graph: route every
    non-sink cell's unit of flow to its steepest-descent neighbor
    (q220's pinned drain assignment) and census the receiving side —
    how many interior cells receive 0..8 inflows. Cells with high
    in-degree are channel heads; the full accumulation is the
    transitive closure of this edge relation (the iterative
    operators.graph shape), and this single certified step is its
    hash-checkable core.

    Unlike q220 (pure in-row algebra) this materializes the flow EDGE
    RELATION, pre-aggregates inflow counts per packed target id
    (partial-combinable, so the shuffle carries one row per RECEIVING
    cell, not one per edge), and left-joins back to the cell relation
    on the single tcell key to keep zero-inflow cells — then a ≤9-key
    census agg. At scale the join is grid-partitioned (tile-local
    edges stay within a tile except the 1-cell halo)."""
    g = _grid(spark).select("i", "j")
    interior = (
        (F.col("i") > 0) & (F.col("i") < _W - 1)
        & (F.col("j") > 0) & (F.col("j") < _H - 1)
    )
    cells = g.filter(interior)
    inflows = (
        _d8_drain_cells(cells)
        .groupBy("tcell")
        .agg(F.count(F.lit(1)).alias("n_in_raw"))
    )
    cell_key = (F.col("j") * _W + F.col("i")).cast("bigint")
    indeg = (
        cells.select("i", "j", cell_key.alias("cell"))
        .join(inflows, F.col("cell") == F.col("tcell"), "left")
        .select(
            "i", "j", F.coalesce(F.col("n_in_raw"), F.lit(0)).alias("n_in")
        )
    )
    cell_id = (F.col("i") + F.col("j") * _W).cast("bigint")
    return indeg.groupBy("n_in").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min(cell_id).alias("min_cell_id"),
        F.max(cell_id).alias("max_cell_id"),
    )


# ---- q232: D8 flow accumulation (iterative closure over the drainage) ----

_CHANNEL_MIN_UP = 32  # cells with >= this many upstream cells are "channels"

_SQL_D8_DST = "CASE " + " ".join(
    f"WHEN d_{n.lower()} = maxdrop THEN (j + ({dj}))*{_W} + (i + ({di}))"
    for n, di, dj in _D8_DIRS
) + " END"


@register(
    "q232_d8_flow_accumulation",
    tags=("raster", "hydrology", "graph", "iterative"),
    oracle=f"""
WITH RECURSIVE grid AS (
  SELECT CAST(id % {_W} AS INT) AS i, CAST(id // {_W} AS INT) AS j
  FROM range({_W * _H}) t(id)
  WHERE id % {_W} > 0 AND id % {_W} < {_W - 1}
    AND id // {_W} > 0 AND id // {_W} < {_H - 1}
),
drops AS (
  SELECT i, j,
         {_SQL_D8_DROPS}
  FROM grid
),
d8 AS (
  SELECT i, j, {_SQL_D8_MAX} AS maxdrop,
         d_e, d_ne, d_n, d_nw, d_w, d_sw, d_s, d_se
  FROM drops
),
edges AS (
  SELECT j*{_W} + i AS src, {_SQL_D8_DST} AS dst
  FROM d8 WHERE maxdrop > 0
),
reach AS (
  SELECT src AS org, dst AS cur FROM edges
  UNION
  SELECT r.org, e.dst FROM reach r JOIN edges e ON e.src = r.cur
),
accum AS (
  SELECT cur AS cell, CAST(COUNT(*) AS BIGINT) AS n_up
  FROM reach GROUP BY cur
)
SELECT r.region_code,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(COALESCE(a.n_up, 0)) AS BIGINT) AS sum_upstream,
       CAST(MAX(COALESCE(a.n_up, 0)) AS BIGINT) AS max_upstream,
       CAST(SUM(CASE WHEN COALESCE(a.n_up, 0) >= {_CHANNEL_MIN_UP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_channel_cells
FROM grid g
LEFT JOIN accum a ON a.cell = g.j*{_W} + g.i
JOIN (VALUES {_SQL_REGIONS}) AS r(region_code, xmin, ymin, xmax, ymax)
  ON g.i >= r.xmin AND g.i < r.xmax AND g.j >= r.ymin AND g.j < r.ymax
GROUP BY r.region_code
""",
)
def q232_d8_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow ACCUMULATION — the second hydrology stage on top of
    q220's flow directions: each cell's upstream-cell count (how much
    of the terrain drains through it), the quantity that extracts
    channel networks and sizes watersheds. Upstream counts are the
    transitive closure of the drainage graph; because D8 follows
    strictly decreasing cell values the graph is acyclic with
    functional out-degree, and the closure converges by POINTER
    DOUBLING in ceil(log2(max path)) ≈ 7 rounds
    (operators/graph.transitive_closure), not one round per hop —
    the same log-round discipline q49's min-label propagation uses.

    The DuckDB oracle walks the identical edges with a recursive CTE,
    so every (region, count, max, channel-census) value is
    hash-checked — iteration vs recursion, same answer.

    Shape at scale: the grid is algebraic (generated, never shuffled
    to build edges — all 8 neighbor drops are in-row expressions);
    each doubling round is one equi-join + distinct on the reach
    relation (Σ path lengths pairs, localCheckpointed); the census is
    a broadcast containment join + 4-region agg. On file-backed DEM
    tiles the construction is identical after a 1-cell-halo edge
    build (operators/raster tiling)."""
    from ..operators.graph import transitive_closure

    g = _grid(spark).select("i", "j")
    interior = (
        (F.col("i") > 0) & (F.col("i") < _W - 1)
        & (F.col("j") > 0) & (F.col("j") < _H - 1)
    )
    # packed drain edges — same first-max compass priority as the
    # oracle's CASE, without the >64 KB codegen method the when-chain
    # forms produced (see _d8_drain_cells)
    edges = _d8_drain_cells(g.filter(interior)).select(
        (F.col("j") * _W + F.col("i")).cast("bigint").alias("src"),
        F.col("tcell").alias("dst"),
    )
    # the structural bound (val strictly decreases => path <= 101 =>
    # 7 rounds) is a worst case, but THIS drainage closes in 1 round:
    # the closure's convergence count stops it there
    accum = transitive_closure(edges).groupBy(
        F.col("cur").alias("cell")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_up"))
    cells = g.filter(interior).select(
        "i", "j", (F.col("j") * _W + F.col("i")).cast("bigint").alias("cell")
    )
    joined = cells.join(accum, "cell", "left").select(
        "i", "j", F.coalesce(F.col("n_up"), F.lit(0)).alias("n_up")
    )
    r = literal_df(
        spark, _REGIONS, ["region_code", "xmin", "ymin", "xmax", "ymax"]
    )
    cond = (
        (joined.i >= F.col("xmin")) & (joined.i < F.col("xmax"))
        & (joined.j >= F.col("ymin")) & (joined.j < F.col("ymax"))
    )
    return (
        joined.join(F.broadcast(r), cond)
        .groupBy("region_code")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n_up").cast("bigint").alias("sum_upstream"),
            F.max("n_up").cast("bigint").alias("max_upstream"),
            F.sum(
                F.when(F.col("n_up") >= _CHANNEL_MIN_UP, 1).otherwise(0)
            ).cast("bigint").alias("n_channel_cells"),
        )
    )


# ---- q244: per-region value-decile census (quantile remap) ---------------


@register(
    "q244_raster_decile_census",
    tags=("raster", "window", "quantile", "agg"),
    oracle=f"""
WITH grid AS (
  SELECT CAST(id % {_W} AS INT) AS i, CAST(id // {_W} AS INT) AS j,
         CAST(((id % {_W}) * 31 + (id // {_W}) * 17) % 101 AS INT) AS val
  FROM range({_W * _H}) t(id)
),
zoned AS (
  SELECT r.region_code, g.i, g.j, g.val
  FROM grid g
  JOIN (VALUES {_SQL_REGIONS}) AS r(region_code, xmin, ymin, xmax, ymax)
    ON g.i >= r.xmin AND g.i < r.xmax AND g.j >= r.ymin AND g.j < r.ymax
),
dec AS (
  SELECT region_code, val,
         NTILE(10) OVER (PARTITION BY region_code
                         ORDER BY val ASC, i ASC, j ASC) AS decile
  FROM zoned
)
SELECT region_code, CAST(decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(val) AS INT) AS min_val,
       CAST(MAX(val) AS INT) AS max_val
FROM dec
GROUP BY region_code, decile
""",
)
def q244_raster_decile_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region value-DECILE census — the quantile remap behind
    histogram equalization and percentile-stretched rendering of a
    DEM: each cell gets its within-region decile (NTILE over the
    pinned total order value,i,j — identical bucket-boundary algebra
    in both engines), then a (region, decile) census with the value
    range each decile spans. Uneven decile value-ranges = skewed
    terrain distribution, the input a contrast-stretch or a
    classification break-picker consumes.

    Shape: algebraic grid scan → broadcast containment join → one
    window per region partition (region-bounded, thousands of cells
    at any corpus scale since the grid is fixed per tile) → ~40-key
    agg. On file-backed rasters the same window runs per (tile,
    region) with identical semantics."""
    g = _grid(spark)
    r = literal_df(
        spark, _REGIONS, ["region_code", "xmin", "ymin", "xmax", "ymax"]
    )
    cond = (
        (g.i >= F.col("xmin")) & (g.i < F.col("xmax"))
        & (g.j >= F.col("ymin")) & (g.j < F.col("ymax"))
    )
    zoned = g.join(F.broadcast(r), cond).select("region_code", "i", "j", "val")
    w = Window.partitionBy("region_code").orderBy(
        F.col("val").asc(), F.col("i").asc(), F.col("j").asc()
    )
    dec = zoned.withColumn("decile", F.ntile(10).over(w))
    return dec.groupBy(
        "region_code", F.col("decile").cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("val").cast("int").alias("min_val"),
        F.max("val").cast("int").alias("max_val"),
    )
