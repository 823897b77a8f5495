"""Raster operators over the raster-struct DataFrame (sources/asc.py).

Re-expresses the reference's raster pipeline (copy_esrigrid…py:259–346)
as composable DataFrame transformations:

- ``raster_stats`` and ``cell_stats``: the per-raster statistics arcpy
  writes as sidecars (:5, :315), in two forms. ``raster_stats`` is the
  grouped form — explode + partial-aggregable hash agg by ``base_name``
  — for rasters split over several rows (``tile``). ``cell_stats`` is
  the per-row form in numpy, for a kernel that already holds a
  product's cells (``cli.build_products``): no shuffle, and every row
  keeps its stats, all-NODATA rows included. On a one-row raster the
  two agree bit for bit.
- ``clip_to_bbox``: extent clip with shrink-to-geometry
  (NO_MAINTAIN_EXTENT, :309) in pure JVM array expressions.
- ``clip_to_polygon``: ClippingGeometry semantics (:307) with
  NO_MAINTAIN_EXTENT (:309) — crop to the polygon's cell window, then
  mask cells whose centres fall outside it to NODATA (the engine's
  defined clip contract, SURVEY §7 hard-part 1). One ``mapInPandas``
  kernel clips each row where it is, with no job of its own; in each
  task it builds the window and its mask once per distinct
  (georeference, polygon) pair and crops and masks the cells in numpy.
  ``clip_rows`` is that crop and mask over one pandas batch;
  ``cli.run``'s one kernel runs it too, then ``cell_stats``.
- ``resample_nearest``: cellSize="MINOF" resampling analogue (:300) in
  JVM expressions (nearest-neighbor decimation/replication).

The GeoTIFF sink (:259–261) is not a DataFrame operator here:
``cli.run``'s one packaging kernel calls the per-row COG codec
``operators.geotiff.encode_cog`` for each product.

Scale: one row per raster keeps lineage columnar; a 10k×10k float grid
is ~800 MB of cells, so production tiling would split rasters into
fixed-size tile rows first (tile_id in the key) — every operator below
is tile-compatible because none assumes a whole raster per row beyond
the explicit width/height arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial, update_wrapper

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import parse_wkt_polygon, window_mask


def raster_stats(rasters: DataFrame) -> DataFrame:
    """Per-raster zonal statistics excluding NODATA cells."""
    ex = rasters.select(
        "base_name",
        "nodata_value",
        F.explode("cells").alias("val"),
    ).filter(F.col("val") != F.col("nodata_value"))
    return ex.groupBy("base_name").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.avg("val").alias("mean_val"),
        F.stddev_pop("val").alias("stddev_val"),
    )


def cell_stats(
    cells: np.ndarray, nodata: float
) -> tuple[int, float | None, float | None, float | None]:
    """``(n_cells, min, max, mean)`` of one raster's cells, NODATA cells
    excluded; min, max and mean are None when no cell is valid.

    The same bits as ``raster_stats`` over a one-row raster: the sum
    folds left from 0.0, the order ``avg`` takes (``np.sum`` sums
    pairwise), and among equal values min and max keep the first, as
    Spark does (``np.min`` of ``[0.0, -0.0]`` is ``-0.0``; Spark's is
    ``0.0``)."""
    cells = np.asarray(cells, dtype=np.float64)
    valid = cells[cells != nodata]
    n = len(valid)
    if n == 0:
        return 0, None, None, None
    total = np.concatenate(([0.0], valid)).cumsum()[-1]
    return n, float(valid[valid.argmin()]), float(valid[valid.argmax()]), float(total / n)


def clip_to_bbox(
    rasters: DataFrame,
    xmin: Column | float,
    ymin: Column | float,
    xmax: Column | float,
    ymax: Column | float,
) -> DataFrame:
    """Clip each raster to the bbox, shrinking the extent to the
    intersection (NO_MAINTAIN_EXTENT). Cells are re-assembled with pure
    array expressions (slice per retained row, flattened) — no Python.

    Cell (c, r) covers x in [xll + c*cs, xll + (c+1)*cs); row 0 is the
    TOP row (ASC convention), i.e. y in [ytop - (r+1)*cs, ytop - r*cs).
    A cell is kept when its center falls inside the bbox.
    """
    xmin, ymin, xmax, ymax = map(
        lambda v: F.lit(float(v)) if isinstance(v, (int, float)) else v,
        (xmin, ymin, xmax, ymax),
    )
    cs = F.col("cellsize")
    ytop = F.col("yllcorner") + F.col("height") * cs
    # Stage 1: materialize index bounds as columns. (Computing them inline
    # in the output select is a trap: the output aliases `width`/`height`
    # shadow the input columns inside higher-order lambdas.)
    c0 = F.greatest(F.ceil((xmin - F.col("xllcorner")) / cs - 0.5), F.lit(0)).cast("int")
    c1 = F.least(
        F.ceil((xmax - F.col("xllcorner")) / cs - 0.5), F.col("width").cast("long")
    ).cast("int")
    r0 = F.greatest(F.ceil((ytop - ymax) / cs - 0.5), F.lit(0)).cast("int")
    r1 = F.least(F.ceil((ytop - ymin) / cs - 0.5), F.col("height").cast("long")).cast(
        "int"
    )
    pre = rasters.select(
        "*",
        c0.alias("_c0"), r1.alias("_r1"), r0.alias("_r0"),
        F.greatest(c1 - c0, F.lit(0)).alias("_nw"),
        F.greatest(r1 - r0, F.lit(0)).alias("_nh"),
    )
    rows = F.sequence(F.lit(0), F.col("_nh") - 1)
    cols = F.sequence(F.lit(0), F.col("_nw") - 1)
    new_cells = F.when(
        (F.col("_nw") > 0) & (F.col("_nh") > 0),
        F.flatten(
            F.transform(
                rows,
                lambda r: F.transform(
                    cols,
                    lambda c: F.element_at(
                        F.col("cells"),
                        (
                            (r + F.col("_r0")) * F.col("width")
                            + c + F.col("_c0") + 1
                        ).cast("int"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<double>"))
    # Stage 2: compute cells BEFORE aliasing width/height in the output —
    # Spark's lateral column alias resolution would otherwise bind
    # `width` inside the lambda to the new width.
    staged = pre.select("*", new_cells.alias("_cells"))
    return staged.select(
        "path",
        "base_name",
        F.col("_nw").alias("width"),
        F.col("_nh").alias("height"),
        (F.col("xllcorner") + F.col("_c0") * cs).alias("xllcorner"),
        (ytop - F.col("_r1") * cs).alias("yllcorner"),
        "cellsize",
        "nodata_value",
        "crs",
        F.col("_cells").alias("cells"),
    )


_GEOREF = ("width", "height", "xllcorner", "yllcorner", "cellsize")


def clip_rows(pdf: pd.DataFrame, wkts: list, windows: dict) -> pd.DataFrame:
    """One pandas batch of raster rows, each cropped to its polygon's
    window and masked: ``wkts`` holds each row's polygon as WKT, or None
    for a row that passes through unmasked at full extent. Columns other
    than the georeference and ``cells`` pass through.

    ``windows`` memoises ``window_mask`` per distinct (georeference,
    polygon) key; the caller keeps one dict for one task, so rows on one
    georeference and polygon share one mask and nothing outlives the
    task. The window's extent is ``x + c0 * cs`` and
    ``(y + h * cs) - (r0 + nh) * cs``, evaluated in that order: another
    order can change the last bit."""
    geo = {c: pdf[c].tolist() for c in (*_GEOREF, "nodata_value")}
    cells = pdf["cells"].tolist()
    for i, wkt in enumerate(wkts):
        if wkt is None:
            continue
        w, h, x, y, cs = (geo[c][i] for c in _GEOREF)
        key = (w, h, x, y, cs, wkt)
        if key not in windows:
            windows[key] = window_mask(w, h, x, y, cs, parse_wkt_polygon(wkt))
        c0, r0, nw, nh, mask = windows[key]
        grid = cells[i].reshape(h, w)[r0:r0 + nh, c0:c0 + nw].ravel()
        cells[i] = np.where(mask, grid, geo["nodata_value"][i])
        geo["width"][i], geo["height"][i] = nw, nh
        geo["xllcorner"][i] = x + c0 * cs
        geo["yllcorner"][i] = (y + h * cs) - (r0 + nh) * cs
    out = pdf.copy(deep=False)
    for c in ("width", "height", "xllcorner", "yllcorner"):
        out[c] = np.asarray(geo[c], dtype=pdf[c].dtype)
    out["cells"] = cells
    return out


def clip_kernel(
    batches: Iterator[pd.DataFrame], wkt: str = "_wkt"
) -> Iterator[pd.DataFrame]:
    """``clip_to_polygon``'s ``mapInPandas`` kernel over batches of the
    caller's rows, with each row's polygon as WKT in column ``wkt``;
    yields the rows ``clip_rows`` crops and masks, with one mask per
    distinct (georeference, polygon) key for the life of one call, which
    is one task. A ``_wkt`` column, staged for a polygon given as an
    expression, is dropped from the output."""
    windows: dict[tuple, tuple] = {}
    for pdf in batches:
        out = clip_rows(pdf, pdf[wkt].tolist(), windows)
        yield out.drop(columns="_wkt", errors="ignore")


def clip_to_polygon(rasters: DataFrame, wkt_col: Column | str) -> DataFrame:
    """ClippingGeometry + NO_MAINTAIN_EXTENT (:303–310): crop each raster
    to its polygon's cell window and mask the window's cells whose
    centres fall outside the polygon to NODATA.

    The window is the cells whose centres lie in the polygon's closed
    envelope (``functions.geometry.window_mask``): no cell the polygon
    keeps falls outside it. ``width``, ``height``, ``xllcorner``,
    ``yllcorner`` and ``cells`` are rewritten to the window; every other
    column the caller passes rides through unchanged, so identity carried
    beside the raster (a region's code and name) stays on its own row.

    One ``mapInPandas`` kernel (``clip_kernel``) clips the rows where
    they are: no shuffle, no join and no job of its own. In each task it
    builds a mask once per distinct (georeference, polygon) pair, so a
    series of grids on one georeference shares its masks, then crops and
    masks each row's cells in numpy. A ``wkt_col`` that names a column
    is read by name, so the ring crosses into Python once; an expression
    is staged as ``_wkt`` first.

    A row whose polygon is null (no regions file, or a region without
    geometry) passes through unmasked at full extent. A polygon that
    misses the grid gives a 0×0 raster with no cells, at the grid's
    top-left corner.

    Scale note: each row's full grid crosses into Python through Arrow,
    one copy per polygon it is clipped to (perfbench's job sends 96 ×
    14,400 doubles, about 11 MB a run). ``tile`` large grids first, so
    that a row holds one tile, not a whole raster.
    """
    if isinstance(wkt_col, str):
        kernel = update_wrapper(partial(clip_kernel, wkt=wkt_col), clip_kernel)
        return rasters.mapInPandas(kernel, rasters.schema)
    staged = rasters.withColumn("_wkt", wkt_col)
    return staged.mapInPandas(clip_kernel, rasters.schema)


def resample_nearest(rasters: DataFrame, factor: int) -> DataFrame:
    """Nearest-neighbor decimation by an integer factor (>=2): keep every
    factor-th cell in both axes. Pure JVM array expressions."""
    if factor < 2:
        raise ValueError("factor must be >= 2")
    f_ = F.lit(factor)
    # Stage the new dims + cells under temp names first — aliasing
    # width/cellsize in the same select would lateral-shadow the lambda.
    pre = rasters.select(
        "*",
        ((F.col("width") + f_ - 1) / f_).cast("int").alias("_nw"),
        ((F.col("height") + f_ - 1) / f_).cast("int").alias("_nh"),
    )
    rows = F.sequence(F.lit(0), F.col("_nh") - 1)
    cols = F.sequence(F.lit(0), F.col("_nw") - 1)
    new_cells = F.flatten(
        F.transform(
            rows,
            lambda r: F.transform(
                cols,
                lambda c: F.element_at(
                    F.col("cells"), (r * f_ * F.col("width") + c * f_ + 1).cast("int")
                ),
            ),
        )
    )
    staged = pre.select("*", new_cells.alias("_cells"))
    return staged.select(
        "path", "base_name",
        F.col("_nw").alias("width"), F.col("_nh").alias("height"),
        "xllcorner", "yllcorner",
        (F.col("cellsize") * f_).alias("cellsize"),
        "nodata_value", "crs",
        F.col("_cells").alias("cells"),
    )


def tile(rasters: DataFrame, tile_px: int) -> DataFrame:
    """Split each raster row into fixed-size tile rows (edge tiles
    smaller) — the scale operator this module's header promises: a
    10k×10k float64 grid is ~800 MB in ONE row, which breaks row-based
    shuffle/memory budgets; tiles of e.g. 1024px are ~8 MB rows that
    partition evenly across executors.

    Output schema = input raster struct (width/height/xllcorner/
    yllcorner updated per tile, same base_name/cellsize/nodata/crs) plus
    ``tile_id`` ("ty_tx"). Because ``base_name`` is preserved and tiles
    partition the cells exactly, ``raster_stats`` composes UNCHANGED:
    stats over tile rows == stats over the whole raster (count/min/max/
    mean/stddev are flat aggregates over exploded cells). ``clip_to_*``
    and ``geotiff.encode_cog`` likewise see ordinary (smaller) rasters.
    Pure JVM array expressions — one explode per tile, no Python.
    """
    if tile_px < 1:
        raise ValueError("tile_px must be >= 1")
    tp = F.lit(tile_px)
    pre = rasters.select(
        "*",
        F.ceil(F.col("width") / tp).cast("int").alias("_ntx"),
        F.ceil(F.col("height") / tp).cast("int").alias("_nty"),
    )
    tiled = pre.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("_ntx") * F.col("_nty") - 1)).alias(
            "_ti"
        ),
    ).select(
        "*",
        (F.col("_ti") % F.col("_ntx")).cast("int").alias("_tx"),
        (F.col("_ti") / F.col("_ntx")).cast("int").alias("_ty"),
    )
    tw = F.least(tp, F.col("width") - F.col("_tx") * tp).cast("int")
    th = F.least(tp, F.col("height") - F.col("_ty") * tp).cast("int")
    staged = tiled.select("*", tw.alias("_tw"), th.alias("_th"))
    rows_ = F.sequence(F.lit(0), F.col("_th") - 1)
    cols_ = F.sequence(F.lit(0), F.col("_tw") - 1)
    cells = F.flatten(
        F.transform(
            rows_,
            lambda r: F.transform(
                cols_,
                lambda c: F.element_at(
                    F.col("cells"),
                    (
                        (F.col("_ty") * tp + r) * F.col("width")
                        + F.col("_tx") * tp + c + 1
                    ).cast("int"),
                ),
            ),
        )
    )
    ytop = F.col("yllcorner") + F.col("height") * F.col("cellsize")
    final = staged.select("*", cells.alias("_cells"))
    return final.select(
        "path",
        "base_name",
        F.concat_ws("_", F.col("_ty"), F.col("_tx")).alias("tile_id"),
        F.col("_tw").alias("width"),
        F.col("_th").alias("height"),
        (F.col("xllcorner") + F.col("_tx") * tp * F.col("cellsize")).alias(
            "xllcorner"
        ),
        (ytop - (F.col("_ty") * tp + F.col("_th")) * F.col("cellsize")).alias(
            "yllcorner"
        ),
        "cellsize",
        "nodata_value",
        "crs",
        F.col("_cells").alias("cells"),
    )


def downsample_block_mean(rasters: DataFrame, factor: int) -> DataFrame:
    """Aggregate (block-mean) downsample by an integer factor (>=2):
    each output cell is the mean of its factor×factor input block,
    EXCLUDING nodata cells; a block that is all-nodata stays
    nodata_value. Edge blocks are partial (input dims need not divide
    by factor). The mean path — not decimation — is the cartographic
    "Aggregate" operation; ``resample_nearest`` stays the cheap
    decimation.

    Pure JVM higher-order expressions (no Python): per output cell, an
    ``aggregate`` fold over the block's valid cells accumulating
    (sum, count). At 100 TB this composes with ``tile``: tiles whose
    width/height are multiples of ``factor`` downsample independently
    with no cross-tile blocks, so the operator stays embarrassingly
    parallel after tiling."""
    if factor < 2:
        raise ValueError("factor must be >= 2")
    f_ = F.lit(factor)
    pre = rasters.select(
        "*",
        ((F.col("width") + f_ - 1) / f_).cast("int").alias("_nw"),
        ((F.col("height") + f_ - 1) / f_).cast("int").alias("_nh"),
    )
    rows = F.sequence(F.lit(0), F.col("_nh") - 1)
    cols = F.sequence(F.lit(0), F.col("_nw") - 1)

    def block_mean(r, c):
        bh = F.least(f_, F.col("height") - r * f_)
        bw = F.least(f_, F.col("width") - c * f_)
        idxs = F.flatten(
            F.transform(
                F.sequence(F.lit(0), bh - 1),
                lambda dr: F.transform(
                    F.sequence(F.lit(0), bw - 1),
                    lambda dc: (
                        (r * f_ + dr) * F.col("width") + c * f_ + dc + 1
                    ).cast("int"),
                ),
            )
        )
        vals = F.filter(
            F.transform(idxs, lambda i: F.element_at(F.col("cells"), i)),
            lambda v: v != F.col("nodata_value"),
        )
        n = F.size(vals)
        s = F.aggregate(
            vals, F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
        return F.when(n > 0, s / n).otherwise(F.col("nodata_value"))

    new_cells = F.flatten(
        F.transform(rows, lambda r: F.transform(cols, lambda c: block_mean(r, c)))
    )
    staged = pre.select("*", new_cells.alias("_cells"))
    return staged.select(
        "path", "base_name",
        F.col("_nw").alias("width"), F.col("_nh").alias("height"),
        "xllcorner", "yllcorner",
        (F.col("cellsize") * f_).alias("cellsize"),
        "nodata_value", "crs",
        F.col("_cells").alias("cells"),
    )


def focal_slope(rasters: DataFrame) -> DataFrame:
    """Focal (neighborhood) operator: per-cell squared gradient
    magnitude gx² + gy² from Horn's 3×3 kernel — the slope/hillshade
    family of cartographic analysis, REF's raster domain extended to
    neighborhood ops.

        gx = (ne + 2·e + se) − (nw + 2·w + sw)
        gy = (sw + 2·s + se) − (nw + 2·n + ne)

    Border cells and cells with any nodata neighbor emit
    ``nodata_value`` (a gradient across a data hole is undefined, not
    zero). Pure JVM higher-order expressions — neighbor reads are O(1)
    ``element_at`` on the flat row-major array, no Python, no shuffle;
    one output raster row per input row. At 100 TB this composes with
    ``tile`` the same way clip does, EXCEPT tiles need a 1-cell halo
    for correctness at tile seams — the documented composition rule
    (tile with overlap=1, then drop the halo ring after the focal op).
    """
    w = F.col("width")
    h = F.col("height")
    cells = F.col("cells")
    nd = F.col("nodata_value")

    def at(r: Column, c: Column) -> Column:
        return F.element_at(cells, (r * w + c + 1).cast("int"))

    def out_cell(k: Column) -> Column:
        r = F.floor(k / w).cast("int")
        c = (k % w).cast("int")
        interior = (r > 0) & (r < h - 1) & (c > 0) & (c < w - 1)
        nbrs = [
            at(r + dr, c + dc)
            for dr in (-1, 0, 1)
            for dc in (-1, 0, 1)
        ]
        any_nd = nbrs[0] == nd
        for nb in nbrs[1:]:
            any_nd = any_nd | (nb == nd)
        gx = (
            at(r - 1, c + 1) + F.lit(2.0) * at(r, c + 1) + at(r + 1, c + 1)
        ) - (at(r - 1, c - 1) + F.lit(2.0) * at(r, c - 1) + at(r + 1, c - 1))
        gy = (
            at(r + 1, c - 1) + F.lit(2.0) * at(r + 1, c) + at(r + 1, c + 1)
        ) - (at(r - 1, c - 1) + F.lit(2.0) * at(r - 1, c) + at(r - 1, c + 1))
        return F.when(interior & ~any_nd, gx * gx + gy * gy).otherwise(nd)

    idxs = F.sequence(F.lit(0), (w * h - 1).cast("int"))
    return rasters.select(
        "path",
        "base_name",
        "width",
        "height",
        "xllcorner",
        "yllcorner",
        "cellsize",
        "nodata_value",
        "crs",
        F.transform(idxs, out_cell).alias("cells"),
    )
