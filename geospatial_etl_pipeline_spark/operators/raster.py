"""Raster operators over the raster-struct DataFrame (sources/asc.py).

Re-expresses the reference's raster pipeline (copy_esrigrid…py:259–346)
as composable DataFrame transformations:

- ``with_raster_stats`` and ``raster_stats``: the per-raster statistics
  arcpy writes as sidecars (:5, :315), in two forms. ``with_raster_stats``
  adds them to each row with JVM array expressions — the form for
  products that are one row each (``cli.build_products``): no shuffle,
  and every row keeps its stats, all-NODATA rows included.
  ``raster_stats`` is the grouped form — explode + partial-aggregable
  hash agg by ``base_name`` — for rasters split over several rows
  (``tile``). On a one-row raster the two agree bit for bit.
- ``clip_to_bbox``: extent clip with shrink-to-geometry
  (NO_MAINTAIN_EXTENT, :309) in pure JVM array expressions.
- ``clip_to_polygon``: ClippingGeometry semantics (:307) with
  NO_MAINTAIN_EXTENT (:309) — crop to the polygon's cell window, then
  mask cells whose centres fall outside it to NODATA (the engine's
  defined clip contract, SURVEY §7 hard-part 1). The window and its mask
  are built once per distinct (georeference, polygon) pair; the crop and
  the mask are JVM array expressions.
- ``resample_nearest``: cellSize="MINOF" resampling analogue (:300) in
  JVM expressions (nearest-neighbor decimation/replication).

The GeoTIFF sink (:259–261) is not a DataFrame operator here:
``cli.product_files`` calls the per-row COG codec
``operators.geotiff.encode_cog`` for each product.

Scale: one row per raster keeps lineage columnar; a 10k×10k float grid
is ~800 MB of cells, so production tiling would split rasters into
fixed-size tile rows first (tile_id in the key) — every operator below
is tile-compatible because none assumes a whole raster per row beyond
the explicit width/height arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StructField,
    StructType,
)

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


def with_raster_stats(rasters: DataFrame) -> DataFrame:
    """Each raster row plus its statistics excluding NODATA cells:
    ``n_cells``, ``min_val``, ``max_val``, ``mean_val``.

    The sum folds left to right from 0.0, the order ``avg`` in
    ``raster_stats`` takes over a one-row raster, so both forms give the
    same bits. An all-NODATA row keeps ``n_cells`` = 0 with null
    min/max/mean (``raster_stats`` emits no row for it)."""
    # the valid cells are staged once, not re-filtered for each stat
    staged = rasters.select(
        "*", F.filter("cells", lambda v: v != F.col("nodata_value")).alias("_valid")
    )
    valid = F.col("_valid")
    n = F.size(valid)
    total = F.aggregate(valid, F.lit(0.0), lambda acc, v: acc + v)
    return staged.select(
        *rasters.columns,
        n.alias("n_cells"),
        F.array_min(valid).alias("min_val"),
        F.array_max(valid).alias("max_val"),
        F.when(n > 0, total / n).alias("mean_val"),
    )


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


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


def clip_to_polygon(rasters: DataFrame, wkt_col: Column | str) -> DataFrame:
    """ClippingGeometry + NO_MAINTAIN_EXTENT (:303–310): crop each raster
    to its polygon's cell window and mask the window's cells whose
    centres fall outside the polygon to NODATA.

    The window is the cells whose centres lie in the polygon's closed
    envelope (``functions.geometry.window_mask``): no cell the polygon
    keeps falls outside it. ``width``, ``height``, ``xllcorner``,
    ``yllcorner`` and ``cells`` are rewritten to the window; every other
    column the caller passes rides through unchanged, so identity carried
    beside the raster (a region's code and name in
    ``cli.build_products``) stays on the product's own row.

    One Python kernel builds each mask, once per distinct (georeference,
    polygon) pair rather than once per row: a series of grids on one
    georeference shares its masks. A broadcast join attaches each pair's
    window and mask to its rows, and the crop and the mask run as JVM
    array expressions, so no row crosses into Python.

    A row whose polygon is null (no regions file, or a region without
    geometry) passes through unmasked at full extent. A polygon that
    misses the grid gives a 0×0 raster with no cells, at the grid's
    top-left corner.
    """
    staged = rasters.withColumn("_wkt", _col(wkt_col))
    pairs = (
        staged.select(*_GEOREF, "_wkt").filter(F.col("_wkt").isNotNull()).distinct()
    )

    def window_masks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            windows = [
                window_mask(w, h, x, y, cs, parse_wkt_polygon(wkt))
                for w, h, x, y, cs, wkt in zip(*(pdf[c] for c in (*_GEOREF, "_wkt")))
            ]
            out = pdf.copy()
            for i, name in enumerate(("_c0", "_r0", "_nw", "_nh", "_mask")):
                out[name] = [win[i] for win in windows]
            yield out

    schema = StructType(
        pairs.schema.fields
        + [StructField(c, IntegerType()) for c in ("_c0", "_r0", "_nw", "_nh")]
        + [StructField("_mask", ArrayType(BooleanType()))]
    )
    masks = pairs.mapInPandas(window_masks, schema)
    joined = staged.join(F.broadcast(masks), [*_GEOREF, "_wkt"], "left")

    # A row without a mask (a null polygon) has null window columns, so
    # each coalesce below falls back to the row's own value.
    w, cs, nw = F.col("width"), F.col("cellsize"), F.col("_nw")
    cells = F.transform(
        "_mask",
        lambda inside, k: F.when(
            inside,
            F.element_at(
                "cells",
                ((F.col("_r0") + (k / nw).cast("int")) * w
                 + F.col("_c0") + k % nw + 1).cast("int"),
            ),
        ).otherwise(F.col("nodata_value")),
    )
    # Build the cells BEFORE width/height/... are aliased: the lambdas
    # would otherwise bind to the new values (lateral column aliases).
    cropped = joined.select("*", F.coalesce(cells, "cells").alias("_cells"))
    ytop = F.col("yllcorner") + F.col("height") * cs
    rewritten = {
        "width": F.coalesce(nw, w),
        "height": F.coalesce("_nh", "height"),
        "xllcorner": F.coalesce(F.col("xllcorner") + F.col("_c0") * cs, "xllcorner"),
        "yllcorner": F.coalesce(ytop - (F.col("_r0") + F.col("_nh")) * cs, "yllcorner"),
        "cells": F.col("_cells"),
    }
    return cropped.select(
        *[rewritten[c].alias(c) if c in rewritten else c for c in rasters.columns]
    )


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
