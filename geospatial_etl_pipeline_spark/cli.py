"""Command-line entry point — the reference's EP1, Spark-first.

Mirrors ``main()`` of
copy_esrigrid_to_geotiff_rename_and_clip_w_Arguments.py:505–577, with
every argument real and honored (the reference parses but ignores
``--output_folder_zipped`` and builds its regions layer at import time
regardless of ``--regions_layer`` — SURVEY §2k.2; here both work):

    python -m geospatial_etl_pipeline_spark.cli \
        -f /data/asc_grids -o /out/products \
        [--output_folder_zipped /out/zips] [-r regions.csv] \
        [-b my-bucket] [--s3prefix climate/products] [--crs EPSG:27200]

Dataflow (DataFrame operators, not a file loop):
  recursive .asc scan → decode (sources.asc) → × regions fan-out
  (broadcast; region "99" excluded, :271–273) → product naming via map
  lookups in the JVM (:244–251, 292) → one kernel per product row that
  crops it to the region polygon's cell window and masks the cells
  outside it (operators.raster, NO_MAINTAIN_EXTENT, :309), takes its
  sidecar stats (``raster.cell_stats``), encodes the .asc and the COG,
  writes the zip and the metadata JSON (operators.sinks) and returns its
  S3 URI target (:377–406) → upload manifest → optional upload. Each
  product is one row from the fan-out to its zip, carrying its region
  and its name, and no shuffle moves its cells. Each grid is scanned and
  decoded once, and each product crosses into Python once: one
  ``MapInPandas``, one Python worker start per task.

``run`` issues a short sequence of Spark jobs. One strict ``run`` with
a bucket and an upload issues 3 (counted under a job group,
``test_cli``), on perfbench's 96-product etl_grids job as on the
4-product test fixture:

1. strict mode's collect of the grids whose file name has an unknown
   code. It reads the file listing, not the files, and raises before
   any output is written;
2. the regions' broadcast for the fan-out;
3. the upload manifest's parquet write, the one action that runs the
   whole pipeline in one stage (without a bucket, a collect of the
   kernel's rows). The product count and the 10-target sample are
   observed on that write (``pyspark.sql.Observation``), in its job.

The upload itself is a driver-side file copy, one thread per core.

A region whose polygon misses a grid still makes a product, counted in
strict mode: the clip leaves it 0×0, so its zip holds a 0×0 ``.asc``, a
0×0 ``.tif`` and stats with ``n_cells`` 0 and null min/max/mean, and its
footprint is a point. ``operators.geotiff.decode_cog`` reads such a
``.tif``; other TIFF readers may reject a zero-size image.

Regions come from a local CSV whose header is exactly
``regc_code,region_name_ascii,wkt``, in that order and in any case (the
reference fetches a hosted feature layer over HTTPS at import time,
:184–187 — a network dependency this container doesn't have; the CSV
carries identical fields to the cursor's
["REGC_code","REGC_name_ascii","SHAPE@"], :266). Without a regions
file the grids pass through unclipped under a single "New Zealand"
pseudo-region.

Unknown parameter/period codes: the reference raises KeyError
(:248, 251); here such a product gets a null name, and is dropped
(permissive default) or fails the run with ``--strict``.
"""

from __future__ import annotations

import argparse
import json
import os
from collections.abc import Iterator
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from .functions.naming import (
    MONTH_SEASON,
    PARAMETER,
    START_DATE,
    STOP_DATE,
    dim_df,
    lookup,
    parse_base_name,
    product_name,
    region_title,
)
from .operators.geotiff import encode_cog
from .operators.raster import cell_stats, clip_rows
from .operators.sinks import (
    upload_artifacts,
    upload_prefix,
    write_document,
    write_zip,
)
from .sources.asc import asc_text, read_asc


_REGIONS_SCHEMA = "regc_code string, region_name_ascii string, wkt string"


def load_regions(
    spark: SparkSession,
    regions_csv: str | None,
    regions_url: str | None = None,
) -> DataFrame:
    """(regc_code, region_name_ascii, wkt) — hosted feature service
    (REF:184–187, via sources.feature_service), CSV, or pass-through
    default, in that priority order.

    The CSV is read with this fixed schema, so loading it runs no Spark
    job. Its header must name exactly these three columns, in this
    order; case does not matter. A header in another order, or with a
    column more or less, fails the first job that reads the file."""
    if regions_url is not None:
        from .sources.feature_service import read_feature_service

        return read_feature_service(spark, regions_url)
    if regions_csv is None:
        return dim_df(
            spark, {"00": "New Zealand"}, "regc_code", "region_name_ascii"
        ).withColumn("wkt", F.lit(None).cast("string"))
    return (
        spark.read.schema(_REGIONS_SCHEMA)
        .option("header", "true")
        .option("enforceSchema", "false")
        .csv(regions_csv)
    )


def _real_regions(regions: DataFrame) -> DataFrame:
    """The regions a product is made for: all but "99" (:271–273)."""
    return regions.filter(F.col("regc_code") != "99")


def _decoded_names() -> tuple[dict[str, Column], Column, Column]:
    """``base_name``'s parsed parts, with its parameter and period names:
    a name is null when its code is unknown, a too-short filename
    included (the reference raises KeyError, :248, 251)."""
    parsed = parse_base_name(F.col("base_name"))
    parameter = lookup(PARAMETER, parsed["parameter_code"])
    period = lookup(MONTH_SEASON, parsed["period_key"])
    return parsed, parameter, period


def unknown_code_grids(rasters: DataFrame) -> DataFrame:
    """The ``base_name`` of each grid whose file name carries an unknown
    parameter or period code: exactly the grids whose products get a
    null ``product_name``. It reads the file listing, not the files."""
    _, parameter, period = _decoded_names()
    return rasters.select("base_name").filter(
        parameter.isNull() | period.isNull()
    )


def _named_fanout(rasters: DataFrame, regions: DataFrame) -> DataFrame:
    """rasters × regions, one row per (grid, region) product, with its
    ``product_name`` from map lookups in the JVM: null when the grid's
    parameter or period code is unknown (``unknown_code_grids``)."""
    fanout = rasters.crossJoin(F.broadcast(_real_regions(regions)))
    parsed, parameter, period = _decoded_names()
    name = F.when(
        parameter.isNotNull() & period.isNotNull(),
        F.concat_ws(
            "_",
            product_name(parameter, parsed["statistic"], period),
            region_title(F.col("region_name_ascii")),
        ),
    )
    return fanout.select("*", name.alias("product_name"))


_STATS = (
    ("n_cells", np.int32, IntegerType()),
    ("min_val", np.float64, DoubleType()),
    ("max_val", np.float64, DoubleType()),
    ("mean_val", np.float64, DoubleType()),
)


def product_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The one pass over each named product row: crop and mask its cells
    to its region's polygon (``raster.clip_rows``, one mask per distinct
    georeference and polygon in the task) and add its ``cell_stats`` as
    n_cells/min_val/max_val/mean_val, null min/max/mean where no cell is
    valid. ``build_products`` runs it alone; ``run``'s kernel packages
    the rows it yields, in the same worker."""
    windows: dict[tuple, tuple] = {}
    for pdf in batches:
        out = clip_rows(pdf, pdf["wkt"].tolist(), windows)
        stats = [cell_stats(c, nd) for c, nd in zip(out["cells"], out["nodata_value"])]
        for i, (name, dtype, _) in enumerate(_STATS):
            # a null stat goes in as NaN, which Arrow sends as null
            out[name] = np.array([s[i] for s in stats], dtype=dtype)
        yield out


def build_products(
    spark: SparkSession, rasters: DataFrame, regions: DataFrame
) -> DataFrame:
    """rasters × regions → clipped rasters with stats and product names.

    Returns one row per (grid, region) product: the grid's raster
    columns, its region's ``regc_code``/``region_name_ascii``/``wkt``,
    n_cells/min/max/mean and ``product_name``. The region rides on the
    product's own row from the fan-out through the clip, so nothing is
    split back out or joined again, and one kernel (``product_kernel``)
    clips each row and takes its stats. A clip that masks every cell
    keeps its row, with n_cells = 0 and null min/max/mean, so strict
    mode counts it as a product. ``product_name`` is null when the
    grid's parameter or period code is unknown (``unknown_code_grids``)."""
    named = _named_fanout(rasters, regions)
    fields = [f for f in named.schema.fields if f.name != "product_name"]
    schema = StructType([
        *fields,
        *(StructField(name, t) for name, _, t in _STATS),
        named.schema["product_name"],
    ])
    return named.mapInPandas(product_kernel, schema)


# the columns of a product row that its zip and its document are made from
_PRODUCT_COLUMNS = (
    "product_name", "width", "height", "xllcorner", "yllcorner", "cellsize",
    "nodata_value", "crs", "cells", "n_cells", "min_val", "max_val", "mean_val",
)


def _product_members(row: dict) -> list[tuple[str, bytes]]:
    """(path, content) of one product's zip members: its COG, its
    clipped .asc grid and its stats sidecar. ``row`` is one record of a
    pandas batch of product rows."""
    name = row["product_name"]
    cells = list(row["cells"])
    grid = asc_text(
        row["width"], row["height"], cells,
        row["xllcorner"], row["yllcorner"], row["cellsize"],
        row["nodata_value"],
    )
    # the reference's core conversion (:259–261): a REAL Cloud-Optimized
    # GeoTIFF — tiled + deflate + overview pyramid (operators/geotiff.py),
    # openable downstream
    tif = encode_cog(
        int(row["width"]), int(row["height"]),
        row["xllcorner"], row["yllcorner"], row["cellsize"],
        row["nodata_value"], row["crs"], cells,
    )
    # pandas reads a null stat as NaN: write it as null
    stat = {
        k: None if pd.isna(row[c]) else row[c]
        for k, c in (("min", "min_val"), ("max", "max_val"), ("mean", "mean_val"))
    }
    stats = json.dumps({"n_cells": int(row["n_cells"]), **stat}, indent=4)
    return [
        (f"{name}.tif", tif),
        (f"{name}.asc", grid.encode()),
        (f"{name}.stats.json", stats.encode()),
    ]


def product_files(products: DataFrame) -> DataFrame:
    """(base_name=product, files) rows, one per product: ``files`` holds
    ``_product_members`` as (path, content) structs — the input shape of
    ``sinks.write_product_zips``. ``run`` does not use it: its kernel
    writes the same members straight into each zip."""

    def encode(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield pd.DataFrame([
                {"base_name": row["product_name"], "files": [
                    {"path": p, "content": c} for p, c in _product_members(row)
                ]}
                for row in pdf.to_dict("records")
            ])

    return products.select(*_PRODUCT_COLUMNS).mapInPandas(
        encode,
        "base_name string, files array<struct<path:string, content:binary>>",
    )


def _utc_now() -> str:
    """The current time in UTC as the document's ``$date`` text."""
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def product_document(row: dict, updated_at: str) -> dict:
    """One product's metadata document: the title, the clipped extent's
    envelope → polygon ring (REF:438) as GeoJSON (:451), the climatology
    window's ``$date`` bounds, the run's ``updatedAt`` and
    ``footprint_crs``, in that key order; a null field is left out. The
    footprint is in the grid's CRS, named by ``footprint_crs``; nothing
    is reprojected, so no reprojection tolerance applies. The reference
    reprojects it to WGS84 (:434–439); ROADMAP item 2 holds that step.
    ``row`` is one record of a pandas batch of product rows, its extent
    the clipped one."""
    x0, y0 = row["xllcorner"], row["yllcorner"]
    x1 = x0 + row["width"] * row["cellsize"]
    y1 = y0 + row["height"] * row["cellsize"]
    doc = {
        "title": row["product_name"],
        "geojson": {
            "type": "Polygon",
            "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
        },
        "dateMin": {"$date": f"{START_DATE}T00:00:00Z"},
        "dateMax": {"$date": f"{STOP_DATE}T00:00:00Z"},
        "updatedAt": {"$date": updated_at},
        "footprint_crs": row["crs"],
    }
    return {k: v for k, v in doc.items() if v is not None}


_DOCUMENT_COLUMNS = (
    "product_name", "width", "height", "xllcorner", "yllcorner", "cellsize", "crs",
)


def product_metadata(products: DataFrame) -> DataFrame:
    """(product_name, metadata_json) rows, one per product: the
    ``product_document`` as JSON text, ``updatedAt`` taken once per call
    — the input shape of ``sinks.write_metadata_json``. ``run`` does not
    use it: its kernel writes each product's document from the same
    builder."""
    updated_at = _utc_now()

    def documents(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield pd.DataFrame({
                "product_name": pdf["product_name"],
                "metadata_json": [
                    json.dumps(product_document(row, updated_at))
                    for row in pdf.to_dict("records")
                ],
            })

    return products.select(*_DOCUMENT_COLUMNS).mapInPandas(
        documents, "product_name string, metadata_json string"
    )


# what run's kernel reads of a named product row; it takes the stats itself
_KERNEL_COLUMNS = (
    "product_name", "width", "height", "xllcorner", "yllcorner", "cellsize",
    "nodata_value", "crs", "cells", "wkt",
)


def _package_products(
    named: DataFrame, zip_dir: str, doc_dir: str, upload_base: str | None
) -> DataFrame:
    """``run``'s one kernel over the named product rows:
    ``product_kernel`` clips each row and takes its stats, then, in the
    same worker, its ``_product_members`` are written to
    ``{zip_dir}/{name}.zip`` and its ``product_document`` to
    ``{doc_dir}/{name}.json`` (``sinks.write_zip``/``write_document``),
    with ``updatedAt`` taken once, here on the driver. Returns one
    ``upload_target`` row per product: ``{upload_base}{name}.zip``, or
    null without a base. Lazy: the caller's one action writes the files,
    and a second action over the result would write them again."""
    os.makedirs(zip_dir, exist_ok=True)
    os.makedirs(doc_dir, exist_ok=True)
    updated_at = _utc_now()

    def package_kernel(batches: Iterator) -> Iterator:
        for pdf in product_kernel(batches):
            targets = []
            for row in pdf.to_dict("records"):
                name = row["product_name"]
                write_zip(os.path.join(zip_dir, f"{name}.zip"), _product_members(row))
                write_document(
                    os.path.join(doc_dir, f"{name}.json"),
                    product_document(row, updated_at),
                )
                targets.append(f"{upload_base}{name}.zip" if upload_base else None)
            yield pd.DataFrame({"upload_target": pd.Series(targets, dtype=object)})

    return named.select(*_KERNEL_COLUMNS).mapInPandas(
        package_kernel, "upload_target string"
    )


def run(
    spark: SparkSession,
    file_folder: str,
    output_folder: str,
    output_folder_zipped: str | None = None,
    regions_csv: str | None = None,
    bucket_name: str | None = None,
    s3prefix: str | None = None,
    crs: str = "EPSG:27200",
    strict: bool = False,
    regions_url: str | None = None,
    upload_fs_base: str | None = None,
) -> dict:
    """Execute the pipeline; returns counts for logging/tests.

    ``upload_fs_base``: when set, the zip artifacts are ALSO copied to
    this Hadoop-filesystem URI via ``sinks.upload_artifacts`` —
    ``s3a://bucket/prefix`` on a cluster, ``file:///...`` in the
    offline contract test (same code path, scheme-dispatched). Unset,
    the upload stage stays manifest-only (URI column + parquet
    manifest), matching a dry run."""
    rasters = read_asc(spark, file_folder, crs=crs)
    regions = load_regions(spark, regions_csv, regions_url)
    if strict:
        # decided from the file listing, before any output is written
        bad = unknown_code_grids(rasters).collect()
        if bad:
            n_dropped = len(bad) * _real_regions(regions).count()
            raise ValueError(
                f"strict mode: {n_dropped} grid×region "
                "products dropped by unknown parameter/period codes"
            )
    # a product without a name is dropped (permissive) before the fan-out:
    # a filter on product_name would stop above the clip kernel, which no
    # filter is pushed through, and clip every product it drops
    _, parameter, period = _decoded_names()
    known = rasters.filter(parameter.isNotNull() & period.isNotNull())
    named = _named_fanout(known, regions)

    zip_dir = output_folder_zipped or os.path.join(output_folder, "zips")
    base = upload_prefix(bucket_name, s3prefix, "") if bucket_name else None
    written = _package_products(named, zip_dir, output_folder, base)
    uploads: list[str] = []
    if bucket_name:
        # the filesystem IS the uploader on a cluster (s3a committer):
        # the full manifest lands beside the documents as parquet, and
        # writing it is the action that runs the kernel. The count and a
        # bounded sample for logging (permissive like :77–92) are
        # observed on that same write, in its one job.
        observed = Observation("upload_manifest")
        written.observe(
            observed,
            F.expr("count(1)").alias("products"),
            F.expr("slice(array_sort(collect_list(upload_target)), 1, 10)").alias("sample"),
        ).write.mode("overwrite").parquet(os.path.join(output_folder, "_upload_manifest"))
        metrics = observed.get
        n_products, uploads = metrics["products"], list(metrics["sample"])
    else:
        n_products = len(written.collect())
    upload_result = None
    if upload_fs_base:
        upload_result = upload_artifacts(spark, zip_dir, upload_fs_base)
    return {
        "products": n_products,
        "zips": n_products,
        "metadata_docs": n_products,
        "upload_targets": uploads,
        "n_upload_targets": n_products if bucket_name else 0,
        "uploaded": upload_result["uploaded"] if upload_result else [],
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Climate-grid ETL: convert, clip, name, package, upload."
    )
    ap.add_argument("-f", "--file_folder", required=True)
    ap.add_argument("-o", "--output_folder", required=True)
    ap.add_argument("--output_folder_zipped", default=None)
    ap.add_argument("-r", "--regions_file", default=None,
                    help="CSV whose header is exactly regc_code,"
                         "region_name_ascii,wkt, in that order (any case)")
    ap.add_argument("--regions_url", default=None,
                    help="ArcGIS REST feature-layer URL (REF:184-187); "
                         "takes precedence over --regions_file")
    ap.add_argument("-b", "--bucket_name", default=None)
    ap.add_argument("--s3prefix", default=None)
    ap.add_argument("--crs", default="EPSG:27200")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--upload_fs_base", default=None,
                    help="Hadoop FS URI to copy zips to (s3a://bucket/"
                         "prefix on a cluster; file:///path for local "
                         "contract runs). Unset = manifest-only.")
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark("geospatial-etl-cli")
    result = run(
        spark,
        args.file_folder,
        args.output_folder,
        args.output_folder_zipped,
        args.regions_file,
        args.bucket_name,
        args.s3prefix,
        args.crs,
        args.strict,
        regions_url=args.regions_url,
        upload_fs_base=args.upload_fs_base,
    )
    print(json.dumps({k: v for k, v in result.items()}, indent=2))


if __name__ == "__main__":
    main()
