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
  (broadcast; region "99" excluded, :271–273) → crop to the region
  polygon's cell window and mask the cells outside it (operators.raster,
  NO_MAINTAIN_EXTENT, :309) → sidecar stats from the clipped row itself
  → product naming via map lookups (:244–251, 292) → per-product zip +
  metadata JSON (operators.sinks) → optional S3 URI targets (:377–406).
  Each product is one row from the fan-out to its zip, carrying its
  region and its name: it is clipped once, and no shuffle moves its
  cells. Each grid is decoded twice: once for its cells, and once more
  in the scan the clip takes its masks' georeference from.

``run`` issues several Spark jobs, not one. Three build the clip's
masks: a second regions broadcast for the fan-out the masks are taken
from, the distinct of its (georeference, polygon) pairs, and the masks'
broadcast. One aggregate fills the products cache and counts the
products with an unknown code. Then the zip sink, the metadata sink and
the upload manifest (write plus a 10-row sample) each run their own job
over it; the upload itself is a driver-side file copy. One strict
``run`` with a bucket and an upload issues 12 Spark jobs (counted
under a job group, ``test_cli``), on perfbench's 96-product etl_grids
job as on the 4-product test fixture.

A region whose polygon misses a grid still makes a product, counted in
strict mode: the clip leaves it 0×0, so its zip holds a 0×0 ``.asc``, a
0×0 ``.tif`` and stats with ``n_cells`` 0 and null min/max/mean, and its
footprint is a point. ``operators.geotiff.decode_cog`` reads such a
``.tif``; other TIFF readers may reject a zero-size image.

Regions come from a local CSV ``regc_code,region_name_ascii,wkt`` (the
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
from .operators.raster import clip_to_polygon, with_raster_stats
from .operators.sinks import upload_prefix, write_metadata_json, write_product_zips
from .sources.asc import asc_text, read_asc


def load_regions(
    spark: SparkSession,
    regions_csv: str | None,
    regions_url: str | None = None,
) -> DataFrame:
    """(regc_code, region_name_ascii, wkt) — hosted feature service
    (REF:184–187, via sources.feature_service), CSV, or pass-through
    default, in that priority order."""
    if regions_url is not None:
        from .sources.feature_service import read_feature_service

        return read_feature_service(spark, regions_url)
    if regions_csv is None:
        return dim_df(
            spark, {"00": "New Zealand"}, "regc_code", "region_name_ascii"
        ).withColumn("wkt", F.lit(None).cast("string"))
    return (
        spark.read.option("header", "true")
        .csv(regions_csv)
        .select("regc_code", "region_name_ascii", "wkt")
    )


def build_products(
    spark: SparkSession, rasters: DataFrame, regions: DataFrame
) -> DataFrame:
    """rasters × regions → clipped rasters with stats and product names.

    Returns one row per (grid, region) product: the grid's raster
    columns, its region's ``regc_code``/``region_name_ascii``/``wkt``,
    n_cells/min/max/mean and ``product_name``. The region rides on the
    product's own row from the fan-out through the clip, so nothing is
    split back out or joined again. A clip that masks every cell keeps
    its row, with n_cells = 0 and null min/max/mean, so strict mode
    counts it as a product. ``product_name`` is null when the grid's
    parameter or period code is unknown, a too-short filename included
    (the reference raises KeyError, :248, 251)."""
    regions = regions.filter(F.col("regc_code") != "99")  # :271–273
    fanout = rasters.crossJoin(F.broadcast(regions))
    with_stats = with_raster_stats(clip_to_polygon(fanout, F.col("wkt")))

    parsed = parse_base_name(F.col("base_name"))
    parameter = lookup(PARAMETER, parsed["parameter_code"])
    period = lookup(MONTH_SEASON, parsed["period_key"])
    name = F.when(
        parameter.isNotNull() & period.isNotNull(),
        F.concat_ws(
            "_",
            product_name(parameter, parsed["statistic"], period),
            region_title(F.col("region_name_ascii")),
        ),
    )
    return with_stats.select("*", name.alias("product_name"))


def product_files(products: DataFrame) -> DataFrame:
    """(base_name=product, files) rows, one per product: ``files`` holds
    the COG, the clipped .asc grid and its stats sidecar as (path,
    content) structs — the zip sink's input shape."""

    from .operators.geotiff import encode_cog as geotiff_bytes

    def encode(rows: Iterator) -> Iterator:
        import pandas as pd

        for pdf in rows:
            out = []
            for row in pdf.to_dict("records"):
                name = row["product_name"]
                grid = asc_text(
                    row["width"], row["height"], list(row["cells"]),
                    row["xllcorner"], row["yllcorner"], row["cellsize"],
                    row["nodata_value"],
                )
                # the reference's core conversion (:259–261): a REAL
                # Cloud-Optimized GeoTIFF — tiled + deflate + overview
                # pyramid (operators/geotiff.py), openable downstream
                tif = geotiff_bytes(
                    int(row["width"]), int(row["height"]),
                    row["xllcorner"], row["yllcorner"], row["cellsize"],
                    row["nodata_value"], row["crs"], list(row["cells"]),
                )
                # pandas reads a null stat as NaN: write it as null
                stat = {
                    k: None if pd.isna(row[c]) else row[c]
                    for k, c in (("min", "min_val"), ("max", "max_val"),
                                 ("mean", "mean_val"))
                }
                stats = json.dumps(
                    {"n_cells": int(row["n_cells"]), **stat}, indent=4
                )
                out.append({"base_name": name, "files": [
                    {"path": f"{name}.tif", "content": tif},
                    {"path": f"{name}.asc", "content": grid.encode()},
                    {"path": f"{name}.stats.json", "content": stats.encode()},
                ]})
            yield pd.DataFrame(out)

    return products.mapInPandas(
        encode,
        "base_name string, files array<struct<path:string, content:binary>>",
    )


def product_metadata(products: DataFrame) -> DataFrame:
    """(product_name, metadata_json): the nested ``$date`` document of
    :409–502, with the footprint as the clipped extent polygon in the
    grid's CRS (the reference reprojects to WGS84 through arcpy's NTv2
    path, :434–439 — documented tolerance, see functions/geometry)."""
    xmin, ymin = F.col("xllcorner"), F.col("yllcorner")
    xmax = xmin + F.col("width") * F.col("cellsize")
    ymax = ymin + F.col("height") * F.col("cellsize")
    ring = F.array(
        F.array(xmin, ymin), F.array(xmax, ymin),
        F.array(xmax, ymax), F.array(xmin, ymax), F.array(xmin, ymin),
    )
    iso = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    doc = F.struct(
        F.col("product_name").alias("title"),
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(ring).alias("coordinates"),
        ).alias("geojson"),
        F.struct(
            F.date_format(F.to_date(F.lit(START_DATE)), iso).alias("$date")
        ).alias("dateMin"),
        F.struct(
            F.date_format(F.to_date(F.lit(STOP_DATE)), iso).alias("$date")
        ).alias("dateMax"),
        F.struct(
            F.date_format(F.current_timestamp(), iso).alias("$date")
        ).alias("updatedAt"),
        F.col("crs").alias("footprint_crs"),
    )
    return products.select(
        "product_name", F.to_json(doc).alias("metadata_json")
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
    cached = build_products(spark, rasters, regions).cache()

    # one aggregate fills the cache and counts the unnamed products
    n_rows, n_dropped = cached.select(
        F.count(F.lit(1)), F.count_if(F.col("product_name").isNull())
    ).first()
    if strict and n_dropped:
        cached.unpersist()
        raise ValueError(
            f"strict mode: {n_dropped} grid×region "
            "products dropped by unknown parameter/period codes"
        )
    products = cached.filter(F.col("product_name").isNotNull())
    n_products = n_rows - n_dropped

    zip_dir = output_folder_zipped or os.path.join(output_folder, "zips")
    n_zips = write_product_zips(product_files(products), zip_dir)
    n_docs = write_metadata_json(
        product_metadata(products), output_folder
    )
    uploads: list[str] = []
    n_uploads = 0
    if bucket_name:
        # the filesystem IS the uploader on a cluster (s3a committer):
        # the target URI is a COLUMN (stays distributed — no collect of
        # every product name to the driver), and the full manifest lands
        # beside the zips as parquet. The result dict carries a bounded
        # sample for logging (permissive like :77–92).
        base = upload_prefix(bucket_name, s3prefix, "")
        targets = products.select(
            F.concat(
                F.lit(base), F.col("product_name"), F.lit(".zip")
            ).alias("upload_target")
        )
        targets.write.mode("overwrite").parquet(
            os.path.join(output_folder, "_upload_manifest")
        )
        n_uploads = n_products
        uploads = [
            r["upload_target"]
            for r in targets.orderBy("upload_target").limit(10).collect()
        ]
    upload_result = None
    if upload_fs_base:
        from .operators.sinks import upload_artifacts

        upload_result = upload_artifacts(spark, zip_dir, upload_fs_base)
    cached.unpersist()
    return {
        "products": n_products,
        "zips": n_zips,
        "metadata_docs": n_docs,
        "upload_targets": uploads,
        "n_upload_targets": n_uploads,
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
                    help="CSV: regc_code,region_name_ascii,wkt")
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
