"""``etl_grids``: the reference pipeline's own job through ``cli.run``.

Closed loop of whole runs, one client: each job converts every grid of
the seeded tree, clips it to the 16 region polygons, encodes, zips,
writes metadata documents, writes the upload manifest and copies the
zips through the Hadoop-FS upload loop. A unit is one product.
"""

from __future__ import annotations

import json
import os
import time
import zipfile

import numpy as np

from common import clean, dir_bytes, median, noop
from gen_grids import CELLSIZE, NODATA, XLL, YLL, build_inputs, expected_masked

N_GRIDS = 6
GRID_W = GRID_H = 120
VERTICES = (300, 600)
NODATA_SHARE = 0.05
DECODE_SAMPLE = 3
# the first job runs cold (about 2.3× the wall of the next)
WARM_JOBS = 1
# a window with a single job reports that job alone; two keep the median
# from flipping between one and two samples when the host slows
MIN_JOBS = 2
CRS = "EPSG:27200"


def _job(spark, inputs: dict, out: str) -> dict:
    from geospatial_etl_pipeline_spark import cli

    return cli.run(
        spark,
        inputs["grid_dir"],
        os.path.join(out, "products"),
        output_folder_zipped=os.path.join(out, "zips"),
        regions_csv=inputs["regions_csv"],
        bucket_name="climate-products",
        s3prefix="nz/1991-2020",
        crs=CRS,
        strict=True,
        upload_fs_base="file://" + os.path.join(out, "uploaded"),
    )


def expected_names(inputs: dict) -> dict[str, tuple[str, str]]:
    """product name -> (grid, region code), from the reference's naming
    rules: ``{parameter}_{statistic}_1991-2020_{period}_{region title}``."""
    from geospatial_etl_pipeline_spark.functions.naming import (
        MONTH_SEASON, PARAMETER, REGION_NAME_ASCII)

    out = {}
    for base in inputs["grids"]:
        parts = base.split("_")
        for code in inputs["regions"]:
            if code == "99":
                continue
            title = REGION_NAME_ASCII[code].split(" Region")[0]
            name = f"{PARAMETER[parts[1]]}_{parts[4]}_1991-2020_{MONTH_SEASON[parts[-1]]}_{title}"
            out[name] = (base, code)
    return out


def _check_job(result: dict, inputs: dict, out: str, rng: np.random.Generator) -> tuple[int, list[str]]:
    """Returns (failed products, problems) for one job's outputs."""
    from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

    regions = {c: r for c, r in inputs["regions"].items() if c != "99"}
    expected = len(inputs["grids"]) * len(regions)
    problems = []
    if result["products"] != expected:
        return expected, [f"products {result['products']} != {expected}"]
    names = expected_names(inputs)

    def stems(sub: str, ext: str) -> set[str]:
        return {f[: -len(ext)] for f in os.listdir(os.path.join(out, sub)) if f.endswith(ext)}

    bad = set(names) - (stems("zips", ".zip") & stems("products", ".json") & stems("uploaded", ".zip"))
    if bad:
        problems.append(f"{len(bad)} products lack a zip, a metadata doc or an upload")
    for name in sorted(set(names) - bad):
        with zipfile.ZipFile(os.path.join(out, "zips", name + ".zip")) as zf:
            members = sorted(zf.namelist())
        if members != sorted(name + ext for ext in (".asc", ".stats.json", ".tif")):
            bad.add(name)
            problems.append(f"{name}: zip members {members}")
        with open(os.path.join(out, "products", name + ".json")) as f:
            doc = json.load(f)
        if not all(doc.get(k, {}).get("$date") for k in ("dateMin", "dateMax", "updatedAt")):
            bad.add(name)
            problems.append(f"{name}: metadata $date fields missing")
    # decode_cog round trip on sampled products: the .tif must hold the
    # grid masked to its region polygon, cell for cell, over whatever
    # extent the clip kept, and no cell inside the polygon may lie outside it
    good = sorted(set(names) - bad)
    for name in rng.choice(good, size=min(DECODE_SAMPLE, len(good)), replace=False):
        base, code = names[name]
        try:
            with zipfile.ZipFile(os.path.join(out, "zips", name + ".zip")) as zf:
                tif = zf.read(name + ".tif")
            ok = _matches_masked(decode_cog(tif), expected_masked(inputs["grids"][base], regions[code]))
        except Exception as e:  # an undecodable product is a failed product
            ok = False
            problems.append(f"{name}: {e!r}")
        if not ok:
            bad.add(name)
            problems.append(f"{name}: decoded cells differ from the masked grid")
    return len(bad), problems


def _matches_masked(raster: dict, expected: np.ndarray) -> bool:
    """Whether a decoded raster equals ``expected`` (the full masked grid)
    cropped to the raster's extent, with only NODATA outside that extent."""
    h, w = raster["height"], raster["width"]
    col = round((raster["xllcorner"] - XLL) / CELLSIZE)
    row = round((YLL + GRID_H * CELLSIZE - raster["yllcorner"]) / CELLSIZE) - h
    if col < 0 or row < 0 or col + w > GRID_W or row + h > GRID_H:
        return False
    got = np.asarray(raster["cells"]).reshape(h, w)
    rest = expected.copy()
    rest[row:row + h, col:col + w] = NODATA
    return np.array_equal(got, expected[row:row + h, col:col + w]) and bool((rest == NODATA).all())


def _staged_layers(spark, inputs: dict, work: str, tracer) -> dict:
    """Time each layer of one job by materializing the job's stages one
    at a time through the same public functions ``cli.run`` composes."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark import cli
    from geospatial_etl_pipeline_spark.operators import geotiff, sinks
    from geospatial_etl_pipeline_spark.operators.raster import clip_to_polygon, raster_stats
    from geospatial_etl_pipeline_spark.sources.asc import read_asc

    m = {}
    with tracer.span("sources.asc.read") as s:
        rasters = read_asc(spark, inputs["grid_dir"], crs=CRS).cache()
        rasters.count()
    m["sources.asc.read_s"] = s.elapsed
    m["sources.asc.in_mb"] = inputs["describe"]["asc_input_bytes"] / 2**20
    regions = cli.load_regions(spark, inputs["regions_csv"]).cache()
    regions.count()
    fanout = rasters.crossJoin(F.broadcast(regions.filter(F.col("regc_code") != "99"))).withColumn(
        "base_name", F.concat_ws("#", "base_name", "regc_code"))
    with tracer.span("operators.raster.clip") as s:
        clipped = clip_to_polygon(fanout, F.col("wkt")).cache()
        clipped.count()
    m["operators.raster.clip_s"] = s.elapsed
    # from the clip's own output: the cells it tested (the extent it
    # returns) and the share of them it kept with data
    tested, kept = clipped.select(
        F.sum(F.col("width") * F.col("height")),
        F.sum(F.size(F.filter("cells", lambda c: c != F.col("nodata_value")))),
    ).first()
    m["operators.raster.clip_cells_tested"] = float(tested)
    m["operators.raster.clip_kept_ratio"] = kept / max(tested, 1)
    with tracer.span("operators.raster.stats") as s:
        noop(raster_stats(clipped))
    m["operators.raster.stats_s"] = s.elapsed
    clipped.unpersist()
    with tracer.span("cli.build_products") as s:
        products = cli.build_products(spark, rasters, regions).cache()
        products.count()
    m["cli.build_products_self_s"] = max(
        0.0, s.elapsed - m["operators.raster.clip_s"] - m["operators.raster.stats_s"])
    with tracer.span("cli.product_files") as s:
        files = cli.product_files(products).cache()
        files.count()
    m["cli.product_files_s"] = s.elapsed
    out = os.path.join(work, "staged")
    zip_dir, doc_dir = os.path.join(out, "zips"), os.path.join(out, "products")
    with tracer.span("operators.sinks.zips") as s:
        sinks.write_product_zips(files, zip_dir)
    m["operators.sinks.zips_s"] = s.elapsed
    with tracer.span("operators.sinks.metadata") as s:
        sinks.write_metadata_json(cli.product_metadata(products), doc_dir)
    m["operators.sinks.metadata_s"] = s.elapsed
    with tracer.span("operators.sinks.upload") as s:
        sinks.upload_artifacts(spark, zip_dir, "file://" + os.path.join(out, "uploaded"))
    m["operators.sinks.upload_s"] = s.elapsed
    m["operators.sinks.out_mb"] = (dir_bytes(zip_dir) + dir_bytes(doc_dir)) / 2**20
    m["operators.sinks.files"] = float(len(os.listdir(zip_dir)) + len(os.listdir(doc_dir)))
    sample = products.select("width", "height", "xllcorner", "yllcorner", "cellsize",
                             "nodata_value", "crs", "cells").limit(8).collect()
    times = []
    for r in sample:
        t = time.perf_counter()
        geotiff.encode_cog(r["width"], r["height"], r["xllcorner"], r["yllcorner"],
                           r["cellsize"], r["nodata_value"], r["crs"], list(r["cells"]))
        times.append((time.perf_counter() - t) * 1000)
    m["operators.geotiff.encode_cog_ms"] = median(times)
    for df in (files, products, regions, rasters):
        df.unpersist()
    return m


def run(ctx) -> dict:
    spark = ctx.session.spark
    work = ctx.work
    inputs = ctx.inputs
    rng = np.random.default_rng(ctx.seed + 1)

    warm = []
    for i in range(WARM_JOBS):
        t = time.perf_counter()
        _job(spark, inputs, os.path.join(work, f"warm{i}"))
        warm.append(round(time.perf_counter() - t, 3))
        clean(os.path.join(work, f"warm{i}"))
    ctx.setup_done()

    jobs = []
    t_end = ctx.clock() + ctx.seconds
    i = 0
    ctx.window_start()
    while ctx.clock() < t_end or len(jobs) < MIN_JOBS:
        out = os.path.join(work, f"job{i}")
        t = time.perf_counter()
        try:
            with ctx.tracer.span("cli.run", request=i):
                result = _job(spark, inputs, out)
            jobs.append((out, result, time.perf_counter() - t))
        except Exception as e:  # a failed job counts its products as failed
            jobs.append((out, {"error": repr(e)}, time.perf_counter() - t))
        i += 1
    ctx.window_end()

    per_job = len(inputs["grids"]) * (len(inputs["regions"]) - 1)
    attempted = failed = 0
    problems = []
    for out, result, _ in jobs:
        attempted += per_job
        if "error" in result:
            failed += per_job
            problems.append(result["error"])
            continue
        f, p = _check_job(result, inputs, out, rng)
        failed += f
        problems += p
    done = [(o, r, t) for o, r, t in jobs if "error" not in r]
    walls = [t for _, _, t in done]
    last = done[-1][0] if done else None
    out_bytes = (dir_bytes(os.path.join(last, "zips")) + dir_bytes(os.path.join(last, "products"))
                 if last else 0)
    e2e = {
        "throughput_per_s": (attempted - failed) / sum(t for *_, t in jobs),
        "latency_p50_s": median(walls),
        # a job commits its products when it returns: its wall is their
        # commit latency, and each product commits one grid's cells
        "commit_latency_s": median(walls),
        "commit_rows_per_s": (attempted - failed) * GRID_W * GRID_H / sum(t for *_, t in jobs),
        "out_bytes_per_in_byte": out_bytes / inputs["describe"]["asc_input_bytes"],
    }
    for out, *_ in jobs:
        clean(out)
    layers = _staged_layers(spark, inputs, work, ctx.tracer) if ctx.tracer.enabled else {}
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "samples": len(walls),
        "units": [round(t, 3) for *_, t in jobs],
        "warm": warm,
        "e2e": e2e,
        "layers": layers,
    }


def make_inputs(root: str, seed: int) -> dict:
    return build_inputs(root, seed, N_GRIDS, GRID_W, GRID_H, VERTICES, NODATA_SHARE)


def describe(inputs: dict) -> dict:
    d = dict(inputs["describe"])
    d["vertices_min"] = min(v for c, v in d["vertices"].items() if c != "99")
    d["vertices_max"] = max(v for c, v in d["vertices"].items() if c != "99")
    del d["vertices"]
    return d

