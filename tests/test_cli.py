"""End-to-end CLI test: synthetic grids + regions CSV → zips + metadata."""

from __future__ import annotations

import json
import os
import re
import zipfile

import pytest

from geospatial_etl_pipeline_spark import cli
from geospatial_etl_pipeline_spark.sources.asc import read_asc, write_asc


@pytest.fixture(scope="module")
def io_dirs(tmp_path_factory):
    src = tmp_path_factory.mktemp("asc_in")
    out = tmp_path_factory.mktemp("asc_out")
    # two grids with valid parameter (01) / period (monthly2, annual) codes
    for i, (param, period) in enumerate([("01", "monthly2"), ("02", "annual")]):
        cells = [float((r * 5 + c + i) % 30) for r in range(10) for c in range(10)]
        write_asc(str(src / f"vcsn_{param}_x_y_mean_{period}.asc"), 10, 10, cells)
    regions = src / "regions.csv"
    regions.write_text(
        "regc_code,region_name_ascii,wkt\n"
        '01,Northland Region,"POLYGON((0 0, 10 0, 10 6, 0 6, 0 0))"\n'
        '09,Wellington Region,"POLYGON((2 2, 8 2, 8 9, 2 9, 2 2))"\n'
        "99,Area Outside Region,\n"
    )
    return src, out, regions


def test_cli_end_to_end(spark, io_dirs):
    src, out, regions = io_dirs
    result = cli.run(
        spark,
        str(src),
        str(out),
        regions_csv=str(regions),
        bucket_name="climate-bucket",
        s3prefix="/products/",
        strict=True,
    )
    # 2 grids x 2 real regions (99 excluded)
    assert result["products"] == 4
    assert result["zips"] == 4
    assert result["metadata_docs"] == 4

    zips = sorted(os.listdir(out / "zips"))
    assert len(zips) == 4 and all(z.endswith(".zip") for z in zips)
    with zipfile.ZipFile(out / "zips" / zips[0]) as zf:
        names = sorted(zf.namelist())
        assert names[0].endswith(".asc") and names[1].endswith(".stats.json")
        assert names[2].endswith(".tif")
        stats = json.loads(zf.read(names[1]))
        assert stats["n_cells"] > 0
        # the .tif is a REAL Cloud-Optimized GeoTIFF: tiled, deflated,
        # with an overview pyramid (round-trips through our decoder)
        from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

        tif = decode_cog(zf.read(names[2]))
        assert tif["width"] == 10 and tif["crs"] == "EPSG:27200"
        assert tif["tile_px"] % 16 == 0
        assert len(tif["overviews"]) >= 1
        assert all(o["reduced_resolution"] for o in tif["overviews"])

    # the clip crops to the polygon's window (NO_MAINTAIN_EXTENT): the
    # Northland polygon spans the grid's width and y 0-6 of its 0-10
    northland = next(z[: -len(".zip")] for z in zips if z.endswith("_Northland.zip"))
    with zipfile.ZipFile(out / "zips" / f"{northland}.zip") as zf:
        tif = decode_cog(zf.read(f"{northland}.tif"))
    assert (tif["width"], tif["height"]) == (10, 6)
    doc = json.loads((out / f"{northland}.json").read_text())
    ring = doc["geojson"]["coordinates"][0]
    assert {y for _, y in ring} == {0.0, 6.0}
    assert {x for x, _ in ring} == {0.0, 10.0}

    docs = sorted(p for p in os.listdir(out) if p.endswith(".json"))
    assert len(docs) == 4
    meta = json.loads((out / docs[0]).read_text())
    assert meta["geojson"]["type"] == "Polygon"
    assert "$date" in meta["dateMin"] and "$date" in meta["updatedAt"]
    # product name carries the dim-decoded parts + region title
    assert any("Northland" in d or "Wellington" in d for d in docs)

    # upload targets honor the slash-stripped prefix (REF:377-394)
    assert result["upload_targets"][0].startswith(
        "s3a://climate-bucket/products/"
    )


def test_cli_passthrough_without_regions(spark, io_dirs):
    src, out, _ = io_dirs
    out2 = str(out) + "_noregions"
    result = cli.run(spark, str(src), out2)
    assert result["products"] == 2  # one pseudo-region, no clip
    assert result["zips"] == 2


def test_build_products_crosses_python_once(spark, io_dirs):
    """The decode runs in the JVM and the stats come from the clipped
    row itself, so the executed plan of ``build_products`` holds one
    ``MapInPandas``, the clip's, and ``read_asc``'s holds none. Counting
    the grids reads no file content."""
    src, _, regions = io_dirs
    rasters = read_asc(spark, str(src))
    read_plan = rasters._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in read_plan, read_plan
    assert read_plan.count("decode(") == 1, read_plan
    count_plan = (
        rasters.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<>" in count_plan, count_plan

    products = cli.build_products(
        spark, rasters, cli.load_regions(spark, str(regions))
    )
    plan = products._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
    assert len(nodes) == 1, plan
    # the clip's mask kernel, fed the distinct (georeference, polygon)
    # pairs: no product's cells reach it
    assert "window_masks(" in nodes[0], nodes[0]
    assert not re.search(r"\bcells#", nodes[0]), nodes[0]
    # three broadcasts: the regions for the fan-out; the regions again
    # for the pairs' fan-out, which reads only the polygons and so is
    # not reused; and the masks, which join back onto the products. The
    # region rides on its product's row and the names come from map
    # lookups, not joins.
    assert plan.count("BroadcastExchange") == 3, plan


def test_cli_run_job_count(spark, io_dirs, tmp_path):
    """One strict ``cli.run`` with a bucket and an upload issues 12 Spark
    jobs: the regions CSV's header and its broadcast, three for the
    clip's masks (the regions' broadcast for the pairs' fan-out, the
    pairs' distinct and the masks' broadcast), three that fill the
    products cache and count it (adaptive execution runs the cache, the
    partial and the final aggregate as jobs of their own), the zips, the
    metadata documents, and the upload manifest and its sample."""
    src, _, regions = io_dirs
    sc = spark.sparkContext
    sc.setJobGroup("test_cli_run_job_count", "one cli.run")
    try:
        cli.run(
            spark, str(src), str(tmp_path / "out"),
            regions_csv=str(regions), bucket_name="climate-bucket",
            strict=True, upload_fs_base=f"file://{tmp_path / 'uploaded'}",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_cli_run_job_count")
    assert len(jobs) == 12, sorted(jobs)


@pytest.fixture(scope="module")
def unknown_codes_dir(tmp_path_factory):
    """A valid grid beside a grid of unknown parameter (98), one of
    unknown period (monthly13) and a filename too short to parse."""
    src = tmp_path_factory.mktemp("unknown_in")
    cells = [float(v % 7) for v in range(16)]
    for stem in ("vcsn_01_x_y_mean_monthly2", "vcsn_98_x_y_mean_annual",
                 "vcsn_02_x_y_mean_monthly13", "short"):
        write_asc(str(src / f"{stem}.asc"), 4, 4, cells)
    regions = src / "regions.csv"
    regions.write_text(
        "regc_code,region_name_ascii,wkt\n"
        '01,Northland Region,"POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))"\n'
        '09,Wellington Region,"POLYGON((1 1, 3 1, 3 4, 1 4, 1 1))"\n'
    )
    return src, regions


def test_cli_permissive_drops_unknown_codes(spark, unknown_codes_dir, tmp_path):
    src, regions = unknown_codes_dir
    out = tmp_path / "out"
    result = cli.run(spark, str(src), str(out), regions_csv=str(regions),
                     bucket_name="climate-bucket")
    want = {f"Wet-Days-GT-1mm_mean_1991-2020_February_{r}"
            for r in ("Northland", "Wellington")}
    assert result["products"] == result["zips"] == 2
    assert result["metadata_docs"] == result["n_upload_targets"] == 2
    assert {z[: -len(".zip")] for z in os.listdir(out / "zips")} == want
    assert {d[: -len(".json")] for d in os.listdir(out)
            if d.endswith(".json")} == want


def test_cli_strict_raises_on_unknown_codes(spark, unknown_codes_dir, tmp_path):
    src, regions = unknown_codes_dir
    with pytest.raises(ValueError, match="6 grid×region products dropped"):
        cli.run(spark, str(src), str(tmp_path / "out"),
                regions_csv=str(regions), strict=True)


def test_cli_region_that_misses_the_grid_ships_a_0x0_product(spark, tmp_path):
    """A region whose polygon misses the grid still makes a product: a
    0×0 .asc and a 0×0 .tif, with n_cells = 0 and null min/max/mean, and
    strict mode counts it."""
    from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

    src, out = tmp_path / "in", tmp_path / "out"
    src.mkdir()
    write_asc(str(src / "vcsn_01_x_y_mean_monthly2.asc"), 4, 4,
              [float(v) for v in range(16)])
    regions = src / "regions.csv"
    regions.write_text(
        "regc_code,region_name_ascii,wkt\n"
        '01,Northland Region,"POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))"\n'
        '09,Wellington Region,"POLYGON((40 40, 44 40, 44 44, 40 40))"\n'
    )
    result = cli.run(spark, str(src), str(out), regions_csv=str(regions),
                     strict=True)
    assert result["products"] == result["zips"] == result["metadata_docs"] == 2

    name = "Wet-Days-GT-1mm_mean_1991-2020_February_Wellington"
    with zipfile.ZipFile(out / "zips" / f"{name}.zip") as zf:
        assert sorted(zf.namelist()) == [
            f"{name}.asc", f"{name}.stats.json", f"{name}.tif"]
        stats = json.loads(zf.read(f"{name}.stats.json"))
        assert stats == {"n_cells": 0, "min": None, "max": None, "mean": None}
        asc = zf.read(f"{name}.asc").decode()
        tif = decode_cog(zf.read(f"{name}.tif"))
    assert asc.startswith("ncols 0\nnrows 0\n")
    assert (tif["width"], tif["height"], list(tif["cells"])) == (0, 0, [])
