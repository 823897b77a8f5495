"""End-to-end CLI test: synthetic grids + regions CSV → zips + metadata."""

from __future__ import annotations

import json
import os
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


def test_build_products_decodes_and_clips_once(spark, io_dirs):
    """One pass per product: the stats come from the clipped row itself,
    so the executed plan holds one decode and one clip ``MapInPandas``
    (a stats self-join would repeat both on its other side)."""
    src, _, regions = io_dirs
    products = cli.build_products(
        spark, read_asc(spark, str(src)), cli.load_regions(spark, str(regions))
    )
    plan = products._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
    assert len(nodes) == 2, plan
    assert sum("decode(" in ln for ln in nodes) == 1
    assert sum("mask(" in ln for ln in nodes) == 1
