"""End-to-end CLI test: synthetic grids + regions CSV → zips + metadata."""

from __future__ import annotations

import json
import os
import re
import zipfile
from datetime import datetime, timezone

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
    # the whole document, key order included, apart from updatedAt
    assert list(doc) == ["title", "geojson", "dateMin", "dateMax",
                         "updatedAt", "footprint_crs"]
    assert {k: v for k, v in doc.items() if k != "updatedAt"} == {
        "title": northland,
        "geojson": {"type": "Polygon", "coordinates": [[
            [0.0, 0.0], [10.0, 0.0], [10.0, 6.0], [0.0, 6.0], [0.0, 0.0]]]},
        "dateMin": {"$date": "1991-01-01T00:00:00Z"},
        "dateMax": {"$date": "2020-12-31T00:00:00Z"},
        "footprint_crs": "EPSG:27200",
    }

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
    # the count and the sample are observed on the manifest's write
    assert result["n_upload_targets"] == len(result["upload_targets"]) == 4
    assert sorted(result["upload_targets"]) == result["upload_targets"]
    manifest = spark.read.parquet(str(out / "_upload_manifest"))
    assert manifest.columns == ["upload_target"]
    assert manifest.count() == 4


def test_cli_passthrough_without_regions(spark, io_dirs):
    src, out, _ = io_dirs
    out2 = str(out) + "_noregions"
    result = cli.run(spark, str(src), out2)
    assert result["products"] == 2  # one pseudo-region, no clip
    assert result["zips"] == 2


def test_build_products_scans_each_grid_once_and_clips_in_one_kernel(spark, io_dirs):
    """The decode runs in the JVM and the stats come from the clipped
    row itself, so ``read_asc``'s executed plan holds no Python node and
    ``build_products``' holds one ``binaryFile`` scan, one
    ``BroadcastExchange`` (the regions') and one ``MapInPandas``: the
    product kernel that clips each row and takes its stats, fed the
    product rows. Counting the grids reads no file content."""
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
    assert plan.count("FileScan binaryFile") == 1, plan
    # the region rides on its product's row and the names come from map
    # lookups, not joins: the fan-out's is the one broadcast
    assert plan.count("BroadcastExchange") == 1, plan
    nodes = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
    assert len(nodes) == 1, plan
    # the product kernel, fed each product's row with its cells and polygon
    assert "product_kernel(" in nodes[0], nodes[0]
    assert re.search(r"\bcells#", nodes[0]) and re.search(r"\bwkt#", nodes[0]), nodes[0]


def test_cli_run_job_count(spark, io_dirs, tmp_path):
    """One strict ``cli.run`` with a bucket and an upload issues 3 Spark
    jobs:

    1. the strict check's collect of the grids with an unknown code (it
       reads the file listing only);
    2. the regions' broadcast for the fan-out;
    3. the upload manifest's write, which runs the one kernel that clips
       each product, takes its stats and writes its zip and document,
       and observes the count and the sample.

    Reading the regions CSV with its schema runs no job, and the clip
    runs none of its own."""
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
    assert len(jobs) == 3, sorted(jobs)


def _write_plan(spark, path: str) -> str:
    """The physical plan of the session's last SQL execution that wrote
    ``path``, from the SQL status store (kept with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(runs.length())):
        plan = runs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan and path in plan:
            return plan
    raise AssertionError(f"no write of {path}")


def test_cli_run_crosses_into_python_once_per_product(spark, io_dirs, tmp_path):
    """The executed plan of ``run``'s manifest write holds one
    ``MapInPandas``, the kernel that clips, takes the stats and packages
    each product, fed each product's cells and polygon once."""
    src, _, regions = io_dirs
    out = tmp_path / "out"
    cli.run(spark, str(src), str(out), regions_csv=str(regions),
            bucket_name="climate-bucket", strict=True)
    plan = _write_plan(spark, str(out / "_upload_manifest"))
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, plan
    (args,) = set(re.findall(r"^Arguments: (package_kernel\(.*?\))#", plan, re.M))
    assert len(re.findall(r"\bcells#", args)) == 1, args
    assert len(re.findall(r"\bwkt#", args)) == 1, args


def test_cli_updated_at_is_utc_in_any_session_time_zone(spark, io_dirs, tmp_path):
    """``updatedAt`` is UTC whatever the session's time zone."""
    src, _, regions = io_dirs
    auckland = spark.newSession()
    auckland.conf.set("spark.sql.session.timeZone", "Pacific/Auckland")
    out = tmp_path / "out"
    cli.run(auckland, str(src), str(out), regions_csv=str(regions))
    now = datetime.now(timezone.utc)
    docs = [p for p in os.listdir(out) if p.endswith(".json")]
    assert len(docs) == 4
    for d in docs:
        stamp = json.loads((out / d).read_text())["updatedAt"]["$date"]
        updated = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%SZ")
        age = now - updated.replace(tzinfo=timezone.utc)
        assert abs(age.total_seconds()) < 60, (stamp, now)


def test_cli_kernel_matches_the_wrappers(spark, io_dirs, tmp_path):
    """``cli.run``'s one kernel writes the same zips, byte for byte, as
    ``write_product_zips(product_files(...))``, and the same documents,
    apart from ``updatedAt``, as ``write_metadata_json(product_metadata
    (...))``: the two paths share their per-product writers."""
    from geospatial_etl_pipeline_spark.operators.sinks import (
        write_metadata_json,
        write_product_zips,
    )

    src, _, regions = io_dirs
    out, staged = tmp_path / "run", tmp_path / "staged"
    cli.run(spark, str(src), str(out), regions_csv=str(regions),
            crs="EPSG:2193", strict=True)
    products = cli.build_products(
        spark, read_asc(spark, str(src), crs="EPSG:2193"),
        cli.load_regions(spark, str(regions)),
    )
    assert write_product_zips(cli.product_files(products), str(staged / "zips")) == 4
    assert write_metadata_json(cli.product_metadata(products), str(staged)) == 4

    zips = sorted(os.listdir(out / "zips"))
    assert zips == sorted(os.listdir(staged / "zips")) and len(zips) == 4
    for z in zips:
        assert (out / "zips" / z).read_bytes() == (staged / "zips" / z).read_bytes()
    docs = sorted(p for p in os.listdir(out) if p.endswith(".json"))
    assert docs == sorted(p for p in os.listdir(staged) if p.endswith(".json"))
    updated = re.compile(r'"updatedAt": \{\s*"\$date": "[^"]+"\s*\}')
    for d in docs:
        got, want = (out / d).read_text(), (staged / d).read_text()
        assert updated.search(got) and updated.search(want)
        assert updated.sub("", got) == updated.sub("", want)


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
    """Strict mode raises before any output is written, from a check
    that reads the grids' paths and no file content."""
    src, regions = unknown_codes_dir
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="6 grid×region products dropped"):
        cli.run(spark, str(src), str(out), regions_csv=str(regions),
                strict=True, bucket_name="climate-bucket")
    written = [f for _, _, files in os.walk(tmp_path) for f in files]
    assert not [f for f in written if f.endswith((".zip", ".json"))], written

    check = cli.unknown_code_grids(read_asc(spark, str(src)))
    plan = check._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<path:string>" in plan, plan
    assert sorted(r["base_name"] for r in check.collect()) == [
        "short", "vcsn_02_x_y_mean_monthly13", "vcsn_98_x_y_mean_annual"]


def _regions_csv(path, header: str, row: str):
    path.write_text(f"{header}\n{row}\n")
    return str(path)


def test_load_regions_reads_the_csv_by_its_schema(spark, tmp_path):
    """The regions CSV is read with a fixed schema: loading it runs no
    Spark job, a header whose names differ only in case loads, and a
    header in another column order or with another column count fails
    the read."""
    ring = '"POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))"'
    sc = spark.sparkContext
    sc.setJobGroup("test_load_regions", "load_regions")
    try:
        regions = cli.load_regions(spark, _regions_csv(
            tmp_path / "case.csv", "REGC_code,Region_Name_ASCII,WKT",
            f"01,Northland Region,{ring}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("test_load_regions") == []
    assert [tuple(r) for r in regions.collect()] == [
        ("01", "Northland Region", ring.strip('"'))]

    reordered = cli.load_regions(spark, _regions_csv(
        tmp_path / "order.csv", "region_name_ascii,regc_code,wkt",
        f"Northland Region,01,{ring}"))
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        reordered.collect()
    extra = cli.load_regions(spark, _regions_csv(
        tmp_path / "extra.csv", "regc_code,region_name_ascii,wkt,area",
        f"01,Northland Region,{ring},8.0"))
    with pytest.raises(Exception, match="Number of column in CSV header is "
                       "not equal to number of fields in the schema"):
        extra.collect()


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


# q74 runs the pipeline spine (``build_products``) over its own fixture of
# three 20×20 grids and three triangle regions; it has no oracle, so its
# rows are pinned here, floats compared with ==.
Q74_SCHEMA = (
    "struct<grid_name:string,output_name:string,region_name:string,"
    "n_cells:bigint,min_val:double,max_val:double,mean_val:double>"
)
Q74_ROWS = [
    ("vcsn_00_a_b_mean_monthly1",
     "Total-Rainfall_mean_1991-2020_January_Canterbury",
     "Canterbury", 49, 0.0, 49.0, 16.612244897959183),
    ("vcsn_00_a_b_mean_monthly1",
     "Total-Rainfall_mean_1991-2020_January_Northland",
     "Northland", 57, 0.0, 49.0, 19.07017543859649),
    ("vcsn_00_a_b_mean_monthly1",
     "Total-Rainfall_mean_1991-2020_January_Wellington",
     "Wellington", 127, 0.0, 49.0, 25.062992125984252),
    ("vcsn_02_a_b_mean_annual",
     "Mean-Air-Temperature_mean_1991-2020_Annual_Canterbury",
     "Canterbury", 49, 0.0, 49.0, 16.591836734693878),
    ("vcsn_02_a_b_mean_annual",
     "Mean-Air-Temperature_mean_1991-2020_Annual_Northland",
     "Northland", 57, 0.0, 49.0, 19.19298245614035),
    ("vcsn_02_a_b_mean_annual",
     "Mean-Air-Temperature_mean_1991-2020_Annual_Wellington",
     "Wellington", 127, 0.0, 49.0, 24.881889763779526),
    ("vcsn_09_a_b_mean_seasonal3",
     "Total-Sunshine_mean_1991-2020_Winter_Canterbury",
     "Canterbury", 49, 0.0, 42.0, 16.571428571428573),
    ("vcsn_09_a_b_mean_seasonal3",
     "Total-Sunshine_mean_1991-2020_Winter_Northland",
     "Northland", 57, 0.0, 49.0, 18.43859649122807),
    ("vcsn_09_a_b_mean_seasonal3",
     "Total-Sunshine_mean_1991-2020_Winter_Wellington",
     "Wellington", 127, 0.0, 49.0, 24.700787401574804),
]


def _q74(spark):
    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    return catalog.QUERIES["q74_ref_pipeline_e2e"].fn(spark, "")


def test_q74_rows_are_pinned(spark):
    df = _q74(spark)
    assert df.schema.simpleString() == Q74_SCHEMA
    assert sorted(tuple(r) for r in df.collect()) == Q74_ROWS


def test_q74_rewrites_a_partial_fixture(spark, tmp_path, monkeypatch):
    """A run that died after writing one of q74's three grids leaves a
    partial fixture directory; the next run still sees all three grids."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fixture = tmp_path / "geoetl_ref_e2e_fixture"
    fixture.mkdir()
    write_asc(str(fixture / "vcsn_00_a_b_mean_monthly1.asc"), 20, 20,
              [float((r * 7 + c * 3) % 50) for r in range(20) for c in range(20)])
    assert sorted(tuple(r) for r in _q74(spark).collect()) == Q74_ROWS
