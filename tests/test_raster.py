"""Unit tests: ASC reader + raster operators on synthetic grids."""

from __future__ import annotations

import math
import struct

import pytest

from geospatial_etl_pipeline_spark.operators.geotiff import encode_cog
from geospatial_etl_pipeline_spark.operators.raster import (
    clip_to_bbox,
    clip_to_polygon,
    raster_stats,
    resample_nearest,
    with_raster_stats,
)
from geospatial_etl_pipeline_spark.sources.asc import read_asc, write_asc


@pytest.fixture(scope="module")
def asc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("grids")
    sub = d / "07"
    sub.mkdir()
    # 10x10 grid, cells 0..99 row-major (row 0 = top), extent [0,10)x[0,10)
    write_asc(str(sub / "grid_02_a_b_mean_monthly7.asc"), 10, 10,
              [float(v) for v in range(100)])
    # 4x4 grid with NODATA holes
    cells = [1.0, -9999.0, 3.0, 4.0,
             5.0, 6.0, -9999.0, 8.0,
             9.0, 10.0, 11.0, 12.0,
             13.0, 14.0, 15.0, 16.0]
    write_asc(str(d / "small.asc"), 4, 4, cells)
    (d / "ignore.txt").write_text("not a grid")
    return str(d)


@pytest.fixture(scope="module")
def rasters(spark, asc_dir):
    return read_asc(spark, asc_dir, crs="EPSG:27200").cache()


def _cog(row, **kw) -> bytes:
    """geotiff.encode_cog on one collected raster row, the way
    cli.product_files calls it."""
    return encode_cog(
        row["width"], row["height"], row["xllcorner"], row["yllcorner"],
        row["cellsize"], row["nodata_value"], row["crs"], list(row["cells"]),
        **kw,
    )


# Hand-written headers the writer never produces: (file text, expected
# (width, height, xllcorner, yllcorner, cellsize, nodata_value), cells).
_ASC_EDGE_CASES = {
    "nan_cell": (
        "ncols 2\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n"
        "NODATA_value -1\n1 nan\nNaN 4\n",
        (2, 2, 0.0, 0.0, 1.0, -1.0), [1.0, -1.0, -1.0, 4.0],
    ),
    "centre_mixed_case": (
        "NCOLS 3\nNRows 1\nXllCenter 10.5\nyLLcenter 20.25\nCellSize 0.5\n"
        "nodata_VALUE -99\n-0.0 3e2 1e-300\n",
        (3, 1, 10.25, 20.0, 0.5, -99.0), [-0.0, 300.0, 1e-300],
    ),
    "no_nodata_no_final_newline": (
        "ncols 2\nnrows 1\nxllcorner 1.5\nyllcorner -2\ncellsize 2\n7 -9999",
        (2, 1, 1.5, -2.0, 2.0, -9999.0), [7.0, -9999.0],
    ),
    "crlf": (
        "ncols 2\r\nnrows 2\r\nxllcorner 0\r\nyllcorner 0\r\ncellsize 1\r\n"
        "NODATA_value -9999\r\n1 2\r\n3 4\r\n",
        (2, 2, 0.0, 0.0, 1.0, -9999.0), [1.0, 2.0, 3.0, 4.0],
    ),
}


def test_read_asc_recursive_scan(spark, rasters, tmp_path):
    rows = {r["base_name"]: r for r in rasters.collect()}
    assert set(rows) == {"grid_02_a_b_mean_monthly7", "small"}
    g = rows["grid_02_a_b_mean_monthly7"]
    assert (g["width"], g["height"]) == (10, 10)
    assert g["cells"][0] == 0.0 and g["cells"][99] == 99.0
    assert g["crs"] == "EPSG:27200"
    assert rows["small"]["nodata_value"] == -9999.0

    for name, (text, _, _) in _ASC_EDGE_CASES.items():
        (tmp_path / f"{name}.asc").write_bytes(text.encode())
    edge = {r["base_name"]: r for r in read_asc(spark, str(tmp_path)).collect()}
    assert set(edge) == set(_ASC_EDGE_CASES)
    fields = ("width", "height", "xllcorner", "yllcorner", "cellsize",
              "nodata_value")
    for name, (_, header, cells) in _ASC_EDGE_CASES.items():
        row = edge[name]
        assert row["path"] == str(tmp_path / f"{name}.asc")
        assert tuple(row[f] for f in fields) == header, name
        assert len(row["cells"]) == len(cells), name
        assert all(map(_same, row["cells"], cells)), (name, row["cells"])


def test_raster_stats_excludes_nodata(rasters):
    stats = {r["base_name"]: r for r in raster_stats(rasters).collect()}
    s = stats["small"]
    vals = [1, 3, 4, 5, 6, 8, 9, 10, 11, 12, 13, 14, 15, 16]
    assert s["n_cells"] == 14
    assert s["min_val"] == 1.0 and s["max_val"] == 16.0
    assert s["mean_val"] == pytest.approx(sum(vals) / 14)
    g = stats["grid_02_a_b_mean_monthly7"]
    assert g["n_cells"] == 100 and g["mean_val"] == pytest.approx(49.5)


def test_clip_to_bbox_center_semantics(spark, rasters):
    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    out = clip_to_bbox(big, 2.0, 3.0, 5.0, 7.0).collect()[0]
    # columns with centers in [2,5): c=2,3,4 ; rows with centers in [3,7):
    # y centers are 9.5-r ; keep rows r=3..6 (centers 6.5,5.5,4.5,3.5)
    assert (out["width"], out["height"]) == (3, 4)
    assert out["xllcorner"] == 2.0 and out["yllcorner"] == 3.0
    # top-left retained cell = row 3, col 2 -> value 32
    assert out["cells"][:3] == [32.0, 33.0, 34.0]
    assert out["cells"][-3:] == [62.0, 63.0, 64.0]


def test_clip_to_bbox_disjoint_is_empty(rasters):
    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    out = clip_to_bbox(big, 100.0, 100.0, 110.0, 110.0).collect()[0]
    assert out["width"] == 0 and out["cells"] == []


def test_clip_to_polygon_masks_outside(spark, rasters):
    from pyspark.sql import functions as F

    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    # triangle covering the lower-left half (y < x): cell centers with
    # ycenter < xcenter stay, everything else -> NODATA
    tri = "POLYGON((0 0, 10 0, 10 10, 0 0))"
    inputs = big.withColumn("wkt", F.lit(tri)).unionByName(
        big.withColumn("base_name", F.lit("no_polygon"))
        .withColumn("wkt", F.lit(None).cast("string"))
    )
    rows = {r["base_name"]: r for r in clip_to_polygon(inputs, "wkt").collect()}
    # a null polygon passes the raster through unmasked
    assert rows["no_polygon"]["cells"] == [float(v) for v in range(100)]
    out = rows["grid_02_a_b_mean_monthly7"]
    kept = [v for v in out["cells"] if v != -9999.0]
    # 45 centers strictly below the diagonal + 10 centers exactly ON the
    # diagonal (ray-cast even-odd counts these inside for this edge
    # orientation — boundary semantics are formulation-defined)
    assert len(kept) == 55
    # cell (row 0, col 0): center (0.5, 9.5), above the diagonal -> NODATA
    assert out["cells"][0] == -9999.0
    # cell (row 9, col 9): center (9.5, 0.5) inside
    assert out["cells"][99] == 99.0


def test_clip_to_polygon_crops_to_the_window(spark, rasters):
    """The clip shrinks each raster to its polygon's cell window
    (NO_MAINTAIN_EXTENT, :309) and masks the window's outside cells; a
    polygon that misses the grid gives a 0×0 raster with no cells."""
    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    polygons = spark.createDataFrame(
        [("bottom", "POLYGON((0.5 0.5, 5 0.5, 5 5, 0.5 5, 0.5 0.5))"),
         ("tri", "POLYGON((2 2, 8 2, 2 8, 2 2))"),
         ("miss", "POLYGON((100 100, 110 100, 110 110, 100 100))"),
         ("none", None)],
        "region string, wkt string",
    )
    out = clip_to_polygon(big.crossJoin(polygons), "wkt")
    assert out.columns == big.columns + ["region", "wkt"]
    rows = {r["region"]: r for r in out.collect()}
    geo = ("width", "height", "xllcorner", "yllcorner")

    # centres on the bottom edge y = 0.5 are inside: rows 5..9 stay
    bottom = rows["bottom"]
    assert tuple(bottom[k] for k in geo) == (5, 5, 0.0, 0.0)
    assert bottom["cells"] == [float(r * 10 + c) for r in range(5, 10) for c in range(5)]
    # centres (c + 0.5, 9.5 - r) in the 6×6 window at (2, 2): inside
    # strictly below the hypotenuse x + y = 10, i.e. c < r
    tri = rows["tri"]
    assert tuple(tri[k] for k in geo) == (6, 6, 2.0, 2.0)
    assert tri["cells"] == [float(r * 10 + c) if c < r else -9999.0
                            for r in range(2, 8) for c in range(2, 8)]
    miss = rows["miss"]
    assert tuple(miss[k] for k in geo) == (0, 0, 0.0, 10.0)
    assert miss["cells"] == []
    # a null polygon passes through unmasked at full extent
    none = rows["none"]
    assert tuple(none[k] for k in geo) == (10, 10, 0.0, 0.0)
    assert none["cells"] == [float(v) for v in range(100)]


def _plan_metrics(df) -> list[tuple[str, dict]]:
    """(node name, SQL metrics) of ``df``'s executed plan in pre-order,
    through the query stages of adaptive execution."""
    out = []

    def walk(node):
        ms = node.metrics()
        keys = ms.keySet().iterator()
        metrics = {}
        while keys.hasNext():
            k = keys.next()
            metrics[k] = ms.apply(k).value()
        out.append((node.nodeName(), metrics))
        if node.nodeName().endswith("QueryStage"):
            walk(node.plan())
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())

    plan = df._jdf.queryExecution().executedPlan()
    walk(plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan)
    return out


def test_clip_to_polygon_builds_one_mask_per_distinct_pair(spark, tmp_path):
    """3 grids on one georeference × 2 regions are 6 rows but 2 distinct
    (georeference, polygon) pairs: the mask kernel is fed 2 rows, and the
    masks reach all 6."""
    for i in range(3):
        write_asc(str(tmp_path / f"g{i}.asc"), 10, 10, [float(v + i) for v in range(100)])
    polygons = spark.createDataFrame(
        [("a", "POLYGON((0.5 0.5, 5 0.5, 5 5, 0.5 5, 0.5 0.5))"),
         ("b", "POLYGON((2 2, 8 2, 2 8, 2 2))")],
        "region string, wkt string",
    )
    out = clip_to_polygon(read_asc(spark, str(tmp_path)).crossJoin(polygons), "wkt")
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        i = int(r["base_name"][1:])
        if r["region"] == "a":
            want = [float(r_ * 10 + c + i) for r_ in range(5, 10) for c in range(5)]
        else:
            want = [float(r_ * 10 + c + i) if c < r_ else -9999.0
                    for r_ in range(2, 8) for c in range(2, 8)]
        assert r["cells"] == want, (r["base_name"], r["region"])

    nodes = _plan_metrics(out)
    at = [i for i, (name, _) in enumerate(nodes) if name == "MapInPandas"]
    assert len(at) == 1, nodes
    assert nodes[at[0]][1]["pythonNumRowsReceived"] == 2
    # the distinct aggregate under the kernel: the rows the kernel is fed
    fed = next(m["numOutputRows"] for _, m in nodes[at[0] + 1:] if "numOutputRows" in m)
    assert fed == 2, nodes


def _same(a, b) -> bool:
    """Equal, including the sign of zero; None only matches None."""
    if a is None or b is None:
        return a is None and b is None
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


def test_row_stats_equal_grouped_stats(spark, rasters, tmp_path):
    """with_raster_stats (one pass per row) equals raster_stats (explode
    + groupBy) bit for bit, and keeps the all-NODATA rows raster_stats
    drops with n_cells = 0 and null min/max/mean."""
    from pyspark.sql import functions as F

    d = tmp_path / "grids"
    d.mkdir()
    # negative values with long decimals: the mean depends on the
    # summation order
    write_asc(str(d / "negative.asc"), 6, 5,
              [(i * 7919 % 113) * -0.37 + 11.3 for i in range(30)])
    # a maximum and a minimum that are zeros of both signs
    write_asc(str(d / "zero_max.asc"), 3, 2, [-0.0, 0.0, -1.25, 0.0, -0.0, -3.5])
    write_asc(str(d / "zero_min.asc"), 2, 2, [-0.0, 0.0, 2.5, 1.0])
    write_asc(str(d / "all_nodata.asc"), 3, 3, [-9999.0] * 9)
    extra = read_asc(spark, str(d), crs="EPSG:27200")
    polygons = spark.createDataFrame(
        [("tri", "POLYGON((0 0, 10 0, 10 10, 0 0))"),
         ("miss", "POLYGON((100 100, 110 100, 110 110, 100 100))"),
         ("none", None)],
        "region string, wkt string",
    )
    fanout = rasters.unionByName(extra).crossJoin(polygons).withColumn(
        "base_name", F.concat_ws("#", "base_name", "region")
    ).drop("region")
    clipped = clip_to_polygon(fanout, "wkt").cache()
    grouped = {r["base_name"]: r for r in raster_stats(clipped).collect()}
    rows = {r["base_name"]: r for r in with_raster_stats(clipped).collect()}
    clipped.unpersist()

    assert len(rows) == 6 * 3
    empty = {n for n in rows if n.startswith("all_nodata#") or n.endswith("#miss")}
    assert set(grouped) == set(rows) - empty
    for name in empty:
        row = rows[name]
        assert row["n_cells"] == 0
        assert row["min_val"] is row["max_val"] is row["mean_val"] is None
    for name, g in grouped.items():
        row = rows[name]
        assert row["n_cells"] == g["n_cells"] > 0, name
        for col in ("min_val", "max_val", "mean_val"):
            assert _same(row[col], g[col]), (name, col, row[col], g[col])
    assert rows["negative#none"]["min_val"] < 0
    assert rows["zero_max#none"]["max_val"] == 0.0
    assert rows["zero_min#none"]["min_val"] == 0.0


_MALFORMED_ASC = {
    "short_body": ("ncols 2\nnrows 2\nxllcorner 0\nyllcorner 0\n"
                   "cellsize 1\n1 2 3\n", "expected 4 cells, found 3"),
    "nan_nodata": ("ncols 1\nnrows 1\nxllcorner 0\nyllcorner 0\n"
                   "cellsize 1\nNODATA_value nan\n1\n", "NODATA_value is NaN"),
    "no_ncols": ("nrows 1\nxllcorner 0\nyllcorner 0\ncellsize 1\n1\n",
                 "header needs numeric ncols"),
    "bad_nrows": ("ncols 1\nnrows one\nxllcorner 0\nyllcorner 0\n"
                  "cellsize 1\n1\n", "header needs numeric ncols"),
    "no_cellsize": ("ncols 1\nnrows 1\nxllcorner 0\nyllcorner 0\n1\n",
                    "header needs numeric ncols"),
    "bad_token": ("ncols 2\nnrows 1\nxllcorner 0\nyllcorner 0\n"
                  "cellsize 1\n1 2x\n", "a cell is not a number"),
}


def test_read_asc_nan_cells_are_nodata(spark, tmp_path):
    """A nan cell reads as NODATA: the grid decodes, clips, and its
    stats leave that cell out. A malformed grid fails the job with its
    file name in the message, whether ANSI mode is on or off."""
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    d = tmp_path / "nan_grid"
    d.mkdir()
    cells = [float(v) for v in range(1, 17)]
    cells[5] = float("nan")
    write_asc(str(d / "with_nan.asc"), 4, 4, cells)
    grid = read_asc(spark, str(d))
    row = grid.collect()[0]
    assert row["cells"] == cells[:5] + [-9999.0] + cells[6:]

    whole = "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))"
    clipped = clip_to_polygon(grid.withColumn("wkt", F.lit(whole)), "wkt")
    assert clipped.collect()[0]["cells"] == row["cells"]
    s = raster_stats(clipped).collect()[0]
    assert s["n_cells"] == 15
    assert (s["min_val"], s["max_val"]) == (1.0, 16.0)
    assert s["mean_val"] == pytest.approx((136 - 6) / 15)
    assert with_raster_stats(clipped).collect()[0]["n_cells"] == 15

    non_ansi = spark.newSession()
    non_ansi.conf.set("spark.sql.ansi.enabled", "false")
    cases = [(spark, name, text, msg)
             for name, (text, msg) in _MALFORMED_ASC.items()]
    cases.append((non_ansi, "bad_token_non_ansi", *_MALFORMED_ASC["bad_token"]))
    for session, name, text, msg in cases:
        d = tmp_path / name
        d.mkdir()
        (d / f"{name}.asc").write_text(text)
        with pytest.raises(SparkRuntimeException,
                           match=f"{name}.asc: {msg}"):
            read_asc(session, str(d)).collect()


def test_resample_nearest(rasters):
    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    out = resample_nearest(big, 2).collect()[0]
    assert (out["width"], out["height"]) == (5, 5)
    assert out["cellsize"] == 2.0
    assert out["cells"][:5] == [0.0, 2.0, 4.0, 6.0, 8.0]
    assert out["cells"][5:7] == [20.0, 22.0]


def test_encode_cog_layout_is_cloud_optimized(rasters):
    """COG structural contract: tiled IFDs (multiple-of-16 tiles), an
    overview IFD flagged NewSubfileType=1, EVERY IFD serialized before
    any tile data (the range-reader property), each IFD's tags in
    ascending order (TIFF 6.0), and full-res tile data LAST (GDAL's COG
    ordering: zoomed-out reads touch the file front)."""
    from geospatial_etl_pipeline_spark.operators.geotiff import cog_ifds

    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    blob = _cog(big.collect()[0], tile_px=16)
    assert blob[:2] == b"II" and struct.unpack_from("<H", blob, 2)[0] == 42
    ifds = cog_ifds(blob)
    assert len(ifds) >= 2  # full res + >=1 overview
    assert ifds[0][254][0] == 0 and all(t[254][0] == 1 for t in ifds[1:])
    for t in ifds:
        assert t[322][0] % 16 == 0 and t[323][0] % 16 == 0  # tile dims
        assert len(t[324]) == len(t[325]) >= 1  # offsets/bytecounts
    first_tile_off = min(min(t[324]) for t in ifds)
    # IFD region (walk it) must end before the first tile byte
    pos = struct.unpack_from("<I", blob, 4)[0]
    while pos:
        (n,) = struct.unpack_from("<H", blob, pos)
        end = pos + 2 + n * 12 + 4
        assert pos < first_tile_off
        tags = [struct.unpack_from("<H", blob, pos + 2 + i * 12)[0]
                for i in range(n)]
        assert tags == sorted(tags)
        (pos,) = struct.unpack_from("<I", blob, end - 4)
    # full-res tiles live AFTER every overview tile
    assert min(ifds[0][324]) > max(max(t[324]) for t in ifds[1:])


def test_encode_cog_roundtrip_with_overviews(rasters):
    """decode(encode_cog(raster)) recovers level 0 exactly (through the
    deflate + tile + pad path), with its extent, CRS (a projected model)
    and nodata, and each overview equals repeated factor-2
    block_mean_downsample output."""
    from geospatial_etl_pipeline_spark.operators.geotiff import (
        block_mean_downsample,
        cog_ifds,
        decode_cog,
    )

    src = rasters.filter("base_name = 'small'").collect()[0]
    blob = _cog(src, tile_px=16)
    got = decode_cog(blob)
    assert (got["width"], got["height"]) == (src["width"], src["height"])
    assert got["cells"] == list(src["cells"])
    assert got["xllcorner"] == src["xllcorner"]
    assert got["yllcorner"] == pytest.approx(src["yllcorner"])
    assert got["cellsize"] == src["cellsize"]
    assert got["crs"] == "EPSG:27200"
    keys = cog_ifds(blob)[0][34735]
    assert {keys[k]: keys[k + 3] for k in range(4, len(keys), 4)}[1024] == 1
    assert got["nodata_value"] == src["nodata_value"]
    assert len(got["overviews"]) >= 1
    w, h, cv = src["width"], src["height"], list(src["cells"])
    cs = src["cellsize"]
    for o in got["overviews"]:
        w, h, cv = block_mean_downsample(w, h, cv, src["nodata_value"], 2)
        cs *= 2.0
        assert (o["width"], o["height"]) == (w, h)
        assert o["cells"] == cv
        assert o["cellsize"] == cs
        assert o["xllcorner"] == src["xllcorner"]


def test_cog_overview_kernel_equals_distributed_operator(spark, rasters):
    """The per-row overview kernel (geotiff.block_mean_downsample) is
    bit-identical to the distributed JVM operator
    (raster.downsample_block_mean) — nodata exclusion, partial edge
    blocks, and fold order all match, so the COG pyramid IS the
    operator's output."""
    from geospatial_etl_pipeline_spark.operators.geotiff import (
        block_mean_downsample,
    )
    from geospatial_etl_pipeline_spark.operators.raster import (
        downsample_block_mean,
    )

    for factor in (2, 3):
        dist = {
            r["base_name"]: r
            for r in downsample_block_mean(rasters, factor).collect()
        }
        for src in rasters.collect():
            w, h, cv = block_mean_downsample(
                src["width"], src["height"], list(src["cells"]),
                src["nodata_value"], factor,
            )
            d = dist[src["base_name"]]
            assert (d["width"], d["height"]) == (w, h)
            assert list(d["cells"]) == cv, (src["base_name"], factor)


def test_cog_range_read_single_tile(rasters):
    """The range-read property, proven not claimed: reading one tile
    through a fetch(offset, size) callback touches only the IFD walk at
    the file front plus the one tile's byte range — a small fraction of
    the file, never a full scan."""
    from geospatial_etl_pipeline_spark.operators.geotiff import read_cog_tile

    src = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'").collect()[0]
    blob = _cog(src, tile_px=16, compress=False)
    calls: list[tuple[int, int]] = []

    def fetch(off: int, size: int) -> bytes:
        calls.append((off, size))
        return blob[off : off + size]

    t = read_cog_tile(fetch, 0, 0, 0)
    assert (t["width"], t["height"]) == (10, 10)
    for r in range(10):
        assert t["cells"][r * 10 : r * 10 + 10] == list(
            src["cells"][r * 10 : r * 10 + 10]
        )
    # last fetch is the tile itself; everything before it is header walk
    header_reads = calls[:-1]
    tile_off, tile_size = calls[-1]
    assert tile_size == 16 * 16 * 8
    header_end = max(off + size for off, size in header_reads)
    assert header_end <= tile_off  # header walk never crosses into data
    assert sum(size for _, size in header_reads) < len(blob) // 2
    # overview read touches even less: its tiles sit FIRST in the data
    calls.clear()
    o = read_cog_tile(fetch, 1, 0, 0)
    assert (o["width"], o["height"]) == (5, 5)
    assert calls[-1][0] < tile_off  # overview tile precedes full-res data


def test_encode_cog_bigtiff_roundtrip(rasters):
    """The BigTIFF path (magic 43, 8-byte offsets, LONG8 tile arrays —
    the format that lifts classic TIFF's 4 GB ceiling): identical
    round-trip, overview pyramid, and fetch-callback range-read through
    the same readers; auto mode stays classic for small files."""
    from geospatial_etl_pipeline_spark.operators.geotiff import (
        decode_cog,
        read_cog_tile,
    )

    src = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'").collect()[0]
    big = _cog(src, tile_px=16, bigtiff=True)
    assert struct.unpack_from("<H", big, 2)[0] == 43
    got = decode_cog(big)
    assert got["cells"] == list(src["cells"])
    assert got["crs"] == "EPSG:27200"
    assert len(got["overviews"]) >= 1
    # range read works identically through the BigTIFF IFD walk
    calls: list[tuple[int, int]] = []

    def fetch(off: int, size: int) -> bytes:
        calls.append((off, size))
        return big[off : off + size]

    t = read_cog_tile(fetch, 0, 0, 0)
    assert (t["width"], t["height"]) == (10, 10)
    assert t["cells"] == list(src["cells"])
    assert sum(s for _, s in calls) < len(big)  # never a full scan
    # auto mode keeps small artifacts classic
    auto = _cog(src, tile_px=16)
    assert struct.unpack_from("<H", auto, 2)[0] == 42


def test_cog_overviews_share_full_res_top_edge():
    """Odd-dimension pyramid georeferencing: block-mean overviews
    anchor at row 0, so every level's tiepoint must carry the
    FULL-RES top edge — deriving ytop from the overview's own dims
    (yll + lh·lcs) shifted odd levels one source cell north."""
    from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

    w, h = 11, 9  # odd height: overview is 6x5, 5*2 != 9
    cells = [float(i) for i in range(w * h)]
    d = decode_cog(
        encode_cog(w, h, 100.0, 200.0, 1.0, -9999.0, "EPSG:2193", cells,
                   tile_px=16)
    )
    ytop0 = d["yllcorner"] + d["height"] * d["cellsize"]
    assert ytop0 == 200.0 + 9.0
    for o in d["overviews"]:
        assert o["yllcorner"] + o["height"] * o["cellsize"] == pytest.approx(
            ytop0
        )


def test_cog_auto_tile_size_fits_small_rasters():
    """tile_px=None auto-sizes: a 10x10 grid gets one 16x16 tile (a
    sub-kilobyte artifact), not a 512x512 pad-and-deflate; large
    images cap at 512."""
    from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

    blob = encode_cog(10, 10, 0.0, 0.0, 1.0, -9999.0, None, [0.0] * 100)
    d = decode_cog(blob)
    assert d["tile_px"] == 16
    assert len(blob) < 2048
    assert d["cells"] == [0.0] * 100


def test_encode_cog_rejects_bad_tile_size(rasters):
    with pytest.raises(ValueError, match="multiple of 16"):
        encode_cog(4, 4, 0.0, 0.0, 1.0, -9999.0, None, [0.0] * 16, tile_px=17)


@pytest.mark.parametrize("w,h,tp", [(10, 10, 4), (7, 5, 3), (10, 10, 10),
                                    (6, 9, 2), (5, 7, 16)])
def test_tile_partitions_cells_exactly(spark, w, h, tp):
    """Property: tiles partition the raster exactly — reassembling tile
    cells by (ty, tx) recovers the whole grid, extents abut, and edge
    tiles shrink (never pad)."""
    from geospatial_etl_pipeline_spark.operators.raster import tile

    cells = [float(i) for i in range(w * h)]
    df = spark.createDataFrame(
        [("p", "g", w, h, 2.0, 3.0, 1.5, -9999.0, "EPSG:27200", cells)],
        "path string, base_name string, width int, height int, "
        "xllcorner double, yllcorner double, cellsize double, "
        "nodata_value double, crs string, cells array<double>",
    )
    tiles = {t["tile_id"]: t for t in tile(df, tp).collect()}
    ntx, nty = -(-w // tp), -(-h // tp)
    assert len(tiles) == ntx * nty
    # reassemble row-major and compare to the source
    rebuilt = []
    for r in range(h):
        for c in range(w):
            t = tiles[f"{r // tp}_{c // tp}"]
            rebuilt.append(t["cells"][(r % tp) * t["width"] + (c % tp)])
    assert rebuilt == cells
    # geometry: tile (0,0) is the TOP-left; its yll + th*cs == raster ytop
    t00 = tiles["0_0"]
    assert t00["xllcorner"] == 2.0
    assert t00["yllcorner"] + t00["height"] * 1.5 == pytest.approx(3.0 + h * 1.5)
    # all widths/heights sum correctly per band
    assert sum(tiles[f"0_{tx}"]["width"] for tx in range(ntx)) == w
    assert sum(tiles[f"{ty}_0"]["height"] for ty in range(nty)) == h


def test_tile_stats_equal_whole(rasters):
    """raster_stats composes over tiles UNCHANGED: same groupBy
    base_name over tile rows == whole-raster stats (incl. NODATA)."""
    from geospatial_etl_pipeline_spark.operators.raster import tile

    whole = {r["base_name"]: r for r in raster_stats(rasters).collect()}
    tiled = {r["base_name"]: r for r in raster_stats(tile(rasters, 3)).collect()}
    assert set(whole) == set(tiled)
    for name in whole:
        for col in ("n_cells", "min_val", "max_val"):
            assert whole[name][col] == tiled[name][col], (name, col)
        assert tiled[name]["mean_val"] == pytest.approx(whole[name]["mean_val"])
        assert tiled[name]["stddev_val"] == pytest.approx(
            whole[name]["stddev_val"]
        )


def test_tile_clip_bbox_equal_whole(spark, rasters):
    """clip_to_bbox over tiles ≡ clip over the whole raster: clipping
    each tile to the bbox and re-aggregating stats matches clipping the
    un-tiled raster (tiles fully outside collapse to 0-cell rasters)."""
    from geospatial_etl_pipeline_spark.operators.raster import tile

    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    whole = raster_stats(clip_to_bbox(big, 2.0, 3.0, 5.0, 7.0)).collect()[0]
    tiles_clipped = clip_to_bbox(tile(big, 4), 2.0, 3.0, 5.0, 7.0)
    tiled = raster_stats(tiles_clipped).collect()[0]
    assert tiled["n_cells"] == whole["n_cells"]
    assert tiled["min_val"] == whole["min_val"]
    assert tiled["max_val"] == whole["max_val"]
    assert tiled["mean_val"] == pytest.approx(whole["mean_val"])


def test_encode_cog_geographic_crs():
    """An EPSG:4xxx CRS round-trips and is written as a geographic
    model (GTModelTypeGeoKey 1024 = 2, the code in GeographicTypeGeoKey
    2048), not a projected one."""
    from geospatial_etl_pipeline_spark.operators.geotiff import (
        cog_ifds,
        decode_cog,
    )

    blob = encode_cog(2, 2, 10.0, 20.0, 0.5, -1.0, "EPSG:4326",
                      [1.0, 2.0, 3.0, 4.0])
    got = decode_cog(blob)
    assert got["crs"] == "EPSG:4326"
    assert got["cells"] == [1.0, 2.0, 3.0, 4.0]
    keys = cog_ifds(blob)[0][34735]
    geo = {keys[k]: keys[k + 3] for k in range(4, len(keys), 4)}
    assert geo[1024] == 2 and geo[2048] == 4326 and 3072 not in geo
    # tiepoint maps top-left: ytop = yll + h*cs = 21.0
    assert got["yllcorner"] == pytest.approx(20.0)


def test_downsample_block_mean_matches_numpy(rasters):
    import numpy as np

    from geospatial_etl_pipeline_spark.operators.raster import (
        downsample_block_mean,
    )

    big = rasters.filter("base_name = 'grid_02_a_b_mean_monthly7'")
    out = downsample_block_mean(big, 3).collect()[0]
    # 10x10 at factor 3 -> 4x4 output (edge blocks partial)
    assert (out["width"], out["height"]) == (4, 4)
    assert out["cellsize"] == 3.0
    ref = np.arange(100, dtype=np.float64).reshape(10, 10)
    for bj in range(4):
        for bi in range(4):
            block = ref[bj * 3 : bj * 3 + 3, bi * 3 : bi * 3 + 3]
            assert out["cells"][bj * 4 + bi] == pytest.approx(block.mean())


def test_downsample_block_mean_nodata_aware(rasters):
    from geospatial_etl_pipeline_spark.operators.raster import (
        downsample_block_mean,
    )

    small = rasters.filter("base_name = 'small'")
    out = downsample_block_mean(small, 2).collect()[0]
    assert (out["width"], out["height"]) == (2, 2)
    # top-left block {1, NODATA, 5, 6} -> mean of valid = 4.0
    assert out["cells"][0] == pytest.approx((1.0 + 5.0 + 6.0) / 3)
    # top-right block {3, 4, NODATA, 8} -> 5.0
    assert out["cells"][1] == pytest.approx((3.0 + 4.0 + 8.0) / 3)
    # bottom blocks are full
    assert out["cells"][2] == pytest.approx((9 + 10 + 13 + 14) / 4)
    assert out["cells"][3] == pytest.approx((11 + 12 + 15 + 16) / 4)


def test_focal_slope_matches_reference(spark):
    """focal_slope (struct-side Horn 3×3) must reproduce the exact
    integer kernel the declarative twin (q181) hash-checks: cells from
    the same (i*31 + j*17) % 101 formula, slope² compared per pixel
    against a Python reference; border ring must be nodata."""
    from geospatial_etl_pipeline_spark.operators.raster import focal_slope

    w, h, nd = 40, 30, -9999.0
    vals = [[(i * 31 + j * 17) % 101 for i in range(w)] for j in range(h)]
    cells = [float(v) for row in vals for v in row]
    df = spark.createDataFrame(
        [("p", "b", w, h, 0.0, 0.0, 1.0, nd, None, cells)],
        "path string, base_name string, width int, height int,"
        " xllcorner double, yllcorner double, cellsize double,"
        " nodata_value double, crs string, cells array<double>",
    )
    out = focal_slope(df).collect()[0]["cells"]

    def ref(j, i):
        gx = (
            vals[j - 1][i + 1] + 2 * vals[j][i + 1] + vals[j + 1][i + 1]
        ) - (vals[j - 1][i - 1] + 2 * vals[j][i - 1] + vals[j + 1][i - 1])
        gy = (
            vals[j + 1][i - 1] + 2 * vals[j + 1][i] + vals[j + 1][i + 1]
        ) - (vals[j - 1][i - 1] + 2 * vals[j - 1][i] + vals[j - 1][i + 1])
        return float(gx * gx + gy * gy)

    for j in range(h):
        for i in range(w):
            got = out[j * w + i]
            if j in (0, h - 1) or i in (0, w - 1):
                assert got == nd, (j, i, got)
            else:
                assert got == ref(j, i), (j, i, got, ref(j, i))


def test_focal_slope_nodata_propagates(spark):
    """A single nodata hole must poison exactly its 8 neighbors (plus
    itself) — a gradient across missing data is undefined, not zero."""
    from geospatial_etl_pipeline_spark.operators.raster import focal_slope

    w, h, nd = 10, 10, -9999.0
    cells = [1.0] * (w * h)
    cells[5 * w + 5] = nd  # hole at (r=5, c=5)
    df = spark.createDataFrame(
        [("p", "b", w, h, 0.0, 0.0, 1.0, nd, None, cells)],
        "path string, base_name string, width int, height int,"
        " xllcorner double, yllcorner double, cellsize double,"
        " nodata_value double, crs string, cells array<double>",
    )
    out = focal_slope(df).collect()[0]["cells"]
    for r in range(1, h - 1):
        for c in range(1, w - 1):
            got = out[r * w + c]
            if abs(r - 5) <= 1 and abs(c - 5) <= 1:
                assert got == nd, (r, c, got)
            else:
                assert got == 0.0, (r, c, got)  # flat field -> zero slope
