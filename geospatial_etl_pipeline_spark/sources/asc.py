"""Esri ASCII grid (.asc) datasource.

The reference consumes ``.asc`` climate rasters found by a recursive
folder walk (copy_esrigrid…py:195–208) and converts them with arcpy
(:259–262). Here the same ingestion is a two-stage Spark plan:

1. ``binaryFile`` scan with ``pathGlobFilter=*.asc`` +
   ``recursiveFileLookup`` — the distributed equivalent of os.walk, with
   partition-parallel IO and automatic small-file packing.
2. An Arrow-batched ``mapInPandas`` decoder producing one typed raster
   row per file: georeferencing header + cells array (FIXTURES.md A2
   schema).

The decode is per-file Python (the format is line-oriented text), but it
runs executor-side in parallel and emits columnar rows; every operator
downstream of the decode is pure DataFrame.

ASC header reference (public format): ncols, nrows, xllcorner/xllcenter,
yllcorner/yllcenter, cellsize, NODATA_value (optional, default -9999);
cells follow in row-major order, row 0 = northernmost.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

RASTER_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("base_name", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("xllcorner", DoubleType(), False),
        StructField("yllcorner", DoubleType(), False),
        StructField("cellsize", DoubleType(), False),
        StructField("nodata_value", DoubleType(), False),
        StructField("crs", StringType(), True),
        StructField("cells", ArrayType(DoubleType(), False), False),
    ]
)

_HEADER_KEYS = {
    "ncols", "nrows", "xllcorner", "yllcorner", "xllcenter", "yllcenter",
    "cellsize", "nodata_value",
}


def parse_asc_bytes(path: str, content: bytes, crs: str | None) -> dict:
    """Decode one Esri ASCII grid into a raster-struct row dict.

    A ``nan`` cell reads as the grid's ``NODATA_value``: the cells array
    holds no nulls, and Arrow would turn a NaN inside it into one. A
    grid whose ``NODATA_value`` is itself NaN raises ``ValueError``."""
    text = content.decode("ascii", errors="strict")
    header: dict[str, float] = {}
    lines = text.splitlines()
    body_start = 0
    for i, line in enumerate(lines):
        parts = line.split()
        if len(parts) == 2 and parts[0].lower() in _HEADER_KEYS:
            header[parts[0].lower()] = float(parts[1])
            body_start = i + 1
        else:
            break
    ncols = int(header["ncols"])
    nrows = int(header["nrows"])
    cellsize = header["cellsize"]
    nodata = header.get("nodata_value", -9999.0)
    if nodata != nodata:
        raise ValueError(f"{path}: NODATA_value is NaN")
    # centers -> corners normalization (both header variants are legal)
    if "xllcenter" in header:
        xll = header["xllcenter"] - cellsize / 2.0
    else:
        xll = header["xllcorner"]
    if "yllcenter" in header:
        yll = header["yllcenter"] - cellsize / 2.0
    else:
        yll = header["yllcorner"]
    cells = [
        c if c == c else nodata  # NaN -> NODATA
        for line in lines[body_start:]
        for c in map(float, line.split())
    ]
    if len(cells) != ncols * nrows:
        raise ValueError(
            f"{path}: expected {ncols * nrows} cells, found {len(cells)}"
        )
    base = os.path.splitext(os.path.basename(path))[0]
    return {
        "path": path,
        "base_name": base,
        "width": ncols,
        "height": nrows,
        "xllcorner": xll,
        "yllcorner": yll,
        "cellsize": cellsize,
        "nodata_value": nodata,
        "crs": crs,
        "cells": cells,
    }


def read_asc(
    spark: SparkSession, input_location: str, crs: str | None = None
) -> DataFrame:
    """Recursive .asc scan -> typed raster rows (one per file).

    ``crs`` mirrors DefineProjection (copy_esrigrid…py:262): a metadata
    assignment, no regridding.
    """
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.asc")
        .option("recursiveFileLookup", "true")
        .load(input_location)
        .select("path", "content")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                parse_asc_bytes(p.removeprefix("file:"), c, crs)
                for p, c in zip(pdf["path"], pdf["content"])
            ]
            yield pd.DataFrame(rows)

    return binf.mapInPandas(decode, RASTER_SCHEMA)


def asc_text(width: int, height: int, cells: list[float],
             xll: float = 0.0, yll: float = 0.0, cellsize: float = 1.0,
             nodata: float = -9999.0) -> str:
    """Esri ASCII grid encoding of one raster (the inverse of
    parse_asc_bytes) — used by the CLI sink to emit clipped grids."""
    lines = [
        f"ncols {width}\nnrows {height}\nxllcorner {xll}\n"
        f"yllcorner {yll}\ncellsize {cellsize}\nNODATA_value {nodata}\n"
    ]
    for r in range(height):
        lines.append(
            " ".join(str(v) for v in cells[r * width : (r + 1) * width]) + "\n"
        )
    return "".join(lines)


def write_asc(path: str, width: int, height: int, cells: list[float],
              xll: float = 0.0, yll: float = 0.0, cellsize: float = 1.0,
              nodata: float = -9999.0) -> None:
    """Test helper: materialize a synthetic .asc file."""
    with open(path, "w") as f:
        f.write(asc_text(width, height, cells, xll, yll, cellsize, nodata))
