"""Esri ASCII grid (.asc) datasource.

The reference consumes ``.asc`` climate rasters found by a recursive
folder walk (copy_esrigrid…py:195–208) and converts them with arcpy
(:259–262). Here the same ingestion is one Spark plan with no Python in
it:

1. ``binaryFile`` scan with ``pathGlobFilter=*.asc`` +
   ``recursiveFileLookup`` — the distributed equivalent of os.walk, with
   partition-parallel IO and automatic small-file packing.
2. JVM expressions that decode each file's bytes into one typed raster
   row (``RASTER_SCHEMA``: georeferencing header + cells array,
   FIXTURES.md A2): ``decode`` to text, ``regexp_extract`` + ``try_cast``
   for the header values, ``split`` + ``transform`` for the cells, and
   ``raise_error`` for a malformed file.

ASC header reference (public format): ncols, nrows, xllcorner/xllcenter,
yllcorner/yllcenter, cellsize, NODATA_value (optional, default -9999);
cells follow in row-major order, row 0 = northernmost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

_KEYS = ("ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
         "yllcenter", "cellsize", "nodata_value")
# The header: the leading lines that hold exactly a key (any case) and
# one value. A line ends at \n, \r\n, \r or the end of the file.
_HEADER = (
    r"^(?:[ \t]*(?i:" + "|".join(_KEYS) + r")[ \t]+\S+[ \t]*(?:\r\n|\r|\n|$))*"
)


def _header_value(key: str) -> str:
    """SQL for ``key``'s value as a double, null when absent or not a
    number. The greedy prefix makes the last occurrence win."""
    pattern = r"(?s)^(?:.*[\r\n])?[ \t]*(?i:" + key + r")[ \t]+(\S+)"
    return f"try_cast(regexp_extract(_header, r'{pattern}', 1) AS double) AS {key}"


def _checked(sql: str) -> str:
    """SQL that fails the job with the row's ``_fault`` message, if any."""
    return f"CASE WHEN _fault IS NULL THEN {sql} ELSE raise_error(_fault) END"


def read_asc(
    spark: SparkSession, input_location: str, crs: str | None = None
) -> DataFrame:
    """Recursive .asc scan -> typed raster rows (one per file).

    ``crs`` mirrors DefineProjection (copy_esrigrid…py:262): a metadata
    assignment, no regridding.

    A ``nan`` cell reads as the grid's ``NODATA_value``: the cells array
    holds no NaN. Reading a decoded column of a malformed file fails the
    job through ``raise_error`` with the file's path in the message: a
    header without numeric ``ncols``, ``nrows``, ``cellsize`` and x/y
    corner or centre, a header value that is not a number, a NaN
    ``NODATA_value``, a cell that is not a number, or a cell count other
    than ncols × nrows. Numbers are read by Spark's string-to-double
    cast. A query that reads no decoded column, such as ``count()``,
    reads no file content.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.asc")
        .option("recursiveFileLookup", "true")
        .load(input_location)
    )
    # One select per stage: the optimizer keeps a stage whose computed
    # column the next stage reads more than once, so each file is
    # decoded once and its header cut once. The stages are SQL text, one
    # JVM call each, where the same plan built with Column functions
    # makes hundreds.
    text = files.selectExpr(
        "regexp_replace(path, '^file:', '') AS path",
        "decode(content, 'US-ASCII') AS _text",
    )
    cut = text.selectExpr(
        "path", "_text", f"regexp_extract(_text, r'{_HEADER}', 0) AS _header"
    )
    parsed = cut.selectExpr(
        "path",
        *[_header_value(k) for k in _KEYS],
        r"""exists(regexp_extract_all(_header, r'(?m)^[ \t]*\S+[ \t]+(\S+)', 1),
                  v -> try_cast(v AS double) IS NULL) AS _bad_value""",
        # the body's whitespace-separated tokens, as str.split() cuts them
        r"""transform(filter(split(substr(_text, length(_header) + 1), r'\s+'),
                             t -> t != ''),
                      t -> try_cast(t AS double)) AS _cells""",
    )
    grid = parsed.selectExpr(
        "path",
        r"regexp_extract(path, r'([^/]*)\.asc$', 1) AS base_name",
        "try_cast(ncols AS int) AS width",
        "try_cast(nrows AS int) AS height",
        "coalesce(xllcenter - cellsize / 2, xllcorner) AS xllcorner",
        "coalesce(yllcenter - cellsize / 2, yllcorner) AS yllcorner",
        "cellsize",
        "coalesce(nodata_value, -9999D) AS nodata_value",
        "_cells",
        "_bad_value",
    )
    fault = grid.selectExpr("*", """CASE
        WHEN _bad_value OR width IS NULL OR height IS NULL
             OR xllcorner IS NULL OR yllcorner IS NULL OR cellsize IS NULL
          THEN concat(path, ': header needs numeric ncols, nrows, cellsize, x, y')
        WHEN isnan(nodata_value) THEN concat(path, ': NODATA_value is NaN')
        WHEN exists(_cells, v -> v IS NULL)
          THEN concat(path, ': a cell is not a number')
        WHEN size(_cells) != CAST(width AS BIGINT) * height
          THEN concat(path, ': expected ',
                      CAST(CAST(width AS BIGINT) * height AS STRING),
                      ' cells, found ', CAST(size(_cells) AS STRING))
        END AS _fault""")
    return fault.select(
        "path",
        "base_name",
        *[F.expr(_checked(c)).alias(c) for c in (
            "width", "height", "xllcorner", "yllcorner", "cellsize",
            "nodata_value",
        )],
        F.lit(crs).cast("string").alias("crs"),
        F.expr(_checked(
            "transform(_cells, v -> CASE WHEN isnan(v) THEN nodata_value ELSE v END)"
        )).alias("cells"),
    )


def asc_text(width: int, height: int, cells: list[float],
             xll: float = 0.0, yll: float = 0.0, cellsize: float = 1.0,
             nodata: float = -9999.0) -> str:
    """Esri ASCII grid encoding of one raster (the inverse of
    ``read_asc``) — used by the CLI sink to emit clipped grids."""
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
