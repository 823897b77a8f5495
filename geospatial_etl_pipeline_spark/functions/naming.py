"""Dimension data and naming semantics from the reference pipeline.

The three lookup dictionaries are *data* shipped inside the reference
script (CC0-licensed), reproduced here as dimension tables:

- ``MONTH_SEASON``: period key -> month/season name
  (copy_esrigrid…py:120–138)
- ``PARAMETER``: 2-digit parameter code -> human name
  (copy_esrigrid…py:141–159)
- ``REGION``: region code -> dashed region name (copy_esrigrid…py:162–181)

Naming semantics re-expressed as Spark columns:

- filename schema: ``parts = base_name.split('_')``; parts[1] is the
  parameter code, parts[4] the statistic, parts[-1] the period key
  (copy_esrigrid…py:244–251)
- product name: ``{param_name}_{statistic}_1991-2020_{period_name}``
  (copy_esrigrid…py:251)
- region title: strip ``" Region"`` suffix; titles starting with
  ``"Area"`` become ``"Chatham Islands"`` (copy_esrigrid…py:277–279)
- region code ``"99"`` is skipped entirely (copy_esrigrid…py:271–273)

Lookup probes in the reference raise KeyError on miss; the engine's
``lookup`` returns NULL instead, so a product with an unknown code gets a
NULL name that ``cli.run`` counts and drops (or fails on, ``--strict``)
— SURVEY §2c note.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MONTH_SEASON: dict[str, str] = {
    "monthly1": "January", "monthly2": "February", "monthly3": "March",
    "monthly4": "April", "monthly5": "May", "monthly6": "June",
    "monthly7": "July", "monthly8": "August", "monthly9": "September",
    "monthly10": "October", "monthly11": "November", "monthly12": "December",
    "seasonal1": "Summer", "seasonal2": "Autumn", "seasonal3": "Winter",
    "seasonal4": "Spring", "annual": "Annual",
}

PARAMETER: dict[str, str] = {
    "00": "Total-Rainfall", "01": "Wet-Days-GT-1mm",
    "02": "Mean-Air-Temperature", "03": "Mean-Daily-Maximum-Air-Temperature",
    "04": "Mean-Daily-Minimum-Air-Temperature", "09": "Total-Sunshine",
    "11": "Mean-Earth-Temperature-At-10cm",
    "17": "Mean-Daily-Global-Irradiance", "23": "Screen-Frost-Days",
    "33": "Mean-Daily-Wind-Speed-At-10m", "34": "Total-Penman-PET",
    "37": "Total-Growing-Degree-Days-GDD-base-5degC",
    "38": "Total-Growing-Degree-Days-GDD-base-10degC",
    "64": "Mean-9AM-RH", "68": "Total-Heating-Degree-Days-HDD-base-18degC",
    "74": "Days-Of-Soil-Moisture-Deficit",
}

REGION: dict[str, str] = {
    "01": "Northland", "02": "Auckland", "03": "Waikato",
    "04": "Bay-Of-Plenty", "05": "Gisborne", "06": "Hawkes-Bay",
    "07": "Taranaki", "08": "Manawatu-Whanganui", "09": "Wellington",
    "12": "West-Coast", "13": "Canterbury", "14": "Otago",
    "15": "Southland", "16": "Tasman", "17": "Nelson", "18": "Marlborough",
    "99": "Chatham-Islands",
}

# Reference-shaped regions fixture (FIXTURES.md A3): the feature-service
# name_ascii values the cursor would return — dashed name + " Region"
# suffix, except the out-of-region sentinel.
REGION_NAME_ASCII: dict[str, str] = {
    code: ("Area Outside Region" if code == "99" else name.replace("-", " ") + " Region")
    for code, name in REGION.items()
}

START_DATE = "1991-01-01"  # copy_esrigrid…py:110
STOP_DATE = "2020-12-31"  # copy_esrigrid…py:115


def dim_df(spark: SparkSession, d: dict[str, str], key: str, value: str) -> DataFrame:
    """A broadcast-sized dimension DataFrame from a lookup dict —
    built as a pure-JVM literal plan (see plans/_util.literal_df: the
    Python-RDD path costs nondeterministic multi-second worker spinups)."""
    from ..plans._util import literal_df

    return literal_df(spark, sorted(d.items()), [key, value])


def lookup(d: dict[str, str], key: Column) -> Column:
    """``d[key]`` as a column, NULL for a key ``d`` lacks (or a NULL key):
    ``try_element_at`` over a ``map(...)`` literal, one SQL expression, so
    a lookup costs no join and no broadcast."""
    from ..plans._util import sql_literal

    pairs = ", ".join(
        f"{sql_literal(k)}, {sql_literal(v)}" for k, v in sorted(d.items())
    )
    return F.try_element_at(F.expr(f"map({pairs})"), key)


def parse_base_name(base: Column) -> dict[str, Column]:
    """Positional filename-schema parse (copy_esrigrid…py:244–251).

    try_element_at: a malformed (too-short) filename parses to NULL
    fields, which ``lookup`` maps to a NULL name — the permissive-mode
    decision of SURVEY §2k.6 (the reference crashes with
    IndexError/KeyError instead). ANSI element_at would throw on the
    whole batch."""
    parts = F.split(base, "_")
    return {
        "parameter_code": F.try_element_at(parts, F.lit(2)),
        "statistic": F.try_element_at(parts, F.lit(5)),
        "period_key": F.try_element_at(parts, F.lit(-1)),
    }


def product_name(param_name: Column, statistic: Column, period_name: Column) -> Column:
    """``{param}_{stat}_1991-2020_{period}`` (copy_esrigrid…py:251)."""
    return F.concat_ws("_", param_name, statistic, F.lit("1991-2020"), period_name)


def region_title(name_ascii: Column) -> Column:
    """Title rewrite (copy_esrigrid…py:277–279)."""
    stripped = F.element_at(F.split(name_ascii, " Region"), 1)
    return F.when(stripped.startswith("Area"), F.lit("Chatham Islands")).otherwise(
        stripped
    )
