"""Reference-parity queries: the arcpy pipeline's semantics, Spark-first.

These re-express the reference's dataflow spine (SURVEY §2a–§2h [REF]
rows) over driver testdata: positional filename parsing, name lookups
(as broadcast dimension joins in q70/q71, as ``naming.lookup`` map
expressions in q72/q75), region-title rewrites, the rasters×regions
fan-out, file-inventory grouping, and the nested ``$date`` metadata
document. q74 runs the pipeline spine itself, ``cli.build_products``.

The inventory is synthesized deterministically from ``part`` (the
testdata has no .asc files); the *operators* — split/element_at parsing,
lookups, concat naming — are exactly the reference's semantics with
citations in functions/naming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.naming import (
    MONTH_SEASON,
    PARAMETER,
    REGION,
    REGION_NAME_ASCII,
    dim_df,
    lookup,
    parse_base_name,
    product_name,
    region_title,
)
from ._util import fan_out, literal_df, sql_literal, t
from .catalog import register

_PARAM_CODES = sorted(PARAMETER)  # 16
_PERIOD_KEYS = sorted(MONTH_SEASON)  # 17

_SQL_PARAM_IDX = ", ".join(
    f"({i}, '{c}')" for i, c in enumerate(_PARAM_CODES)
)
_SQL_PERIOD_IDX = ", ".join(
    f"({i}, '{k}')" for i, k in enumerate(_PERIOD_KEYS)
)
_SQL_PARAM_NAME = ", ".join(f"('{k}', '{v}')" for k, v in sorted(PARAMETER.items()))
_SQL_PERIOD_NAME = ", ".join(
    f"('{k}', '{v}')" for k, v in sorted(MONTH_SEASON.items())
)
_SQL_REGION_NAME = ", ".join(f"('{k}', '{v}')" for k, v in sorted(REGION.items()))
_SQL_REGION_ASCII = ", ".join(
    f"('{k}', '{v}')" for k, v in sorted(REGION_NAME_ASCII.items())
)

# Synthetic grid inventory derived from `part`: filename schema
# <series>_<param>_<a>_<b>_<statistic>_<periodkey> so that parts[1] is the
# parameter code, parts[4] the statistic, parts[-1] the period key
# (copy_esrigrid…py:244–251 | FIXTURES.md A1).
_SQL_INVENTORY = f"""
SELECT p_partkey,
       concat_ws('_', 'vcsn', pc.code, 'a', 'b',
                 CASE p_size % 3 WHEN 0 THEN 'mean' WHEN 1 THEN 'max' ELSE 'min' END,
                 pk.period_key) AS base_name
FROM part
JOIN (VALUES {_SQL_PARAM_IDX}) AS pc(idx, code) ON pc.idx = p_partkey % 16
JOIN (VALUES {_SQL_PERIOD_IDX}) AS pk(idx, period_key) ON pk.idx = p_partkey % 17
"""


def _inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    codes = F.expr(f"array({', '.join(map(sql_literal, _PARAM_CODES))})")
    keys = F.expr(f"array({', '.join(map(sql_literal, _PERIOD_KEYS))})")
    ci, ki = F.col("p_partkey") % 16, F.col("p_partkey") % 17
    stat = (
        F.when(F.col("p_size") % 3 == 0, "mean")
        .when(F.col("p_size") % 3 == 1, "max")
        .otherwise("min")
    )
    # a null or negative index matches no row of the oracle's index
    # tables, so its part is dropped here too
    return p.filter((ci >= 0) & (ki >= 0)).select(
        "p_partkey",
        F.concat_ws(
            "_", F.lit("vcsn"), F.element_at(codes, (ci + 1).cast("int")),
            F.lit("a"), F.lit("b"), stat,
            F.element_at(keys, (ki + 1).cast("int")),
        ).alias("base_name"),
    )


def _named_products(inv: DataFrame) -> DataFrame:
    """``inv``'s grids with their product, parameter and period names
    (copy_esrigrid…py:244–251), by ``naming.lookup``. A grid with an
    unknown code is dropped, as the oracle's inner joins drop it."""
    parsed = parse_base_name(F.col("base_name"))
    parameter = lookup(PARAMETER, parsed["parameter_code"])
    period = lookup(MONTH_SEASON, parsed["period_key"])
    return inv.filter(parameter.isNotNull() & period.isNotNull()).select(
        "p_partkey",
        product_name(parameter, parsed["statistic"], period).alias("product_name"),
        parameter.alias("parameter_name"),
        period.alias("period_name"),
        parsed["statistic"].alias("statistic"),
    )


@register(
    "q70_product_naming",
    tags=("ref-parity", "naming", "join"),
    oracle=f"""
WITH inv AS ({_SQL_INVENTORY})
SELECT inv.p_partkey, inv.base_name,
       string_split(inv.base_name, '_')[2] AS parameter_code,
       string_split(inv.base_name, '_')[5] AS statistic,
       string_split(inv.base_name, '_')[-1] AS period_key,
       concat_ws('_', pn.parameter_name,
                 string_split(inv.base_name, '_')[5], '1991-2020',
                 mn.period_name) AS product_name
FROM inv
JOIN (VALUES {_SQL_PARAM_NAME}) AS pn(code, parameter_name)
  ON pn.code = string_split(inv.base_name, '_')[2]
JOIN (VALUES {_SQL_PERIOD_NAME}) AS mn(period_key, period_name)
  ON mn.period_key = string_split(inv.base_name, '_')[-1]
""",
)
def q70_product_naming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional filename parse + two broadcast lookup joins + product
    name composition (copy_esrigrid…py:244–251). Lookup misses drop, the
    engine's KeyError-equivalent (SURVEY §2c note)."""
    inv = _inventory(spark, sf_dir)
    parsed = parse_base_name(F.col("base_name"))
    pn = dim_df(spark, PARAMETER, "parameter_code", "parameter_name")
    mn = dim_df(spark, MONTH_SEASON, "period_key", "period_name")
    return (
        inv.select("p_partkey", "base_name", *[c.alias(n) for n, c in parsed.items()])
        .join(F.broadcast(pn), ["parameter_code"])
        .join(F.broadcast(mn), ["period_key"])
        .select(
            "p_partkey",
            "base_name",
            "parameter_code",
            "statistic",
            "period_key",
            product_name(
                F.col("parameter_name"), F.col("statistic"), F.col("period_name")
            ).alias("product_name"),
        )
    )


@register(
    "q71_region_rewrite",
    tags=("ref-parity", "naming", "filter"),
    oracle=f"""
SELECT ra.regc_code,
       rn.region_name,
       CASE WHEN string_split(ra.name_ascii, ' Region')[1] LIKE 'Area%'
            THEN 'Chatham Islands'
            ELSE string_split(ra.name_ascii, ' Region')[1] END AS region_title
FROM (VALUES {_SQL_REGION_ASCII}) AS ra(regc_code, name_ascii)
JOIN (VALUES {_SQL_REGION_NAME}) AS rn(regc_code, region_name)
  ON rn.regc_code = ra.regc_code
WHERE ra.regc_code <> '99'
""",
)
def q71_region_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region dimension: skip-99 predicate (copy_esrigrid…py:271–273),
    ' Region' suffix strip and 'Area*' -> 'Chatham Islands' rewrite
    (:277–279), code->name lookup join (:275)."""
    ra = dim_df(spark, REGION_NAME_ASCII, "regc_code", "name_ascii")
    rn = dim_df(spark, REGION, "regc_code", "region_name")
    return (
        ra.filter(F.col("regc_code") != "99")
        .join(F.broadcast(rn), "regc_code")
        .select(
            "regc_code",
            "region_name",
            region_title(F.col("name_ascii")).alias("region_title"),
        )
    )


_FIXED_CLOCK = "2026-01-01T00:00:00Z"  # injected 'now' for reproducibility


@register(
    "q72_metadata_documents",
    tags=("ref-parity", "json", "crossjoin"),
    oracle=f"""
WITH inv AS ({_SQL_INVENTORY}),
prod AS (
  SELECT inv.p_partkey,
         concat_ws('_', pn.parameter_name,
                   string_split(inv.base_name, '_')[5], '1991-2020',
                   mn.period_name) AS product_name,
         pn.parameter_name, mn.period_name,
         string_split(inv.base_name, '_')[5] AS statistic,
         CAST(inv.p_partkey % 100 AS INT) AS xmin,
         CAST(inv.p_partkey % 50 AS INT) AS ymin,
         CAST(inv.p_partkey % 100 + 10 AS INT) AS xmax,
         CAST(inv.p_partkey % 50 + 5 AS INT) AS ymax
  FROM inv
  JOIN (VALUES {_SQL_PARAM_NAME}) AS pn(code, parameter_name)
    ON pn.code = string_split(inv.base_name, '_')[2]
  JOIN (VALUES {_SQL_PERIOD_NAME}) AS mn(period_key, period_name)
    ON mn.period_key = string_split(inv.base_name, '_')[-1]
),
reg AS (
  SELECT * FROM (VALUES {_SQL_REGION_NAME}) AS r(regc_code, region_name)
  WHERE regc_code <> '99'
)
SELECT prod.p_partkey, reg.regc_code,
       to_json(struct_pack(
         src := 'climate-grids',
         productRef := concat(prod.product_name, '_', reg.region_name),
         metadata := struct_pack(
           title := concat(prod.product_name, '_', reg.region_name),
           description := concat('Climate raster ', prod.product_name,
                                 ' clipped to ', reg.region_name),
           geojson := struct_pack(
             "type" := 'Polygon',
             coordinates := [[[prod.xmin, prod.ymin], [prod.xmax, prod.ymin],
                              [prod.xmax, prod.ymax], [prod.xmin, prod.ymax],
                              [prod.xmin, prod.ymin]]]
           ),
           dateMin := struct_pack("$date" := '1991-01-01T00:00:00Z'),
           dateMax := struct_pack("$date" := '2020-12-31T00:00:00Z'),
           version := 1,
           updatedAt := struct_pack("$date" := '{_FIXED_CLOCK}'),
           parameter := prod.parameter_name,
           period := prod.period_name,
           statistic := prod.statistic,
           region := reg.region_name
         )
       ))::VARCHAR AS metadata_json
FROM prod, reg
""",
)
def q72_metadata_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's nested metadata document (copy_esrigrid…py:474–490)
    as a declarative plan: products × regions cross join (the reference's
    per-file-per-region fan-out, :229–270), GeoJSON envelope polygon ring
    (:438–451), Mongo-extended ``$date`` wrappers (:481–484), fixed
    climatology window (:110–117), injected clock for determinism.

    The whole ×16-region template pipeline is map-side, so on the
    single-file testdata it ran as ONE task; fan_out (r12, guide §2.5)
    spreads the ~320 k-document string assembly across the session and
    is a no-op once the input scan carries real splits."""
    prod = _named_products(fan_out(_inventory(spark, sf_dir))).select(
        "*",
        (F.col("p_partkey") % 100).cast("int").alias("xmin"),
        (F.col("p_partkey") % 50).cast("int").alias("ymin"),
        (F.col("p_partkey") % 100 + 10).cast("int").alias("xmax"),
        (F.col("p_partkey") % 50 + 5).cast("int").alias("ymax"),
    )
    reg = dim_df(spark, REGION, "regc_code", "region_name").filter(
        F.col("regc_code") != "99"
    )
    title = F.concat(F.col("product_name"), F.lit("_"), F.col("region_name"))
    # SERIALIZATION FAST PATH: every string below comes from the three
    # literal lookup dims (naming.py's reference tables) or integer
    # arithmetic — provably no JSON metacharacters — so the document is
    # a pure string template. Jackson's generic to_json on this nested
    # struct measured 1.33 s of q72's 1.61 s at sf0.1 (~4 µs/doc ×
    # 320 k docs); the codegen'd concat emits byte-identical output
    # (format pinned by the DuckDB-to_json oracle hash AND the golden
    # byte-compare sink test) for ~5× less. Fields with uncontrolled
    # provenance must go back through to_json.
    q = '"'
    def s(x):  # JSON string literal from a known-clean column
        return F.concat(F.lit(q), x, F.lit(q))
    coords = F.concat(
        F.lit("[[["), F.col("xmin"), F.lit(","), F.col("ymin"),
        F.lit("],["), F.col("xmax"), F.lit(","), F.col("ymin"),
        F.lit("],["), F.col("xmax"), F.lit(","), F.col("ymax"),
        F.lit("],["), F.col("xmin"), F.lit(","), F.col("ymax"),
        F.lit("],["), F.col("xmin"), F.lit(","), F.col("ymin"),
        F.lit("]]]"),
    )
    doc_json = F.concat(
        F.lit('{"src":"climate-grids","productRef":'), s(title),
        F.lit(',"metadata":{"title":'), s(title),
        F.lit(',"description":'),
        s(F.concat(
            F.lit("Climate raster "), F.col("product_name"),
            F.lit(" clipped to "), F.col("region_name"),
        )),
        F.lit(',"geojson":{"type":"Polygon","coordinates":'), coords,
        F.lit('},"dateMin":{"$date":"1991-01-01T00:00:00Z"}'),
        F.lit(',"dateMax":{"$date":"2020-12-31T00:00:00Z"}'),
        F.lit(',"version":1'),
        F.lit(f',"updatedAt":{{"$date":"{_FIXED_CLOCK}"}}'),
        F.lit(',"parameter":'), s(F.col("parameter_name")),
        F.lit(',"period":'), s(F.col("period_name")),
        F.lit(',"statistic":'), s(F.col("statistic")),
        F.lit(',"region":'), s(F.col("region_name")),
        F.lit("}}"),
    )
    return prod.crossJoin(F.broadcast(reg)).select(
        "p_partkey", "regc_code", doc_json.alias("metadata_json")
    )


@register(
    "q73_file_inventory_grouping",
    tags=("ref-parity", "agg", "grouping"),
    oracle=f"""
WITH inv AS ({_SQL_INVENTORY}),
files AS (
  SELECT inv.base_name,
         concat('/in/', string_split(inv.base_name, '_')[2], '/',
                inv.base_name, '.', e.ext) AS path
  FROM inv, (VALUES ('asc'), ('prj'), ('xml'), ('lock')) AS e(ext)
)
SELECT base_name,
       COUNT(*) AS n_files,
       string_agg(path, ',' ORDER BY path) AS file_list
FROM files
WHERE NOT ends_with(path, '.lock')
GROUP BY base_name
""",
)
def q73_file_inventory_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_input_files semantics (copy_esrigrid…py:195–221): recursive
    scan -> extension predicates (keep sidecars, exclude ``*.lock``,
    :331–333) -> group paths by base_name (:203–208) with a deterministic
    sorted file list."""
    inv = _inventory(spark, sf_dir)
    exts = F.array(F.lit("asc"), F.lit("prj"), F.lit("xml"), F.lit("lock"))
    files = inv.select("base_name", F.explode(exts).alias("ext")).select(
        "base_name",
        F.concat(
            F.lit("/in/"),
            F.element_at(F.split("base_name", "_"), 2),
            F.lit("/"),
            F.col("base_name"),
            F.lit("."),
            F.col("ext"),
        ).alias("path"),
    )
    return (
        files.filter(~F.col("path").endswith(".lock"))
        .groupBy("base_name")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.array_join(F.array_sort(F.collect_list("path")), ",").alias(
                "file_list"
            ),
        )
    )


@register(
    "q75_ref_product_inventory",
    tags=("ref-parity", "naming", "crossjoin", "agg"),
    oracle=f"""
WITH inv AS ({_SQL_INVENTORY}),
prod AS (
  SELECT inv.p_partkey,
         concat_ws('_', pn.parameter_name,
                   string_split(inv.base_name, '_')[5], '1991-2020',
                   mn.period_name) AS product_name,
         pn.parameter_name, mn.period_name,
         string_split(inv.base_name, '_')[5] AS statistic
  FROM inv
  JOIN (VALUES {_SQL_PARAM_NAME}) AS pn(code, parameter_name)
    ON pn.code = string_split(inv.base_name, '_')[2]
  JOIN (VALUES {_SQL_PERIOD_NAME}) AS mn(period_key, period_name)
    ON mn.period_key = string_split(inv.base_name, '_')[-1]
),
reg AS (
  SELECT * FROM (VALUES {_SQL_REGION_NAME}) AS r(regc_code, region_name)
  WHERE regc_code <> '99'
)
SELECT concat(prod.product_name, '_', reg.region_name) AS output_name,
       prod.parameter_name AS parameter,
       prod.period_name AS period,
       prod.statistic,
       reg.region_name AS region,
       COUNT(*) AS n_source_grids
FROM prod, reg
GROUP BY output_name, parameter, period, prod.statistic, region
""",
)
def q75_ref_product_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship REF-parity dataflow's RELATIONAL CORE, hash-checked:
    positional parse → name lookups → product naming
    (copy_esrigrid…py:244–251) → products × regions fan-out (:229–270,
    output naming ``{{product}}_{{region}}``, :292) → per-output source
    counts. This is q74 minus the file-based raster decode/clip (which
    stays rows-only + pytest-covered by construction): the naming,
    lookups, skip-99 predicate, fan-out, and inventory grouping are now
    under the external hash gate (VERDICT r1 'What's wrong' #7)."""
    prod = _named_products(_inventory(spark, sf_dir))
    reg = dim_df(spark, REGION, "regc_code", "region_name").filter(
        F.col("regc_code") != "99"
    )
    return (
        prod.crossJoin(F.broadcast(reg))
        .groupBy(
            F.concat(
                F.col("product_name"), F.lit("_"), F.col("region_name")
            ).alias("output_name"),
            F.col("parameter_name").alias("parameter"),
            F.col("period_name").alias("period"),
            F.col("statistic"),
            F.col("region_name").alias("region"),
        )
        .agg(F.count(F.lit(1)).alias("n_source_grids"))
    )


@register(
    "q74_ref_pipeline_e2e",
    tags=("ref-parity", "raster", "e2e"),
    oracle=None,  # file-based raster pipeline -> driver rows-only check
)
def q74_ref_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE dataflow spine (copy_esrigrid…py:225–373)
    as ``cli.build_products`` runs it, over a fixture of three
    deterministic .asc grids and three triangular regions: recursive
    scan + decode (sources.asc), rasters × regions fan-out (:229–270),
    clip to each region polygon, sidecar statistics (:315–339) and
    output names ``{product}_{region}`` (:244–251, 292). Rows-only
    check: the pipeline is file-based, outside the SQL oracle's reach.

    Each call writes every grid of the fixture under a temporary name
    and renames it into place, so a run that died mid-write, or one
    running beside it, leaves no partial fixture behind."""
    import os
    import tempfile

    from ..cli import build_products
    from ..sources.asc import read_asc, write_asc

    base_dir = os.path.join(tempfile.gettempdir(), "geoetl_ref_e2e_fixture")
    os.makedirs(base_dir, exist_ok=True)
    for i, (param, period) in enumerate(
        [("00", "monthly1"), ("02", "annual"), ("09", "seasonal3")]
    ):
        cells = [
            float((r * 7 + c * 3 + i) % 50) for r in range(20) for c in range(20)
        ]
        path = os.path.join(base_dir, f"vcsn_{param}_a_b_mean_{period}.asc")
        tmp = f"{path}.{os.getpid()}.tmp"
        write_asc(tmp, 20, 20, cells)
        os.replace(tmp, path)

    # deterministic triangular "council" footprints in grid space; the
    # dashed REGION names are their own titles (naming.region_title)
    triangles = {
        "01": "POLYGON((1 0, 20 0, 20 6, 1 0))",
        "09": "POLYGON((2 0, 20 0, 20 14, 2 0))",
        "13": "POLYGON((6 0, 20 0, 20 7, 6 0))",
    }
    regions = literal_df(
        spark,
        [(c, REGION[c], REGION[c], wkt) for c, wkt in triangles.items()],
        ["regc_code", "region_name", "region_name_ascii", "wkt"],
    )
    rasters = read_asc(spark, base_dir, crs="EPSG:27200")
    return (
        build_products(spark, rasters, regions)
        .filter(F.col("product_name").isNotNull())
        .select(
            F.col("base_name").alias("grid_name"),
            F.col("product_name").alias("output_name"),
            "region_name",
            F.col("n_cells").cast("bigint"),
            "min_val", "max_val", "mean_val",
        )
    )
