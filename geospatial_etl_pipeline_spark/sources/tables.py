"""Parquet table loaders for the driver testdata star schema.

At scale these reads are plain ``spark.read.parquet`` scans: columnar,
predicate-pushdown and column-pruning friendly. Nothing is cached here —
callers decide lifetime; Catalyst prunes columns per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelization for HEAVY per-row pipelines
    (r12, guide §2.5 "input skew: one huge unsplittable file").

    The driver's testdata ships every table as ONE parquet file with ONE
    row group, so every scan is a single task and all scan-side compute
    (tokenize+md5 shingle pipelines, IVF argmax folds) runs on one core
    no matter how many the session has.  When the scan's task count is
    well below the session's parallelism, one exchange of the
    (column-pruned) input fans the map work across the cluster.  The
    partitioning key is a hash of the row's own columns: deterministic
    under task retries (unlike rand()-derived keys, SPARK-38388) and —
    unlike round-robin ``repartition(n)`` — exempt from the
    sort-before-repartition pass (SPARK-23207), which would pay an
    interpreted whole-row sort (array/text comparisons) per exchange.
    Hash occupancy over >=2x-parallelism distinct row hashes is uniform
    to a few percent — imbalance noise, not skew.

    Scale-adaptive, not a local[32] constant: the target is the
    session's ``defaultParallelism`` (so the driver's lower-core bench
    runs fan out to THEIR width), and the guard ``parts * 2 <= target``
    never fires once the input itself carries enough splits — a 100 TB
    table scans as ~800k tasks and passes through untouched, so no
    cluster-scale shuffle is ever added.  Apply ONLY where downstream
    per-row work dominates the scan (similarity/text pipelines); pure
    map-side operators (q39 split, q68 scrub) keep their zero-exchange
    scale contract.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if 0 < parts * 2 <= target:
        return df.repartition(target, F.xxhash64(*df.columns))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain (UTC-instant) TIMESTAMP whatever
    encoding the parquet files use. Seen in the wild across testdata
    regenerations:

    - TIMESTAMP(NANOS): Spark's reader rejects it; with
      ``spark.sql.legacy.parquet.nanosAsLong`` (session policy, set by
      ``session.get_spark`` and ``tune_for_oracle``) it surfaces as ``bigint``
      nanos, which we integer-truncate to micros (integer division only:
      raw nanos exceed 2**53 and would lose precision through a double) —
      matching DuckDB's reader, so oracle comparisons see the same
      instants.
    - timestamp[us] without the UTC flag → Spark ``TIMESTAMP_NTZ``:
      functions like ``unix_micros`` reject NTZ, so cast to TIMESTAMP.
      Value-identical under the UTC-pinned session (session.py sets
      ``spark.sql.session.timeZone=UTC``).
    - plain TIMESTAMP: the cast is a no-op.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype is not None and dtype != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
