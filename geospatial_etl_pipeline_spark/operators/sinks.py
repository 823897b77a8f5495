"""Non-relational sinks: the reference's packaging/upload surface.

Re-expresses copy_esrigrid…py's output stages as Spark sinks:

- ``write_product_zips``: bundle a product's sidecar files into one zip,
  excluding ``*.lock`` (:315–346). Each product is one row, zipped in
  the task that holds it, so executors zip their own products in
  parallel with no shuffle — the reference zips serially on one
  machine.
- ``write_metadata_json``: one pretty-printed JSON metadata document per
  product (:496–498, ``indent=4`` preserved).
- ``upload_prefix``: the S3 destination URI builder (:377–406). Real
  uploads just target ``s3a://`` paths — on a cluster the Hadoop S3A
  committer ships the bytes; no boto3-style per-file upload loop exists
  because the filesystem IS the uploader. The permissive-mode flag
  mirrors the reference's missing-boto3 tolerance (:77–92).

Idempotence: outputs are path-keyed and overwritten (the reference sets
``arcpy.env.overwriteOutput=True``, :98), so task retries are safe.
"""

from __future__ import annotations

import json
import os
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame


def write_product_zips(files: DataFrame, out_dir: str) -> int:
    """One ``{out_dir}/{base_name}.zip`` per ``(base_name, files)`` row,
    ``files`` being ``array<struct<path, content>>``: a product and the
    bytes of each of its sidecar files. Lock files are excluded
    (copy_esrigrid…py:331–333). Members are zipped in sorted-path order
    under their base names. Returns #zips written.

    Each row is zipped in the task that holds it: no shuffle, no driver
    involvement, embarrassingly parallel."""
    os.makedirs(out_dir, exist_ok=True)

    def zip_partition(rows: Iterator) -> Iterator:
        n = 0
        for row in rows:
            members = sorted(
                (f for f in row["files"] if not f["path"].endswith(".lock")),
                key=lambda f: f["path"],
            )
            path = os.path.join(out_dir, f"{row['base_name']}.zip")
            with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
                for f in members:
                    zf.writestr(os.path.basename(f["path"]), bytes(f["content"]))
            n += 1
        yield n

    return sum(files.rdd.mapPartitions(zip_partition).collect())


def write_metadata_json(docs: DataFrame, out_dir: str) -> int:
    """One ``{out_dir}/{product_name}.json`` per ``(product_name,
    metadata_json)`` row, pretty-printed with ``indent=4`` exactly like
    the reference (copy_esrigrid…py:496–498). Returns #documents
    written."""
    os.makedirs(out_dir, exist_ok=True)

    def dump_partition(rows: Iterator) -> Iterator:
        n = 0
        for row in rows:
            doc = json.loads(row["metadata_json"])
            path = os.path.join(out_dir, f"{row['product_name']}.json")
            with open(path, "w") as f:
                json.dump(doc, f, indent=4)
            n += 1
        yield n

    return sum(docs.rdd.mapPartitions(dump_partition).collect())


def upload_prefix(bucket: str, prefix: str | None, name: str) -> str:
    """S3 destination URI (copy_esrigrid…py:377–394 semantics): prefix is
    slash-stripped; empty prefix collapses away."""
    clean = (prefix or "").strip("/")
    if clean:
        return f"s3a://{bucket}/{clean}/{name}"
    return f"s3a://{bucket}/{name}"


def upload_artifacts(
    spark,
    src_dir: str,
    dest_base: str,
    tolerate_missing: bool = True,
) -> dict:
    """Object-store upload through the Hadoop FileSystem API — the real
    byte-moving twin of the reference's boto3 loop (copy_esrigrid…py:
    377–406). ``FileSystem.get(URI, conf)`` dispatches on the
    destination SCHEME, so the identical code path serves
    ``s3a://bucket/prefix`` on a cluster (S3A connector),
    ``hdfs://...``, and ``file:///...`` — which is how the contract
    test proves the path end-to-end in a sandbox with no object store:
    same calls, same copy, same overwrite semantics, different scheme.

    Only the ``*.zip`` artifacts are copied; ``*.lock`` files are
    counted as skipped. Reference parity: ``*.lock`` artifacts are
    excluded (:331–333), a
    source directory that is absent or empty is tolerated when
    ``tolerate_missing`` (the reference's permissive mode, :77–92 —
    a pipeline stage that produced nothing must not fail the upload
    stage), and existing destination objects are overwritten (:98).

    Scale note: the per-file loop runs on the driver — correct for the
    reference's hundreds-of-zips workload (the bytes stream JVM-side;
    Python only orchestrates). At thousands of artifacts, land the
    artifacts directly on the destination filesystem instead
    (write_partitioned_parquet/df.write straight to s3a) — uploading
    after the fact is the reference's shape, not the 100 TB one, and
    the docstrings on the parquet sinks say so.

    Returns {"uploaded": [names], "skipped_lock": n, "dest_base": uri}.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dest_base = dest_base.rstrip("/")
    uri = jvm.java.net.URI(dest_base)
    dst_fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    local_fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not os.path.isdir(src_dir):
        if tolerate_missing:
            return {"uploaded": [], "skipped_lock": 0, "dest_base": dest_base}
        raise FileNotFoundError(src_dir)
    dst_fs.mkdirs(hpath(dest_base))
    uploaded: list[str] = []
    skipped_lock = 0
    for name in sorted(os.listdir(src_dir)):
        if name.endswith(".lock"):
            skipped_lock += 1
            continue
        if not name.endswith(".zip"):
            continue
        src = os.path.join(src_dir, name)
        ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
            local_fs, hpath(src), dst_fs, hpath(f"{dest_base}/{name}"),
            False,  # keep the source
            True,   # overwrite (arcpy.env.overwriteOutput=True, REF:98)
            conf,
        )
        if not ok:
            # a failed byte copy ALWAYS raises: tolerate_missing covers
            # a missing SOURCE (the reference's permissive mode), never
            # a destination that silently rejected the write — that
            # would be success-shaped data loss (review finding)
            raise IOError(f"copy failed for {src} -> {dest_base}/{name}")
        uploaded.append(name)
    return {
        "uploaded": uploaded,
        "skipped_lock": skipped_lock,
        "dest_base": dest_base,
    }


def write_partitioned_parquet(
    df: DataFrame,
    out_dir: str,
    partition_cols: list[str],
    target_file_rows: int | None = None,
) -> None:
    """Land results as hive-partitioned parquet — the operational sink
    for pipeline output at scale.

    - ``partitionBy`` gives directory-level partition pruning to every
      downstream reader (the write-side analogue of the scan-side
      pushdown this engine asserts in test_plan_shapes).
    - dynamic partition overwrite replaces ONLY the partitions present
      in ``df`` — an idempotent daily/region backfill never truncates
      sibling partitions (static mode, the default in Spark, would). It
      is a per-write option; the session's conf is left as it was.
    - ``target_file_rows`` bounds BOTH ends of file sizing: repartition
      by the partition columns collapses the fan-in (without it every
      upstream task writes a file into every partition it touches — the
      small-files explosion at 1000 executors), and ``maxRecordsPerFile``
      makes the writer roll a new file every ``target_file_rows`` rows,
      so one-task-per-partition can't produce one giant file either.
    """
    writer = df.write
    if target_file_rows:
        writer = (
            df.repartition(*partition_cols)
            .write.option("maxRecordsPerFile", int(target_file_rows))
        )
    (
        writer.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(out_dir)
    )


def compact_parquet(
    spark,
    in_dir: str,
    out_dir: str,
    target_file_rows: int = 1_000_000,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-files compaction — the maintenance job every long-lived
    100 TB dataset needs (streaming sinks and per-batch appends leave
    thousands of row-dribble files; each file costs a task + a footer
    read downstream). Reads ``in_dir``, rewrites to ``out_dir`` with
    file sizes bounded by ``target_file_rows`` (coalesce to
    ceil(rows/target) tasks — coalesce, not repartition: compaction
    must not pay a full shuffle — plus ``maxRecordsPerFile`` as the
    hard per-file cap). Preserves hive partitioning when
    ``partition_cols`` is given. Returns the row count (one pass,
    reused for sizing). Writes to a NEW directory — atomic swap is the
    caller's move (rename/retarget), never an in-place rewrite."""
    df = spark.read.parquet(in_dir)
    n = df.count()
    ntasks = max(1, -(-n // target_file_rows))
    writer = (
        df.coalesce(ntasks)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", int(target_file_rows))
    )
    if partition_cols:
        # partition layout must survive: group rows back to their
        # partitions (repartition here is unavoidable and keyed)
        writer = (
            df.repartition(*partition_cols)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", int(target_file_rows))
            .partitionBy(*partition_cols)
        )
    writer.parquet(out_dir)
    return n
