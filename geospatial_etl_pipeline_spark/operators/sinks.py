"""Non-relational sinks: the reference's packaging/upload surface.

Re-expresses copy_esrigrid…py's output stages as Spark sinks:

- ``write_zip``: bundle one product's sidecar files into one zip,
  excluding ``*.lock`` (:315–346), and ``write_document``: one
  pretty-printed JSON metadata document (:496–498, ``indent=4``
  preserved). These are per-product writers: ``cli.run``'s one kernel
  calls both for each product row, in the task that holds it, so
  executors package their own products in parallel with no shuffle —
  the reference packages serially on one machine.
- ``write_product_zips`` and ``write_metadata_json``: the same two
  writers over a DataFrame of ``(base_name, files)`` or
  ``(product_name, metadata_json)`` rows, one Spark job each.
- ``upload_prefix``: the S3 destination URI builder (:377–406).
- ``upload_artifacts``: copies the zips through the Hadoop FileSystem
  API (on a cluster the S3A connector ships the bytes), concurrently,
  one thread per core. Its permissive-mode flag mirrors the
  reference's missing-boto3 tolerance (:77–92).

Idempotence: outputs are path-keyed and overwritten (the reference sets
``arcpy.env.overwriteOutput=True``, :98), so task retries are safe.
"""

from __future__ import annotations

import json
import os
import zipfile
from collections.abc import Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def _member(path: str) -> zipfile.ZipInfo:
    """A deflated zip member under ``path``'s base name with a fixed
    timestamp, so the same bytes in make the same zip out. Permissions
    are those ``writestr`` gives a member named by a string."""
    info = zipfile.ZipInfo(os.path.basename(path), date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o600 << 16
    return info


def write_zip(path: str, files: Iterable[tuple[str, bytes]]) -> None:
    """Write one product's zip at ``path`` from ``(path, content)`` pairs:
    lock files excluded (copy_esrigrid…py:331–333), members in sorted-path
    order under their base names, deflated, with a fixed timestamp, so two
    writes of the same pairs give byte-identical zips. An existing zip is
    overwritten."""
    members = sorted(
        ((p, c) for p, c in files if not p.endswith(".lock")), key=lambda f: f[0]
    )
    with zipfile.ZipFile(path, "w") as zf:
        for member, content in members:
            zf.writestr(_member(member), bytes(content))


def write_document(path: str, document: dict) -> None:
    """Write one parsed metadata document at ``path``, pretty-printed
    with ``indent=4`` exactly like the reference (copy_esrigrid…py:
    496–498)."""
    with open(path, "w") as f:
        json.dump(document, f, indent=4)


def write_product_zips(files: DataFrame, out_dir: str) -> int:
    """One ``{out_dir}/{base_name}.zip`` per ``(base_name, files)`` row,
    ``files`` being ``array<struct<path, content>>``: a product and the
    bytes of each of its sidecar files, zipped by ``write_zip`` in the
    task that holds the row. Returns #zips written."""
    os.makedirs(out_dir, exist_ok=True)

    def zip_partition(rows: Iterator) -> Iterator:
        n = 0
        for row in rows:
            write_zip(os.path.join(out_dir, f"{row['base_name']}.zip"), row["files"])
            n += 1
        yield n

    return sum(files.rdd.mapPartitions(zip_partition).collect())


def write_metadata_json(docs: DataFrame, out_dir: str) -> int:
    """One ``{out_dir}/{product_name}.json`` per ``(product_name,
    metadata_json)`` row, written by ``write_document``. Returns
    #documents written."""
    os.makedirs(out_dir, exist_ok=True)

    def dump_partition(rows: Iterator) -> Iterator:
        n = 0
        for row in rows:
            write_document(
                os.path.join(out_dir, f"{row['product_name']}.json"),
                json.loads(row["metadata_json"]),
            )
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
    stage), and existing destination objects are overwritten (:98). A
    destination name that a directory holds fails the upload.

    Scale note: the copies run on the driver, concurrently, on a pool
    of ``defaultParallelism`` threads (one per core; py4j gives each
    Python thread its own JVM thread, and the bytes stream JVM-side).
    That suits the reference's hundreds-of-zips workload. At thousands
    of artifacts, land the artifacts directly on the destination
    filesystem instead (write_partitioned_parquet/df.write straight to
    s3a) — uploading after the fact is the reference's shape, not the
    100 TB one, and the docstrings on the parquet sinks say so.

    Returns {"uploaded": [names], "skipped_lock": n, "dest_base": uri},
    ``uploaded`` in sorted order.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    dest_base = dest_base.rstrip("/")
    uri = jvm.java.net.URI(dest_base)
    dst_fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    local_fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    # each attribute step is a py4j round trip: resolve the classes once
    hpath = jvm.org.apache.hadoop.fs.Path
    file_util = jvm.org.apache.hadoop.fs.FileUtil
    if not os.path.isdir(src_dir):
        if tolerate_missing:
            return {"uploaded": [], "skipped_lock": 0, "dest_base": dest_base}
        raise FileNotFoundError(src_dir)
    dst_fs.mkdirs(hpath(dest_base))
    listing = sorted(os.listdir(src_dir))

    def copy(name: str) -> str:
        src = os.path.join(src_dir, name)
        dst = hpath(f"{dest_base}/{name}")
        ok = file_util.copy(
            local_fs, hpath(src), dst_fs, dst,
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
        if not dst_fs.getFileStatus(dst).isFile():
            # Hadoop copies a file onto an existing directory INTO that
            # directory and reports success: the name still holds no zip
            raise IOError(f"{dest_base}/{name} is a directory, not the uploaded zip")
        return name

    workers = spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=workers) as pool:
        # map yields in input order and re-raises a copy's exception
        uploaded = list(pool.map(copy, [n for n in listing if n.endswith(".zip")]))
    return {
        "uploaded": uploaded,
        "skipped_lock": sum(n.endswith(".lock") for n in listing),
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
