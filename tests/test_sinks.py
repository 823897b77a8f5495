"""Unit tests: zip-bundle sink, JSON metadata sink, S3 URI builder."""

from __future__ import annotations

import json
import zipfile

from geospatial_etl_pipeline_spark.operators.sinks import (
    upload_prefix,
    write_metadata_json,
    write_product_zips,
)


_FILES = "base_name string, files array<struct<path:string, content:binary>>"


def test_write_product_zips(spark, tmp_path):
    rows = [
        ("prod_a", [("/in/prod_a.prj", b"proj-a"),
                    ("/in/prod_a.lock", b"LOCK"),  # excluded
                    ("/in/prod_a.asc", b"grid-a")]),
        ("prod_b", [("/in/prod_b.asc", b"grid-b")]),
    ]
    df = spark.createDataFrame(rows, _FILES)
    n = write_product_zips(df, str(tmp_path / "zips"))
    assert n == 2
    za = zipfile.ZipFile(tmp_path / "zips" / "prod_a.zip")
    # members in sorted-path order, lock file left out
    assert za.namelist() == ["prod_a.asc", "prod_a.prj"]
    assert za.read("prod_a.asc") == b"grid-a"
    zb = zipfile.ZipFile(tmp_path / "zips" / "prod_b.zip")
    assert zb.namelist() == ["prod_b.asc"]


def test_write_product_zips_idempotent(spark, tmp_path):
    df = spark.createDataFrame([("p", [("/x/p.asc", b"v1")])], _FILES)
    out = str(tmp_path / "zips2")
    assert write_product_zips(df, out) == 1
    df2 = spark.createDataFrame([("p", [("/x/p.asc", b"v2")])], _FILES)
    assert write_product_zips(df2, out) == 1  # overwrite, not append
    assert zipfile.ZipFile(f"{out}/p.zip").read("p.asc") == b"v2"


def test_write_product_zips_reproducible(spark, tmp_path):
    """Two writes of the same rows give byte-identical zips: members
    carry a fixed timestamp, not the time of the write."""
    import time

    rows = [("p", [("/x/p.asc", b"grid " * 50), ("/x/p.tif", bytes(range(256)))])]
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    assert write_product_zips(spark.createDataFrame(rows, _FILES), out_a) == 1
    time.sleep(2.1)  # past the 2 s resolution of a zip's DOS time field
    assert write_product_zips(spark.createDataFrame(rows, _FILES), out_b) == 1
    a = (tmp_path / "a" / "p.zip").read_bytes()
    assert a == (tmp_path / "b" / "p.zip").read_bytes()
    with zipfile.ZipFile(tmp_path / "a" / "p.zip") as zf:
        for info in zf.infolist():
            assert info.compress_type == zipfile.ZIP_DEFLATED
            assert info.date_time == (1980, 1, 1, 0, 0, 0)
            assert info.external_attr == 0o600 << 16


def test_write_metadata_json_pretty(spark, tmp_path):
    df = spark.createDataFrame(
        [("prod_a", json.dumps({"src": "x", "metadata": {"title": "prod_a"}}))],
        ["product_name", "metadata_json"],
    )
    n = write_metadata_json(df, str(tmp_path / "json"))
    assert n == 1
    text = (tmp_path / "json" / "prod_a.json").read_text()
    assert json.loads(text)["metadata"]["title"] == "prod_a"
    assert '\n    "src"' in text  # indent=4, reference parity (REF:498)


def test_upload_prefix():
    assert upload_prefix("b", "pre/fix/", "x.zip") == "s3a://b/pre/fix/x.zip"
    assert upload_prefix("b", "/pre/", "x.zip") == "s3a://b/pre/x.zip"
    assert upload_prefix("b", None, "x.zip") == "s3a://b/x.zip"
    assert upload_prefix("b", "", "x.zip") == "s3a://b/x.zip"


def test_upload_artifacts_hadoop_fs_contract(spark, tmp_path):
    """The upload path, exercised END-TO-END through the Hadoop
    FileSystem API against a file:// destination — FileSystem.get
    dispatches on the URI scheme, so this is byte-for-byte the same
    code that targets s3a://bucket/prefix on a cluster (no object
    store exists in this sandbox; the scheme is the only difference).
    Covers: copy, overwrite-on-rerun, *.lock exclusion, and the
    reference's tolerate-missing permissive mode."""
    from geospatial_etl_pipeline_spark.operators.sinks import (
        upload_artifacts,
    )

    src = tmp_path / "zips"
    src.mkdir()
    (src / "a.zip").write_bytes(b"alpha-bytes")
    (src / "b.zip").write_bytes(b"beta-bytes")
    (src / "c.lock").write_bytes(b"LOCK")
    (src / "notes.txt").write_bytes(b"not a zip")
    dest_dir = tmp_path / "bucket" / "pre" / "fix"
    dest = f"file://{dest_dir}"

    result = upload_artifacts(spark, str(src), dest)
    assert result["uploaded"] == ["a.zip", "b.zip"]
    assert result["skipped_lock"] == 1
    assert (dest_dir / "a.zip").read_bytes() == b"alpha-bytes"
    assert (dest_dir / "b.zip").read_bytes() == b"beta-bytes"
    assert not (dest_dir / "c.lock").exists()
    assert not (dest_dir / "notes.txt").exists()

    # overwrite semantics (REF:98): rerun with changed bytes replaces
    (src / "a.zip").write_bytes(b"alpha-v2")
    result2 = upload_artifacts(spark, str(src), dest)
    assert result2["uploaded"] == ["a.zip", "b.zip"]
    assert (dest_dir / "a.zip").read_bytes() == b"alpha-v2"

    # tolerate-missing (REF:77-92): absent source dir is permissive...
    empty = upload_artifacts(spark, str(tmp_path / "nope"), dest)
    assert empty["uploaded"] == []
    # ...unless strict mode is asked for
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        upload_artifacts(
            spark, str(tmp_path / "nope"), dest, tolerate_missing=False
        )


def test_upload_artifacts_failed_copy_raises(spark, tmp_path):
    """The copies run concurrently, and one that fails still fails the
    upload. Hadoop copies a file onto an existing directory INTO that
    directory, so the destination's ``b.zip`` is made a non-empty
    directory that holds a non-empty directory ``b.zip``: no file can be
    written there. Once it is gone, a rerun uploads both zips, in sorted
    order."""
    import shutil

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from geospatial_etl_pipeline_spark.operators.sinks import (
        upload_artifacts,
    )

    src = tmp_path / "zips"
    src.mkdir()
    for name in ("b.zip", "a.zip"):
        (src / name).write_bytes(name.encode())
    dest_dir = tmp_path / "bucket"
    blocker = dest_dir / "b.zip" / "b.zip"
    blocker.mkdir(parents=True)
    (blocker / "x").write_bytes(b"x")

    with _pytest.raises(Py4JJavaError, match="b.zip"):
        upload_artifacts(spark, str(src), f"file://{dest_dir}")

    shutil.rmtree(dest_dir / "b.zip")
    result = upload_artifacts(spark, str(src), f"file://{dest_dir}")
    assert result["uploaded"] == ["a.zip", "b.zip"]
    assert (dest_dir / "b.zip").read_bytes() == b"b.zip"


def test_upload_artifacts_directory_at_the_name_raises(spark, tmp_path):
    """Hadoop copies a file onto an existing empty directory INTO it and
    reports success, so ``dest/b.zip/`` would end up holding the zip
    while ``dest/b.zip`` is no zip: the upload raises and names it."""
    import pytest as _pytest

    from geospatial_etl_pipeline_spark.operators.sinks import (
        upload_artifacts,
    )

    src = tmp_path / "zips"
    src.mkdir()
    for name in ("a.zip", "b.zip"):
        (src / name).write_bytes(name.encode())
    dest_dir = tmp_path / "bucket"
    (dest_dir / "b.zip").mkdir(parents=True)

    with _pytest.raises(IOError, match="b.zip"):
        upload_artifacts(spark, str(src), f"file://{dest_dir}")


def test_upload_artifacts_unresolvable_dest_raises(spark, tmp_path):
    """The permissive mode must never extend to the DESTINATION: a dest
    filesystem that cannot be constructed — here the s3a scheme with no
    S3A connector on the classpath; on a cluster, a missing credentials
    chain or a typo'd endpoint behaves the same — raises BEFORE any
    byte moves, even with tolerate_missing=True and even though the
    source has artifacts ready to ship. tolerate_missing covers a
    missing SOURCE (the reference's permissive mode, REF:77–92), and a
    destination that silently swallowed the upload would be
    success-shaped data loss. Pinned per r6 verdict item 6 until an
    object store exists to integration-test the s3a specifics against."""
    from py4j.protocol import Py4JJavaError

    from geospatial_etl_pipeline_spark.operators.sinks import (
        upload_artifacts,
    )

    src = tmp_path / "zips"
    src.mkdir()
    (src / "a.zip").write_bytes(b"payload")

    import pytest as _pytest

    with _pytest.raises(Py4JJavaError) as ei:
        upload_artifacts(
            spark, str(src), "s3a://no-such-bucket/prefix",
            tolerate_missing=True,
        )
    # failed at destination-scheme resolution — not mid-copy, and not
    # swallowed by the permissive mode
    assert "S3AFileSystem" in str(ei.value)


def test_cli_upload_fs_base_end_to_end(spark, tmp_path):
    """cli.run(upload_fs_base=file://...) ships the real zip artifacts
    through the Hadoop FS upload stage: every zip the pipeline wrote
    lands at the destination with identical bytes."""
    import os

    from geospatial_etl_pipeline_spark import cli
    from geospatial_etl_pipeline_spark.sources.asc import write_asc

    src = tmp_path / "grids" / "07"
    src.mkdir(parents=True)
    write_asc(str(src / "grid_02_a_b_mean_monthly7.asc"), 4, 4,
              [float(v) for v in range(16)])
    out = tmp_path / "out"
    dest_dir = tmp_path / "bucket" / "products"
    result = cli.run(
        spark, str(tmp_path / "grids"), str(out),
        bucket_name="climate-bucket", s3prefix="/products/",
        upload_fs_base=f"file://{dest_dir}",
    )
    assert result["zips"] >= 1
    assert len(result["uploaded"]) == result["zips"]
    for name in result["uploaded"]:
        local = out / "zips" / name
        assert (dest_dir / name).read_bytes() == local.read_bytes()
    # Hadoop's checksummed LocalFileSystem adds .crc sidecars (absent
    # on s3a); the visible artifact set must match exactly
    visible = [n for n in os.listdir(dest_dir) if not n.startswith(".")]
    assert sorted(visible) == sorted(result["uploaded"])


def test_golden_metadata_json(spark, tmp_path):
    """SURVEY §5.3: byte-compare one fixed product's metadata document
    against the committed golden file. updatedAt is the injected fixed
    clock (plans/ref_parity._FIXED_CLOCK), so the comparison is exact —
    any drift in naming, the GeoJSON ring, the $date wrappers, or the
    climatology window fails this test."""
    import os

    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.plans import catalog

    catalog.load_all_plans()
    docs = (
        catalog.QUERIES["q72_metadata_documents"]
        .fn(spark, "/root/testdata/sf0.001")
        .filter((F.col("p_partkey") == 1) & (F.col("regc_code") == "01"))
        .withColumn(
            "product_name",
            F.concat(F.lit("golden_p"), "p_partkey", F.lit("_r"), "regc_code"),
        )
    )
    assert write_metadata_json(docs, str(tmp_path)) == 1
    got = (tmp_path / "golden_p1_r01.json").read_text()
    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "golden_p1_r01.json"
    )
    assert got == open(golden_path).read()


def test_write_partitioned_parquet_dynamic_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.operators.sinks import (
        write_partitioned_parquet,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(key)
    out = str(tmp_path / "part_out")
    df1 = spark.range(100).withColumn("bucket", (F.col("id") % 2).cast("int"))
    write_partitioned_parquet(df1, out, ["bucket"])
    # overwrite ONLY bucket=0 with 10 rows; bucket=1 must survive intact
    df2 = spark.range(10).withColumn("bucket", F.lit(0))
    write_partitioned_parquet(df2, out, ["bucket"])
    back = spark.read.parquet(out)
    counts = {r["bucket"]: r["n"] for r in
              back.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 10, 1: 50}
    # partition pruning visible to the reader: filter hits one directory
    assert back.filter("bucket = 1").count() == 50
    # dynamic overwrite is a per-write option: the session conf is untouched
    assert spark.conf.get(key) == mode_before


def test_write_partitioned_parquet_target_file_rows(spark, tmp_path):
    """target_file_rows is honored: one task per partition (repartition
    collapses fan-in) AND the writer rolls files every N rows
    (maxRecordsPerFile), so 60 rows at target 25 → 3 files, not 1."""
    import os

    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.operators.sinks import (
        write_partitioned_parquet,
    )

    out = str(tmp_path / "sized_out")
    df = (
        spark.range(120)
        .withColumn("bucket", (F.col("id") % 2).cast("int"))
        .repartition(8)  # many upstream tasks: the fan-in to collapse
    )
    write_partitioned_parquet(df, out, ["bucket"], target_file_rows=25)
    for b in (0, 1):
        files = [
            f for f in os.listdir(os.path.join(out, f"bucket={b}"))
            if f.endswith(".parquet")
        ]
        # 60 rows / 25-row cap = 3 rolled files from the single task
        assert len(files) == 3, files
    assert spark.read.parquet(out).count() == 120


def test_compact_parquet_small_files(spark, tmp_path):
    """Compaction collapses a file-dribble directory into
    ceil(rows/target) files with identical data."""
    import os

    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.operators.sinks import compact_parquet

    src = str(tmp_path / "dribble")
    # 16 tasks x 1 file = 16 small files for 200 rows
    spark.range(200).withColumn("v", F.col("id") * 2).repartition(16)\
        .write.parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 16

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_rows=100)
    assert n == 200
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    # ~ceil(200/100) files: coalesce packs unevenly, so a task holding
    # >100 rows rolls one extra file — still bounded, never 16
    assert 2 <= len(files) <= 3
    for f in files:  # the per-file row cap is hard
        assert spark.read.parquet(os.path.join(out, f)).count() <= 100
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(200))


def test_jsonl_roundtrip_and_corrupt_report(spark, tmp_path):
    """JSONL corpus round-trip: documents -> sharded .json.gz -> read
    with explicit schema -> identical rows; a poisoned line shows up in
    the corrupt-line report instead of vanishing."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from geospatial_etl_pipeline_spark.sources.jsonl import (
        corrupt_line_report,
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(docs, out, shard_rows=200)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = read_jsonl(spark, out, schema)
    a = {tuple(r) for r in docs.select(*schema.names).collect()}
    b = {tuple(r) for r in back.select(*schema.names).collect()}
    assert a == b and len(a) == 500
    rep = corrupt_line_report(back).collect()[0]
    assert rep["n_lines"] == 500 and rep["n_corrupt"] == 0
    assert rep["n_parsed"] == 500

    # poison one line: it must be COUNTED, not silently dropped
    bad = tmp_path / "corpus_jsonl" / "zz_bad.json"
    bad.write_text('{"doc_id": 1, "text": "ok"}\n{broken json\n')
    back2 = read_jsonl(spark, out, schema)
    rep2 = corrupt_line_report(back2).collect()[0]
    assert rep2["n_corrupt"] == 1 and rep2["n_lines"] == 502
    # the parse identity holds even though the poisoned shard's good
    # line has a non-null leading field
    assert rep2["n_parsed"] + rep2["n_corrupt"] == rep2["n_lines"]


def test_jsonl_roundtrip_hostile_strings(spark, tmp_path):
    """JSONL must round-trip text containing the characters that break
    naive line-oriented formats: embedded newlines, tabs, quotes,
    backslashes, unicode (the writer JSON-escapes them; one document
    stays one line)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from geospatial_etl_pipeline_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    rows = [
        (1, 'line1\nline2\r\nline3'),
        (2, 'tab\there "quoted" back\\slash'),
        (3, 'unicode: ünïçödé 中文 😀   '),
        (4, ''),
        (5, '{"fake": "json"}'),
    ]
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "hostile")
    write_jsonl(df, out, compress=False)
    back = read_jsonl(spark, out, schema)
    got = {(r["doc_id"], r["text"]) for r in back.select("doc_id", "text").collect()}
    assert got == set(rows)
