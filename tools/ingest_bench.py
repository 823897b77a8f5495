#!/usr/bin/env python
"""Streaming ingest-dedup throughput: replay the sf0.1 documents table
through the incremental-dedup pipeline (fingerprint → in-stream
first-occurrence dedup → stream-static anti probe against a corpus
fingerprint set → exactly-once partitioned landing) and record docs/sec.

This is the training-data ingestion path's perf artifact; the
events/window stream path is measured by perfbench's catalog_stream
workload. Corpus = the even doc_ids of
the same table (so the probe side is non-trivial and survivors exist).

Usage: python tools/ingest_bench.py [sf_dir] [out_json] [chunks] [fpt]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _bench_util import (  # noqa: E402
    cpu_sentinel_median,
    microbatch_sentinel_series,
)
from geospatial_etl_pipeline_spark.session import get_spark  # noqa: E402
from geospatial_etl_pipeline_spark.streaming.events import (  # noqa: E402
    stream_to_partitioned_parquet,
)
from geospatial_etl_pipeline_spark.streaming.ingest import (  # noqa: E402
    corpus_fingerprints,
    incremental_dedup_stream,
)

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "INGEST_BENCH.json"
    chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    files_per_trigger = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    spark = get_spark("ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="ingest_bench_")
    src_dir = os.path.join(work, "incoming")
    sink_dir = os.path.join(work, "landed")
    ckpt_dir = os.path.join(work, "ckpt")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_rows = docs.count()
        docs.repartition(chunks).write.mode("overwrite").parquet(src_dir)
        # corpus probe side: even doc_ids (fingerprints precomputed and
        # cached — at 100 TB this is a maintained snapshot artifact, so
        # its build is setup, not ingest time)
        fps = corpus_fingerprints(docs.filter("doc_id % 2 = 0")).cache()
        n_corpus = fps.count()

        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .load(src_dir)
        )
        survivors = incremental_dedup_stream(stream, fps)

        # Sentinels BEFORE the timed run (r8 verdict item 2) — see
        # tools/_bench_util.py for the normalization rationale.
        mb_sentinel = microbatch_sentinel_series(spark)
        cpu_sentinel = cpu_sentinel_median(spark)

        t0 = time.perf_counter()
        stream_to_partitioned_parquet(survivors, sink_dir, ["lang"], ckpt_dir)
        elapsed = time.perf_counter() - t0

        landed = spark.read.parquet(sink_dir).count()
        n_batches = len(
            [
                f
                for f in os.listdir(os.path.join(ckpt_dir, "commits"))
                if f.isdigit()
            ]
        )
        out = {
            "metric": "ingest_docs_per_sec",
            "value": round(n_rows / elapsed, 1),
            "unit": "docs/sec",
            "input_docs": n_rows,
            "corpus_fps": n_corpus,
            "landed_docs": landed,
            "elapsed_sec": round(elapsed, 3),
            "micro_batches": n_batches,
            "chunks": chunks,
            "files_per_trigger": files_per_trigger,
            "pipeline": "file source -> fingerprint -> dropDuplicates(fp) "
            "-> stream-static anti probe -> exactly-once partitioned landing",
            "sf_dir": sf_dir,
            "microbatch_sentinel": mb_sentinel,
            "cpu_sentinel_median_sec": cpu_sentinel,
            "normalized_value": round(
                n_rows / elapsed * mb_sentinel["median_sec"], 1
            ),
        }
        line = json.dumps(out)
        print(line)
        with open(out_json, "w") as f:
            f.write(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
