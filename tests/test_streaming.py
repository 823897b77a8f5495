"""Streaming tests: file-stream replay of events vs batch twins."""

from __future__ import annotations

import hashlib

import pytest

from geospatial_etl_pipeline_spark.plans import catalog
from geospatial_etl_pipeline_spark.streaming.events import (
    dedup_within_watermark,
    run_to_memory_sink,
    sessionized,
    stream_events,
    windowed_counts,
)

catalog.load_all_plans()


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return stream_events(spark, sf_dir)


def test_windowed_counts_matches_batch(spark, sf_dir, stream):
    got = run_to_memory_sink(windowed_counts(stream), "t_windowed", mode="complete")
    batch = catalog.QUERIES["q60_tumbling_window_counts"].fn(spark, sf_dir)
    g = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_sliding_window_counts_matches_batch(spark, sf_dir, stream):
    got = run_to_memory_sink(
        windowed_counts(stream, window="10 minutes", slide="5 minutes"),
        "t_sliding",
        mode="complete",
    )
    batch = catalog.QUERIES["q65_sliding_window_counts"].fn(spark, sf_dir)
    g = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in batch.collect()}
    assert g == b and len(g) > 0


def test_rolling_active_users_matches_batch(spark, sf_dir, stream):
    """Streaming rolling-distinct (the q151/q201 family's stream form):
    the incremental HLL state must equal a batch approx_count_distinct
    over the same sliding windows EXACTLY — sketch insertion is
    commutative and merge associative, so micro-batch cut points must
    not change a single estimate."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.sources.tables import load_table
    from geospatial_etl_pipeline_spark.streaming.events import (
        rolling_active_users,
    )

    got = run_to_memory_sink(
        rolling_active_users(stream, window="2 days", slide="1 day"),
        "t_rolling_dau",
        mode="complete",
    )
    e = load_table(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "approx_users",
                "n_events")
    )
    g = {r["window_start"]: (r["approx_users"], r["n_events"])
         for r in got.collect()}
    b = {r["window_start"]: (r["approx_users"], r["n_events"])
         for r in batch.collect()}
    assert g == b and len(g) > 0
    # and the estimates track the exact counts within the q201-style
    # 3-sigma band of the declared rsd
    exact = {
        r["window_start"]: r["n_users"]
        for r in e.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
        .collect()
    }
    for ws, (approx, _) in g.items():
        assert abs(approx - exact[ws]) <= 3 * 0.05 * exact[ws] + 1, (
            ws, approx, exact[ws],
        )


def test_sessionized_stream_counts(spark, sf_dir, stream):
    got = run_to_memory_sink(sessionized(stream), "t_sessions", mode="complete")
    per_user = {}
    for r in got.collect():
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    batch = {r["user_id"]: r["n_sessions"]
             for r in catalog.QUERIES["q62_sessionize"].fn(spark, sf_dir).collect()}
    assert per_user == batch


def test_sessionized_stream_stats_match_q94(spark, sf_dir, stream):
    """session_window per-session stats ≡ q94's batch lag/cumsum stats:
    identical (user, n_events, duration_us, sum_value) multisets —
    session ids differ by construction (batch numbers them 1..k, the
    stream keys them by window start), so compare id-free."""
    got = run_to_memory_sink(sessionized(stream), "t_session_stats", mode="complete")
    stream_set = sorted(
        (r["user_id"], r["n_events"], r["duration_us"], round(r["sum_value"], 6))
        for r in got.collect()
    )
    batch_set = sorted(
        (r["user_id"], r["n_events"], r["duration_us"], round(r["sum_value"], 6))
        for r in catalog.QUERIES["q94_session_stats"].fn(spark, sf_dir).collect()
    )
    assert stream_set == batch_set


def test_stream_stream_join_matches_batch(spark, sf_dir, stream):
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.streaming.events import (
        clicks_before_purchases,
    )

    got = run_to_memory_sink(clicks_before_purchases(stream), "t_ssjoin")
    # batch twin q46 is the LEFT variant with a per-purchase count; the
    # stream emits inner pairs, so total pairs == sum of the counts
    batch_pairs = (
        catalog.QUERIES["q46_range_join_clicks_before_purchase"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_clicks_30m"))
        .collect()[0][0]
    )
    assert got.count() == batch_pairs > 0


def test_dedup_within_watermark_passthrough(spark, sf_dir, stream):
    # event_ids are unique in the fixture: dedup must be a no-op
    got = run_to_memory_sink(
        dedup_within_watermark(stream).select("event_id"), "t_dedup"
    )
    n_stream = got.count()
    n_batch = (
        catalog.QUERIES["q62_sessionize"].fn(spark, sf_dir)
        .agg({"n_events": "sum"}).collect()[0][0]
    )
    assert n_stream == n_batch


def test_running_user_totals_stateful(spark, sf_dir, stream):
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.streaming.events import (
        running_user_totals,
    )

    got = run_to_memory_sink(
        running_user_totals(stream), "t_stateful", mode="update"
    )
    # keep only each user's LAST emitted running total (one per batch)
    final = {}
    for r in got.collect():
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = (
        stream.sparkSession.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    assert len(final) == len(batch) > 0
    for r in batch:
        n, s = final[r["user_id"]]
        assert n == r["n"]
        assert abs(s - r["s"]) < 1e-6 * max(1.0, abs(r["s"]))


def test_stream_to_partitioned_parquet(spark, sf_dir, stream, tmp_path):
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.streaming.events import (
        stream_to_partitioned_parquet,
    )

    out = str(tmp_path / "landed")
    stream_to_partitioned_parquet(
        stream.select("event_id", "event_type", "value"),
        out,
        ["event_type"],
        str(tmp_path / "ckpt"),
    )
    # batch_id is the sink's idempotence key (exactly-once replay unit);
    # consumers drop it
    back = spark.read.parquet(out).drop("batch_id")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {r["event_type"]: r["n"] for r in
           back.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    want = {r["event_type"]: r["n"] for r in
            batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got == want
    # partition pruning works on the landed layout
    any_type = next(iter(want))
    assert back.filter(F.col("event_type") == any_type).count() == want[any_type]


def test_stream_sink_replay_is_idempotent(spark, stream, tmp_path):
    """Replaying the same batches into the same out_dir (fresh
    checkpoint = full reprocess, the worst-case 'failed before
    checkpoint advanced' replay) must NOT duplicate rows: the
    batch_id-keyed dynamic overwrite rewrites, never appends."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.streaming.events import (
        stream_to_partitioned_parquet,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(key)
    out = str(tmp_path / "landed")
    sel = stream.select("event_id", "event_type", "value")
    stream_to_partitioned_parquet(sel, out, ["event_type"],
                                  str(tmp_path / "ckpt1"))
    n1 = spark.read.parquet(out).count()
    stream_to_partitioned_parquet(sel, out, ["event_type"],
                                  str(tmp_path / "ckpt2"))
    n2 = spark.read.parquet(out).count()
    assert n1 == n2
    assert spark.read.parquet(out).select("event_id").distinct().count() == n1
    # dynamic overwrite is a per-write option: the session conf is untouched
    assert spark.conf.get(key) == mode_before


def test_stream_sink_leaves_session_unchanged(spark, sf_dir, stream, tmp_path):
    """An events load, a partitioned parquet write and a stream run on
    one session leave its conf as it was, and a catalog query's result
    hash the same before and after."""
    from geospatial_etl_pipeline_spark.operators.sinks import (
        write_partitioned_parquet,
    )
    from geospatial_etl_pipeline_spark.sources.tables import load_table
    from geospatial_etl_pipeline_spark.streaming.events import (
        stream_to_partitioned_parquet,
    )

    query = catalog.QUERIES["q60_tumbling_window_counts"].fn

    def result_hash() -> str:
        rows = sorted(repr(tuple(r)) for r in query(spark, sf_dir).collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    conf_before, hash_before = spark.conf.getAll, result_hash()
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    write_partitioned_parquet(events, str(tmp_path / "batch"), ["event_type"])
    stream_to_partitioned_parquet(
        stream.select("event_id", "event_type"),
        str(tmp_path / "landed"),
        ["event_type"],
        str(tmp_path / "ckpt"),
    )
    assert spark.conf.getAll == conf_before
    assert result_hash() == hash_before


def test_stream_static_enrichment(spark, sf_dir, stream):
    """Stream-static join ≡ the same join in batch: every event row
    carries its dim payload; unmatched keys survive (left join)."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.streaming.events import (
        enrich_with_dim,
        run_to_memory_sink,
    )

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0)],
        ["event_type", "weight"],
    )
    enriched = enrich_with_dim(
        stream.select("event_id", "event_type", "value"), dim, "event_type"
    )
    got = run_to_memory_sink(enriched, "enriched_events")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type")
        .join(F.broadcast(dim), "event_type", "left")
    )
    g = {r["event_id"]: r["weight"] for r in got.collect()}
    w = {r["event_id"]: r["weight"] for r in batch.collect()}
    assert g == w
    assert len(g) == batch.count()  # no rows lost or duplicated


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Append-mode watermark semantics on a controlled two-batch replay:
    a window finalizes once the event-time frontier passes window_end +
    watermark; a record arriving AFTER that (too late) must be dropped,
    while the on-time records counted before finalization stay. This is
    the state-eviction contract that bounds memory at 100 TB — without
    it the window state grows forever."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospatial_etl_pipeline_spark.sources.tables import normalize_event_ts

    d = str(tmp_path / "late_events")
    os.makedirs(d)

    def write_batch(fname, rows, mtime):
        # rows: list of (event_id, ts_us, user_id, event_type, value)
        t_ = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        path = os.path.join(d, fname)
        pq.write_table(t_, path)
        os.utime(path, (mtime, mtime))

    h = 3_600_000_000  # one hour in micros
    t0 = 48 * h  # 1970-01-03 00:00:00, arbitrary but deterministic
    m = 60_000_000
    now = time.time()
    # batch A: three on-time events in window W1 = [t0, t0+5m), then a
    # frontier-advancing event at t0+70m -> watermark = t0+60m, so W1
    # (ends t0+5m) is finalized after batch A.
    write_batch("a.parquet", [
        (1, t0 + 1 * m, 1, "click", 1.0),
        (2, t0 + 2 * m, 1, "click", 1.0),
        (3, t0 + 3 * m, 2, "click", 1.0),
        (4, t0 + 70 * m, 3, "view", 1.0),
    ], now - 60)
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    raw = spark.readStream.format("parquet").schema(schema).load(d)
    stream = normalize_event_ts(raw)
    # drive the two batches EXPLICITLY (write A -> process -> write B ->
    # process) so the watermark computed from batch A is in force when
    # the late record of batch B arrives — a single micro-batch would
    # see everything at watermark 0 and prove nothing.
    q = (
        windowed_counts(stream, window="5 minutes", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()  # batch A
        write_batch("b.parquet", [
            (5, t0 + 4 * m, 9, "click", 1.0),   # must be dropped
            (6, t0 + 80 * m, 3, "view", 1.0),
        ], now - 30)
        q.processAllAvailable()  # batch B (watermark now t0+10m)
        q.processAllAvailable()  # emit any windows the new frontier freed
    finally:
        q.stop()
    rows = {(r["window_start"].isoformat(), r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM t_late").collect()}
    w1_key = ("1970-01-03T00:00:00", "click")
    assert rows.get(w1_key) == 3, rows  # late event_id=5 NOT counted


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir, stream):
    """LEFT OUTER stream-stream interval join ≡ the batch left join:
    matched (purchase, click) pairs identical AND every click-less
    purchase present exactly once with a null click — the null-padded
    rows only exist because the watermark horizon passed, so this also
    proves outer-side state finalization."""
    from geospatial_etl_pipeline_spark.streaming.events import (
        purchases_with_optional_click,
    )

    got = run_to_memory_sink(
        purchases_with_optional_click(stream), "t_louter", mode="append"
    )
    s_rows = sorted(
        (r["event_id"], r["c_event_id"]) for r in got.collect()
    )

    from geospatial_etl_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    p = e.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    c = e.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event_id"),
    )
    b = p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("ts")),
        "left",
    )
    b_rows = sorted((r["event_id"], r["c_event_id"]) for r in b.collect())
    # Matched pairs must agree exactly. Null-padded rows are emitted only
    # once the watermark PROVES no click can still arrive — purchases
    # inside the final watermark horizon stay undecided when the input
    # ends (that is correct streaming semantics, not data loss), so the
    # stream result is the batch result minus exactly those rows.
    s_matched = [x for x in s_rows if x[1] is not None]
    b_matched = [x for x in b_rows if x[1] is not None]
    assert s_matched == b_matched and len(s_matched) > 0
    # the join's outer-emission frontier is the COMBINED watermark: the
    # MIN of the two sides' event-time maxima, each less the 1h
    # watermark, less the 30 min join bound
    import datetime
    max_p = p.agg(F.max("ts").alias("m")).collect()[0]["m"]
    max_c = c.agg(F.max("c_ts").alias("m")).collect()[0]["m"]
    cutoff = min(max_p, max_c) - datetime.timedelta(hours=1, minutes=30)
    p_ts = {r["event_id"]: r["ts"] for r in p.collect()}
    s_nulls = {x[0] for x in s_rows if x[1] is None}
    b_nulls = {x[0] for x in b_rows if x[1] is None}
    assert s_nulls <= b_nulls
    undecided = b_nulls - s_nulls
    assert all(p_ts[eid] > cutoff for eid in undecided), undecided
    assert len(s_nulls) > 0  # the outer side actually emitted


def test_streaming_count_min_matches_batch_sketch(spark, sf_dir, stream):
    """The stateful streaming CM accumulator lands on the SAME sketch
    as the batch build on the same events — cell-for-cell."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.plans.extra import _CM_D, cm_bucket
    from geospatial_etl_pipeline_spark.sources.tables import load_table
    from geospatial_etl_pipeline_spark.streaming.events import (
        streaming_count_min,
    )

    got = run_to_memory_sink(streaming_count_min(stream), "t_cm", mode="update")
    # update mode may emit a row per micro-batch; keep the final count
    g = {}
    for r in got.collect():
        g[(r["i"], r["bucket"])] = max(g.get((r["i"], r["bucket"]), 0), r["cnt"])
    e = load_table(spark, sf_dir, "events")
    batch = (
        e.select(
            F.explode(F.array(*[F.lit(i) for i in range(_CM_D)])).alias("i"),
            "user_id",
        )
        .select("i", cm_bucket(F.col("i"), F.col("user_id")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    b = {(r["i"], r["bucket"]): r["cnt"] for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_merge_upsert_matches_batch_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """The streaming MERGE sink must land the SAME latest-wins snapshot
    as a batch reduction of the whole event log, and re-running the
    stream (fresh checkpoint, same input) must republish an identical
    snapshot — replay cannot double-apply."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from geospatial_etl_pipeline_spark.sources.tables import load_table
    from geospatial_etl_pipeline_spark.streaming.events import (
        read_merge_snapshot,
        stream_events,
        stream_merge_upsert,
    )

    snap = str(tmp_path / "snapshot")
    stream_merge_upsert(
        stream_events(spark, sf_dir), snap, str(tmp_path / "ckpt1")
    )
    got = {
        (r["user_id"], r["value"], r["updated_at"])
        for r in read_merge_snapshot(spark, snap).collect()
    }
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "value", F.col("ts").alias("updated_at"))
    )
    want = {
        (r["user_id"], r["value"], r["updated_at"]) for r in batch.collect()
    }
    assert got == want and len(got) > 0

    # replay with a fresh checkpoint: merge idempotence must hold
    stream_merge_upsert(
        stream_events(spark, sf_dir), snap, str(tmp_path / "ckpt2")
    )
    again = {
        (r["user_id"], r["value"], r["updated_at"])
        for r in read_merge_snapshot(spark, snap).collect()
    }
    assert again == want


def test_incremental_dedup_stream_against_empty_corpus(spark, sf_dir):
    """With no existing corpus, the streaming ingest admits exactly one
    document per distinct fingerprint (in-stream first-occurrence
    dedup)."""
    from geospatial_etl_pipeline_spark.streaming.ingest import (
        corpus_fingerprints,
        fingerprinted,
        incremental_dedup_stream,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    empty = corpus_fingerprints(docs).limit(0)
    got = run_to_memory_sink(
        incremental_dedup_stream(stream_documents(spark, sf_dir), empty),
        "t_ingest_empty",
    )
    n_distinct_fp = (
        fingerprinted(docs).select("fp").distinct().count()
    )
    assert got.count() == n_distinct_fp > 0
    # survivors are unique by fingerprint
    assert got.select("fp").distinct().count() == got.count()


def test_incremental_dedup_stream_against_full_corpus(spark, sf_dir):
    """Replaying the corpus against its own fingerprint set admits
    nothing — the exactly-the-duplicates guarantee."""
    from geospatial_etl_pipeline_spark.streaming.ingest import (
        corpus_fingerprints,
        incremental_dedup_stream,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = corpus_fingerprints(docs)
    got = run_to_memory_sink(
        incremental_dedup_stream(stream_documents(spark, sf_dir), fps),
        "t_ingest_full",
    )
    assert got.count() == 0


def test_incremental_dedup_stream_matches_batch_anti_join(spark, sf_dir):
    """Streaming survivors ≡ the batch incremental-dedup semantics
    (q77's fingerprint anti-join composed with first-occurrence
    in-batch dedup): identical surviving fingerprint SETS (which
    doc_id represents a duplicate group is tie-arbitrary in both)."""
    from geospatial_etl_pipeline_spark.streaming.ingest import (
        corpus_fingerprints,
        fingerprinted,
        incremental_dedup_stream,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    fps = corpus_fingerprints(corpus)
    got = run_to_memory_sink(
        incremental_dedup_stream(stream_documents(spark, sf_dir), fps),
        "t_ingest_half",
    )
    batch_survivors = (
        fingerprinted(docs)
        .select("fp")
        .distinct()
        .join(fps, "fp", "left_anti")
    )
    assert {r["fp"] for r in got.select("fp").collect()} == {
        r["fp"] for r in batch_survivors.collect()
    }
    assert got.count() > 0


def test_incremental_dedup_stream_lands_exactly_once(spark, sf_dir, tmp_path):
    """Full ingest composition: dedup survivors land via the
    batch_id-keyed exactly-once sink, partitioned by lang; a second
    replay with the same checkpoint adds NOTHING (checkpoint resume),
    and the landed rows equal the survivor set."""
    from geospatial_etl_pipeline_spark.streaming.events import (
        stream_to_partitioned_parquet,
    )
    from geospatial_etl_pipeline_spark.streaming.ingest import (
        corpus_fingerprints,
        incremental_dedup_stream,
        stream_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    fps = corpus_fingerprints(corpus)
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream_to_partitioned_parquet(
            incremental_dedup_stream(stream_documents(spark, sf_dir), fps),
            out,
            ["lang"],
            ckpt,
        )

    run()
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0
    # landed partition values must be real langs from the source table
    src_langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert set(r["lang"] for r in first.select("lang").distinct().collect()) <= src_langs
    run()  # replay with same checkpoint: no new batches, no duplicates
    assert spark.read.parquet(out).count() == n1


def test_full_outer_interval_join_matches_batch(spark, sf_dir, stream):
    """Stream-stream FULL OUTER interval join ≡ the batch full-outer
    spec: matched pairs identical; purchase-side nulls = purchases
    with no prior click; click-side nulls = clicks preceding no
    purchase. (availableNow replay drives the watermark past the
    horizon so all null paddings flush.)"""
    from geospatial_etl_pipeline_spark.streaming.events import (
        purchases_clicks_full_outer,
    )

    got = run_to_memory_sink(
        purchases_clicks_full_outer(stream), "t_fullouter"
    ).collect()
    matched = {(r["event_id"], r["c_event_id"]) for r in got
               if r["event_id"] is not None and r["c_event_id"] is not None}
    p_null = {r["event_id"] for r in got if r["c_event_id"] is None}
    c_null = {r["c_event_id"] for r in got if r["event_id"] is None}

    from geospatial_etl_pipeline_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    p = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    c = e.filter("event_type = 'click'").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cuid"),
        F.col("ts").alias("cts"),
    )
    pairs = p.join(
        c,
        (F.col("cuid") == F.col("user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("cts") < F.col("pts")),
    )
    want_matched = {(r["pid"], r["cid"]) for r in pairs.collect()}
    assert matched == want_matched and len(matched) > 0
    # Null paddings flush only once the COMBINED watermark (min of the
    # two sides' maxima − 1h) clears the 30-min join bound — the same
    # frontier discipline as the left-outer test: everything the batch
    # spec expects but the stream withheld must sit PAST the cutoff.
    import datetime

    max_p = p.agg(F.max("pts")).collect()[0][0]
    max_c = c.agg(F.max("cts")).collect()[0][0]
    cutoff = min(max_p, max_c) - datetime.timedelta(hours=1, minutes=30)
    want_p_null = {r["pid"] for r in p.collect()} - {a for a, _ in want_matched}
    want_c_null = {r["cid"] for r in c.collect()} - {b for _, b in want_matched}
    p_ts = {r["pid"]: r["pts"] for r in p.collect()}
    c_ts = {r["cid"]: r["cts"] for r in c.collect()}
    assert p_null <= want_p_null and c_null <= want_c_null
    assert all(p_ts[i] > cutoff for i in want_p_null - p_null), (
        want_p_null - p_null)
    assert all(c_ts[i] > cutoff for i in want_c_null - c_null), (
        want_c_null - c_null)
    assert len(p_null) > 0 and len(c_null) > 0  # both outer sides emitted
