"""Structured Streaming surface over the ``events`` table (SURVEY §2j).

The reference has no streaming (it is a batch script); this is the [EXT]
surface the driver's ``events`` table mandates. Each builder takes a
*streaming* DataFrame (``readStream``) and returns the transformed
stream; the batch twins in ``plans/events.py`` define the expected
results, and tests/test_streaming.py replays the parquet file through a
file stream and asserts batch equivalence.

Design notes:
- watermarks bound state: windows/dedup state is dropped once the event
  time passes watermark + lateness — constant memory at any scale.
- all aggregations are partial-aggregable, so streaming state stores one
  (window, key) accumulator row, not raw events.
- sessionization uses ``session_window`` (state-store native) rather
  than the batch lag/cumsum formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans._util import DEC
from ..sources.tables import normalize_event_ts


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table. ``readStream`` needs an
    explicit schema, so we take it from a batch read of the same file —
    one footer read, no data scan — and then route through the SAME
    ``ts`` normalizer as the batch loader (nanos-as-long, TIMESTAMP_NTZ,
    or plain TIMESTAMP all handled), so stream and batch see identical
    instants whatever encoding the current testdata uses."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_event_ts(raw)


def windowed_counts(
    stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or, with ``slide``, overlapping sliding)
    window counts per event type — the streaming twin of
    q60_tumbling_window_counts / q65_sliding_window_counts. A sliding
    window keeps window/slide concurrent accumulators per key; state is
    still bounded by the watermark horizon."""
    # group on the window STRUCT (not window.start): append-mode watermark
    # tracking requires the event-time window column itself in the keys
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def rolling_active_users(
    stream: DataFrame,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
    rsd: float = 0.05,
) -> DataFrame:
    """Rolling distinct active users per sliding window — the STREAMING
    form of the q151/q201 family. Exact COUNT(DISTINCT) is unsupported
    on streams (it cannot merge incrementally); ``approx_count_distinct``
    is the supported path because HLL state is exactly what q201
    exploits in batch: fixed-size, order-free, mergeable — each open
    window keeps one sketch, merged as micro-batches arrive, bounded by
    the watermark horizon like any windowed agg.

    Determinism contract (what the equivalence test pins): HLL++
    insertion is commutative and the merge is associative, so the
    stream's incremental sketch equals the batch sketch over the same
    rows EXACTLY — not approximately — whatever the micro-batch
    cut points. The estimate's error vs the TRUE distinct count is the
    usual 1.04/√2^p band (q201's in-plan bound covers that side)."""
    win = F.window("ts", window, slide)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "approx_users",
            "n_events",
        )
    )


def sessionized(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap — the
    streaming twin of q62_sessionize / q94_session_stats (same session
    boundaries, same per-session stats). duration_us is max−min EVENT
    time (matching q94's batch definition), not the session_window
    span, whose end is last_event + gap by construction. All stats are
    partial-aggregable, so streaming state per open session is one
    accumulator row."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            .cast("bigint")
            .alias("duration_us"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "duration_us",
            "sum_value",
        )
    )


def clicks_before_purchases(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched with the
    clicks of the same user in the 30 minutes strictly before it — the
    streaming twin of q46_range_join_clicks_before_purchase's inner
    pairs.

    Both sides carry watermarks and the join condition bounds c_ts
    relative to ts on both ends, so the state store can evict: a click
    older than (watermark + 30 min) behind the purchase-side event-time
    frontier can never match again. Without the two-sided time bound the
    join state would grow without limit — that is the scale contract of
    stream-stream joins."""
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "c_user_id = user_id AND c_ts >= ts - INTERVAL 30 MINUTES "
            "AND c_ts < ts"
        ),
        "inner",
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon —
    bounded-state streaming dedup."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY
    §2j): per-user running (n_events, total_value) maintained in an
    explicit state store — the escape hatch for aggregation logic the
    built-in windowed aggs can't express (here deliberately simple so
    the batch twin is a plain groupBy and equivalence is testable).

    State schema is one (count, sum) accumulator per user — constant
    per-key memory; the pandas batches stream through Arrow. Emits the
    updated running totals for every user seen in the micro-batch."""
    import pandas as pd  # local: Arrow path only
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join — the lookup every live pipeline
    runs (events × slowly-changing dim): the static side is re-resolved
    per micro-batch (so a dim refresh is picked up without restarting
    the query) and broadcast when small. No watermark needed — a
    stream-static inner/left join is stateless by construction (each
    batch joins against the static snapshot; nothing buffers).
    Batch-equivalence asserted in test_streaming."""
    return stream.join(F.broadcast(dim), on, "left")


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    out_dir: str,
    partition_cols: list[str],
    checkpoint_dir: str,
) -> None:
    """Land a stream as hive-partitioned parquet via ``foreachBatch``,
    EXACTLY-ONCE: the layout is partitioned by (batch_id, *partition_cols)
    and each micro-batch writes with DYNAMIC partition overwrite (a
    per-write option; the session conf is not touched), so a
    replay of batch N (failure after some task files committed but before
    the checkpoint advanced) overwrites exactly the batch_id=N partitions
    it had written instead of appending duplicates — checkpoint resume +
    idempotent rewrite is the standard exactly-once recipe for a
    non-transactional file sink. A blind ``append`` here would be
    at-least-once (ADVICE r1). Readers still get partition pruning on
    ``partition_cols``; drop/ignore the leading ``batch_id`` column.

    A stateful stream's checkpoint freezes its state partition count at
    ``spark.sql.shuffle.partitions`` as of the first batch."""

    def land(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", *partition_cols)
            .parquet(out_dir)
        )

    q = (
        stream_df.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory_sink(
    stream_df: DataFrame, name: str, mode: str = "append"
) -> DataFrame:
    """Drive a (bounded) stream to completion synchronously and return
    the materialized result table — the test harness for this module.

    Append mode only emits windows/sessions the watermark has passed —
    results inside the final watermark horizon stay in the state store.
    For whole-input comparisons against a batch twin, use
    ``mode="complete"`` (aggregations only)."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _purchase_click_interval_join(
    stream: DataFrame, watermark: str, how: str
) -> DataFrame:
    """Shared prep for the purchase×click interval-join family: the
    inner (clicks_before_purchases pre-agg), LEFT OUTER and FULL OUTER
    variants differ ONLY in the join type — one definition of the
    window/watermark/condition keeps the three variants (and their
    batch-equivalence tests) from desynchronizing."""
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event_id"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "c_user_id = user_id AND c_ts >= ts - INTERVAL 30 MINUTES "
            "AND c_ts < ts"
        ),
        how,
    )


def purchases_with_optional_click(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits,
    joined to same-user clicks in the 30 minutes strictly before it —
    or null-padded once the watermark guarantees no matching click can
    still arrive. The outer side is the part the inner join
    (clicks_before_purchases) cannot express: "purchases with NO prior
    click" is an absence-of-data result, and in a stream absence is
    only decidable after the event-time frontier passes the join
    window + watermark. State eviction follows the same two-sided
    bound as the inner join."""
    return _purchase_click_interval_join(stream, watermark, "leftOuter")


def streaming_count_min(
    stream: DataFrame, depth: int = 3, watermark: str = "2 hours"
) -> DataFrame:
    """Count-min sketch as a STREAMING accumulator — the stateful form
    of q132's batch build (plans/extra.py), sharing its exact
    ``cm_bucket`` hash rows so stream and batch produce the same
    sketch on the same input (asserted in test_streaming).

    Shape: the depth-way cell fan-out and md5 bucketing run stateless
    map-side; state is ONE bigint counter per (row, bucket) key —
    bounded at depth x width cells regardless of stream volume, which
    is the whole point of sketching a 100 TB/day key stream. Emits the
    updated cell counts each micro-batch (update mode); a heavy-hitter
    probe is a broadcast lookup against this tiny table, exactly as in
    q132."""
    import pandas as pd  # local: Arrow path only
    from pyspark.sql.streaming.state import GroupState

    from ..plans.extra import cm_bucket

    cells = stream.withWatermark("ts", watermark).select(
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
        "user_id",
    ).select("i", cm_bucket(F.col("i"), F.col("user_id")).alias("bucket"))

    def update(key, pdf_iter, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame(
            {"i": [key[0]], "bucket": [key[1]], "cnt": [cnt]}
        )

    return cells.groupBy("i", "bucket").applyInPandasWithState(
        update,
        outputStructType="i int, bucket bigint, cnt bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_merge_upsert(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
) -> None:
    """Streaming MERGE-upsert sink: maintain a latest-wins per-key
    snapshot table under ``snapshot_dir`` as micro-batches arrive — the
    streaming form of q112's batch CDC merge, for pipelines that keep a
    "current state" table (user profiles, doc latest-crawl) next to the
    append-only event log.

    EXACTLY-ONCE without a transactional table format, two layers:

    1. **Idempotent merge**: each batch reduces to one latest row per
       key (max (ts, event_id)), then merges latest-wins against the
       current snapshot. Replaying an already-applied batch recomputes
       the same winners — the merge is idempotent by construction, so a
       replay after a crash between file-commit and checkpoint-advance
       cannot double-apply.
    2. **Atomic publish**: the merged snapshot writes to a NEW
       versioned directory (``v<batch_id>``) and a ``_CURRENT`` pointer
       file flips afterwards — readers never see a half-written
       snapshot (same new-dir contract as sinks.compact_parquet).

    Scale shape: the per-batch reduce is a partial-agg'd groupBy on the
    key; the merge is one key-partitioned full-outer join between the
    batch's winners (small) and the snapshot scan — with the snapshot
    bucketed by key it goes exchange-free on the big side."""
    import os

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        sp = batch_df.sparkSession
        w = Window.partitionBy(key).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        winners = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(key, "value", F.col("ts").alias("updated_at"))
        )
        cur_ptr = os.path.join(snapshot_dir, "_CURRENT")
        if os.path.exists(cur_ptr):
            with open(cur_ptr) as fh:
                cur = sp.read.parquet(
                    os.path.join(snapshot_dir, fh.read().strip())
                )
            s = winners.alias("s")
            t_ = cur.alias("t")
            joined = t_.join(s, on=key, how="full_outer")
            merged = joined.select(
                F.col(key),
                F.when(
                    F.col("s.updated_at").isNotNull()
                    & (
                        F.col("t.updated_at").isNull()
                        | (F.col("s.updated_at") >= F.col("t.updated_at"))
                    ),
                    F.col("s.value"),
                )
                .otherwise(F.col("t.value"))
                .alias("value"),
                F.greatest(
                    F.coalesce(F.col("s.updated_at"), F.col("t.updated_at")),
                    F.coalesce(F.col("t.updated_at"), F.col("s.updated_at")),
                ).alias("updated_at"),
            )
        else:
            merged = winners
        vdir = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, vdir)
        )
        tmp = cur_ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(vdir)
        os.replace(tmp, cur_ptr)  # atomic pointer flip

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_merge_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the current published snapshot (follows ``_CURRENT``)."""
    import os

    with open(os.path.join(snapshot_dir, "_CURRENT")) as fh:
        return spark.read.parquet(os.path.join(snapshot_dir, fh.read().strip()))


def purchases_clicks_full_outer(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: purchases with their
    prior-30-minute clicks, PLUS null-padded rows for purchases with
    no click AND for clicks that never preceded a purchase — the
    two-sided absence result (orphan detection on both streams at
    once: unattributed conversions and wasted clicks in one output).
    Null padding on each side is emitted only once the opposite
    stream's watermark passes the join window, same eviction bound as
    the left-outer variant; supported natively since Spark 3.1."""
    return _purchase_click_interval_join(stream, watermark, "fullOuter")
