"""``catalog_stream``: catalog queries and incremental stream runs from one
client.

A closed loop of whole passes over the frozen queries, in an order the
seed shuffles; each execution is a plan builder call, then a write to the
noop sink. Between queries, whenever ``STREAM_PERIOD_S`` has passed since
the last one started, the client makes one
``stream_to_partitioned_parquet(windowed_counts(...))`` availableNow run
against the same checkpoint. Meanwhile one writer thread drops seeded
event chunks into the stream's source directory on a fixed schedule (an
open-loop producer), a seeded share of them out of event-time order.

The tables come from the repository's own scale-data generator
(``tools/gen_scale_data.gen_tables``) at sf0.1, the scale the catalog's
headline benchmark runs. They are seed-free, so every query's result is
fixed: the output check compares it with the result recorded in
``expected_sf0.1.json``, which ``record_expected.py`` takes from the
DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import HERE, ROOT, WORK, Tracer, dir_bytes, median, noop

# Frozen: one query per plan module, drawn from the catalog's headline
# lists, plus q49 (operators.graph's iterative, checkpointed connected
# components). Changing the catalog's own lists does not change this
# workload.
QUERIES = {
    "q06_revenue_delta": "relational",
    "q60_tumbling_window_counts": "events",
    "q72_metadata_documents": "ref_parity",
    "q90_raster_clip_stats": "raster",
    "q40_dedup_exact": "dedup",
    "q49_dedup_clusters": "dedup",
    "q50_cosine_topk": "similarity",
    "q38_rolling_hash_fingerprint": "text",
    "q44_simhash": "extra",
    "q95_media_content_stats": "multimodal",
}
TABLES_SF = 0.1
EXPECTED = os.path.join(HERE, f"expected_sf{TABLES_SF:g}.json")
STREAM = "stream"  # the unit name of an incremental stream run
STREAM_PERIOD_S = 4.0
# every query's latency is the median of at least this many executions
MIN_PASSES = 2

CHUNK_ROWS = 200
CHUNK_SPAN_US = 2 * 60 * 1_000_000  # event time one chunk covers
DROP_PERIOD_S = 0.25
LATE_SHARE = 0.2  # chunks swapped with their successor
WARM_CHUNKS = 4
PROBE_CHUNKS = 90
MAX_CHUNKS = 400
WATERMARK_US = 10 * 60 * 1_000_000
WINDOW_US = 5 * 60 * 1_000_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def feed_chunks(rng: np.random.Generator) -> list[pa.Table]:
    """Event chunks in event-time order, columns as in the events table
    (five event types, Exp(50) values, ``{"k": n}`` props)."""
    n = CHUNK_ROWS * MAX_CHUNKS
    start = np.datetime64("2024-03-01", "us").astype(np.int64)
    feed = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, CHUNK_SPAN_US * MAX_CHUNKS, n)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 999.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return [feed.slice(i * CHUNK_ROWS, CHUNK_ROWS) for i in range(MAX_CHUNKS)]


def make_inputs(root: str, seed: int) -> dict:
    rng = np.random.default_rng(seed + 7)
    chunks = feed_chunks(rng)
    order = list(range(MAX_CHUNKS))
    i = 0
    while i < MAX_CHUNKS - 1:
        if rng.random() < LATE_SHARE:
            order[i], order[i + 1] = order[i + 1], order[i]
            i += 1
        i += 1
    return {
        "chunks": [chunks[k] for k in order],
        "late": sum(1 for a, b in zip(order, order[1:]) if a > b),
    }


def describe(inputs: dict) -> dict:
    return {
        "tables_sf": TABLES_SF,
        "table_bytes": inputs.get("table_bytes"),
        "queries": len(QUERIES),
        "chunk_rows": CHUNK_ROWS,
        "chunk_event_span_s": CHUNK_SPAN_US / 1e6,
        "drop_period_s": DROP_PERIOD_S,
        "stream_period_s": STREAM_PERIOD_S,
        "late_chunks_in_feed": inputs["late"],
    }


def tables(spark) -> str:
    """The sf0.1 tables, written once per checkout and generator version:
    the generator is deterministic, so later runs reuse them."""
    src = os.path.join(ROOT, "tools", "gen_scale_data.py")
    with open(src, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(WORK, f"tables-sf{TABLES_SF:g}-{key}")
    if not os.path.isdir(out):
        from gen_scale_data import gen_tables

        tmp = out + f".tmp{os.getpid()}"
        for name, df in gen_tables(spark, TABLES_SF).items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    return out


def result_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive hash of every row's values
    (columns by name, each as a string), computed by one Spark job."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    n, total = df.select(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first()
    return int(n), str(total)


class Feed:
    """The single writer thread: drops chunk ``k`` at ``t0 + k * period``
    (write to a hidden name, then rename, so the source never sees a
    partial file)."""

    def __init__(self, chunks, src: str, first: int, period: float):
        self.chunks, self.src, self.next, self.period = chunks, src, first, period
        self.due, self.dropped, self.bytes = {}, {}, 0
        self.scheduled = []  # names the writer thread dropped on schedule
        self.error = None
        self._stop = threading.Event()
        self._thread = None

    def drop(self, k: int, due: float) -> None:
        name = f"chunk-{k:05d}.parquet"
        tmp = os.path.join(self.src, "." + name)
        pq.write_table(self.chunks[k], tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.due[name], self.dropped[name] = due, time.perf_counter()
        self.bytes += os.path.getsize(os.path.join(self.src, name))

    def drop_next(self, n: int) -> None:
        """Drop the next ``n`` chunks now, off the schedule."""
        for _ in range(n):
            self.drop(self.next, time.perf_counter())
            self.next += 1

    def _loop(self, t0: float) -> None:
        try:
            while self.next < len(self.chunks):
                due = t0 + (self.next - self.first) * self.period
                if self._stop.wait(max(0.0, due - time.perf_counter())):
                    return
                self.drop(self.next, due)
                self.scheduled.append(f"chunk-{self.next:05d}.parquet")
                self.next += 1
        except Exception as e:  # re-raised by stop(): a dead feed must fail the run
            self.error = e

    def start(self) -> None:
        self.first = self.next
        self._thread = threading.Thread(target=self._loop, args=(time.perf_counter(),), daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self.error is not None:
            raise self.error


def progress_listener():
    """A StreamingQueryListener that keeps every progress report (the
    class is built on first use: pyspark is imported after the run
    environment is set)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress, self.started = [], []

        def onQueryStarted(self, event):
            self.started.append(time.perf_counter())

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append({
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _batch_files(ckpt: str) -> dict[int, set[str]]:
    """batch id -> source files it consumed, from the file-source log."""
    out: dict[int, set[str]] = {}
    log = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log):
        return out
    for f in os.listdir(log):
        if f.startswith("."):
            continue
        with open(os.path.join(log, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    return out


def _source_offset(ckpt: str) -> int:
    """The file source's log offset in the newest query batch; the files
    of source batch ``b`` are consumed once this reaches ``b``."""
    d = os.path.join(ckpt, "offsets")
    ids = [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []
    if not ids:
        return -1
    with open(os.path.join(d, str(max(ids)))) as f:
        return json.loads(f.read().strip().splitlines()[-1])["logOffset"]


class Stream:
    def __init__(self, spark, src: str, sink: str, ckpt: str, schema):
        self.spark, self.src, self.sink, self.ckpt, self.schema = spark, src, sink, ckpt, schema
        self.calls = []  # (start, end, source log offset after the run)

    def run(self) -> None:
        from geospatial_etl_pipeline_spark.sources.tables import normalize_event_ts
        from geospatial_etl_pipeline_spark.streaming.events import (
            stream_to_partitioned_parquet, windowed_counts)

        t = time.perf_counter()
        raw = self.spark.readStream.format("parquet").schema(self.schema).load(self.src)
        stream_to_partitioned_parquet(
            windowed_counts(normalize_event_ts(raw)), self.sink, ["event_type"], self.ckpt)
        self.calls.append((t, time.perf_counter(), _source_offset(self.ckpt)))


def _check_stream(spark, stream: Stream) -> tuple[bool, str]:
    """Sink rows must equal a batch ``windowed_counts`` over the chunks
    consumed, for every window the watermark has closed, exactly once."""
    from pyspark.sql import functions as F

    from geospatial_etl_pipeline_spark.sources.tables import normalize_event_ts
    from geospatial_etl_pipeline_spark.streaming.events import windowed_counts

    consumed = set().union(*_batch_files(stream.ckpt).values())
    paths = [os.path.join(stream.src, f) for f in sorted(consumed)]
    events = normalize_event_ts(spark.read.schema(stream.schema).parquet(*paths))
    expected = {(r[0], r[1]): (r[2], r[3]) for r in windowed_counts(events).collect()}
    sink = spark.read.parquet(stream.sink)
    rows = sink.select("window_start", "event_type", "n_events", "sum_value").collect()
    got = {}
    for r in rows:
        key = (r[0], r[1])
        if key in got:
            return False, f"window {key} written twice"
        got[key] = (r[2], r[3])
    bad = [k for k, v in got.items() if expected.get(k) != v]
    if bad:
        return False, f"{len(bad)} sink windows differ from the batch aggregation, e.g. {bad[0]}"
    max_ts = events.select(F.max("ts")).first()[0]
    # windows ending a full watermark (plus two chunks of late slack)
    # before the newest event are closed and must all have been emitted
    slack = WATERMARK_US + WINDOW_US + 2 * CHUNK_SPAN_US
    horizon = np.datetime64(max_ts, "us") - np.timedelta64(slack, "us")
    missing = [k for k in expected if np.datetime64(k[0], "us") < horizon and k not in got]
    if missing:
        return False, f"{len(missing)} closed windows missing from the sink"
    if not got:
        return False, "sink is empty"
    return True, ""


def run(ctx) -> dict:
    from geospatial_etl_pipeline_spark.plans import catalog

    spark, inputs, tracer = ctx.session.spark, ctx.inputs, ctx.tracer
    catalog.load_all_plans()
    specs = {n: catalog.QUERIES[n] for n in QUERIES}
    with ctx.untimed():  # generating the tables is not the program's set-up
        sf_dir = tables(spark)
    inputs["table_bytes"] = dir_bytes(sf_dir)
    rng = np.random.default_rng(ctx.seed)

    src = os.path.join(ctx.work, "feed")
    os.makedirs(src)
    feed = Feed(inputs["chunks"], src, 0, DROP_PERIOD_S)
    feed.drop_next(WARM_CHUNKS)
    schema = spark.read.parquet(src).schema
    stream = Stream(spark, src, os.path.join(ctx.work, "sink"), os.path.join(ctx.work, "ckpt"), schema)
    listener = progress_listener()
    spark.streams.addListener(listener)
    problems, warm = [], {}

    def unit(name: str, tracer: Tracer) -> tuple[str, float, bool]:
        """One stream run or one query execution: (name, wall, raised)."""
        t = time.perf_counter()
        raised = False
        try:
            if name == STREAM:
                with tracer.span("streaming.run"):
                    stream.run()
            else:
                with tracer.span(f"query.{name}"):
                    with tracer.span(f"plans.{QUERIES[name]}.build"):
                        df = specs[name].fn(spark, sf_dir)
                    with tracer.span(f"plans.{QUERIES[name]}.exec"):
                        noop(df)
        except Exception as e:  # counted as a failed unit
            raised = True
            problems.append(f"{name}: {e!r}")
        return name, time.perf_counter() - t, raised

    # warm-up, which is also the output check of every query: one stream
    # run, then one pass over the queries (the cold pass takes about twice
    # the wall of the next) that sends each result to a hash aggregate
    # instead of the noop sink and compares it with the recorded result.
    # A separate check pass would cost a run another pass.
    with open(EXPECTED) as f:
        expected = json.load(f)
    warm[STREAM] = round(unit(STREAM, Tracer(False))[1], 3)
    query_ok = {}
    for name, spec in specs.items():
        t = time.perf_counter()
        try:
            got = list(result_digest(spec.fn(spark, sf_dir)))
        except Exception as e:  # a query that raises fails its check
            got = repr(e)
        warm[name] = round(time.perf_counter() - t, 3)
        query_ok[name] = got == expected[name]
        if not query_ok[name]:
            problems.append(f"{name}: rows and hash {got} != recorded {expected[name]}")
    ctx.setup_done()

    units = []  # (name, wall, raised)
    n_progress = len(listener.progress)
    starts = len(stream.calls)
    feed.start()
    ctx.window_start()
    t_end = ctx.clock() + ctx.seconds
    last_stream = ctx.clock()  # the first run is due one period in
    passes = 0
    while ctx.clock() < t_end or passes < MIN_PASSES:
        order = list(QUERIES)
        rng.shuffle(order)
        for name in order:
            if ctx.clock() - last_stream >= STREAM_PERIOD_S:
                last_stream = ctx.clock()
                units.append(unit(STREAM, tracer))
            units.append(unit(name, tracer))
        passes += 1
    ctx.window_end()
    feed.stop()
    window_calls = stream.calls[starts:]
    stream.run()  # drain: commit every chunk dropped so far
    # output size on a fixed amount of input: one run over PROBE_CHUNKS
    # fresh chunks, whatever the measured window delivered
    sink_before, probe_bytes = dir_bytes(stream.sink), feed.bytes
    feed.drop_next(PROBE_CHUNKS)
    stream.run()
    out_ratio = (dir_bytes(stream.sink) - sink_before) / (feed.bytes - probe_bytes)

    # the stream's output check, after the window: its sink against a
    # batch aggregation of the chunks it consumed
    stream_ok, why = _check_stream(spark, stream)
    if not stream_ok:
        problems.append(why)
    attempted = len(units)
    failed = sum(1 for n, _, raised in units
                 if raised or not (stream_ok if n == STREAM else query_ok[n]))

    # the stream's own figures: chunk latency, from when the chunk was due
    # to the end of the run whose batch consumed it, and the median over
    # the window's runs of the input rows a run committed per second it ran
    batches = _batch_files(stream.ckpt)
    batch_of = {f: b for b, fs in batches.items() for f in fs}
    lat = []
    for f in feed.scheduled:
        due, b = feed.due[f], batch_of.get(f)
        end = next((e for _, e, last in stream.calls if b is not None and last >= b), None)
        if end is not None:
            lat.append(end - due)
    lo = stream.calls[starts - 1][2] if starts else -1
    rates, prev = [], lo
    for s, e, last in window_calls:
        rows = CHUNK_ROWS * sum(len(fs) for b, fs in batches.items() if prev < b <= last)
        rates.append(rows / (e - s))
        prev = last
    # a query's latency is the median of its own executions, and the
    # workload's the median over the queries, so the middle rank always
    # falls on the same kind of query
    walls = {}
    for n, w, _ in units:
        walls.setdefault(n, []).append(w)
    spark.streams.removeListener(listener)
    queries = [(n, w, raised) for n, w, raised in units if n != STREAM]
    e2e = {
        # per second of the client's query time: how many stream runs fall
        # into a window depends on where the schedule meets the passes
        "throughput_per_s": sum(1 for n, _, raised in queries if not raised and query_ok[n])
        / sum(w for _, w, _ in queries),
        "latency_p50_s": median([median(walls[n]) for n in QUERIES if n in walls]),
        "commit_latency_s": median(lat),
        "commit_rows_per_s": median(rates),
        "out_bytes_per_in_byte": out_ratio,
    }
    layers = {}
    if tracer.enabled:
        layers = _layers(spark, sf_dir, tracer, listener.progress[n_progress:],
                         listener.started, window_calls, lo, stream.ckpt, feed)
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "samples": {"queries": len(queries), "stream_runs": len(window_calls), "chunks": len(lat)},
        "units": [(n, round(w, 3)) for n, w, _ in units],
        "warm": warm,
        "e2e": e2e,
        "layers": layers,
    }


def _layers(spark, sf_dir, tracer, progress, started, calls, calls_before, ckpt, feed) -> dict:
    from geospatial_etl_pipeline_spark.sources.tables import TABLES, load_table

    m = {}
    for name, module in QUERIES.items():
        m[f"plans.{module}.build_s"] = median(tracer.durations(f"plans.{module}.build"))
        m[f"plans.{module}.exec_s"] = median(tracer.durations(f"plans.{module}.exec"))
        m[f"query.{name}_s"] = median(tracer.durations(f"query.{name}"))
    scans = []
    for _ in range(3):
        t = time.perf_counter()
        for table in TABLES:
            noop(load_table(spark, sf_dir, table))
        scans.append(time.perf_counter() - t)
    m["sources.tables.scan_s"] = median(scans)
    busy = [p for p in progress if p["rows"]]  # batches that read input
    m["streaming.batches"] = float(len(busy))
    m["streaming.rows_per_batch"] = median([p["rows"] for p in busy])
    for metric, key in (("trigger_ms", "triggerExecution"), ("plan_ms", "queryPlanning"),
                        ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit")):
        m[f"streaming.{metric}"] = median([p["ms"].get(key, 0) for p in busy])
    m["streaming.state_rows"] = median([p["state_rows"] for p in busy])
    m["streaming.state_mb"] = median([p["state_bytes"] / 2**20 for p in busy])
    m["streaming.query_start_s"] = median(
        [s - c[0] for c in calls for s in started if c[0] <= s <= c[1]])
    m["gen.late_s_max"] = max((feed.dropped[f] - feed.due[f] for f in feed.scheduled), default=0.0)
    # backlog: files on disk but not yet consumed when a run starts
    batches = _batch_files(ckpt)
    backlog, prev_last = [], calls_before
    for c0, _, last in calls:
        seen = {f for b, fs in batches.items() if b <= prev_last for f in fs}
        backlog.append(sum(1 for f, t in feed.dropped.items() if t <= c0 and f not in seen))
        prev_last = last
    m["gen.backlog_files_max"] = float(max(backlog, default=0))
    return m
