"""Schema-drift guard for the driver testdata loaders.

The driver regenerates /root/testdata parquet between rounds and has
already changed the ``events.ts`` physical encoding once (TIMESTAMP(NANOS)
→ timestamp[us] with no UTC flag → Spark TIMESTAMP_NTZ), which silently
broke every ``unix_micros``-based plan. This test fails loudly, in one
obvious place, if the loader ever again surfaces ``ts`` as anything other
than a plain TIMESTAMP.
"""

from __future__ import annotations

import pytest

from geospatial_etl_pipeline_spark.sources.tables import TABLES, load_table

from .conftest import SF_CORRECT, SF_SMOKE


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_CORRECT])
def test_events_ts_is_plain_timestamp(spark, sf):
    df = load_table(spark, sf, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        "events.ts must normalize to TIMESTAMP (not ntz/bigint); "
        "testdata encoding drifted — fix normalize_event_ts"
    )
    # and the hot-path function the NTZ regression broke must be legal
    df.selectExpr("unix_micros(ts)").limit(1).collect()


def test_event_loaders_leave_session_conf_unchanged(spark):
    """A batch events load and a stream_events call write no session
    conf: reading TIMESTAMP(NANOS) as bigint is session policy
    (session.get_spark), not something a loader switches on."""
    from geospatial_etl_pipeline_spark.streaming.events import stream_events

    session = spark.newSession()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before, conf_before = session.conf.get(key), session.conf.getAll
    load_table(session, SF_SMOKE, "events").limit(1).collect()
    stream_events(session, SF_SMOKE)
    assert session.conf.get(key) == before
    assert session.conf.getAll == conf_before


def test_all_tables_load(spark):
    for name in TABLES:
        df = load_table(spark, SF_SMOKE, name)
        assert len(df.columns) > 0, name
