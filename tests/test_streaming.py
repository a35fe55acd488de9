"""Streaming parity tests: bounded (availableNow) replays must equal the
batch operators on the same data — the deterministic contract SURVEY §5
prescribes in place of the reference's timing-dependent e2e tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ralf_spark.sources.fixtures import load_fixture
from ralf_spark.streaming import (
    file_events,
    foreach_batch_latest_upsert,
    rate_events,
    run_bounded,
    streaming_tumbling_count_window,
    write_memory,
)
from ralf_spark.operators.windows import tumbling_count_window
from ralf_spark.store import FeatureStore
from ralf_spark.table import FeatureTable

from tests.conftest import SF_DIR


def test_star_import_resolves_every_export():
    """``from ralf_spark.streaming import *`` binds every ``__all__``
    name, so an export a deletion left dangling fails here."""
    import ralf_spark.streaming as streaming

    ns: dict = {}
    exec("from ralf_spark.streaming import *", ns)
    assert streaming.__all__
    assert [n for n in streaming.__all__ if n not in ns] == []


@pytest.fixture()
def events_dir(spark, tmp_path):
    """events fixture split into 3 files so multi-batch replay is real."""
    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    path = str(tmp_path / "events_in")
    ev.repartition(3).write.mode("overwrite").parquet(path)
    return path


def test_rate_events_bounded_batch(spark, tmp_path):
    stream = rate_events(spark, rows_per_batch=50, num_keys=7)
    assert stream.isStreaming
    q = run_bounded(
        write_memory(stream, "rate_out"),
        checkpoint=str(tmp_path / "ck_rate"),
    )
    out = spark.table("rate_out")
    assert out.count() == 50
    assert out.select("user_id").distinct().count() == 7
    assert set(out.columns) == {"event_id", "ts", "user_id", "value"}


def test_streaming_tumbling_window_equals_batch(spark, events_dir, tmp_path):
    stream = file_events(spark, events_dir)
    win = streaming_tumbling_count_window(
        stream, key_col="user_id", value_col="value",
        order_col="event_id", size=5,
    )
    run_bounded(
        write_memory(win, "stream_win"),
        checkpoint=str(tmp_path / "ck_win"),
    )
    got = {
        (r.user_id, r.window_id): (round(r.w_sum, 4), round(r.w_avg, 4))
        for r in spark.table("stream_win").collect()
    }

    # batch twin on the same data, ordered by event_id (the stream replay
    # is a single availableNow run; within-batch order is event_id)
    ev = FeatureTable(
        spark.read.parquet(events_dir), key="user_id", ts="ts", seq="event_id"
    )
    batch = tumbling_count_window(
        ev,
        size=5,
        aggs=[
            F.sum("value").alias("w_sum"),
            F.avg("value").alias("w_avg"),
        ],
    )
    want = {
        (r.user_id, r.window_id): (round(r.w_sum, 4), round(r.w_avg, 4))
        for r in batch.df.collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_window_state_carries_across_batches(spark, events_dir, tmp_path):
    """Multi-batch replay (1 file per trigger): same windows as one batch —
    the per-key buffer must survive micro-batch boundaries.

    Note: file order across triggers follows file modification order; the
    window identity here tolerates arrival-order differences by comparing
    per-key window COUNTS + totals, the order-insensitive contract
    (mirrors ralf's sorted-output e2e assertions, test_e2e.py:93)."""
    stream = file_events(spark, events_dir, max_files_per_trigger=1)
    win = streaming_tumbling_count_window(stream, size=5)
    run_bounded(
        write_memory(win, "stream_win_mb"),
        checkpoint=str(tmp_path / "ck_win_mb"),
    )
    got = spark.table("stream_win_mb")
    ev = spark.read.parquet(events_dir)
    per_key_expected = (
        ev.groupBy("user_id").count()
        .select("user_id", (F.floor(F.col("count") / 5)).alias("n_windows"))
    )
    per_key_got = got.groupBy("user_id").count()
    merged = {
        r.user_id: r["count"]
        for r in per_key_got.collect()
    }
    for r in per_key_expected.collect():
        assert merged.get(r.user_id, 0) == r.n_windows, r.user_id


def test_foreach_batch_latest_upsert_equals_batch_latest(spark, events_dir, tmp_path):
    state_path = str(tmp_path / "state")
    stream = file_events(spark, events_dir, max_files_per_trigger=1)
    run_bounded(
        foreach_batch_latest_upsert(
            stream, state_path, key="user_id", ts="ts", seq="event_id"
        ),
        checkpoint=str(tmp_path / "ck_upsert"),
    )
    state = FeatureStore(spark).read_parquet(
        state_path, key="user_id", ts="ts", seq="event_id"
    )
    got = {
        r.user_id: (r.event_id, round(r.value, 4))
        for r in state.latest().df.collect()
    }
    ev = FeatureTable(
        spark.read.parquet(events_dir), key="user_id", ts="ts", seq="event_id"
    )
    want = {
        r.user_id: (r.event_id, round(r.value, 4))
        for r in ev.latest().df.collect()
    }
    assert got == want


# ------------------------------------------------ connector decode plumbing


def test_decode_kinesis_records_stamps_ingest_time_and_shard_key(spark):
    """The reference's per-record loop (ralf/v2/kinesis_source.py:133-162)
    decodes the JSON payload, stamps ingest_time from the arrival
    timestamp, and keys by str(shard_key). Same semantics, columnar —
    exercised on a handcrafted wire DataFrame (no connector jar needed)."""
    import datetime as dt
    import json

    from ralf_spark.streaming import (
        KINESIS_WIRE_SCHEMA,
        decode_kinesis_records,
    )

    arrive = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [
        (
            json.dumps(
                {"event_id": i, "ts": "2024-01-01T00:00:0%d" % i,
                 "user_id": i % 2, "value": float(i)}
            ).encode(),
            "events", str(i % 2), f"shardId-{i % 2:012d}", str(1000 + i),
            arrive + dt.timedelta(seconds=i),
        )
        for i in range(4)
    ]
    raw = spark.createDataFrame(rows, KINESIS_WIRE_SCHEMA)
    out = decode_kinesis_records(raw, shard_key="user_id")
    got = {r.event_id: r for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[3].ingest_time == arrive + dt.timedelta(seconds=3)
    assert got[3].shard_key == "1" and isinstance(got[3].shard_key, str)
    assert got[2].value == 2.0


def test_decode_kafka_records_parses_json_values(spark):
    import json

    from ralf_spark.streaming import decode_kafka_records

    rows = [
        (json.dumps({"event_id": 7, "ts": "2024-01-01T00:00:07",
                     "user_id": 1, "value": 7.0}).encode(),),
    ]
    raw = spark.createDataFrame(rows, "value binary")
    [r] = decode_kafka_records(raw).collect()
    assert (r.event_id, r.user_id, r.value) == (7, 1, 7.0)


def test_msgpack_lite_roundtrips_spec_types():
    """The fallback codec must round-trip every type the wire record uses,
    across the format-width boundaries of the public spec."""
    from ralf_spark.functions.msgpack_lite import packb, unpackb

    cases = [
        None, True, False,
        0, 1, 127, 128, 255, 256, 65535, 65536, 2**32, 2**63 - 1,
        -1, -32, -33, -128, -129, -32768, -32769, -(2**31) - 1, -(2**63),
        0.0, 3.5, -1e300,
        "", "a" * 31, "a" * 32, "a" * 300, "µłti-byte ✓",
        b"", b"\x00\xff" * 200,
        [], [1, "two", 3.0, None], list(range(20)),
        {}, {"key": "u1", "value": 2.5, "timestamp": 17,
             "send_time": 1.5, "nested": {"a": [1, 2]}},
    ]
    for obj in cases:
        assert unpackb(packb(obj)) == obj, obj
    # spec vectors (fixint, fixstr, nil) — not just self-consistency
    assert packb(5) == b"\x05" and packb(None) == b"\xc0"
    assert packb("abc") == b"\xa3abc" and unpackb(b"\xe0") == -32


def test_decode_kafka_records_unpacks_msgpack_values(spark):
    """S2 gap (VERDICT r4 missing #1): the reference wire format is
    msgpack, not JSON (ralf/operators/source.py:73-86). The Arrow-batched
    decode must unpack it to the reference record schema — including the
    reference's field coercions (str(key), int(timestamp)) — without the
    connector jar or the msgpack package."""
    from ralf_spark.functions.msgpack_lite import packb
    from ralf_spark.streaming import decode_kafka_records

    rows = [
        (packb({"key": "u1", "value": 2.5, "timestamp": 17,
                "send_time": 100.25}),),
        # key packed as int, timestamp as float: reference coerces both
        (packb({"key": 42, "value": -1.0, "timestamp": 18.0,
                "send_time": 101.5}),),
    ]
    raw = spark.createDataFrame(rows, "value binary")
    out = decode_kafka_records(raw, value_format="msgpack")
    assert [f.name for f in out.schema.fields] == [
        "key", "value", "timestamp", "send_time"
    ]
    got = sorted(map(tuple, out.collect()), key=lambda t: t[2])
    assert got == [("u1", 2.5, 17, 100.25), ("42", -1.0, 18, 101.5)]


def test_kinesis_events_builds_plan_without_jar(spark):
    """Plan construction must not require the aws-kinesis connector jar
    (absent in this environment — only .start() resolves the source)."""
    from ralf_spark.streaming import kinesis_events

    try:
        df = kinesis_events(
            spark, "events", "us-west-2",
            shard_key="user_id", consumer_name="ralf-kinesis-consumer-0",
        )
        assert "ingest_time" in df.columns
    except Exception as e:  # pragma: no cover - env-dependent
        # Acceptable only if resolution fails for the MISSING JAR, at
        # .load() time — anything else is a real bug.
        assert "aws-kinesis" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e)


@pytest.mark.slow
def test_foreach_batch_kv_upsert_serves_batch_latest(spark, events_dir, tmp_path):
    """The KV serving edge: after draining the stream, the in-memory KV
    store holds exactly the batch-computed latest-per-key state, point
    lookups included (reference Redis path, ralf/state/redis_connector.py)."""
    from ralf_spark.connectors import InMemoryKVClient, KVStateConnector
    from ralf_spark.streaming import foreach_batch_kv_upsert

    con = KVStateConnector(InMemoryKVClient(), "served", key="user_id")
    stream = file_events(spark, events_dir, max_files_per_trigger=1)
    run_bounded(
        foreach_batch_kv_upsert(stream, con, ts="ts", seq="event_id"),
        checkpoint=str(tmp_path / "ck_kv"),
    )
    ev = FeatureTable(
        spark.read.parquet(events_dir), key="user_id", ts="ts", seq="event_id"
    )
    want = {
        r.user_id: (r.event_id, round(r.value, 4))
        for r in ev.latest().df.collect()
    }
    assert con.count(spark) == len(want)
    for uid, (eid, val) in list(want.items())[:5]:
        [row] = con.point_query(spark, uid)
        assert (row.event_id, round(row.value, 4)) == (eid, val)
    got = {
        r.user_id: (r.event_id, round(r.value, 4))
        for r in con.load(spark).df.collect()
    }
    assert got == want


# ------------------------------------------- event-time windows / watermark


def test_time_window_batch_tumbling_and_sliding(spark):
    """FeatureTable.time_window: per-key event-time buckets via F.window —
    one hash agg, correct bucket boundaries, tumbling and sliding."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("a", base + dt.timedelta(minutes=m), 1.0)
        for m in [0, 5, 9, 10, 25]
    ] + [("b", base + dt.timedelta(minutes=12), 2.0)]
    t = FeatureTable(
        spark.createDataFrame(rows, "k string, ts timestamp, v double"),
        key="k", ts="ts",
    )
    got = {
        (r.k, r.window_start.minute): r.n
        for r in t.time_window("10 minutes").df.collect()
    }
    assert got == {("a", 0): 3, ("a", 10): 1, ("a", 20): 1, ("b", 10): 1}

    sliding = t.time_window("10 minutes", slide="5 minutes").df.collect()
    # [0,10) holds minutes {0,5,9}; [5,15) holds {5,9,10}
    a_windows = {r.window_start.minute: r.n for r in sliding if r.k == "a"}
    assert a_windows[0] == 3 and a_windows[5] == 3

    agg = t.time_window(
        "10 minutes", aggs=[F.sum("v").alias("sv")]
    ).df.collect()
    assert {r.sv for r in agg if r.k == "a"} == {3.0, 1.0, 1.0}


@pytest.mark.slow
def test_streaming_time_window_watermark_drops_late_data(spark, tmp_path):
    """End-to-end streaming: with a watermark, a record arriving after its
    window was finalized is DROPPED (append mode emits each window once,
    the late row never appears); the same pipeline definition also runs in
    batch, where the watermark is a no-op and the late row counts."""
    import datetime as dt

    from ralf_spark.streaming.sinks import run_bounded, write_memory

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "k string, ts timestamp, v double"

    def write_file(name, rows, mtime):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(in_dir / name))
        # FileStreamSource orders batches by modification time; the two
        # writes can land in the same clock tick, so pin distinct mtimes
        # to make arrival order (on-time file, then late file) real.
        import os

        for p in (in_dir / name).rglob("*"):
            os.utime(p, (mtime, mtime))

    # batch 1: minutes 0..9 (window [0,10)) then minute 30 — advances the
    # watermark to 30 - 10 = 20, finalizing window [0,10).
    import time as _time

    now = _time.time()
    # Batch sequence (one file per micro-batch, ordered by pinned mtime):
    # f1 fills window [0,10); f2 (minute 30) advances the watermark to
    # 00:20; f3 gives the advance a batch to take effect — Spark filters
    # each batch's input with the watermark as of the batch START, and the
    # eviction that finalizes [0,10) runs at f3's batch end; f4 is the LATE
    # row (minute 1), now behind the watermark -> dropped
    # (numRowsDroppedByWatermark=1 in that batch's progress).
    write_file("f1", [("a", base + dt.timedelta(minutes=m), 1.0)
                      for m in [0, 5, 9]], mtime=now - 240)
    write_file("f2", [("a", base + dt.timedelta(minutes=30), 1.0)],
               mtime=now - 180)
    write_file("f3", [("a", base + dt.timedelta(minutes=31), 1.0)],
               mtime=now - 120)
    write_file("f4", [("a", base + dt.timedelta(minutes=1), 100.0)],
               mtime=now - 60)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "f*"))
    )
    windowed = (
        FeatureTable(stream, key="k", ts="ts")
        .with_watermark("10 minutes")
        .time_window("10 minutes", aggs=[F.count(F.lit(1)).alias("n"),
                                         F.sum("v").alias("sv")])
    )
    run_bounded(
        write_memory(windowed.df, "wm_out", mode="append"),
        checkpoint=str(tmp_path / "ck_wm"),
    )
    got = {
        r.window_start.minute: (r.n, r.sv)
        for r in spark.table("wm_out").collect()
    }
    # window [0,10) finalized with the 3 on-time rows; late v=100 absent
    assert got.get(0) == (3, 3.0)
    assert all(sv < 100 for (_, sv) in got.values())

    # batch mode: same definition, watermark ignored, late row included
    batch_df = spark.read.parquet(
        str(in_dir / "f1"), str(in_dir / "f2"),
        str(in_dir / "f3"), str(in_dir / "f4"),
    )
    bt = (
        FeatureTable(batch_df, key="k", ts="ts")
        .with_watermark("10 minutes")
        .time_window("10 minutes", aggs=[F.count(F.lit(1)).alias("n"),
                                         F.sum("v").alias("sv")])
    )
    bgot = {r.window_start.minute: (r.n, r.sv) for r in bt.df.collect()}
    assert bgot[0] == (4, 103.0)


def test_streaming_sliding_window_equals_batch(spark, events_dir, tmp_path):
    """Single-batch replay of the streaming sliding window reproduces the
    batch sliding_count_window's emit positions and window sums
    (clamp_slide contract included)."""
    from ralf_spark.operators.windows import sliding_count_window
    from ralf_spark.streaming.windows import streaming_sliding_count_window

    stream = file_events(spark, events_dir)
    win = streaming_sliding_count_window(
        stream, key_col="user_id", value_col="value",
        order_col="event_id", size=5, slide=2,
    )
    run_bounded(
        write_memory(win, "stream_slide"),
        checkpoint=str(tmp_path / "ck_slide"),
    )
    got = {
        (r.user_id, r.pos): round(r.w_sum, 4)
        for r in spark.table("stream_slide").collect()
    }

    ev = FeatureTable(
        spark.read.parquet(events_dir), key="user_id", ts="ts", seq="event_id"
    )
    batch = sliding_count_window(
        ev, window_size=5, slide_size=2, payload_cols=["value"]
    )
    want = {
        (r.user_id, r.pos): round(sum(x["value"] for x in r.window), 4)
        for r in batch.df.collect()
    }
    assert got == want
    assert len(got) > 0


@pytest.mark.slow
def test_session_window_batch_and_streaming(spark, tmp_path):
    """FeatureTable.session_window: batch sessions match the expected
    gaps-and-islands grouping; in streaming append mode with a watermark,
    a finalized session is emitted once and merges rows across
    micro-batches."""
    import datetime as dt
    import os
    import time as _time

    from ralf_spark.streaming.sinks import run_bounded, write_memory

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "k string, ts timestamp, v double"

    def rows(*minutes):
        return [("a", base + dt.timedelta(minutes=m), 1.0) for m in minutes]

    # batch: events at minutes 0,5,9 | 30,31 with a 10-minute gap
    t = FeatureTable(
        spark.createDataFrame(rows(0, 5, 9, 30, 31), schema), key="k", ts="ts"
    )
    got = {
        (r.session_start.minute, r.session_end.minute, r.n)
        for r in t.session_window("10 minutes").df.collect()
    }
    # session 1: 0..(9+10)=19; session 2: 30..(31+10)=41
    assert got == {(0, 19, 3), (30, 41, 2)}

    # streaming: session rows split across micro-batches must merge;
    # the session finalizes once the watermark passes its end
    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()

    def write_file(name, data, mtime):
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(in_dir / name))
        for p in (in_dir / name).rglob("*"):
            os.utime(p, (mtime, mtime))

    now = _time.time()
    write_file("f1", rows(0, 5), mtime=now - 240)         # open session
    write_file("f2", rows(9), mtime=now - 180)            # extends it
    write_file("f3", rows(60), mtime=now - 120)           # watermark -> 50
    write_file("f4", rows(61), mtime=now - 60)            # eviction batch
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "f*"))
    )
    sess = (
        FeatureTable(stream, key="k", ts="ts")
        .with_watermark("10 minutes")
        .session_window("10 minutes")
    )
    run_bounded(
        write_memory(sess.df, "sess_out", mode="append"),
        checkpoint=str(tmp_path / "ck_sess"),
    )
    emitted = {
        (r.session_start.minute, r.session_end.minute, r.n)
        for r in spark.table("sess_out").collect()
    }
    # the three rows from two different micro-batches merged into ONE
    # session [0, 19) and were emitted exactly once when finalized
    assert (0, 19, 3) in emitted


@pytest.mark.slow
def test_foreach_batch_moments_upsert_incremental(spark, tmp_path):
    """Two micro-batches folded into the moments state equal a full
    recompute over all rows; a replayed batch id is skipped (no double
    counting)."""
    import datetime as dt

    from ralf_spark.operators.moments import moments_stats
    from ralf_spark.streaming.sinks import (
        foreach_batch_moments_upsert,
        run_bounded,
    )

    base = dt.datetime(2024, 1, 1)
    schema = "k string, ts timestamp, v double"
    in_dir = tmp_path / "mom_in"
    in_dir.mkdir()
    rows1 = [("a", base, 1.0), ("a", base, 3.0), ("b", base, 5.0)]
    rows2 = [("a", base, 5.0), ("b", base, 7.0), ("c", base, 2.0)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(in_dir / "f1")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(in_dir / "f2")
    )
    state_path = str(tmp_path / "moments_state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "f*"))
    )
    run_bounded(
        foreach_batch_moments_upsert(stream, state_path, "k", "v"),
        checkpoint=str(tmp_path / "ck_mom"),
    )
    got = {
        r.k: (r.n, r.mean, r.var_pop)
        for r in moments_stats(
            spark.read.parquet(state_path), "k"
        ).collect()
    }
    # full recompute over all 6 rows
    assert got["a"][0] == 3 and abs(got["a"][1] - 3.0) < 1e-9
    assert abs(got["a"][2] - ((4 + 0 + 4) / 3.0)) < 1e-9
    assert got["b"] == (2, 6.0, 1.0)
    assert got["c"] == (1, 2.0, 0.0)

    # replay protection: re-applying an already-seen batch id is a no-op
    from ralf_spark.streaming.sinks import moments_upsert_batch

    cb = moments_upsert_batch(state_path, "k", "v")
    cb(spark.read.parquet(str(in_dir / "f1")), 0)  # batch 0 replay
    got2 = {
        r.k: r.n
        for r in moments_stats(
            spark.read.parquet(state_path), "k"
        ).collect()
    }
    assert got2 == {k: v[0] for k, v in got.items()}


@pytest.mark.slow
def test_streaming_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (watermarks on BOTH sides) drained with
    availableNow equals the same interval_join run in batch — the join
    family the reference's one-latest-right-row operator cannot express."""
    import datetime as dt

    from ralf_spark.operators.joins import interval_join
    from ralf_spark.streaming.sinks import run_bounded, write_memory

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "k string, ts timestamp, v double"
    purchases = [
        ("a", base + dt.timedelta(minutes=40), 10.0),
        ("a", base + dt.timedelta(minutes=90), 20.0),
        ("b", base + dt.timedelta(minutes=45), 30.0),
    ]
    clicks = [
        ("a", base + dt.timedelta(minutes=15), 1.0),   # 25min before p1
        ("a", base + dt.timedelta(minutes=39), 2.0),   # 1min before p1
        ("a", base + dt.timedelta(minutes=80), 3.0),   # 10min before p2
        ("b", base + dt.timedelta(minutes=5), 4.0),    # 40min before -> out
        ("c", base + dt.timedelta(minutes=44), 5.0),   # key mismatch
    ]
    for name, rows in [("l", purchases), ("r", clicks)]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))

    def table(path):
        stream = spark.readStream.schema(schema).parquet(str(path))
        return FeatureTable(stream, key="k", ts="ts").with_watermark(
            "1 hour"
        )

    joined = interval_join(
        table(tmp_path / "l"), table(tmp_path / "r"),
        lookback="30 minutes",
    )
    run_bounded(
        write_memory(joined.df, "ssj_out", mode="append"),
        checkpoint=str(tmp_path / "ck_ssj"),
        shuffle_partitions=4,
    )
    got = {
        (r.k, r.ts, r.v, r.ts_r, r.v_r)
        for r in spark.table("ssj_out").collect()
    }

    batch = interval_join(
        FeatureTable(
            spark.createDataFrame(purchases, schema), key="k", ts="ts"
        ),
        FeatureTable(
            spark.createDataFrame(clicks, schema), key="k", ts="ts"
        ),
        lookback="30 minutes",
    )
    want = {
        (r.k, r.ts, r.v, r.ts_r, r.v_r) for r in batch.df.collect()
    }
    assert got == want
    assert {(k, v, vr) for k, _, v, _, vr in want} == {
        ("a", 10.0, 1.0), ("a", 10.0, 2.0), ("a", 20.0, 3.0)
    }


@pytest.mark.slow
def test_streaming_index_add_equals_one_shot_add(spark, tmp_path):
    """Micro-batched incremental dedup must be batching-invariant: the
    union of every micro-batch's pair output equals one add() of the whole
    corpus to an empty index (each pair is emitted exactly when its later
    member arrives; banding is deterministic)."""
    from ralf_spark.operators.dedup import MinHashIndex
    from ralf_spark.streaming import foreach_batch_index_add, run_bounded
    from ralf_spark.table import FeatureTable

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, "completely different text about spark shuffles and joins ok"),
        (3, base + " tail"),
        (4, "another unrelated document mentioning windows and watermarks"),
        (5, base + " tail extra"),
    ]
    src = str(tmp_path / "docs")
    # one file per doc -> maxFilesPerTrigger=2 forces multiple micro-batches
    for i, (doc_id, text) in enumerate(docs):
        spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    idx_s = MinHashIndex(str(tmp_path / "idx_s"), hash_fn="xxhash64")
    pairs_path = str(tmp_path / "pairs")
    run_bounded(
        foreach_batch_index_add(
            stream, idx_s, pairs_path, key="doc_id", threshold=0.5
        ),
        checkpoint=str(tmp_path / "ck"),
    )
    streamed = {
        (r.id1, r.id2, r.est_jaccard)
        for r in spark.read.parquet(pairs_path).collect()
    }

    idx_b = MinHashIndex(str(tmp_path / "idx_b"), hash_fn="xxhash64")
    table = FeatureTable(
        spark.createDataFrame(docs, "doc_id long, text string"), key="doc_id"
    )
    batch = {
        (r.id1, r.id2, r.est_jaccard)
        for r in idx_b.add(table, threshold=0.5).collect()
    }
    assert streamed == batch
    assert any(p[:2] == (1, 3) for p in streamed)  # cross-batch pair found


@pytest.mark.slow
def test_msgpack_lite_roundtrip_property():
    """Property: the fallback codec round-trips arbitrary nested wire
    objects (hypothesis-driven, no Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ralf_spark.functions.msgpack_lite import packb, unpackb

    scalars = st.one_of(
        st.none(), st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False),
        st.text(max_size=80), st.binary(max_size=80),
    )
    nested = st.recursive(
        scalars,
        lambda inner: st.one_of(
            st.lists(inner, max_size=8),
            st.dictionaries(st.text(max_size=10), inner, max_size=8),
        ),
        max_leaves=30,
    )

    @settings(max_examples=200, deadline=None)
    @given(nested)
    def roundtrip(obj):
        assert unpackb(packb(obj)) == obj

    roundtrip()


@pytest.mark.slow
def test_streaming_change_detection_equals_batch_last_emitted(spark, tmp_path):
    """The stateful streaming policy must reproduce the batch
    last_emitted semantics across micro-batch boundaries: events arrive
    in 3 event-time-ordered files replayed one per trigger, so the
    last-emitted value for a key must survive in GroupState between
    batches (a per-batch-only implementation emits extra rows)."""
    from ralf_spark.operators.policies import change_detection_filter
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_change_detection_filter,
        write_memory,
    )
    from ralf_spark.table import FeatureTable

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "ordered")
    n = ev.count()
    # 3 contiguous event-time chunks -> one file per trigger, in order
    cut1, cut2 = n // 3, 2 * n // 3
    ordered = ev.orderBy("ts", "event_id").collect()
    for lo, hi in [(0, cut1), (cut1, cut2), (cut2, n)]:
        spark.createDataFrame(ordered[lo:hi], ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_events(spark, src, max_files_per_trigger=1)
    out = streaming_change_detection_filter(stream, threshold=10.0)
    run_bounded(
        write_memory(out, "chg_stream"),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=8,
    )
    got = {
        (r.user_id, r.event_id, round(r.value, 4))
        for r in spark.table("chg_stream").collect()
    }
    batch = change_detection_filter(
        FeatureTable(
            spark.read.parquet(src), key="user_id", ts="ts", seq="event_id"
        ),
        "value", threshold=10.0, semantics="last_emitted",
    )
    want = {
        (r.user_id, r.event_id, round(r.value, 4))
        for r in batch.df.collect()
    }
    assert got == want and len(got) > 0
    # and strictly fewer rows than the input (the shed actually sheds)
    assert len(got) < n


@pytest.mark.slow
def test_streaming_ewma_state_equals_batch_fold(spark, tmp_path):
    """The seeded per-batch EWMA fold must equal the one-shot batch fold
    regardless of micro-batching (3 event-time-ordered chunks, one per
    trigger), and a replayed batch id must be a no-op (the fold is not
    idempotent - the marker guard is load-bearing)."""
    from ralf_spark.operators.moments import ewma_per_key
    from ralf_spark.streaming import (
        ewma_upsert_batch,
        file_events,
        foreach_batch_ewma_upsert,
        run_bounded,
    )

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "ordered")
    n = ev.count()
    ordered = ev.orderBy("ts", "event_id").collect()
    cut1, cut2 = n // 3, 2 * n // 3
    for lo, hi in [(0, cut1), (cut1, cut2), (cut2, n)]:
        spark.createDataFrame(ordered[lo:hi], ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "ewma_state")
    stream = file_events(spark, src, max_files_per_trigger=1)
    run_bounded(
        foreach_batch_ewma_upsert(
            stream, state, key="user_id", ts_col="ts", value_col="value",
            alpha=0.2, tiebreak_col="event_id",
        ),
        checkpoint=str(tmp_path / "ck"),
    )
    got = {
        r.user_id: (r.n_events, round(r.ewma, 6))
        for r in spark.read.parquet(state).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.ewma, 6))
        for r in ewma_per_key(
            spark.read.parquet(src), "user_id", "ts", "value",
            alpha=0.2, tiebreak_col="event_id",
        ).collect()
    }
    assert got == want and len(got) > 0
    # VERDICT r6 #4: the exactly-once marker lives IN the state table
    # (stamped per row, atomic with the staged overwrite) — no
    # driver-local side file exists
    import pathlib

    from ralf_spark.streaming.sinks import LAST_BATCH_COL

    assert not pathlib.Path(state + ".__last_batch__").exists()
    assert LAST_BATCH_COL in spark.read.parquet(state).columns
    # replaying an already-applied batch id must not double-fold
    cb = ewma_upsert_batch(state, "user_id", "ts", "value", 0.2, "event_id")
    cb(spark.read.parquet(src), 0)  # batch_id 0 <= marker -> skipped
    again = {
        r.user_id: (r.n_events, round(r.ewma, 6))
        for r in spark.read.parquet(state).collect()
    }
    assert again == got


@pytest.mark.slow
def test_streaming_pipeline_end2end_batching_invariant(spark, tmp_path):
    """The chained streaming pipeline (source -> stateful tumbling count
    window -> last-emitted change policy -> seeded EWMA state table) must
    equal the batch composition of the same operators regardless of
    micro-batch boundaries AT EITHER STAGE BOUNDARY (VERDICT r5 #1):
    stage 1 (events source) and stage 2 (the durable window topic) each
    replay as 1 chunk and as 3 event-order chunks, all four combinations
    converging on the identical final state."""
    import pyspark.sql.functions as F

    from ralf_spark.operators.moments import ewma_per_key
    from ralf_spark.operators.policies import change_detection_filter
    from ralf_spark.operators.windows import tumbling_count_window
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_ewma_upsert,
        run_bounded,
        streaming_change_detection_filter,
        streaming_tumbling_count_window,
        write_parquet,
    )
    from ralf_spark.table import FeatureTable

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    ordered = ev.orderBy("ts", "event_id").collect()
    n = len(ordered)

    # ---- batch reference: same three operators composed in batch mode
    wins = tumbling_count_window(
        FeatureTable(ev, key="user_id", ts="ts", seq="event_id"),
        size=5,
        aggs=[F.sum("value").alias("w_sum")],
    )
    emitted = change_detection_filter(
        FeatureTable(wins.df, key="user_id", seq="window_id"),
        "w_sum", 120.0, semantics="last_emitted",
    )
    state = ewma_per_key(
        emitted.df, "user_id", ts_col="window_id", value_col="w_sum",
        alpha=0.2,
    )
    want = {
        (r.user_id, r.n_events, round(r.ewma, 6)) for r in state.collect()
    }
    assert want and any(cnt > 1 for _, cnt, _ in want)

    def chunks(rows, k):
        cuts = [round(i * len(rows) / k) for i in range(k + 1)]
        return [rows[cuts[i]: cuts[i + 1]] for i in range(k)]

    for s1_chunks, s2_chunks in [(1, 1), (3, 1), (1, 3), (3, 3)]:
        tag = f"{s1_chunks}_{s2_chunks}"
        src = str(tmp_path / f"src_{tag}")
        for part in chunks(ordered, s1_chunks):
            spark.createDataFrame(part, ev.schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = file_events(
            spark, src,
            schema="event_id long, ts timestamp_ntz, user_id long,"
                   " value double",
            max_files_per_trigger=1 if s1_chunks > 1 else None,
        )
        win = streaming_tumbling_count_window(
            stream, key_col="user_id", value_col="value",
            order_col="event_id", size=5,
        )
        mid_raw = str(tmp_path / f"mid_raw_{tag}")
        run_bounded(
            write_parquet(win, mid_raw, str(tmp_path / f"ck_w_{tag}")),
            shuffle_partitions=4,
        )
        # stage-2 topic replay: re-chunk the window rows in global
        # window_id order (per-key order is preserved by any global sort
        # on window_id) so the 3-chunk replay has controlled boundaries
        topic_rows = (
            spark.read.parquet(mid_raw).orderBy("window_id", "user_id")
            .collect()
        )
        mid = str(tmp_path / f"mid_{tag}")
        mid_schema = spark.read.parquet(mid_raw).schema
        for part in chunks(topic_rows, s2_chunks):
            spark.createDataFrame(part, mid_schema).coalesce(1).write.mode(
                "append"
            ).parquet(mid)
        topic = spark.readStream.schema(
            "user_id long, window_id long, w_sum double, w_avg double"
        ).option(
            "maxFilesPerTrigger", "1" if s2_chunks > 1 else str(10**6)
        ).parquet(mid)
        pol = streaming_change_detection_filter(
            topic, value_col="w_sum", key_col="user_id",
            order_cols=("window_id",), threshold=120.0,
        )
        st = str(tmp_path / f"state_{tag}") + "/state"
        run_bounded(
            foreach_batch_ewma_upsert(
                pol, st, key="user_id", ts_col="window_id",
                value_col="w_sum", alpha=0.2,
            ),
            checkpoint=str(tmp_path / f"ck_p_{tag}"),
            shuffle_partitions=4,
        )
        got = {
            (r.user_id, r.n_events, round(r.ewma, 6))
            for r in spark.read.parquet(st).collect()
        }
        assert got == want, f"split {tag} diverged"
    # the policy stage must actually shed (not a pass-through chain)
    assert sum(cnt for _, cnt, _ in want) < wins.df.count()
    assert n > 0


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_run_bounded_state_store_providers(spark, tmp_path, provider):
    """run_bounded(state_store=...) plumbs the state-store backend through
    for the run (VERDICT r5 #3): both providers produce the identical
    stateful-window result, the checkpoint actually contains that
    provider's artifact format, and the session conf is restored after."""
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_tumbling_count_window,
        write_memory,
    )

    try:  # RocksDB needs a loadable rocksdbjni in the Spark dist
        import glob
        import os

        conf_key = "spark.sql.streaming.stateStore.providerClass"
        before = spark.conf.get(conf_key)
        ev = load_fixture(spark, "events", SF_DIR).df.select(
            "event_id", "user_id", "value"
        )
        src = str(tmp_path / "src")
        ev.coalesce(1).write.parquet(src)
        stream = file_events(
            spark, src, schema="event_id long, user_id long, value double"
        )
        win = streaming_tumbling_count_window(stream, size=5)
        name = f"stateful_{provider}"
        ck = str(tmp_path / f"ck_{provider}")
        run_bounded(
            write_memory(win, name),
            checkpoint=ck,
            shuffle_partitions=4,
            state_store=provider,
        )
    except Exception:
        if provider == "rocksdb":
            pytest.skip("RocksDB state store unavailable in this dist")
        raise
    got = {
        (r.user_id, r.window_id, round(r.w_sum, 4))
        for r in spark.table(name).collect()
    }
    try:  # cross-provider equality when the hdfs variant ran first
        want = {
            (r.user_id, r.window_id, round(r.w_sum, 4))
            for r in spark.table("stateful_hdfs").collect()
        }
    except Exception:
        want = got
    assert got == want and len(got) > 0
    assert spark.conf.get(conf_key) == before  # restored
    state_files = glob.glob(os.path.join(ck, "state", "**", "*"),
                            recursive=True)
    suffixes = {os.path.splitext(f)[1] for f in state_files
                if os.path.isfile(f)}
    if provider == "rocksdb":
        # RocksDB checkpoints upload .zip snapshots (+ .changelog when
        # changelog checkpointing is on); the HDFS provider writes .delta
        assert ".zip" in suffixes or ".changelog" in suffixes, suffixes
    else:
        assert ".delta" in suffixes, suffixes


def test_run_bounded_rejects_unknown_state_store(spark):
    from ralf_spark.streaming import run_bounded

    with pytest.raises(ValueError, match="unknown state_store"):
        run_bounded(None, state_store="lmdb")


@pytest.mark.slow
def test_change_detection_idle_ttl_contract(spark, tmp_path):
    """idle_ttl state eviction (r6): the timeout branch removes state and
    emits nothing; a live batch re-arms the TTL (deterministic direct
    invocation of the module-level callback — the branch a wall-clock
    test cannot pin reliably); and in a CONTINUOUS-trigger run an idle
    key's baseline is actually evicted, so its next nearby value
    re-emits as a first update instead of being shed."""
    import time

    import pandas as pd

    from ralf_spark.streaming import (
        file_events,
        streaming_change_detection_filter,
        write_memory,
    )
    from ralf_spark.streaming.policies import make_change_detection_fn

    class FakeState:
        def __init__(self, timed_out=False, value=None):
            self.hasTimedOut = timed_out
            self.exists = value is not None
            self.get = (value,) if value is not None else None
            self.calls = []

        def remove(self):
            self.calls.append(("remove",))

        def update(self, v):
            self.calls.append(("update", v))
            self.get, self.exists = tuple(v), True

        def setTimeoutDuration(self, ms):
            self.calls.append(("timeout", ms))

    fn = make_change_detection_fn(
        "value", 10.0, ["event_id"], "abs",
        ["user_id", "event_id", "value"], idle_ttl_ms=60_000,
    )
    # timeout invocation: state removed, nothing yielded
    st = FakeState(timed_out=True, value=5.0)
    assert list(fn((7,), iter([]), st)) == []
    assert st.calls == [("remove",)]
    # live batch: baseline updated AND ttl re-armed
    st = FakeState(value=0.0)
    batch = pd.DataFrame(
        {"user_id": [7, 7], "event_id": [1, 2], "value": [3.0, 50.0]}
    )
    out = pd.concat(list(fn((7,), iter([batch]), st)))
    assert list(out.event_id) == [2]  # 3.0 shed vs 0.0; 50.0 emits
    assert st.calls == [("update", (50.0,)), ("timeout", 60000)]

    # continuous-trigger eviction: key 1 emits 100.0; after the 2s TTL
    # its state is evicted, so the later 101.0 (|delta| < threshold)
    # re-emits as a first update. Without eviction it would be shed.
    src_dir = tmp_path / "ttl_src"
    src_dir.mkdir()
    schema = "event_id long, user_id long, value double"
    spark.createDataFrame([(1, 1, 100.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    stream = file_events(spark, str(src_dir), schema=schema)
    out_df = streaming_change_detection_filter(
        stream, threshold=10.0, order_cols=("event_id",),
        idle_ttl_minutes=2 / 60,
    )
    q = (
        write_memory(out_df, "ttl_evict")
        .option("checkpointLocation", str(tmp_path / "ck_ttl"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        # wait for the first emission, then let the TTL lapse
        while time.time() < deadline:
            if spark.table("ttl_evict").count() >= 1:
                break
            time.sleep(0.5)
        time.sleep(6)  # > 3x TTL: eviction timer fires in some batch
        spark.createDataFrame([(2, 1, 101.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        got = set()
        while time.time() < deadline:
            got = {r.event_id for r in spark.table("ttl_evict").collect()}
            if 2 in got:
                break
            time.sleep(0.5)
        assert got == {1, 2}, got
    finally:
        q.stop()

    with pytest.raises(ValueError, match="idle_ttl_minutes"):
        streaming_change_detection_filter(stream, idle_ttl_minutes=-1)


def test_run_bounded_refuses_ttl_stream(spark, tmp_path):
    """availableNow + a processing-time TTL timer never terminates
    (observed); run_bounded must refuse the combination up front."""
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_change_detection_filter,
        write_memory,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1, 1.0)], "event_id long, user_id long, value double"
    ).write.parquet(src)
    stream = file_events(
        spark, src, schema="event_id long, user_id long, value double"
    )
    out = streaming_change_detection_filter(
        stream, order_cols=("event_id",), idle_ttl_minutes=5.0
    )
    with pytest.raises(ValueError, match="never terminates"):
        run_bounded(write_memory(out, "nope"), checkpoint=str(tmp_path / "ck"))
    # ADVICE r6: detection is plan-level, so it survives intermediate
    # transforms that produce NEW DataFrames (the old attribute marker
    # rode only the exact returned frame -> silent permanent hang here)
    wrapped = out.filter("value > 0").select("user_id", "value")
    with pytest.raises(ValueError, match="never terminates"):
        run_bounded(
            write_memory(wrapped, "nope2"), checkpoint=str(tmp_path / "ck2")
        )


@pytest.mark.slow
def test_streaming_decayed_sum_equals_batch_fold(spark, tmp_path):
    """The seeded per-batch continuous-time decay fold must equal the
    one-shot batch fold regardless of micro-batching (3 event-time
    chunks, one per trigger — the stored (t, s) pair must seed each
    batch's first-event decay), and a replayed batch id is a no-op."""
    from ralf_spark.operators.moments import time_decayed_sum
    from ralf_spark.streaming import (
        decayed_upsert_batch,
        file_events,
        foreach_batch_decayed_upsert,
        run_bounded,
    )

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "ordered")
    n = ev.count()
    cut1, cut2 = n // 3, 2 * n // 3
    ordered = ev.orderBy("ts", "event_id").collect()
    for lo, hi in [(0, cut1), (cut1, cut2), (cut2, n)]:
        spark.createDataFrame(ordered[lo:hi], ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "state")
    stream = file_events(spark, src, max_files_per_trigger=1)
    run_bounded(
        foreach_batch_decayed_upsert(
            stream, state, key="user_id", ts_col="ts", value_col="value",
            half_life_s=86_400.0, tiebreak_col="event_id",
        ),
        checkpoint=str(tmp_path / "ck"),
    )
    got = {
        r.user_id: (r.n_events, round(r.decayed_sum, 6), r.last_ts_us)
        for r in spark.read.parquet(state).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.decayed_sum, 6), r.last_ts_us)
        for r in time_decayed_sum(
            spark.read.parquet(src), "user_id", "ts", "value",
            half_life_s=86_400.0, tiebreak_col="event_id",
        ).collect()
    }
    assert got == want and len(got) > 0
    # replayed batch id: marker guard makes the non-idempotent fold a no-op
    cb = decayed_upsert_batch(
        state, "user_id", "ts", "value", 86_400.0, "event_id"
    )
    cb(spark.createDataFrame(ordered[:5], ev.schema), batch_id=0)
    again = {
        r.user_id: (r.n_events, round(r.decayed_sum, 6), r.last_ts_us)
        for r in spark.read.parquet(state).collect()
    }
    assert again == want


@pytest.mark.slow
def test_change_detection_event_time_ttl_deterministic(spark, tmp_path):
    """ttl_clock='event' (r6): eviction fires when the WATERMARK passes a
    key's last event time + TTL — deterministic given the data and valid
    in bounded replays (unlike the processing-time clock). Key 7 goes
    idle past the 60-minute TTL while the watermark advances on other
    keys' events, so its later nearby value re-emits as a first update;
    the identical replay WITHOUT a TTL sheds that value."""
    import datetime as dt

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_change_detection_filter,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        [(1, t(10), 7, 100.0), (2, t(10), 8, 1.0)],
        [(3, t(12), 8, 2.0)],     # watermark -> 11:50 > 11:00 timer
        [(4, t(12, 10), 8, 3.0)], # key 7's timer fires this batch
        [(5, t(12, 30), 7, 101.0)],  # |101-100| < 10: emits ONLY if evicted
    ]
    results = {}
    for label, ttl in (("ttl", 60.0), ("plain", None)):
        src = str(tmp_path / f"src_{label}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = file_events(
            spark, src, schema=schema, max_files_per_trigger=1
        ).withWatermark("ts", "10 minutes")
        out = streaming_change_detection_filter(
            stream, threshold=10.0, order_cols=("ts", "event_id"),
            idle_ttl_minutes=ttl, ttl_clock="event",
        )
        run_bounded(
            write_memory(out, f"evttl_{label}"),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=2,
        )
        results[label] = {
            r.event_id for r in spark.table(f"evttl_{label}").collect()
        }
    # both: first updates 1, 2 emit; key 8's 2.0/3.0 shed (|delta| < 10)
    assert results["plain"] == {1, 2}
    # with event-time TTL key 7 was evicted before event 5 -> re-emits
    assert results["ttl"] == {1, 2, 5}


@pytest.mark.slow
def test_event_time_ttl_survives_late_data(spark, tmp_path):
    """ADVICE r6: a late-but-valid batch (event older than watermark −
    TTL, still inside the allowed watermark delay — Spark does NOT drop
    late rows for apply-with-state) used to arm a timer BELOW the current
    watermark, which ``setTimeoutTimestamp`` rejects, killing the whole
    query. The clamp rearms at watermark + 1 ms instead; eviction still
    fires once the watermark actually passes the key's idle point."""
    import datetime as dt

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_change_detection_filter,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        [(1, t(18), 8, 1.0)],       # watermark after this batch: 14:00
        # key 7 at 10:00: late (< 14:00 watermark) but within the 4 h
        # allowed delay; 10:00 + 60 min TTL = 11:00 < watermark -> the
        # unclamped timer crashed the query here; the clamp arms it at
        # 14:00 + 1 ms instead
        [(2, t(10), 7, 100.0)],
        [(3, t(19), 8, 2.0)],       # watermark -> 15:00 (after commit)
        [(4, t(19, 30), 8, 3.0)],   # wm NOW 15:00 > clamped timer and
                                    # key 7 has no data: evicted here
        [(5, t(20), 7, 101.0)],     # |101-100| < 10: emits ONLY because
                                    # the eviction dropped the baseline
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_events(
        spark, src, schema=schema, max_files_per_trigger=1
    ).withWatermark("ts", "4 hours")
    out = streaming_change_detection_filter(
        stream, threshold=10.0, order_cols=("ts", "event_id"),
        idle_ttl_minutes=60.0, ttl_clock="event",
    )
    run_bounded(
        write_memory(out, "evttl_late"),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=2,
    )
    got = {r.event_id for r in spark.table("evttl_late").collect()}
    assert got == {1, 2, 5}


@pytest.mark.slow
def test_tumbling_window_event_time_ttl(spark, tmp_path):
    """VERDICT r6 #5: idle-key TTL for the streaming count windows — on
    unbounded key domains the window buffers are the state pressure, not
    the one-double policy state. ttl_clock='event' in a bounded replay:
    key 7 buffers one value of a size-2 window, idles past the 60-min
    TTL while the watermark advances on key 8, and its partial window is
    EVICTED — the later value starts a fresh buffer and completes no
    window; the identical replay WITHOUT a TTL completes it."""
    import datetime as dt

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_tumbling_count_window,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        [(1, t(10), 7, 1.0), (2, t(10), 8, 1.0)],  # both buffer 1 value
        [(3, t(12), 8, 2.0)],      # key 8 completes window 0 (sum 3);
                                   # watermark -> 11:50 > key 7 timer 11:00
        [(4, t(12, 10), 8, 3.0)],  # key 7's timer fires (no data for 7)
        [(5, t(12, 30), 7, 5.0)],  # TTL: fresh buffer [5.0], no window;
                                   # plain: completes window 0 (1+5=6)
    ]
    results = {}
    for label, ttl in (("ttl", 60.0), ("plain", None)):
        src = str(tmp_path / f"src_{label}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = file_events(
            spark, src, schema=schema, max_files_per_trigger=1
        ).withWatermark("ts", "10 minutes")
        out = streaming_tumbling_count_window(
            stream, size=2, idle_ttl_minutes=ttl, ttl_clock="event",
        )
        run_bounded(
            write_memory(out, f"winttl_{label}"),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=2,
        )
        results[label] = {
            (r.user_id, r.window_id, r.w_sum)
            for r in spark.table(f"winttl_{label}").collect()
        }
    assert results["plain"] == {(8, 0, 3.0), (7, 0, 6.0)}
    assert results["ttl"] == {(8, 0, 3.0)}


def test_window_ttl_validation_and_bounded_refusal(spark, tmp_path):
    """Window TTL args validate like the policy's; a processing-clock
    TTL'd WINDOW stream is refused by run_bounded via the plan-level
    timer detection (no attribute marker involved)."""
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_sliding_count_window,
        streaming_tumbling_count_window,
        write_memory,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1, 1.0)], "event_id long, user_id long, value double"
    ).write.parquet(src)
    stream = file_events(
        spark, src, schema="event_id long, user_id long, value double"
    )
    with pytest.raises(ValueError, match="idle_ttl_minutes"):
        streaming_tumbling_count_window(stream, idle_ttl_minutes=0)
    with pytest.raises(ValueError, match="ttl_clock"):
        streaming_sliding_count_window(
            stream, idle_ttl_minutes=1.0, ttl_clock="lunar"
        )
    out = streaming_sliding_count_window(
        stream, idle_ttl_minutes=5.0, ttl_clock="processing"
    )
    with pytest.raises(ValueError, match="never terminates"):
        run_bounded(write_memory(out, "nope3"), checkpoint=str(tmp_path / "ck"))


@pytest.mark.slow
def test_streaming_interval_join_batching_invariant(spark, tmp_path):
    """The watermarked stream-stream interval join (r7) must emit exactly
    the batch interval-join matches whether each side arrives as one
    chunk or as 3 time-ordered chunks: the 2-hour watermark delay covers
    the 1-hour lookback, so right-side state is never evicted before a
    same-window left row can arrive (time-ordered replay — the same
    in-order contract every stateful operator here documents)."""
    import pyspark.sql.functions as F

    from ralf_spark.operators.joins import interval_join
    from ralf_spark.streaming import file_events, run_bounded, write_memory
    from ralf_spark.table import FeatureTable

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    # tz-free instants (naive-as-UTC) for the watermark, as in the query
    from ralf_spark.functions.timeutil import epoch_us

    ev_ltz = ev.withColumn("ts", F.timestamp_micros(epoch_us(ev, "ts")))
    want = sorted(
        (r.event_id, r.event_id_r)
        for r in interval_join(
            FeatureTable(
                ev_ltz.where("event_type = 'purchase'"), key="user_id",
                ts="ts",
            ),
            FeatureTable(
                ev_ltz.where("event_type = 'click'"), key="user_id", ts="ts"
            ),
            lookback="1 hour",
        ).df.select("event_id", "event_id_r").collect()
    )
    assert len(want) > 0

    ordered = ev.orderBy("ts", "event_id").collect()
    n = len(ordered)
    for label, cuts in (("one", [(0, n)]),
                        ("three", [(0, n // 3), (n // 3, 2 * n // 3),
                                   (2 * n // 3, n)])):
        src = str(tmp_path / f"src_{label}")
        for lo, hi in cuts:
            spark.createDataFrame(ordered[lo:hi], ev.schema).coalesce(
                1
            ).write.mode("append").parquet(src)

        # one watermark on the shared upstream (see streaming_asof_enrich:
        # two independent sources can pin the global watermark at 0)
        raw = file_events(
            spark, src, max_files_per_trigger=1,
            schema=("event_id long, ts timestamp_ntz, user_id long, "
                    "value double, event_type string"),
        )
        raw = raw.withColumn("ts", F.timestamp_micros(epoch_us(raw, "ts")))
        raw = raw.withWatermark("ts", "2 hours")

        def side(event_type):
            return FeatureTable(
                raw.where(F.col("event_type") == event_type),
                key="user_id", ts="ts",
            )

        joined = interval_join(side("purchase"), side("click"),
                               lookback="1 hour")
        name = f"ivj_{label}"
        run_bounded(
            write_memory(joined.df.select("event_id", "event_id_r"), name),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=4,
        )
        got = sorted(
            (r.event_id, r.event_id_r) for r in spark.table(name).collect()
        )
        assert got == want, f"{label}: {len(got)} vs {len(want)} matches"


@pytest.mark.slow
def test_streaming_enrichment_join_dim_refresh(spark, tmp_path):
    """Stream-static enrichment (r7): the dimension is re-read when the
    stream restarts — a dim row updated between two bounded runs of the
    SAME checkpoint enriches the second run's records with the NEW
    value (the reference's mutable-state join semantics across
    deployments). Uses the same enrichment_join operator as batch."""
    from ralf_spark.operators.joins import enrichment_join
    from ralf_spark.streaming import file_events, run_bounded, write_parquet
    from ralf_spark.table import FeatureTable

    dim_path = str(tmp_path / "dim")
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "gold"), (2, "iron")], "k long, tier string"
    ).write.parquet(dim_path)
    spark.createDataFrame(
        [(10, 1), (11, 2)], "order_id long, k long"
    ).coalesce(1).write.parquet(src)

    out_path = str(tmp_path / "out")

    def run_once():
        stream = file_events(
            spark, src, schema="order_id long, k long"
        )
        dim = FeatureTable(spark.read.parquet(dim_path), key="k")
        joined = enrichment_join(
            FeatureTable(stream, key="k"), dim, on="k", broadcast_right=True
        )
        # parquet sink: supports checkpoint RECOVERY (the memory sink
        # does not), which is the restart this test exercises
        run_bounded(
            write_parquet(joined.df, out_path, str(tmp_path / "ck")),
            shuffle_partitions=2,
        )

    run_once()
    got1 = {(r.order_id, r.tier)
            for r in spark.read.parquet(out_path).collect()}
    assert got1 == {(10, "gold"), (11, "iron")}
    # dim updated + new stream file; the restarted run (same checkpoint)
    # only processes the NEW file, against the NEW dim
    spark.createDataFrame(
        [(1, "platinum"), (2, "iron")], "k long, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    spark.createDataFrame(
        [(12, 1)], "order_id long, k long"
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got2 = {(r.order_id, r.tier)
            for r in spark.read.parquet(out_path).collect()}
    assert (12, "platinum") in got2 and got1 <= got2


@pytest.mark.slow
def test_streaming_ivf_ingest_equals_batch_add(spark, tmp_path):
    """r7 streaming embedding ingest: draining vector micro-batches
    through foreach_batch_ivf_add leaves the IvfIndex identical to one
    batch add of the same vectors, and a forced double-delivery of a
    batch id is a no-op (the _batch dynamic-overwrite regime)."""
    from ralf_spark.operators.similarity import IvfIndex
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_ivf_add,
        run_bounded,
    )
    from ralf_spark.table import FeatureTable

    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    base = FeatureTable(
        spark.createDataFrame(
            [(1, [0.9, 0.1])], "vec_id long, embedding array<double>"
        ),
        key="vec_id",
    )
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(base, cen)

    src = str(tmp_path / "vecs")
    schema = "vec_id long, embedding array<double>"
    for rows in ([(2, [0.8, 0.2])], [(3, [0.1, 0.9]), (4, [0.95, 0.05])]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = file_events(spark, src, schema=schema, max_files_per_trigger=1)
    run_bounded(
        foreach_batch_ivf_add(stream, idx, key="vec_id"),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=2,
    )
    cells = str(tmp_path / "ivf" / "cells")
    assert sorted(r._id for r in spark.read.parquet(cells).collect()) == [
        1, 2, 3, 4,
    ]
    # forced double-delivery of an already-applied batch id: no-op
    idx.add(
        FeatureTable(
            spark.createDataFrame([(2, [0.8, 0.2])], schema), key="vec_id"
        ),
        batch_tag="b0",
    )
    assert sorted(r._id for r in spark.read.parquet(cells).collect()) == [
        1, 2, 3, 4,
    ]
    q = spark.createDataFrame(
        [(100, [1.0, 0.02])], "query_id long, query_vec array<double>"
    )
    got = [r.neighbor_id for r in idx.query(q, k=4, nprobe=1).collect()]
    assert got == [4, 1, 2]  # cell-0 members, cosine order


def _replay_last_batch(spark, run, ck, log):
    """Checkpoint replay of a finished bounded run: drop the newest
    commit, so the restart re-runs that batch (same id, same input) into
    the append log at ``log``; asserts it really rewrote its partition."""
    import glob
    import os

    last = max(int(n) for n in os.listdir(f"{ck}/commits") if n.isdigit())
    for f in (f"{ck}/commits/{last}", f"{ck}/commits/.{last}.crc"):
        if os.path.exists(f):
            os.remove(f)
    files = lambda: set(glob.glob(f"{log}/_batch=b{last}/*.parquet"))  # noqa: E731
    before = files()
    run()
    spark.catalog.clearCache()
    after = files()
    assert before and after and before != after


@pytest.mark.slow
def test_streaming_hll_state_merge_and_replay(spark, tmp_path):
    """r7 HLL state sink (an append log since r10): any micro-batching
    converges on the identical register table (merge on read =
    register-wise max, order/partition invariant), a checkpoint replay
    rewrites its own batch partition, and even a FORCED re-append of
    already-logged rows under a new batch id cannot change the registers
    (idempotent by algebra, not just by layout)."""
    from ralf_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_register_update,
    )
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_hll_append,
        hll_log_state,
        run_bounded,
    )
    from ralf_spark.streaming.sinks import _append_log_batch

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_type", "event_id"
    )
    want = {
        r.event_type: r.est_distinct
        for r in hll_distinct(ev, ["event_type"], "event_id").collect()
    }
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")

    def run():
        stream = file_events(
            spark, src, schema="event_type string, event_id long",
            max_files_per_trigger=1,
        )
        run_bounded(
            foreach_batch_hll_append(
                stream, state, ["event_type"], "event_id"
            ),
            checkpoint=ck,
            shuffle_partitions=4,
        )

    def estimate():
        return {
            r.event_type: r.est_distinct
            for r in hll_estimate(
                hll_log_state(spark, state, ["event_type"]), ["event_type"]
            ).collect()
        }

    run()
    assert estimate() == want and len(want) > 0
    _replay_last_batch(spark, run, ck, state)
    assert estimate() == want
    # NEW id, already-seen rows -> max() no-op
    _append_log_batch(
        state, lambda b: hll_register_update(b, ["event_type"], "event_id")
    )(ev.limit(50), 10**6)
    assert estimate() == want


def test_streaming_cms_state_merge_and_replay(spark, tmp_path):
    """r7 CMS state sink (an append log since r10): counter sums are
    micro-batching-invariant, and a checkpoint replay of a batch
    rewrites that batch's own partition (sums would double-count — the
    per-batch partition is load-bearing here, unlike HLL)."""
    from ralf_spark.operators.sketches import cms_counter_update
    from ralf_spark.streaming import (
        cms_log_state,
        file_events,
        foreach_batch_cms_append,
        run_bounded,
    )

    ev = load_fixture(spark, "events", SF_DIR).df.select("user_id")
    want = {
        (r.r, r.bucket): r.c
        for r in cms_counter_update(ev, "user_id", 4, 64).collect()
    }
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    state, ck = str(tmp_path / "state"), str(tmp_path / "ck")

    def run():
        stream = file_events(
            spark, src, schema="user_id long", max_files_per_trigger=1
        )
        run_bounded(
            foreach_batch_cms_append(stream, state, "user_id", 4, 64),
            checkpoint=ck,
            shuffle_partitions=4,
        )

    def read_state():
        return {
            (r.r, r.bucket): r.c
            for r in cms_log_state(spark, state)
            .select("r", "bucket", "c")
            .collect()
        }

    run()
    assert read_state() == want and len(want) > 0
    # a double-count would inflate the replayed batch's cells
    _replay_last_batch(spark, run, ck, state)
    assert read_state() == want


@pytest.mark.slow
def test_streaming_kmv_state_merge_and_replay(spark, tmp_path):
    """r7 KMV state sink (an append log since r10): min-k merge is
    idempotent by algebra — a forced re-append of already-seen values
    cannot change the k-smallest set — and any micro-batching converges
    on the identical estimate."""
    from ralf_spark.operators.sketches import (
        kmv_distinct,
        kmv_estimate,
        kmv_state_update,
    )
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_kmv_append,
        kmv_log_state,
        run_bounded,
    )
    from ralf_spark.streaming.sinks import _append_log_batch

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_type", "user_id"
    )
    want = {
        r.event_type: r.est_distinct
        for r in kmv_distinct(ev, ["event_type"], "user_id", k=16).collect()
    }
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    state = str(tmp_path / "state")
    stream = file_events(
        spark, src, schema="event_type string, user_id long",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_kmv_append(stream, state, ["event_type"], "user_id",
                                 k=16),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=4,
    )

    def estimate():
        return {
            r.event_type: r.est_distinct
            for r in kmv_estimate(
                kmv_log_state(spark, state, ["event_type"], k=16),
                ["event_type"], k=16,
            ).collect()
        }

    assert estimate() == want and len(want) > 0
    # NEW id, seen values -> min-k no-op by algebra
    _append_log_batch(
        state, lambda b: kmv_state_update(b, ["event_type"], "user_id", 16)
    )(ev.limit(100), 9)
    assert estimate() == want


@pytest.mark.slow
def test_foreach_batch_enriched_write_dim_refresh_within_run(
    spark, tmp_path
):
    """r7: foreach_batch_enriched_write re-reads the dim EVERY
    micro-batch, so a dim overwritten while the query RUNS enriches the
    next batch with the new values — the within-run half of the
    dim-refresh story (the stream-static join covers at-restart). Also
    pins the _batch exactly-once layout."""
    import time

    from ralf_spark.streaming import (
        file_events,
        foreach_batch_enriched_write,
    )

    dim_path = str(tmp_path / "dim")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "gold")], "k long, tier string"
    ).write.parquet(dim_path)
    spark.createDataFrame(
        [(10, 1)], "order_id long, k long"
    ).coalesce(1).write.parquet(src)
    stream = file_events(
        spark, src, schema="order_id long, k long", max_files_per_trigger=1
    )
    q = (
        foreach_batch_enriched_write(stream, dim_path, "k", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90

        def rows():
            try:
                return {
                    (r.order_id, r.tier)
                    for r in spark.read.parquet(out).collect()
                }
            except Exception:
                return set()

        while time.time() < deadline and not rows():
            time.sleep(0.3)
        assert rows() == {(10, "gold")}
        # overwrite the dim WHILE the query runs, then feed a new file
        spark.createDataFrame(
            [(1, "platinum")], "k long, tier string"
        ).write.mode("overwrite").parquet(dim_path)
        spark.createDataFrame(
            [(11, 1)], "order_id long, k long"
        ).coalesce(1).write.mode("append").parquet(src)
        while time.time() < deadline and (11, "platinum") not in rows():
            time.sleep(0.3)
        got = rows()
        assert (11, "platinum") in got, got  # new dim seen mid-run
        assert (10, "gold") in got          # old batch untouched
    finally:
        q.stop()


@pytest.mark.slow
def test_streaming_asof_enrich_batching_invariant(spark, tmp_path):
    """r7 per-record state join: the bounded replay must equal the batch
    as-of join whether events arrive in 1 chunk or 3 event-order chunks
    (the stored latest-right triple must seed later batches), and a
    right update in an EARLIER batch than its left reader must be
    visible (cross-batch state)."""
    import pyspark.sql.functions as F

    from ralf_spark.operators.joins import asof_join
    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_asof_enrich,
        write_memory,
    )
    from ralf_spark.table import FeatureTable

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    left = FeatureTable(
        ev.where("event_type = 'purchase'").select(
            "user_id", "ts", "event_id"
        ),
        key="user_id", ts="ts", seq="event_id",
    )
    right = FeatureTable(
        ev.where("event_type = 'click'").select(
            "user_id", "ts", "event_id",
            F.col("value").alias("right_value"),
        ),
        key="user_id", ts="ts", seq="event_id",
    )
    want = {
        (r.event_id, None if r.right_value is None
         else round(r.right_value, 6))
        for r in asof_join(
            left, right, right_payload=["right_value"]
        ).df.collect()
    }
    assert len(want) > 0

    ordered = ev.orderBy("ts", "event_id").collect()
    n = len(ordered)
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "value double, event_type string")
    for label, cuts in (("one", [(0, n)]),
                        ("three", [(0, n // 3), (n // 3, 2 * n // 3),
                                   (2 * n // 3, n)])):
        src = str(tmp_path / f"src_{label}")
        for lo, hi in cuts:
            spark.createDataFrame(ordered[lo:hi], ev.schema).coalesce(
                1
            ).write.mode("append").parquet(src)

        def side(event_type):
            return file_events(
                spark, src, schema=schema, max_files_per_trigger=1
            ).where(F.col("event_type") == event_type)

        out = streaming_asof_enrich(side("purchase"), side("click"))
        name = f"asof_{label}"
        run_bounded(
            write_memory(out, name),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=4,
        )
        got = {
            (r.event_id, None if r.right_value is None
             else round(r.right_value, 6))
            for r in spark.table(name).collect()
        }
        assert got == want, label


@pytest.mark.slow
def test_streaming_asof_enrich_event_time_ttl(spark, tmp_path):
    """r7: idle-key TTL on the as-of state join — key 7's latest-right
    triple is evicted after a full event-time TTL of inactivity, so its
    later purchase enriches NULL; the identical replay without a TTL
    enriches the stale click value. (The reference's LRU state bound
    makes the same trade.)"""
    import datetime as dt

    import pyspark.sql.functions as F

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_asof_enrich,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = ("event_id long, ts timestamp, user_id long, value double, "
              "event_type string")
    batches = [
        [(1, t(10), 7, 100.0, "click"), (2, t(10), 8, 1.0, "click")],
        [(3, t(12), 8, 2.0, "click")],       # wm -> 11:50 > key-7 timer
        [(4, t(12, 10), 8, 3.0, "click")],   # key 7 evicted (no data)
        [(5, t(12, 30), 7, 0.0, "purchase")],  # TTL: NULL; plain: 100.0
    ]
    results = {}
    for label, ttl in (("ttl", 60.0), ("plain", None)):
        src = str(tmp_path / f"src_{label}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        # ONE watermarked source branched into both sides (the operator's
        # documented event-TTL contract): with two independent sources
        # the min-across-operators global watermark was observed pinned
        # at 0 for the whole bounded run, so no timer ever fires
        s = file_events(
            spark, src, schema=schema, max_files_per_trigger=1
        ).withWatermark("ts", "10 minutes")
        out = streaming_asof_enrich(
            s.where(F.col("event_type") == "purchase"),
            s.where(F.col("event_type") == "click"),
            idle_ttl_minutes=ttl, ttl_clock="event",
        )
        run_bounded(
            write_memory(out, f"asofttl_{label}"),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=2,
        )
        results[label] = {
            r.event_id: r.right_value
            for r in spark.table(f"asofttl_{label}").collect()
        }
    assert results["plain"] == {5: 100.0}
    assert results["ttl"] == {5: None}


@pytest.mark.slow
def test_streaming_asof_enrich_null_right_value(spark, tmp_path):
    """ADVICE r7: a right update whose value is NULL must store and emit
    NULL — not NaN via float() coercion — matching what the batch as-of
    oracle surfaces. The NULL update still ADVANCES the key's as-of
    position (it is the latest right record), shadowing an older
    non-NULL value."""
    import datetime as dt

    import pyspark.sql.functions as F

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_asof_enrich,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = ("event_id long, ts timestamp, user_id long, value double, "
              "event_type string")
    rows = [
        (1, t(10), 7, 50.0, "click"),
        (2, t(11), 7, None, "click"),      # NULL update shadows 50.0
        (3, t(12), 7, None, "purchase"),   # enriches NULL, not NaN
        (4, t(10), 8, None, "click"),      # key 8 only ever saw NULL
        (5, t(11), 8, None, "purchase"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    s = file_events(spark, src, schema=schema)
    out = streaming_asof_enrich(
        s.where(F.col("event_type") == "purchase"),
        s.where(F.col("event_type") == "click"),
    )
    run_bounded(
        write_memory(out, "asof_null"),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=2,
    )
    got = {r.event_id: r.right_value
           for r in spark.table("asof_null").collect()}
    # true NULLs: NaN would fail `is None` (NaN != None) and poison
    # downstream arithmetic silently
    assert got == {3: None, 5: None}
    assert all(v is None for v in got.values())


@pytest.mark.slow
def test_decayed_state_batch_backfill_handoff(spark, tmp_path):
    """r7 ops story: a state table BACKFILLED by the batch operator
    (time_decayed_sum over history, written as-is) seeds the streaming
    sink, which continues over the live tail — final state equals the
    full-history batch fold. The sink's state schema IS the batch
    operator's output schema by design; a pre-r7 state without the
    in-table marker column reads as last_batch=None (all stream batches
    apply), which is exactly right for a fresh backfill."""
    from ralf_spark.operators.moments import time_decayed_sum
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_decayed_upsert,
        run_bounded,
    )

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "ts", "user_id", "value"
    )
    ordered = ev.orderBy("ts", "event_id").collect()
    n = len(ordered)
    history = spark.createDataFrame(ordered[: n // 2], ev.schema)
    tail = spark.createDataFrame(ordered[n // 2:], ev.schema)

    state = str(tmp_path / "state")
    # batch backfill: the operator's output IS the state table
    time_decayed_sum(
        history, "user_id", "ts", "value", half_life_s=86_400.0,
        tiebreak_col="event_id",
    ).write.parquet(state)

    src = str(tmp_path / "tail")
    tail.coalesce(1).write.parquet(src)
    stream = file_events(spark, src)
    run_bounded(
        foreach_batch_decayed_upsert(
            stream, state, key="user_id", ts_col="ts", value_col="value",
            half_life_s=86_400.0, tiebreak_col="event_id",
        ),
        checkpoint=str(tmp_path / "ck"),
    )
    got = {
        r.user_id: (r.n_events, round(r.decayed_sum, 6), r.last_ts_us)
        for r in spark.read.parquet(state)
        .select("user_id", "n_events", "decayed_sum", "last_ts_us")
        .collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.decayed_sum, 6), r.last_ts_us)
        for r in time_decayed_sum(
            ev, "user_id", "ts", "value", half_life_s=86_400.0,
            tiebreak_col="event_id",
        ).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_sliding_window_event_time_ttl(spark, tmp_path):
    """Sliding-window idle TTL (r7): an evicted key loses its rolling
    buffer AND position counter, so its emit sequence restarts — the
    returning key needs a full window of NEW rows before emitting
    again; without the TTL the stale buffer completes immediately."""
    import datetime as dt

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_sliding_count_window,
        write_memory,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        # key 7 buffers 2 of a size-3 window; key 8 rides along
        [(1, t(10), 7, 1.0), (2, t(10), 7, 2.0), (3, t(10), 8, 1.0)],
        [(4, t(12), 8, 2.0)],       # watermark -> 11:50 > key-7 timer
        [(5, t(12, 10), 8, 3.0)],   # key 7 evicted (no data, wm passed)
        [(6, t(12, 30), 7, 9.0)],   # plain: completes [1,2,9] -> emits;
                                    # ttl: fresh buffer [9], no emit
    ]
    results = {}
    for label, ttl in (("ttl", 60.0), ("plain", None)):
        src = str(tmp_path / f"src_{label}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = file_events(
            spark, src, schema=schema, max_files_per_trigger=1
        ).withWatermark("ts", "10 minutes")
        out = streaming_sliding_count_window(
            stream, size=3, slide=1, idle_ttl_minutes=ttl,
            ttl_clock="event",
        )
        run_bounded(
            write_memory(out, f"slttl_{label}"),
            checkpoint=str(tmp_path / f"ck_{label}"),
            shuffle_partitions=2,
        )
        results[label] = {
            (r.user_id, r.pos, r.w_sum)
            for r in spark.table(f"slttl_{label}").collect()
        }
    # key 8 emits its first full window at pos 3 under both replays
    assert results["plain"] == {(8, 3, 6.0), (7, 3, 12.0)}
    assert results["ttl"] == {(8, 3, 6.0)}


@pytest.mark.slow
def test_streaming_asof_enrich_string_keys(spark, tmp_path):
    """r7 review: the output/state schemas derive the key and seq types
    from the input — a string-keyed stream (session ids) must work, not
    crash at the Arrow boundary against a hardcoded `long`."""
    import pyspark.sql.functions as F

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_asof_enrich,
        write_memory,
    )

    rows = [
        # (session_id, ts, event_id, value, side)
        ("s-a", "2024-01-01 00:00:01", 1, 10.0, "click"),
        ("s-a", "2024-01-01 00:00:02", 2, None, "purchase"),
        ("s-b", "2024-01-01 00:00:03", 3, None, "purchase"),
        ("s-a", "2024-01-01 00:00:04", 4, 20.0, "click"),
        ("s-a", "2024-01-01 00:00:05", 5, None, "purchase"),
    ]
    df = spark.createDataFrame(
        [(k, ts, e, v, t) for k, ts, e, v, t in rows],
        "session_id string, ts_s string, event_id long, value double,"
        " event_type string",
    ).select(
        "session_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "event_id", "value", "event_type",
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)
    schema = ("session_id string, ts timestamp_ntz, event_id long,"
              " value double, event_type string")

    def side(event_type):
        return file_events(spark, src, schema=schema).where(
            F.col("event_type") == event_type
        )

    out = streaming_asof_enrich(
        side("purchase"), side("click"), key_col="session_id"
    )
    run_bounded(
        write_memory(out, "asof_str"),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=2,
    )
    got = {
        (r.session_id, r.event_id, r.right_value)
        for r in spark.table("asof_str").collect()
    }
    assert got == {("s-a", 2, 10.0), ("s-b", 3, None), ("s-a", 5, 20.0)}


def test_streaming_count_window_docstrings_present():
    """r7 review: `\"\"\"...\"\"\" + _TTL_DOC` as a first statement is an
    expression, not a docstring — both functions had __doc__ = None."""
    from ralf_spark.streaming.windows import (
        streaming_sliding_count_window,
        streaming_tumbling_count_window,
    )

    for fn in (streaming_tumbling_count_window,
               streaming_sliding_count_window):
        assert fn.__doc__ and "idle_ttl_minutes" in fn.__doc__


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


def _chained_reference(batches, size, threshold):
    """Independent reference: run the WINDOW loop then the CHANGE loop
    as two separate passes (the composed-pipeline semantics)."""
    windows = []
    wid, buf = 0, []
    for batch in batches:
        for _, v in sorted(batch):
            buf.append(float(v))
            if len(buf) == size:
                windows.append((wid, float(sum(buf))))
                wid += 1
                buf = []
    out, last = [], None
    for w, s in windows:
        if last is None or abs(s - last) >= threshold:
            out.append((w, s))
            last = s
    return out


def test_chained_processor_equals_composed_stages_any_batching():
    """r8 (VERDICT r7 #3): the transformWithStateInPandas processor —
    window buffer + change baseline as TWO state variables in ONE
    operator — must emit exactly what the composed two-stage pipeline
    emits, for any micro-batch split (state carries across batches).
    Driven through a fake handle so the logic is verified in-process;
    the Spark integration run is gated on a protobuf-capable runtime."""
    import pandas as pd

    from ralf_spark.streaming.chained import make_window_change_processor

    rows = [(i, float(((i * 7919) % 97) - 48)) for i in range(137)]
    size, threshold = 5, 60.0
    want = _chained_reference([rows], size, threshold)
    assert len(want) > 2  # the policy must shed something AND emit some
    assert len(want) < len(rows) // size

    for n_chunks in (1, 3, 7):
        proc = make_window_change_processor(
            size, threshold, "user_id", "value", "event_id"
        )
        proc.init(_FakeHandle())
        step = max(1, len(rows) // n_chunks)
        got = []
        for lo in range(0, len(rows), step):
            chunk = rows[lo:lo + step]
            pdf = pd.DataFrame(
                {"event_id": [r[0] for r in chunk],
                 "value": [r[1] for r in chunk]}
            )
            for frame in proc.handleInputRows((7,), [pdf], None):
                got.extend(
                    (int(w), float(s))
                    for w, s in zip(frame["window_id"], frame["w_sum"])
                )
        assert got == want, n_chunks


def test_chained_processor_multi_chunk_single_call():
    """ADVICE r8 (high): transformWithStateInPandas delivers a key's
    micro-batch as MULTIPLE Arrow chunks (default 10k rows) in no
    guaranteed order within ONE handleInputRows call. The processor must
    concat all chunks and sort ONCE on order_col — sorting each chunk
    independently consumes values in chunk order and diverges from the
    composed pipeline. Drive one call with interleaved, shuffled chunks."""
    import pandas as pd

    from ralf_spark.streaming.chained import make_window_change_processor

    rows = [(i, float(((i * 7919) % 97) - 48)) for i in range(137)]
    size, threshold = 5, 60.0
    want = _chained_reference([rows], size, threshold)

    # chunk splits that interleave order_col across chunks, in
    # non-monotonic chunk order — the adversarial Arrow delivery
    splits = [
        # round-robin into 3 chunks, delivered 2,0,1
        [rows[2::3], rows[0::3], rows[1::3]],
        # back half before front half
        [rows[70:], rows[:70]],
        # strided singles mixed with a big tail, reversed
        [rows[120:], rows[1:120:2], rows[0:120:2]],
    ]
    for chunks in splits:
        proc = make_window_change_processor(
            size, threshold, "user_id", "value", "event_id"
        )
        proc.init(_FakeHandle())
        pdfs = [
            pd.DataFrame({"event_id": [r[0] for r in c],
                          "value": [r[1] for r in c]})
            for c in chunks if c
        ]
        got = []
        for frame in proc.handleInputRows((7,), pdfs, None):
            got.extend(
                (int(w), float(s))
                for w, s in zip(frame["window_id"], frame["w_sum"])
            )
        assert got == want


def test_chained_window_change_spark_integration(spark, tmp_path):
    """Env-gated (like the real-backend suite): the single-query chained
    spelling replays the SAME rows as the composed window->policy
    pipeline. Skips where the runtime lacks google.protobuf."""
    import pytest

    from ralf_spark.streaming.chained import (
        chained_window_change,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf "
                    "(absent in this env; no network, no installs)")
    import pyspark.sql.functions as F

    from ralf_spark.streaming import (
        file_events,
        run_bounded,
        streaming_change_detection_filter,
        streaming_tumbling_count_window,
        write_memory,
    )

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_id", "user_id", "value"
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    schema = "event_id long, user_id long, value double"

    win = streaming_tumbling_count_window(
        file_events(spark, src, schema=schema), size=5
    )
    mid = str(tmp_path / "mid")
    from ralf_spark.streaming import write_parquet
    run_bounded(write_parquet(win, mid, str(tmp_path / "ck1")),
                shuffle_partitions=4)
    topic = spark.readStream.schema(
        "user_id long, window_id long, w_sum double, w_avg double"
    ).parquet(mid)
    emitted = streaming_change_detection_filter(
        topic, value_col="w_sum", key_col="user_id",
        order_cols=("window_id",), threshold=120.0,
    )
    run_bounded(write_memory(emitted, "composed"),
                checkpoint=str(tmp_path / "ck2"), shuffle_partitions=4)
    want = {
        (r.user_id, r.window_id, round(r.w_sum, 6))
        for r in spark.table("composed").collect()
    }

    chained = chained_window_change(
        file_events(spark, src, schema=schema), size=5, threshold=120.0
    )
    run_bounded(write_memory(chained, "chained"),
                checkpoint=str(tmp_path / "ck3"), shuffle_partitions=4)
    got = {
        (r.user_id, r.window_id, round(r.w_sum, 6))
        for r in spark.table("chained").collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streaming_gram_dedup_matches_sequential_contract(spark, tmp_path):
    """The spans log after a micro-batched run equals the per-step batch
    detector: each batch's spans over corpus-so-far restricted to that
    batch (spans are emitted for the LATER copy at its arrival batch)."""
    import os
    import time

    from ralf_spark.operators.dedup import GramIndex, duplicate_span_ranges
    from ralf_spark.streaming import foreach_batch_gram_dedup, run_bounded
    from ralf_spark.table import FeatureTable

    boiler = " ".join(f"s{i}" for i in range(10))
    batches = [
        [(1, "u1 u2 " + boiler), (2, " ".join(f"x{i}" for i in range(12)))],
        [(3, boiler + " tail1 tail2")],
        [(4, "n o p q r s t u v w"), (5, boiler + " other end")],
    ]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    now = time.time()
    for i, rows in enumerate(batches):
        staged = f"{src}/_stage{i}"
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = f"{src}/b{i}.parquet"
        os.rename(f"{staged}/{part}", dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = GramIndex(str(tmp_path / "gi"), min_tokens=8)
    spans_path = str(tmp_path / "spans")
    run_bounded(
        foreach_batch_gram_dedup(stream, idx, spans_path, key="doc_id"),
        checkpoint=str(tmp_path / "ck"),
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in spark.read.parquet(spans_path).collect()
    )
    # reference: batch detector over batches 1..k, restricted to batch k
    want = []
    seen: list = []
    for rows in batches:
        seen += rows
        t = FeatureTable(
            spark.createDataFrame(seen, "doc_id long, text string"),
            key="doc_id",
        )
        ids = {d for d, _ in rows}
        want += [
            tuple(r)
            for r in duplicate_span_ranges(t, min_tokens=8).collect()
            if r.doc_id in ids
        ]
    assert got == sorted(want)
    assert any(r[0] == 3 for r in got) and any(r[0] == 5 for r in got)
    # batch-1 copies are NOT retro-flagged (crawl-loop contract)
    assert not any(r[0] in (1, 2) for r in got)


@pytest.mark.slow
def test_streaming_rq_state_merge_and_replay(spark, tmp_path):
    """r14 quantile-sketch state sink (an append log): the bottom-k
    merge is idempotent by algebra — a forced re-append of already-seen
    rows cannot change the k-smallest-by-hash set — and any
    micro-batching converges on the identical estimate."""
    from ralf_spark.operators.sketches import (
        reservoir_quantile,
        rq_quantiles,
        rq_state_update,
    )
    from ralf_spark.streaming import (
        file_events,
        foreach_batch_rq_append,
        rq_log_state,
        run_bounded,
    )
    from ralf_spark.streaming.sinks import _append_log_batch

    ev = load_fixture(spark, "events", SF_DIR).df.select(
        "event_type", "event_id", "value"
    )
    want = sorted(
        tuple(r)
        for r in reservoir_quantile(
            ev, ["event_type"], "value", "event_id", qs=(0.5, 0.9), k=32
        ).collect()
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    state = str(tmp_path / "state")
    stream = file_events(
        spark, src,
        schema="event_type string, event_id long, value double",
        max_files_per_trigger=1,
    )
    run_bounded(
        foreach_batch_rq_append(
            stream, state, ["event_type"], "value", "event_id", k=32,
        ),
        checkpoint=str(tmp_path / "ck"),
        shuffle_partitions=4,
    )

    def estimate():
        return sorted(
            tuple(r)
            for r in rq_quantiles(
                rq_log_state(spark, state, ["event_type"], k=32),
                ["event_type"], qs=(0.5, 0.9),
            ).collect()
        )

    assert estimate() == want and want
    # NEW id, seen rows -> bottom-k no-op by algebra
    _append_log_batch(
        state,
        lambda b: rq_state_update(b, ["event_type"], "value", "event_id", 32),
    )(ev.limit(500), 99)
    assert estimate() == want
