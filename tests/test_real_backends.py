"""Real-backend smoke suite (VERDICT r6 #6).

This sandbox has no Kafka broker or Redis server, so the engine's
external connectors are contract-tested against recorded stubs. THIS
module converts that caveat into a runnable checklist: each test runs
the existing contract against the REAL backend and is skipped cleanly
unless the environment provides it:

- ``SPARK_GRAFT_KAFKA_BOOTSTRAP=host:port`` — JSON wire round-trip
  through a real topic (batch produce via the Kafka sink, bounded
  streaming consume via ``kafka_events`` → ``decode_kafka_records``).
  Requires the spark-sql-kafka connector jar on the classpath.
- ``SPARK_GRAFT_REDIS_URL=redis://host:port/db`` — ``RedisKVClient``
  CRUD + a full ``KVStateConnector`` state round-trip (the reference's
  redis layout: one hash per table, one field per key).

A cluster CI keeps these gates green (SCALE.md "real-backend CI
checklist"); locally they skip.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

KAFKA = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
REDIS_URL = os.environ.get("SPARK_GRAFT_REDIS_URL")


@pytest.mark.skipif(not KAFKA, reason="SPARK_GRAFT_KAFKA_BOOTSTRAP unset")
def test_kafka_json_round_trip(spark, tmp_path):
    """Produce the wire records with Spark's Kafka sink, then drain the
    topic through the engine's source + decode path: every produced
    event must come back with identical field values."""
    from pyspark.sql import functions as F

    from ralf_spark.streaming import run_bounded, write_memory
    from ralf_spark.streaming.sources import kafka_events

    topic = f"ralf_smoke_{uuid.uuid4().hex[:8]}"
    rows = [(i, f"u{i % 3}", float(i) * 1.5) for i in range(20)]
    payloads = [
        (json.dumps({"event_id": i, "user_id": u, "value": v}),)
        for i, u, v in rows
    ]
    (
        spark.createDataFrame(payloads, "value string")
        .select(F.col("value").cast("binary"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA)
        .option("topic", topic)
        .save()
    )
    stream = kafka_events(
        spark, KAFKA, topic,
        value_schema="event_id long, user_id string, value double",
    )
    name = f"kafka_smoke_{topic}"
    run_bounded(
        write_memory(stream, name), checkpoint=str(tmp_path / "ck")
    )
    got = sorted(
        (r.event_id, r.user_id, r.value) for r in spark.table(name).collect()
    )
    assert got == sorted(rows)


@pytest.mark.skipif(not REDIS_URL, reason="SPARK_GRAFT_REDIS_URL unset")
def test_redis_kv_crud_and_state_round_trip(spark):
    """RedisKVClient CRUD against a live server, then the full
    KVStateConnector save/upsert/load cycle — identical assertions to the
    in-memory contract tests, real wire."""
    import redis

    from ralf_spark.connectors import KVStateConnector, RedisKVClient
    from ralf_spark.table import FeatureTable

    client = RedisKVClient(client=redis.Redis.from_url(REDIS_URL))
    table = f"ralf_smoke_{uuid.uuid4().hex[:8]}"
    try:
        # raw hash CRUD
        client.hset(table, "a", b"1")
        client.hset(table, "b", b"2")
        assert client.hget(table, "a") == b"1"
        assert client.hlen(table) == 2
        assert sorted(client.hvals(table)) == [b"1", b"2"]
        client.hdel(table, "a")
        assert client.hget(table, "a") is None
        client.delete(table)
        assert client.hlen(table) == 0

        # state-connector round trip (latest-per-key upsert semantics)
        conn = KVStateConnector(client, table, key="k")
        t1 = FeatureTable(
            spark.createDataFrame(
                [("x", 1, 1.0), ("x", 2, 2.0), ("y", 1, 5.0)],
                "k string, seq long, v double",
            ),
            key="k", seq="seq",
        )
        conn.save(t1)
        t2 = FeatureTable(
            spark.createDataFrame(
                [("x", 3, 9.0), ("z", 1, 7.0)], "k string, seq long, v double"
            ),
            key="k", seq="seq",
        )
        conn.upsert(t2)
        got = {
            r.k: (r.seq, r.v) for r in conn.load(spark).df.collect()
        }
        assert got == {"x": (3, 9.0), "y": (1, 5.0), "z": (1, 7.0)}
    finally:
        client.delete(table)
