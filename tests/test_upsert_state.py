"""The append-only upsert state (``connectors.upsert_into``): a base plus
one ``_batch`` partition of per-key winners per upsert, read through
``FeatureStore.read_parquet`` and served by a point index that folds in
only the new files.

The state must equal the relational MERGE spec (``merge_upsert_plan``)
after every batch, through replays, late rows, NULL ordering columns,
both compaction tiers and a migration from the full-rewrite layout; a
crash at any write must leave it readable and exact; and a batch that
cannot join the stored schema must be refused before anything is
written."""

from __future__ import annotations

import functools
import json
import os

import pytest

from ralf_spark import layout
from ralf_spark.connectors import merge_upsert_plan, upsert_into
from ralf_spark.store import FeatureStore
from ralf_spark.table import FeatureTable

META = dict(key="k", ts="ts", seq="seq")

#: out-of-order rows (batch 3 loses to the state), NULL ts (ordered
#: below every value), a replay (batch 4 = batch 2) and fresh keys
BATCHES = [
    [(1, 10, 1, 1.0), (2, 10, 2, 2.0), (4, None, 1, 0.5), (5, None, 2, 5.0)],
    [(1, 20, 3, 9.0), (3, 5, 4, 7.0), (4, 5, 1, 4.5), (1, 20, 2, 8.0)],
    [(1, 15, 9, 3.0), (2, 10, 1, 8.0), (5, None, 1, 6.0)],
    [(1, 20, 3, 9.0), (3, 5, 4, 7.0), (4, 5, 1, 4.5), (1, 20, 2, 8.0)],
    [(2, 30, 5, 7.0), (6, 1, 1, 6.0), (5, 2, 2, 5.5)],
    [(6, 1, 1, 6.0), (3, 5, 5, 3.5), (7, None, None, 7.0)],
    [(7, 2, None, 7.5), (1, 21, 0, 1.5)],
]


def _table(spark, rows, key_type="long"):
    if key_type == "string":
        rows = [(f"k{r[0]}",) + tuple(r[1:]) for r in rows]
    return FeatureTable(
        spark.createDataFrame(
            rows, f"k {key_type}, ts long, seq long, v double"
        ),
        **META,
    )


def _legacy_state(spark, path, rows, key_type):
    """A full-rewrite state at ``path`` holding ``latest()`` of rows."""
    from ralf_spark.connectors import _staged_overwrite

    _staged_overwrite(spark, _table(spark, rows, key_type).latest().df, path)


def _tiny_tiers(monkeypatch):
    """Compaction after 2 tags, tier 2 at 2 compacted partitions: the
    fourth upsert folds tier 1, the fifth tier 2."""
    monkeypatch.setattr(layout, "AUTO_MAINTAIN_BATCHES", 2)
    monkeypatch.setattr(
        layout, "tiered_compaction_sources",
        functools.partial(layout.tiered_compaction_sources, tier_limit=2),
    )


def _tags(path):
    return sorted(d for d in os.listdir(path) if d.startswith("_batch="))


def _assert_state(spark, store, path, want, keys):
    """The store read's ``latest()``, ``bulk_query``, ``FeatureStore.
    point_query`` (re-registered, so the index folds) and, for the first
    three keys, Spark point reads all equal ``want``."""
    t = store.read_parquet(path, **META)
    assert sorted(map(tuple, t.latest().df.collect())) == want
    assert sorted(map(tuple, t.bulk_query(collect=True))) == want
    store.register("state", t)
    by_key = {r[0]: [r] for r in want}
    for k in keys:
        assert [tuple(r) for r in store.point_query("state", k)] == \
            by_key.get(k, []), k
    for k in keys[:3]:
        assert [tuple(r) for r in t.point_query(k)] == by_key.get(k, []), k


@pytest.mark.parametrize(
    "key_type,start", [("long", "fresh"), ("string", "fresh"), ("long", "legacy")]
)
def test_upsert_state_matches_merge_fold(
    spark, tmp_path, monkeypatch, key_type, start
):
    """After every batch the appended state equals a ``merge_upsert_plan``
    fold of the batches' winners, on every read path — through a replay,
    out-of-order rows, NULL ts and seq, a tier-1 and a tier-2 compaction,
    and (``legacy``) a migration from the full-rewrite layout."""
    _tiny_tiers(monkeypatch)
    path = str(tmp_path / "state")
    store = FeatureStore(spark)
    key = (lambda i: i) if key_type == "long" else (lambda i: f"k{i}")
    keys = [key(i) for i in (1, 4, 99, 2, 3, 5, 7)]
    batches = BATCHES
    merged = None
    if start == "legacy":
        _legacy_state(spark, path, BATCHES[0], key_type)
        merged = _table(spark, BATCHES[0], key_type).latest().df
        batches = BATCHES[1:]
    seen_tags = set()
    for rows in batches:
        b = _table(spark, rows, key_type)
        upsert_into(path, b)
        latest = b.latest().df
        merged = latest if merged is None else merge_upsert_plan(
            merged, latest, "k", ["ts", "seq"]
        )
        rows = merged.collect()
        merged = spark.createDataFrame(rows, merged.schema)  # a short plan
        want = sorted(map(tuple, rows))
        _assert_state(spark, store, path, want, keys)
        seen_tags.update(_tags(path))
    # both tiers ran: a tier-1 fold beside the base, then a fold of it
    assert "_batch=compacted-base" in seen_tags
    assert "_batch=compacted-base" not in _tags(path)
    assert len([t for t in seen_tags if t.startswith("_batch=compacted-")]) >= 3


def _upsert_all(spark, path, batches):
    for rows in batches:
        upsert_into(path, _table(spark, rows))


def _want(spark, batches):
    return sorted(map(tuple, _table(
        spark, [r for rows in batches for r in rows]
    ).latest().df.collect()))


def _latest(spark, path):
    t = FeatureStore(spark).read_parquet(path, **META)
    return sorted(map(tuple, t.latest().df.collect()))


class _Killed(RuntimeError):
    """Stands in for a writer killed mid-operation."""


def test_upsert_append_killed_mid_write(spark, tmp_path, monkeypatch):
    """An append killed mid-write leaves its files in a hidden staging
    directory, as Spark's dynamic overwrite does: the state reads as
    before the crash, and the replayed batch converges."""
    path = str(tmp_path / "state")
    _upsert_all(spark, path, BATCHES[:2])
    real = layout.write_batch

    def killed(df, root, tag, partition_by=("_batch",)):
        df.write.parquet(f"{root}/.spark-staging-killed/_batch={tag}")
        raise _Killed("killed mid-write")

    monkeypatch.setattr(layout, "write_batch", killed)
    with pytest.raises(_Killed):
        upsert_into(path, _table(spark, BATCHES[2]))
    assert _latest(spark, path) == _want(spark, BATCHES[:2])
    monkeypatch.setattr(layout, "write_batch", real)
    upsert_into(path, _table(spark, BATCHES[2]))  # the replay
    assert _latest(spark, path) == _want(spark, BATCHES[:3])


@pytest.mark.parametrize("point", ["before_done", "after_done"])
def test_upsert_compaction_killed(spark, tmp_path, monkeypatch, point):
    """A compaction killed before its done marker (the folded partition
    written, the sources intact) or after it (the sources not yet
    deleted) leaves both copies of the folded batches: reads stay exact,
    and the next upsert, which does not compact, rolls the fold back or
    finishes it."""
    from ralf_spark import connectors

    _tiny_tiers(monkeypatch)
    path = str(tmp_path / "state")
    _upsert_all(spark, path, BATCHES[:3])
    if point == "before_done":
        real = connectors.write_json_sidecar

        def write(spark_, p, payload):
            if payload.get("done"):
                raise _Killed("killed before the done marker")
            real(spark_, p, payload)

        monkeypatch.setattr(connectors, "write_json_sidecar", write)
    else:
        def delete(*_):
            raise _Killed("killed after the done marker")

        monkeypatch.setattr(layout, "_delete_tag_dirs", delete)
    with pytest.raises(_Killed):
        upsert_into(path, _table(spark, BATCHES[3]))  # the 4th compacts
    monkeypatch.undo()  # default tiers: the next upsert does not compact
    manifest = f"{path}/.compact_manifest.json"
    with open(manifest) as f:
        man = json.load(f)
    folded = f"_batch={man['ctag']}"
    sources = {f"_batch={t}" for t in man["sources"]}
    assert folded in _tags(path) and sources <= set(_tags(path))
    assert _latest(spark, path) == _want(spark, BATCHES[:4])
    upsert_into(path, _table(spark, BATCHES[4]))
    assert not os.path.exists(manifest)
    tags = set(_tags(path))
    if point == "before_done":  # rolled back
        assert folded not in tags and sources <= tags
    else:  # finished
        assert folded in tags and not sources & tags
    assert _latest(spark, path) == _want(spark, BATCHES[:5])


def test_upsert_schema_refused_before_write(spark, tmp_path):
    """A batch with an extra column or a type that cannot up-cast to the
    stored one raises before anything is written; an int ts joins a
    long-ts state widened to long."""
    path = str(tmp_path / "state")
    _upsert_all(spark, path, BATCHES[:1])

    def files():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        )

    before = files()
    extra = FeatureTable(spark.createDataFrame(
        [(1, 30, 1, 1.0, "x")], "k long, ts long, seq long, v double, e string"
    ), **META)
    narrow = FeatureTable(spark.createDataFrame(
        [(1, 30.5, 1, 1.0)], "k long, ts double, seq long, v double"
    ), **META)
    for bad in (extra, narrow):
        with pytest.raises(ValueError):
            upsert_into(path, bad)
        assert files() == before
    widened = FeatureTable(spark.createDataFrame(
        [(1, 30, 7, 3.0)], "k long, ts int, seq long, v double"
    ), **META)
    upsert_into(path, widened)
    t = FeatureStore(spark).read_parquet(path, **META)
    assert dict(t.df.dtypes)["ts"] == "bigint"
    assert _latest(spark, path) == _want(spark, [BATCHES[0], [(1, 30, 7, 3.0)]])
    stored = spark.read.parquet(path)  # every file holds the stored type
    assert dict(stored.dtypes)["ts"] == "bigint"


def _input_records(spark, group):
    """(jobs, input records) of the jobs run in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    status = jsc.statusStore()
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    records = 0
    for jid in jobs:
        sids = status.job(jid).stageIds()
        for i in range(sids.size()):
            records += status.lastStageAttempt(sids.apply(i)).inputRecords()
    return len(jobs), records


def test_point_index_folds_only_the_new_delta(spark, tmp_path, monkeypatch):
    """After an append and a re-register, the first point read runs one
    Spark job, and it reads only the new delta's rows; the next reads
    run none. The index exists only in the small regime, so the test
    pins it."""
    monkeypatch.delenv("SPARK_GRAFT_SMALL_CORPUS", raising=False)
    path = str(tmp_path / "state")
    upsert_into(path, FeatureTable(spark.createDataFrame(
        [(i, 10, i, float(i)) for i in range(50)], "k long, ts long, seq long, v double"
    ), **META))
    store = FeatureStore(spark)
    store.register("state", store.read_parquet(path, **META))
    assert store.point_query("state", 4)[0].v == 4.0  # builds the index
    upsert_into(path, FeatureTable(spark.createDataFrame(
        [(i, 20, 100 + i, -float(i)) for i in range(0, 80, 2)]
        + [(1, 5, 1, 99.0)],  # loses to the stored row
        "k long, ts long, seq long, v double",
    ), **META))
    store.register("state", store.read_parquet(path, **META))
    sc = spark.sparkContext
    sc.setJobGroup("fold_read", "first point read after an append")
    try:
        [row] = store.point_query("state", 4)
    finally:
        sc.setJobGroup(None, None)
    jobs, records = _input_records(spark, "fold_read")
    assert jobs == 1 and records == 41, (jobs, records)
    assert row.v == -4.0
    sc.setJobGroup("warm_reads", "warm point reads")
    try:
        got = [store.point_query("state", k) for k in (1, 5, 60, 200)]
    finally:
        sc.setJobGroup(None, None)
    assert _input_records(spark, "warm_reads") == (0, 0)
    assert [r[0].v if r else None for r in got] == [1.0, 5.0, -60.0, None]


def test_point_index_rebuilds_when_files_replaced(spark, tmp_path):
    """A re-registration whose files are not a superset of the index's
    (a rewrite, a compaction) rebuilds the index: a key the rewrite
    dropped is gone, and a changed row reads its new value."""
    path = str(tmp_path / "t")
    ddl = "k long, ts long, seq long, v double"
    spark.createDataFrame([(1, 1, 1, 1.0), (2, 1, 1, 2.0)], ddl) \
        .write.parquet(path)
    store = FeatureStore(spark)
    store.register("t", store.read_parquet(path, **META))
    assert store.point_query("t", 2)[0].v == 2.0
    spark.createDataFrame([(1, 0, 0, -1.0)], ddl) \
        .write.mode("overwrite").parquet(path)
    store.register("t", store.read_parquet(path, **META))
    assert store.point_query("t", 2) == []
    assert store.point_query("t", 1)[0].v == -1.0
