"""The workloads. Each is a closed loop driven by one client thread.

A workload function takes a :class:`Ctx` and returns a :class:`Result`:
the set-up times, the latency of every measured op, the workload's read
and write figures, per-layer figures, and the count of ops attempted and
failed (an op fails when it raises or its output differs from the
expected output; outputs are checked outside the timed calls).

Each loop first runs its warm-up rounds unrecorded, then records every
op that starts in the next ``Ctx.seconds``. The warm-up is counted in
rounds, not seconds: a fresh JVM keeps getting faster as it compiles the
ops' code paths, and a fixed amount of work puts every run at the same
point of that curve whatever the host's speed, where a fixed time let a
slow host start measuring earlier on it.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

import gen

#: set-ups per run; ``setup_s`` is their median
SETUPS = 3

#: input sizes per scale; "tiny" is the smoke test's
SIZES = {
    "full": {
        "events": 60_000, "users": 6_000, "zipf": 0.8, "vectors": 2_000,
        "base_docs": 300, "doc_batch": 60, "dup_share": 0.3,
        "auto_maintain": 1, "batch_warmup_rounds": 1,
        "state_keys": 100_000, "state_events": 200_000, "upsert_rows": 5_000,
        "reads_per_round": 6, "read_zipf": 1.1, "state_warmup_rounds": 1,
    },
    "tiny": {
        "events": 3_000, "users": 300, "zipf": 0.8, "vectors": 200,
        "base_docs": 100, "doc_batch": 30, "dup_share": 0.3,
        "auto_maintain": 1, "batch_warmup_rounds": 1,
        "state_keys": 500, "state_events": 1_000, "upsert_rows": 100,
        "reads_per_round": 4, "read_zipf": 1.1, "state_warmup_rounds": 1,
    },
}

FEATURE_WRITE = "latest_per_key"
#: salted_sliding_window is left out: ~2.5 s of per-call job overhead at
#: any skew made it the largest share of every pass, with one sample of
#: it per run; per_key_avg (one aggregation, like the latest_per_key
#: rewrite) too, to fit more rounds in a run
FEATURE_READS = ("feature_pipeline_end2end", "tumbling_count_window", "sq8_adc_topk")


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # private scratch directory inside the checkout
    seed: int
    seconds: float  # measured window
    size: dict

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path, exist_ok=True)
        return path


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    op_s: dict = field(default_factory=dict)  # op name -> measured latencies
    read_s: float = 0.0  # the workload's read figure
    write_s: float = 0.0  # the workload's write figure
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)  # named end-to-end figures
    layer: dict = field(default_factory=dict)  # workload-specific layer figures

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED check: {what}")

    def median(self, op: str) -> float:
        return _median(self.op_s.get(op, []))

    def figures(self, reads: list[str], writes: list[str]) -> None:
        """The read and write figures: the sums of the medians of the
        named ops."""
        self.read_s = sum(self.median(n) for n in reads)
        self.write_s = sum(self.median(n) for n in writes)


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


class Window:
    """The loop's clock. The loop calls :meth:`round` at the start of
    every round; the first ``warmup_rounds`` are the warm-up, and an op is
    recorded when it starts in the ``ctx.seconds`` after them. The first
    measured round always runs to its end, so every op of a round has a
    sample even when a round outlasts the window."""

    def __init__(self, ctx: Ctx, warmup_rounds: int):
        self.ctx = ctx
        self.warmup_rounds = warmup_rounds
        self.rounds = 0
        self.measuring = False
        self.end = None

    def round(self) -> None:
        if self.rounds == self.warmup_rounds:
            log("warm-up done")
            self.measuring = True
            self.end = time.perf_counter() + self.ctx.seconds
        self.rounds += 1

    def open(self) -> bool:
        return (self.end is None or time.perf_counter() < self.end
                or self.rounds == self.warmup_rounds + 1)

    def op(self, res: Result, name: str, fn):
        """Run ``fn`` as one op; returns ``(seconds, value, measured)``, or
        ``(None, None, measured)`` when it raised (counted as failed)."""
        measured = self.measuring
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.op(name, measured=measured):
                out = fn()
        except Exception as exc:  # a failed op is counted, the loop goes on
            import traceback

            traceback.print_exception(exc)
            res.check(False, f"{name} raised")
            return None, None, measured
        t = time.perf_counter() - t0
        if measured:
            res.op_s.setdefault(name, []).append(t)
        return t, out, measured


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(prefix: str, xs: list[float]) -> dict:
    """p50 always; p90 only with at least ten samples beyond it."""
    out = {f"{prefix}_p50_ms": (_median(xs) * 1e3, "ms"), f"{prefix}_n": (len(xs), "count")}
    if len(xs) >= 100:
        out[f"{prefix}_p90_ms"] = (statistics.quantiles(xs, n=10)[-1] * 1e3, "ms")
    return out


def same_rows(cols_a, rows_a, cols_b, rows_b, tol: float = 1.01e-4) -> bool:
    """Equal row multisets up to column order, floats within ``tol``: the
    oracles round to 4 decimals, and Spark and DuckDB may sum doubles in
    different orders, so one value can land on either side of a tie."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    pick = [cols_a.index(c) for c in sorted(cols_a)]
    a = sorted((tuple(r[i] for i in pick) for r in rows_a), key=_sort_key)
    pick = [cols_b.index(c) for c in sorted(cols_b)]
    b = sorted((tuple(r[i] for i in pick) for r in rows_b), key=_sort_key)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > tol:
                    return False
            elif x != y:
                return False
    return True


def _sort_key(row: tuple) -> tuple:
    # floats last and coarse, so a last-digit difference cannot reorder rows
    return tuple(
        (1, round(v, 2)) if isinstance(v, float) else (0, str(v)) for v in row
    )


# =================================================================
# batch_build: the offline training-set build
# =================================================================

def batch_build(ctx: Ctx) -> Result:
    """The offline training-set build, as rounds over two inputs. Four
    registry feature queries run on generated ``events`` and
    ``embeddings`` tables: three are drained (two event features and the
    SQ8 nearest-neighbour feature, which runs ``sq8_bounds`` on every
    call) and ``latest_per_key`` is rewritten as the serving table. Each
    round also filters two arriving document batches against a persistent
    ``MinHashIndex`` built on a base corpus: one is added (``auto_maintain``
    compacts the index before every add after the first), the other only
    checked. The warm-up round collects the queries instead of draining
    them and checks each against its DuckDB oracle.

    The read figure is the sum of the medians of the four read ops (three
    queries and ``check``), the write figure that of the two write ops
    (the rewrite and ``add``): per-op medians, so a round cut by the
    window's end still counts, and a mix of ops with seconds between them
    cannot put a median between two of them."""
    from ralf_spark.operators.dedup import MinHashIndex, incremental_minhash_oracle_sql
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.queries import QUERIES
    from ralf_spark.store import FeatureStore

    sz, spark, res = ctx.size, ctx.spark, Result()
    events = gen.events_table(ctx.seed, sz["events"], sz["users"], sz["zipf"])
    vectors = gen.embeddings_table(ctx.seed, sz["vectors"])
    docs = gen.DocumentSource(ctx.seed)
    base = docs.batch(sz["base_docs"], 0.0)
    store = FeatureStore(spark)
    builds = []
    for i in range(SETUPS):
        data = ctx.dir(f"data{i}")
        t0 = time.perf_counter()
        gen.write(events, f"{data}/events.parquet")
        gen.write(vectors, f"{data}/embeddings.parquet")
        gen.write(base, f"{data}/documents.parquet")
        ev = store.read_parquet(f"{data}/events.parquet", key="user_id",
                                ts="ts", seq="event_id")
        store.register("events", ev)
        res.check(ev.count() == sz["events"], "events row count")
        idx = MinHashIndex(f"{data}/index", hash_fn="md5",
                           auto_maintain=sz["auto_maintain"])
        t1 = time.perf_counter()
        with ctx.tracer.op("dedup.build"):
            idx.build(store.read_parquet(f"{data}/documents.parquet", key="doc_id"))
        builds.append(time.perf_counter() - t1)
        res.setup_s.append(time.perf_counter() - t0)
    corpus = ctx.dir("corpus")
    gen.write(base, f"{corpus}/base.parquet")
    log("set-up done")

    con = duckdb.connect()
    for table in ("events", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    out = ctx.dir("features") + "/latest"
    win = Window(ctx, sz["batch_warmup_rounds"])

    def query(name: str) -> None:
        """Drain the query; in the warm-up, collect it instead and check
        the rows against the query's DuckDB oracle."""
        q = QUERIES[name]

        def drain():
            df = q.fn(spark, data)
            _drain(df)
            unpersist_cached(df)

        def collect():
            df = q.fn(spark, data)
            rows = [tuple(r) for r in df.collect()]
            unpersist_cached(df)
            return df.columns, rows

        t, got_rows, _ = win.op(res, f"query.{name}",
                                drain if win.measuring else collect)
        if t is None:
            return
        if got_rows is None:
            res.check(True, name)
            return
        rel = con.execute(q.oracle)
        ocols = [d[0] for d in rel.description]
        res.check(same_rows(*got_rows, ocols, rel.fetchall()), f"{name} vs its oracle")

    def rewrite() -> None:
        def write():
            QUERIES[FEATURE_WRITE].fn(spark, data).write.mode("overwrite").parquet(out)

        if win.op(res, f"query.{FEATURE_WRITE}", write)[0] is not None:
            res.check(True, FEATURE_WRITE)

    added_at = dict.fromkeys(range(sz["base_docs"]), -1)
    checked_at: dict[int, int] = {}
    got: dict[int, dict] = {}  # dedup step -> pairs that op returned
    kind_at: dict[int, str] = {}  # dedup step -> "add" or "check"
    pairs_per_add = []

    def dedup(kind: str) -> None:
        step = len(kind_at) + 1
        kind_at[step] = kind
        batch = docs.batch(sz["doc_batch"], sz["dup_share"])
        path = f"{corpus}/b{step}.parquet"
        gen.write(batch, path)
        ids = batch.column("doc_id").to_pylist()
        tbl = store.read_parquet(path, key="doc_id")
        call = idx.add if kind == "add" else idx.check
        t, rows, measured = win.op(res, f"dedup.{kind}", lambda: call(tbl).collect())
        if t is None:
            return
        got[step] = {(r["id1"], r["id2"]): r["est_jaccard"] for r in rows}
        for i in ids:
            (added_at if kind == "add" else checked_at)[i] = step
        if kind == "add" and measured:
            pairs_per_add.append(len(rows))

    ops = [
        lambda: dedup("add"),
        lambda: query("feature_pipeline_end2end"),
        lambda: query("tumbling_count_window"),
        rewrite,
        lambda: dedup("check"),
        lambda: query("sq8_adc_topk"),
    ]
    while win.open():
        win.round()
        for op in ops:
            if not win.open():
                break
            op()

    log(f"loop done after {win.rounds} rounds")
    # the last written feature table against the oracle
    got_rel = con.execute(f"SELECT * FROM '{out}/*.parquet'")
    gcols = [d[0] for d in got_rel.description]
    grows = got_rel.fetchall()
    rel = con.execute(QUERIES[FEATURE_WRITE].oracle)
    ocols = [d[0] for d in rel.description]
    res.check(same_rows(gcols, grows, ocols, rel.fetchall()),
              f"written {FEATURE_WRITE} table vs its oracle")

    # dedup oracle, one pass over every generated doc: an add returns the
    # pairs whose later-added member it added; a check returns the pairs
    # of one of its docs with a doc stored before it
    con.execute(f"CREATE TABLE documents AS SELECT * FROM '{corpus}/*.parquet'")
    want: dict[int, dict] = {s: {} for s in kind_at}
    never = len(kind_at) + 1
    for a, b, j in con.execute(incremental_minhash_oracle_sql(
            new_pred=f"_id >= {sz['base_docs']}")).fetchall():
        if a in checked_at and b in checked_at:
            continue
        if a in checked_at or b in checked_at:
            c, o = (a, b) if a in checked_at else (b, a)
            if added_at.get(o, never) < checked_at[c]:
                want[checked_at[c]][(a, b)] = j
        elif max(added_at.get(a, never), added_at.get(b, never)) < never:
            want[max(added_at[a], added_at[b])][(a, b)] = j
    con.close()
    for s, pairs in got.items():
        exp = want[s]
        res.check(pairs.keys() == exp.keys() and all(
            abs(pairs[k] - exp[k]) < 1e-3 for k in exp),
            f"pairs of {kind_at[s]} #{s} vs the oracle")

    log("outputs checked")
    res.figures([f"query.{n}" for n in FEATURE_READS] + ["dedup.check"],
                [f"query.{FEATURE_WRITE}", "dedup.add"])
    dedup_s = sum(res.op_s.get("dedup.add", [])) + sum(res.op_s.get("dedup.check", []))
    dedup_docs = sz["doc_batch"] * (len(res.op_s.get("dedup.add", []))
                                    + len(res.op_s.get("dedup.check", [])))
    res.detail["batch_pass_s"] = (sum(res.median(f"query.{n}")
                                      for n in (FEATURE_WRITE, *FEATURE_READS)), "s")
    res.detail["dedup_add_p50_s"] = (res.median("dedup.add"), "s")
    res.detail["dedup_check_p50_s"] = (res.median("dedup.check"), "s")
    res.detail["dedup_docs_per_s"] = (dedup_docs / dedup_s if dedup_s else 0.0, "1/s")
    res.detail["rounds"] = (win.rounds, "count")
    for name in (FEATURE_WRITE, *FEATURE_READS):
        res.layer[f"query.{name}_s"] = res.median(f"query.{name}")
    res.layer["dedup.build_s"] = _median(builds)
    res.layer["dedup.pairs_per_add"] = _median(pairs_per_add)
    res.layer["dedup.store_files"] = _files(idx.path)
    return res


# =================================================================
# state_serve: upsert micro-batches into a keyed state, serve point reads
# =================================================================

def _latest_map(tbl) -> dict:
    """key -> (ts, event_id, value) of the newest event per key."""
    cols = tbl.select(["user_id", "ts", "event_id", "value"]).to_pydict()
    out: dict = {}
    for k, ts, eid, v in zip(cols["user_id"], cols["ts"], cols["event_id"], cols["value"]):
        cur = out.get(k)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            out[k] = (ts, eid, v)
    return out


def state_serve(ctx: Ctx) -> Result:
    """ralf's loop: each round upserts a micro-batch into the persisted
    latest-per-key state (``connectors.upsert_into``), re-registers the
    state, then serves ``FeatureStore.point_query`` reads. Read keys are
    Zipf-drawn, half of them from the keys the round just wrote. The read
    figure is the median point read, the write figure the median upsert."""
    from ralf_spark.connectors import upsert_into
    from ralf_spark.store import FeatureStore

    sz, spark, res = ctx.size, ctx.spark, Result()
    rng = np.random.default_rng(ctx.seed + 1)
    n_keys = sz["state_keys"]
    base = gen.events_table(ctx.seed, sz["state_events"], n_keys, 0.0)
    store = FeatureStore(spark)
    meta = dict(key="user_id", ts="ts", seq="event_id")
    for i in range(SETUPS):
        d = ctx.dir(f"state{i}")
        state = f"{d}/state"
        t0 = time.perf_counter()
        gen.write(base, f"{d}/base.parquet")
        upsert_into(state, store.read_parquet(f"{d}/base.parquet", **meta))
        store.register("state", store.read_parquet(state, **meta))
        res.setup_s.append(time.perf_counter() - t0)
    expected = _latest_map(base)
    res.check(store.table("state").count() == len(expected), "state key count")
    log("set-up done")

    hot = rng.permutation(n_keys)
    batches = ctx.dir("batches")
    next_id = sz["state_events"]
    t_end = gen.SPAN_US
    batch_bytes = state_bytes = 0
    win = Window(ctx, sz["state_warmup_rounds"])
    rnd = 0
    while win.open():
        win.round()
        batch = gen.events_table(ctx.seed + 100 + rnd, sz["upsert_rows"], n_keys,
                                 sz["read_zipf"], first_id=next_id, t0_us=t_end)
        next_id += sz["upsert_rows"]
        t_end = int(batch.column("ts").to_numpy().max().astype("int64")) - gen.EPOCH_US
        path = f"{batches}/b{rnd}.parquet"
        nbytes = gen.write(batch, path)
        rnd += 1
        w, _, measured = win.op(
            res, "connectors.upsert_into",
            lambda: upsert_into(state, store.read_parquet(path, **meta)))
        if w is None:
            continue
        res.check(True, "upsert")
        if measured:
            batch_bytes += nbytes
            state_bytes += _dir_bytes(state)
        expected.update(_latest_map(batch))  # batches are newer than the state
        win.op(res, "store.register",
               lambda: store.register("state", store.read_parquet(state, **meta)))
        fresh = np.unique(batch.column("user_id").to_numpy())
        half = sz["reads_per_round"] // 2
        keys = list(rng.choice(fresh, half)) + list(
            hot[gen.zipf_draw(rng, n_keys, sz["read_zipf"], sz["reads_per_round"] - half)])
        for key in keys:
            if not win.open():
                break
            key = int(key)
            r, rows, _ = win.op(res, "store.point_query",
                                lambda: store.point_query("state", key))
            if r is None:
                continue
            want = expected.get(key)
            ok = (not rows) if want is None else (
                len(rows) == 1 and rows[0]["event_id"] == want[1]
                and rows[0]["value"] == want[2])
            res.check(ok, f"point_query({key}) vs the latest event of the key")
    log(f"loop done after {win.rounds} rounds")
    upserts = res.op_s.get("connectors.upsert_into", [])
    reads = res.op_s.get("store.point_query", [])
    res.figures(["store.point_query"], ["connectors.upsert_into"])
    res.detail.update(_tail("upsert", upserts))
    res.detail.update(_tail("point_query", reads))
    res.layer["connectors.write_amp"] = state_bytes / batch_bytes if batch_bytes else 0.0
    res.layer["connectors.state_files"] = _files(state)
    return res


WORKLOADS = {
    "batch_build": batch_build,
    "state_serve": state_serve,
}
