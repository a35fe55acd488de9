"""Spans, the Spark status-store reader and the span exporter.

A :class:`Tracer` records one span per public call the benchmark makes
(an *op*), with child spans for the wrapped library calls made inside it
(writer lease, batch compaction, ``MinHashIndex.maintain``,
``sq8_bounds``, DataFrame eager actions and writes) and for the Spark
jobs the op
ran, read back from Spark's status store. Spans stay in memory and are
written out once, at the end, in the Chrome trace-event format.

With tracing off the same ``op`` context only times the call, so the
untraced run pays one ``perf_counter`` pair per op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field

PHASES = ("analysis", "optimization", "planning")
EAGER_ACTIONS = ("count", "collect", "first", "toPandas")
WRITES = ("save", "parquet")


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None  # id of the op span this span belongs to
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class OpStats:
    """Per-op figures gathered from the status store and the child spans."""

    name: str
    wall_s: float
    measured: bool = False  # started inside the loop's measured window
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_union_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    task_skew: float = 1.0
    eager_actions: int = 0
    plan_ms: dict = field(default_factory=lambda: dict.fromkeys(PHASES, 0.0))
    child_s: dict = field(default_factory=dict)  # wrapped span name -> seconds
    wrapped_s: float = 0.0  # time inside any wrapped child span


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStoreReader:
    """Reads jobs, stages and tasks of one job group from the driver's
    ``AppStatusStore`` (the store behind the Spark UI; present with the UI
    disabled). Job groups are set per op, so a group's jobs are exactly
    the jobs that op started from the client thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self._no_status = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def settle(self) -> None:
        """Block until the listener bus has delivered every event, so the
        store holds the final state of jobs that already returned."""
        self.jsc.listenerBus().waitUntilEmpty()

    def fill(self, group: str, st: OpStats) -> list[tuple[int, float, float]]:
        """Add the group's job/stage/task figures to ``st``; returns
        ``(job_id, start, end)`` per finished job, in epoch seconds."""
        jobs = []
        slowest = (-1, None)  # (executor run ms, (stage id, attempt))
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                jobs.append((jid, sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                attempts = self.store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    st.stages += 1
                    st.tasks += s.numTasks()
                    st.executor_run_s += s.executorRunTime() / 1e3
                    st.executor_cpu_s += s.executorCpuTime() / 1e9
                    st.input_bytes += s.inputBytes()
                    st.input_records += s.inputRecords()
                    st.output_bytes += s.outputBytes()
                    st.shuffle_read_bytes += s.shuffleReadBytes()
                    st.shuffle_write_bytes += s.shuffleWriteBytes()
                    if s.executorRunTime() > slowest[0]:
                        slowest = (s.executorRunTime(), (sid, s.attemptId()))
        st.jobs += len(jobs)
        st.job_union_s = _union_seconds([(s, e) for _, s, e in jobs])
        if slowest[1] is not None:
            tl = self.store.taskList(slowest[1][0], slowest[1][1], 100000)
            durs = []
            for t in range(tl.size()):
                d = tl.apply(t).duration()
                if d.isDefined():
                    durs.append(d.get())
            med = statistics.median(durs) if durs else 0
            st.task_skew = max(durs) / med if med else 1.0
        return jobs


def plan_phases_ms(df) -> dict:
    """Catalyst phase times (ms) from the ``QueryExecution`` tracker of
    the DataFrame an eager action ran on."""
    out = dict.fromkeys(PHASES, 0.0)
    try:
        ph = df._jdf.queryExecution().tracker().phases()
    except Exception:  # a DataFrame without a JVM plan (never in practice)
        return out
    for name in PHASES:
        opt = ph.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


class Tracer:
    """Op timer; with ``enabled`` also the span recorder (see module doc).

    ``op(name)`` wraps one public call. Each finished op appends an
    :class:`OpStats` to ``ops``; with tracing off only ``name``,
    ``wall_s`` and ``measured`` are filled.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpStats] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.reader = StatusStoreReader(spark) if enabled else None
        #: tracer time spent inside ops (span bookkeeping of the wrapped
        #: calls) — the part of tracing that inflates op latencies
        self.inside_s = 0.0
        #: tracer time spent after each op reading the status store
        self.after_s = 0.0

    # ------------------------------------------------------------ spans
    def _open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        op = None
        if parent is not None:
            op = parent.op if parent.op is not None else parent.id
        sp = Span(len(self.spans), parent.id if parent else None, op, name,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, measured: bool = False):
        if not self.enabled:
            t0 = time.perf_counter()
            yield None
            self.ops.append(OpStats(name, time.perf_counter() - t0, measured))
            return
        sc = self.spark.sparkContext
        sp = self._open(name, measured=measured)
        group = f"op-{sp.id}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            wall = time.perf_counter() - t0
            t_after = time.perf_counter()
            self._close(sp)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            st = OpStats(name, wall, measured)
            self.reader.settle()
            for jid, s, e in self.reader.fill(group, st):
                self.spans.append(Span(len(self.spans), sp.id, sp.id,
                                       f"spark.job.{jid}", s, e))
            for child in self.spans[sp.id + 1:]:
                if child.op != sp.id or child.name.startswith("spark.job."):
                    continue
                st.child_s[child.name] = st.child_s.get(child.name, 0.0) + child.dur
                if child.parent == sp.id:
                    st.wrapped_s += child.dur
                if child.name.startswith("driver.eager."):
                    st.eager_actions += 1
                for k, v in child.attrs.get("plan_ms", {}).items():
                    st.plan_ms[k] += v
            sp.attrs.update(jobs=st.jobs, stages=st.stages, tasks=st.tasks)
            self.ops.append(st)
            self.after_s += time.perf_counter() - t_after

    # --------------------------------------------------------- wrapping
    def _wrap(self, owner, attr: str, span_name: str, on_exit=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # an action inside an action (first -> head -> collect) is one
            family = span_name.rsplit(".", 1)[0] + "."
            if family.startswith("driver.") and any(
                s.name.startswith(family) for s in tracer._stack
            ):
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            sp = tracer._open(span_name)
            t1 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                if on_exit is not None:
                    on_exit(sp, args)
                tracer._close(sp)
                tracer.inside_s += (t1 - t0) + (time.perf_counter() - t2)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the library calls named in the module doc. Only the
        benchmark process is patched; no file of the engine changes."""
        if not self.enabled:
            return
        import ralf_spark.connectors as connectors
        import ralf_spark.layout as layout
        import ralf_spark.operators.similarity as similarity
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from ralf_spark.operators.dedup import MinHashIndex

        def record_phases(sp: Span, args) -> None:
            sp.attrs["plan_ms"] = plan_phases_ms(args[0])

        def record_write_phases(sp: Span, args) -> None:
            sp.attrs["plan_ms"] = plan_phases_ms(args[0]._df)

        self._wrap(connectors, "acquire_writer_lease", "connectors.acquire_writer_lease")
        self._wrap(layout, "compact_batch_partitions", "layout.compact_batch_partitions")
        self._wrap(MinHashIndex, "maintain", "dedup.maintain")
        self._wrap(similarity, "sq8_bounds", "similarity.sq8_bounds")
        for action in EAGER_ACTIONS:
            self._wrap(DataFrame, action, f"driver.eager.{action}", record_phases)
        for method in WRITES:
            self._wrap(DataFrameWriter, method, f"driver.write.{method}",
                       record_write_phases)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- export
    def export(self, path: str) -> None:
        """Write every span as a Chrome trace event (``ph: "X"``); open
        the file in Perfetto or ``chrome://tracing``. Spark jobs sit on
        their own track (``tid`` 2) under the op that started them."""
        events = []
        for sp in self.spans:
            events.append({
                "name": sp.name,
                "ph": "X",
                "ts": round(sp.start * 1e6),
                "dur": max(0, round(sp.dur * 1e6)),
                "pid": 1,
                "tid": 2 if sp.name.startswith("spark.job.") else 1,
                "args": {"span": sp.id, "parent": sp.parent, "op": sp.op, **{
                    k: v for k, v in sp.attrs.items() if k != "plan_ms"
                }},
            })
        with open(path, "w") as f:
            json.dump({"traceEvents": events, "displayTimeUnit": "ms"}, f)
