"""Benchmark entry point; run it from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Starts one local Spark session (``local[<cpus> / 2]``, confined to those
CPUs), runs one workload as a closed loop, unrecorded for its warm-up
rounds and then measured for ``--seconds``, and prints, as the last line
of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it holds the
workload's named figures (``detail``, with the end-to-end metrics as
``e2e.*``).
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
and the spans are written to ``.perfbench/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
The program under test is the ``ralf_spark`` package of the checkout;
without it the run fails before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(HERE, "..", "BENCHMARK.json")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _checkout_package(root: str) -> None:
    """Import ``ralf_spark`` from ``root`` and nowhere else."""
    if not os.path.isfile(os.path.join(root, "ralf_spark", "__init__.py")):
        sys.exit(f"perfbench: no ralf_spark package under {root}; "
                 "run from the root of a checkout")
    sys.path.insert(0, root)
    import ralf_spark

    where = os.path.dirname(os.path.abspath(ralf_spark.__file__))
    if where != os.path.join(root, "ralf_spark"):
        sys.exit(f"perfbench: ralf_spark imported from {where}, not {root}")


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def start_spark(work: str):
    """One local session whose scratch files all land under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the run (this process and the JVM it starts) is confined to half the
    # CPUs: on a 4-CPU host shared with other tenants, a stage that waits
    # for its slowest task made runs on three task threads spread by ~35%
    # between runs, where runs on two CPUs spread by ~6-7%
    cpus = sorted(os.sched_getaffinity(0))
    cpus = cpus[:max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, cpus)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(cpus)))
    from ralf_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap (-Xms = driver memory): heap resizing otherwise
            # varies between runs, and peak RSS with it by ~20%
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.driver.memory": "2g",
            # the status store keeps fewer finished jobs than the default
            # 1000, so its size, and the heap with it, stops growing early
            # in a run; the tracer reads an op's jobs right after the op
            "spark.ui.retainedJobs": "200",
            "spark.ui.retainedStages": "400",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(res, pids) -> dict:
    return {
        "setup_s": (statistics.median(res.setup_s), "s"),
        "read_ms": (res.read_s * 1e3, "ms"),
        "write_ms": (res.write_s * 1e3, "ms"),
        "peak_rss_mb": (_peak_rss_mb(pids), "MB"),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, tracer, bench: dict) -> dict:
    """Every ``per_layer`` metric of ``BENCHMARK.json``; a layer the
    workload does not touch reads 0."""
    timed = [o for o in tracer.ops if o.measured]

    def by(name):
        return [o for o in timed if o.name == name]

    measured = {s.id for s in tracer.spans if s.attrs.get("measured")}

    def span_s(name):
        return [s.dur for s in tracer.spans if s.name == name and s.op in measured]

    upserts, points = by("connectors.upsert_into"), by("store.point_query")
    adds, checks = by("dedup.add"), by("dedup.check")
    maintain, compact = span_s("dedup.maintain"), span_s("layout.compact_batch_partitions")
    m = {
        "plan.build_ms": _mean((o.wall_s - o.wrapped_s) * 1e3 for o in timed),
        "plan.analysis_ms": _mean(o.plan_ms["analysis"] for o in timed),
        "plan.optimization_ms": _mean(o.plan_ms["optimization"] for o in timed),
        "plan.planning_ms": _mean(o.plan_ms["planning"] for o in timed),
        "driver.self_s": _mean(o.wall_s - o.job_union_s for o in timed),
        "driver.eager_actions": _mean(o.eager_actions for o in timed),
        "spark.jobs": _mean(o.jobs for o in timed),
        "spark.stages": _mean(o.stages for o in timed),
        "spark.tasks": _mean(o.tasks for o in timed),
        "spark.shuffle_write_bytes": _mean(o.shuffle_write_bytes for o in timed),
        "spark.shuffle_read_bytes": _mean(o.shuffle_read_bytes for o in timed),
        "spark.executor_cpu_s": _mean(o.executor_cpu_s for o in timed),
        "spark.executor_run_s": _mean(o.executor_run_s for o in timed),
        "spark.task_skew": _mean(o.task_skew for o in timed),
        "spark.input_bytes": _mean(o.input_bytes for o in timed),
        "spark.output_bytes": _mean(o.output_bytes for o in timed),
        "connectors.upsert_ms": _mean(o.wall_s * 1e3 for o in upserts),
        "connectors.lease_ms": _mean(
            o.child_s.get("connectors.acquire_writer_lease", 0.0) * 1e3 for o in upserts),
        "table.point_query_ms": _mean(o.wall_s * 1e3 for o in points),
        "table.point_rows_scanned": _mean(o.input_records for o in points),
        "sources.state_open_ms": _mean(o.wall_s * 1e3 for o in by("store.register")),
        "dedup.add_s": _mean(o.wall_s for o in adds),
        "dedup.check_s": _mean(o.wall_s for o in checks),
        "dedup.jobs_per_add": _mean(o.jobs for o in adds),
        "dedup.jobs_per_check": _mean(o.jobs for o in checks),
        "dedup.maintain_s": _mean(maintain),
        "dedup.maintains": len(maintain),
        "layout.compact_s": _mean(compact),
        "layout.compactions": len(compact),
        "similarity.sq8_bounds_s": _mean(span_s("similarity.sq8_bounds")),
        "trace.inside_ops_pct": tracer.inside_s / sum(o.wall_s for o in timed) * 100
        if timed else 0.0,
        "trace.store_read_ms": tracer.after_s / len(tracer.ops) * 1e3 if tracer.ops else 0.0,
    }
    m.update(res.layer)
    units = {x["name"]: x["unit"] for x in bench["per_layer"]}
    return {name: (float(m.get(name, 0.0)), unit) for name, unit in units.items()}


def run_workload(spark, name: str, seed: int, seconds: float, scale: str,
                 trace: bool, work: str):
    """Run one workload; returns its ``Result`` and the ``Tracer``."""
    import workloads
    from spans import Tracer

    tracer = Tracer(spark, trace)
    tracer.install()
    try:
        ctx = workloads.Ctx(spark, tracer, work, seed, seconds,
                            workloads.SIZES[scale])
        return workloads.WORKLOADS[name](ctx), tracer
    finally:
        tracer.uninstall()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        sys.exit(f"perfbench: unknown workload {args.workload!r} (one of {names})")
    _checkout_package(root)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import workloads

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)
    workloads.log("spark session up")
    try:
        pids = [os.getpid(), jvm_pid()]

        res, tracer = run_workload(spark, args.workload, args.seed, args.seconds,
                                   "full", bool(args.trace), work)
        e2e = end_to_end(res, pids)
        res.detail.update({f"e2e.{k}": v for k, v in e2e.items()})
        if args.trace:
            metrics = per_layer(res, tracer, bench)
            path = os.path.join(root, ".perfbench",
                                f"trace-{args.workload}-{args.seed}.json")
            tracer.export(path)
            workloads.log(f"{len(tracer.spans)} spans written to {path}")
        else:
            metrics = e2e
    finally:
        workloads.log("workload done")
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        workloads.log("spark stopped")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "detail": {k: {"value": v, "unit": u}
                                 for k, (v, u) in res.detail.items()}}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
