"""Smoke test of the benchmark: every workload at the tiny scale, untraced
and traced, in one Spark session, with every output check. Run it from
the root of a checkout (about a minute, most of it Spark start-up and
cold plans):

    python3 perfbench/smoke.py

Prints one JSON line per workload and mode and exits 0 only when every
op succeeded with checked outputs and every metric of ``BENCHMARK.json``
was reported (end-to-end metrics non-zero).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    root = os.getcwd()
    run._checkout_package(root)
    import workloads

    with open(run.BENCHMARK_JSON) as f:
        bench = json.load(f)
    work = os.path.join(root, ".perfbench", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = run.start_spark(work)
    ok = True
    try:
        pids = [os.getpid(), run.jvm_pid()]
        for w in bench["workloads"]:
            for trace in (False, True):
                name = w["name"]
                res, tracer = run.run_workload(
                    spark, name, 1, 3, "tiny", trace,
                    os.path.join(work, f"{name}-{int(trace)}"))
                if trace:
                    metrics, kind = run.per_layer(res, tracer, bench), "per_layer"
                else:
                    metrics, kind = run.end_to_end(res, pids), "end_to_end"
                good = (
                    res.attempted > 0 and res.failed == 0
                    and set(metrics) == {m["name"] for m in bench[kind]}
                    and (trace or all(v > 0 for v, _ in metrics.values()))
                )
                ok &= good
                print(json.dumps({"workload": name, "trace": trace, "ok": good,
                                  "attempted": res.attempted, "failed": res.failed}),
                      flush=True)
                workloads.log(f"smoke {name} trace={trace}: {'ok' if good else 'FAILED'}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
