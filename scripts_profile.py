"""Per-layer profile of registry queries on the benchmark's tracer.

    python scripts_profile.py [NAME ...] --sf DIR [--passes N]
        [--toggle ENV] [--plans DIR] [--out FILE]

Each run of a query is one ``perfbench/spans.Tracer`` op: the query is
built (``fn()``, timed as ``construct_s``) and drained into the noop sink
(``execute_s``), and the tracer reads back from Spark's status store the
jobs, stages, tasks and shuffle bytes the run started, and the Catalyst
phase times of its eager actions and writes. Each eager driver action
(``count``, ``collect``, ...) is also attributed to its ``ralf_spark``
call site.

Pass 0 of each query is an unrecorded warm-up; the ``--passes`` recorded
passes then interleave across the queries, so a slow minute of the host
spreads over all of them. With ``--toggle ENV`` every pass runs each
query in arm ``ENV=0``, then in arm ``ENV`` unset; the variable is
restored at the end. ``--plans DIR`` writes each query's formatted
physical plan, taken before its warm-up drain, to ``DIR/<name>.txt``.

Without names the 8 headline queries (``bench.py``'s set) are profiled;
``--passes 8`` over them is the headline re-anchor. The JSON record (to
``--out``, else stdout) holds per query and arm the medians, the per-pass
values, and the last pass's Spark jobs and eager call sites; a summary
table goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

from spans import EAGER_ACTIONS, PHASES, Tracer  # noqa: E402

#: per-run figures taken from the tracer's ``OpStats``
COUNTS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
          "shuffle_write_bytes", "eager_actions")
_PKG = f"{os.sep}ralf_spark{os.sep}"


@contextlib.contextmanager
def eager_call_sites():
    """Yield ``(calls, secs)``: Counters of each outermost eager DataFrame
    action and its seconds, keyed ``"<action> <- <innermost ralf_spark
    frame> <- ..."`` (three frames); the actions are restored on exit."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls, secs = Counter(), Counter()
    origs = {a: getattr(DataFrame, a) for a in EAGER_ACTIONS}
    depth = [0]  # an action inside an action (first -> head -> collect) is one

    def wrap(action, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if depth[0]:
                return orig(*args, **kwargs)
            frames = [
                f"{os.path.relpath(f.filename, HERE)}:{f.lineno}"
                for f in traceback.extract_stack()[:-1]
                if _PKG in f.filename
            ]
            key = " <- ".join([action, *reversed(frames[-3:])])
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                depth[0] -= 1
                calls[key] += 1
                secs[key] += time.perf_counter() - t0

        return wrapper

    for action, orig in origs.items():
        setattr(DataFrame, action, wrap(action, orig))
    try:
        yield calls, secs
    finally:
        for action, orig in origs.items():
            setattr(DataFrame, action, orig)


def _write_plan(df, plans: str, name: str) -> None:
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(plans, f"{name}.txt"), "w") as f:
        f.write(txt)


def _run(spark, tracer, sites, name, sf_dir, plans=None) -> dict:
    """One traced run of registry query ``name``: its figures, Spark jobs
    and eager call sites."""
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.queries import QUERIES

    calls, secs = sites
    calls.clear()
    secs.clear()
    with tracer.op(name) as sp:
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        if plans:
            _write_plan(df, plans, name)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    unpersist_cached(df)
    spark.catalog.clearCache()
    st = tracer.ops[-1]
    jobs = []
    for s in tracer.spans[sp.id + 1:]:
        if s.op == sp.id and s.name.startswith("spark.job."):
            jid = int(s.name.rsplit(".", 1)[1])
            jobs.append({"id": jid, "s": round(s.dur, 3),
                         "desc": tracer.reader.store.job(jid).name()
                         .replace(HERE + os.sep, "")})
    return {
        "construct_s": round(t1 - t0, 4),
        "execute_s": round(t3 - t2, 4),
        **{k: getattr(st, k) for k in COUNTS},
        "plan_ms": dict(st.plan_ms),
        "job_list": sorted(jobs, key=lambda j: j["id"]),
        "eager_sites": [
            {"site": k, "calls": n, "s": round(secs[k], 3)}
            for k, n in calls.most_common()
        ],
    }


def _summary(runs: list[dict]) -> dict:
    """Medians and per-pass values of an arm's recorded runs; the job
    list and call sites of the last one."""
    keys = ("construct_s", "execute_s", *COUNTS)
    passes = {k: [r[k] for r in runs] for k in keys}
    passes.update({f"plan_{p}_ms": [r["plan_ms"][p] for r in runs]
                   for p in PHASES})
    median = {k: statistics.median(v) for k, v in passes.items()}
    return {"median": median, "passes": passes,
            "job_list": runs[-1]["job_list"],
            "eager_sites": runs[-1]["eager_sites"]}


def _setenv(name: str, value: str | None) -> None:
    if value is None:
        os.environ.pop(name, None)
    else:
        os.environ[name] = value


def profile(spark, names=None, sf_dir=None, passes=3, toggle=None,
            plans=None) -> dict:
    """Profile registry queries ``names`` (default: the headline set) at
    ``sf_dir``; see the module doc. Returns the JSON record."""
    from ralf_spark.queries import QUERIES, headline_queries

    names = list(names or headline_queries())
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise KeyError(f"not registry queries: {unknown}")
    if plans:
        os.makedirs(plans, exist_ok=True)
    arms = ([(f"{toggle}=0", "0"), (f"{toggle} unset", None)] if toggle
            else [("default", None)])
    runs: dict[tuple[str, str], list[dict]] = {}
    saved = os.environ.get(toggle) if toggle else None
    tracer = Tracer(spark, enabled=True)
    tracer.install()
    try:
        with eager_call_sites() as sites:
            for name in names:
                _run(spark, tracer, sites, name, sf_dir, plans)
            for p in range(passes):
                print(f"# pass {p + 1}/{passes}", file=sys.stderr, flush=True)
                for arm, value in arms:
                    if toggle:
                        _setenv(toggle, value)
                    for name in names:
                        runs.setdefault((name, arm), []).append(
                            _run(spark, tracer, sites, name, sf_dir)
                        )
    finally:
        tracer.uninstall()
        if toggle:
            _setenv(toggle, saved)
    return {
        "sf": sf_dir,
        "passes": passes,
        "toggle": toggle,
        "spark_master": spark.sparkContext.master,
        "queries": {
            n: {arm: _summary(runs[(n, arm)]) for arm, _ in arms}
            for n in names
        },
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", metavar="NAME",
                    help="registry queries (default: the headline set)")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--passes", type=int, default=3,
                    help="recorded passes after the warm-up")
    ap.add_argument("--toggle", metavar="ENV",
                    help="run each pass with ENV=0, then with ENV unset")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's formatted physical plan here")
    ap.add_argument("--out", metavar="FILE", help="JSON record (default: stdout)")
    args = ap.parse_args(argv)

    from ralf_spark.session import get_spark

    spark = get_spark(app_name="ralf_spark_profile",
                      extra_confs={"spark.ui.enabled": "false",
                                   "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rec = profile(spark, args.names, args.sf, args.passes, args.toggle,
                      args.plans)
    finally:
        spark.stop()
    for name, arms in rec["queries"].items():
        for arm, r in arms.items():
            m = r["median"]
            print(f"{name:36s} {arm:28s} construct {m['construct_s']:7.3f}s "
                  f"execute {m['execute_s']:7.3f}s jobs {m['jobs']:g}",
                  file=sys.stderr)
    text = json.dumps(rec, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
