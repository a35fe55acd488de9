"""Plan audit: physical-plan shape metrics for every driver-checked query.

Writes PLANS.md — one row per query in the checked prefix: number of
parquet scans, shuffle exchanges, broadcast exchanges/joins, sort-merge
joins, whole-stage-codegen spans, and Python evaluation nodes. Analysis
only (no execution): this is the ".explain() and iterate" loop made into
a committed artifact, so plan regressions (a new shuffle, a lost
broadcast, a Python UDF creeping into a hot path) show up in review.

Streaming queries are skipped (their plan is per-micro-batch; the bounded
replay executes rather than explains).

    python scripts_plan_audit.py          # writes PLANS.md beside this file
    python scripts_plan_audit.py --all    # every registry query; prints the
                                          # flagged ones (SMJ, Python, errors)
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

from ralf_spark.operators.util import unpersist_cached
from ralf_spark.queries import DRIVER_CHECKED_FIRST, QUERIES
from ralf_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))

SKIP = {
    # bounded streaming replays: fn() executes a streaming query
    "streaming_tumbling_window",
    "streaming_sliding_window",
    "stream_static_enrichment",
    "streaming_dedup_replay",
    "streaming_change_detection",
    "streaming_ewma_state",
    "streaming_pipeline_end2end",
    "csv_stream_replay",
    "streaming_decayed_sum_state",
    "streaming_enrichment_join",
    "streaming_interval_join",
    "streaming_gram_dedup",
    # r14 prefix rotation: both run bounded streaming drains in fn()
    "streaming_minhash_screen",
    "streaming_rq_log_state",
}


def audit(explain: str) -> dict[str, int]:
    """Plan-shape metrics from a FORMATTED explain. Counts are by
    DISTINCT node id wherever the metric has one: a cached
    InMemoryRelation's body is re-printed under every InMemoryTableScan
    that references it (r7: the curation pipeline's stage persists made
    the naive FileScan count read 41 for 7 actual scans), but node ids
    are assigned once per physical node, so distinct-id counting gives
    the number of operators that actually execute."""

    def distinct(pattern: str) -> int:
        return len(set(re.findall(pattern, explain)))

    return {
        "scans": distinct(r"Scan parquet[^(\n]*\((\d+)\)"),
        "shuffles": distinct(r"\n\((\d+)\) Exchange\b"),
        "bcast": distinct(r"\n\((\d+)\) BroadcastExchange"),
        "smj": distinct(r"\n\((\d+)\) SortMergeJoin"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", explain))),
        "python": distinct(
            r"\n\((\d+)\) (?:BatchEvalPython|ArrowEvalPython|"
            r"MapInPandas|FlatMapGroupsInPandas)"
        ),
    }


def _explain(spark, fn, sf_dir: str) -> str:
    df = fn(spark, sf_dir)
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        unpersist_cached(df)
        spark.catalog.clearCache()


def audit_all(spark, sf_dir: str) -> dict[str, dict]:
    """Audit every registry query; returns the flagged ones (a sort-merge
    join, a Python eval node, or an error) by name."""
    flagged = {}
    for name, q in QUERIES.items():
        if name in SKIP:
            continue
        try:
            m = audit(_explain(spark, q.fn, sf_dir))
        except Exception as e:
            m = {"error": f"{type(e).__name__}: {e}"[:200]}
        if m.get("smj") or m.get("python") or m.get("error"):
            flagged[name] = m
    return flagged


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--all", action="store_true",
                    help="audit every registry query and print the flagged "
                         "ones (SMJ, Python nodes, errors) instead of "
                         "writing PLANS.md")
    args = ap.parse_args(argv)
    sf_dir = "/root/testdata/sf0.01"
    # AQE off for the audit ONLY: un-executed AdaptiveSparkPlan hides
    # whole-stage-codegen spans and final join strategies; the static
    # planner shows them. Production sessions keep AQE on (session.py).
    spark = get_spark(app_name="plan_audit",
                      extra_confs={"spark.ui.enabled": "false",
                                   "spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    if args.all:
        flagged = audit_all(spark, sf_dir)
        print(json.dumps(flagged, indent=1))
        print("audited", sum(n not in SKIP for n in QUERIES), "queries;",
              len(flagged), "flagged")
        spark.stop()
        return

    lines = [
        "# PLANS.md — physical-plan audit of the driver-checked queries",
        "",
        f"Auto-generated by `scripts_plan_audit.py` at {sf_dir} "
        "(analysis only — plans, not runs; AQE disabled so codegen "
        "spans and join strategies are visible). Columns: parquet scans, "
        "shuffle exchanges, broadcast exchanges, sort-merge joins, "
        "whole-stage-codegen spans, Python eval nodes (Arrow-batched "
        "pandas ops — row-at-a-time UDFs would also land here and are "
        "banned from hot paths). Counts are by DISTINCT node id (r7): "
        "a persisted intermediate's build subtree re-prints under every "
        "referencing InMemoryTableScan, but node ids are stable, so "
        "cached reprints no longer inflate the counts — rows now show "
        "the operators that actually execute.",
        "",
        "| query | scans | shuffles | bcast | SMJ | codegen | python |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in DRIVER_CHECKED_FIRST:
        if name in SKIP:
            lines.append(f"| {name} | — | — | — | — | — | — |")
            continue
        try:
            ex = _explain(spark, QUERIES[name].fn, sf_dir)
        except Exception:
            ex = QUERIES[name].fn(spark, sf_dir)._jdf.queryExecution().toString()
        m = audit(ex)
        lines.append(
            f"| {name} | {m['scans']} | {m['shuffles']} | {m['bcast']} "
            f"| {m['smj']} | {m['codegen']} | {m['python']} |"
        )
    with open(os.path.join(HERE, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md", len(lines) - 7, "rows")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
