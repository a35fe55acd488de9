"""Oracle sweep: engine-default session (``get_spark``), every registered
query, or the ``--family`` subset, vs its DuckDB oracle.

    python scripts_sweep.py --sf DIR --out FILE [--family a,b]

``--family`` keeps the queries whose registry name contains any of the
comma-separated substrings: the fast affected-family replay after an
edit, before the full sweep. The JSON result goes to ``--out`` only.

The per-query ``sec`` fields are measured on a machine that swings >2x
between identical back-to-back runs (r12 adjudication) and each query runs
ONCE — they exist only to spot hangs, and the output stamps
``wall_clocks: untrusted`` so nobody cites them as a perf record (VERDICT
r12 #4). Perf claims live in bench.py's interleaved-pass medians.
"""
import argparse
import json
import time
import traceback


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--out", required=True, help="JSON result file")
    ap.add_argument("--family", help="comma list of registry-name substrings")
    args = ap.parse_args(argv)

    from ralf_spark.session import get_spark

    # local[$SPARK_GRAFT_CPUS] with a $SPARK_GRAFT_DRIVER_MEM driver
    spark = get_spark(extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from ralf_spark.operators.util import unpersist_cached
    from ralf_spark.oracle import compare_query, duckdb_connection

    SF = args.sf
    qs, osql = e.queries(), e.oracle_sql()
    if args.family:
        pats = [p.strip() for p in args.family.split(",") if p.strip()]
        qs = {n: fn for n, fn in qs.items() if any(p in n for p in pats)}
        print(f"replaying {len(qs)} queries: {list(qs)}", flush=True)
    con = duckdb_connection(SF)
    out = {}
    for name, fn in qs.items():
        t0 = time.time()
        try:
            if name in osql:
                r = compare_query(spark, name, fn, osql[name], SF, con)
                out[name] = {"ok": r.ok, "rows": r.spark_rows, "oracle_rows": r.oracle_rows,
                             "cols": r.cols_match, "hash": r.hash_match, "sec": round(time.time()-t0,2)}
            else:
                df = fn(spark, SF)
                n = df.count()
                unpersist_cached(df)
                out[name] = {"ok": n >= 0, "rows": n, "rows_only": True, "sec": round(time.time()-t0,2)}
        except Exception as ex:
            out[name] = {"ok": False, "error": repr(ex)[:300], "sec": round(time.time()-t0,2)}
            traceback.print_exc()
        print(("PASS " if out[name]["ok"] else "FAIL ") + name, out[name].get("sec"), flush=True)
    out["_meta"] = {
        "wall_clocks": "untrusted",
        "note": "sec fields are single-sample on a >2x-drifting box; "
                "hang detection only — perf record is BENCH (medians)",
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    bad = [k for k, v in out.items() if k != "_meta" and not v["ok"]]
    print("TOTAL", len(out) - 1, "FAIL", len(bad), bad)


if __name__ == "__main__":
    main()
