"""r16: oracle replay of a named query subset (comma list in
SPARK_GRAFT_FAMILY, substring match against registry names) at
SPARK_GRAFT_SF_DIR (default sf0.01) — the fast affected-family gate run
after each optimization edit, before the full sweep at round close.
Wall clocks untrusted (single-sample); correctness only.
"""
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ralf_spark.session import get_spark  # noqa: E402

# local[$SPARK_GRAFT_CPUS] with a $SPARK_GRAFT_DRIVER_MEM driver
spark = get_spark(extra_confs={"spark.ui.enabled": "false"})
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e  # noqa: E402
from ralf_spark.oracle import compare_query, duckdb_connection  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
pats = [p.strip() for p in os.environ["SPARK_GRAFT_FAMILY"].split(",") if p.strip()]
qs, osql = e.queries(), e.oracle_sql()
names = [n for n in qs if any(p in n for p in pats)]
print(f"replaying {len(names)} queries: {names}", flush=True)
con = duckdb_connection(SF)
out = {}
for name in names:
    t0 = time.time()
    try:
        if name in osql:
            r = compare_query(spark, name, qs[name], osql[name], SF, con)
            out[name] = {"ok": r.ok, "rows": r.spark_rows,
                         "oracle_rows": r.oracle_rows, "cols": r.cols_match,
                         "hash": r.hash_match,
                         "sec": round(time.time() - t0, 2)}
        else:
            df = qs[name](spark, SF)
            n = df.count()
            from ralf_spark.operators.util import unpersist_cached
            unpersist_cached(df)
            out[name] = {"ok": n >= 0, "rows": n, "rows_only": True,
                         "sec": round(time.time() - t0, 2)}
    except Exception as ex:
        out[name] = {"ok": False, "error": repr(ex)[:300]}
        traceback.print_exc()
    print(("PASS " if out[name]["ok"] else "FAIL ") + name, flush=True)
bad = [k for k, v in out.items() if not v["ok"]]
print("TOTAL", len(out), "FAIL", len(bad), bad)
dest = os.environ.get("SPARK_GRAFT_FAMILY_OUT")
if dest:
    json.dump(out, open(dest, "w"), indent=1)
