"""The registry profiler (``scripts_profile.py``) in-process: per-arm
records under an env toggle, and no patch or env change left behind."""

from __future__ import annotations

import os

UNUSED_ENV = "RALF_SPARK_PROFILE_TEST_UNUSED"


def test_profile_toggle_records_both_arms_and_restores(spark, sf_dir):
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from scripts_profile import EAGER_ACTIONS, profile

    actions = {a: getattr(DataFrame, a) for a in EAGER_ACTIONS}
    save = DataFrameWriter.save
    os.environ[UNUSED_ENV] = "kept"
    try:
        rec = profile(spark, ["latest_per_key"], sf_dir, passes=2,
                      toggle=UNUSED_ENV)
        assert os.environ[UNUSED_ENV] == "kept"
    finally:
        os.environ.pop(UNUSED_ENV, None)

    arms = rec["queries"]["latest_per_key"]
    assert set(arms) == {f"{UNUSED_ENV}=0", f"{UNUSED_ENV} unset"}
    for r in arms.values():
        assert len(r["passes"]["jobs"]) == 2
        assert r["median"]["jobs"] >= 1
        assert r["median"]["construct_s"] > 0
        assert r["median"]["execute_s"] > 0
        assert len(r["job_list"]) == r["passes"]["jobs"][-1]
    assert {a: getattr(DataFrame, a) for a in actions} == actions
    assert DataFrameWriter.save is save
