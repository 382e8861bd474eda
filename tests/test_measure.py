"""tools/measure.py in-process: ``time`` records and ``plans`` output on
the session fixture at sf0.001.  ``ab`` starts JVMs in a git worktree,
so it stays out of this suite."""

from __future__ import annotations

import importlib.util
import os
import re

from tests.test_layout import SF

NAMES = ["q1_pricing_summary", "hash_split_assign"]


def _measure():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "measure.py")
    spec = importlib.util.spec_from_file_location("measure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_records_bench_v3_fields(spark):
    from financial_data_science_spark.queries import Q

    measure = _measure()
    out = measure.timings(spark, NAMES, SF)
    assert list(out) == NAMES
    for name, rec in out.items():
        assert set(rec) == {"runs", "steal", "rows", "build", "warmup",
                            "gateway", "sig"}
        # building any entry makes at least one JVM call
        assert rec["gateway"] > 0
        assert len(rec["runs"]) == len(rec["steal"]) == measure.N_RUNS
        assert all(0.0 <= s <= 100.0 for s in rec["steal"])
        assert rec["rows"] == Q[name](spark, SF).count()
        assert rec["sig"][0] == rec["rows"]


def test_plans_writes_formatted_physical_plan(spark, tmp_path):
    measure = _measure()
    (path,) = measure.write_plans(spark, ["q1_pricing_summary"], SF,
                                  str(tmp_path))
    assert path == str(tmp_path / "q1_pricing_summary.txt")
    plan = open(path).read()
    assert "== Physical Plan ==" in plan
    # expression ids are stripped, so plan diffs show only plan changes
    assert "l_returnflag" in plan and not re.search(r"#\d", plan)


def test_plans_strip_checkpoint_call_site(spark, tmp_path):
    """A checkpointed RDD's call site depends on session history
    (``<unknown>:0`` or ``NativeMethodAccessorImpl.java:0``), so only
    the operation name may be left."""
    measure = _measure()
    (path,) = measure.write_plans(spark, ["minhash_lsh_stopshingle"], SF,
                                  str(tmp_path))
    plan = open(path).read()
    assert "RDD[] at localCheckpoint," in plan
    assert not re.search(r"\.java:\d|<unknown>:\d", plan)


def test_measuring_session_hides_the_progress_bar(spark):
    """The console progress bar shares the terminal with ``time``'s JSON
    line; the measuring session turns it off."""
    s = _measure().session()
    assert s.conf.get("spark.ui.showConsoleProgress") == "false"
