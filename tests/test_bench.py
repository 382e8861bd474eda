"""bench.py emission contract: the LAST stdout line must be one compact
JSON object the driver's tail-capture window can always parse — round
5's official record was lost to a single giant line carrying raw runs,
so this is pinned by test."""

from __future__ import annotations

import io
import json
import sys


def test_bench_last_line_is_compact_parseable_json(spark, monkeypatch,
                                                   tmp_path):
    import bench

    # route the smoke run's detail file away from the committed sf0.1
    # BENCH_DETAIL.json record (three rounds of clobber before this)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL_PATH",
                       str(tmp_path / "BENCH_DETAIL.json"))
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setattr(bench, "BENCH_QUERIES", ["q1_pricing_summary"])
    monkeypatch.setattr(bench, "ORACLE_PATH_QUERIES", [])
    monkeypatch.setattr(bench, "EXTENDED_QUERIES", ["hash_split_assign"])
    cap = io.StringIO()
    monkeypatch.setattr(sys, "stdout", cap)
    try:
        bench.main()
    finally:
        monkeypatch.undo()
    line = cap.getvalue().strip().splitlines()[-1]
    assert (tmp_path / "BENCH_DETAIL.json").exists(), \
        "detail redirect did not take — committed record at risk"
    assert len(line) < 3800, f"headline line too long: {len(line)}"
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total"
    assert d["unit"] == "sec"
    assert set(d["queries"]) == {"q1_pricing_summary"}
    assert set(d["extended"]) == {"hash_split_assign"}
    assert "runs" not in d, "raw runs belong in BENCH_DETAIL.json, not stdout"
    assert d["value"] >= 0 and d["sf"] == 0.001


def test_bench_full_query_sets_fit_the_window():
    """Even with every current bench entry at generous per-query float
    widths, the headline stays under the guard: estimate 40 bytes per
    entry + 200 fixed — if this fails, the set outgrew the driver
    window and needs the fallback pruning verified instead."""
    import bench

    n = (len(bench.BENCH_QUERIES) + len(bench.ORACLE_PATH_QUERIES)
         + len(bench.EXTENDED_QUERIES))
    est = 200 + 45 * n
    assert est < 3800, (n, est)


def test_steal_pct_is_share_of_all_cpus():
    """Two synthetic /proc/stat cpu lines 10 s apart on a 32-CPU host at
    USER_HZ=100 (32,000 jiffies), 928 of them stolen: 2.9% of the CPU
    time, where steal over one CPU's wall time would read 92.8%."""
    import bench

    start = bench.cpu_jiffies(
        "cpu  1000 10 500 90000 200 0 30 5000 0 0")
    end = bench.cpu_jiffies(
        "cpu  13000 10 4500 104872 400 0 30 5928 0 0")
    assert start == (5000, 96740)
    assert end[1] - start[1] == 32 * 100 * 10
    assert bench.steal_pct(start, end) == 2.9
    assert bench.steal_pct(start, start) == 0.0


def test_extra_rows_are_catalog_calls():
    """Each bench.EXTRA row is a function of queries.py, called with
    keywords its signature takes: a production twin is an argument of
    the catalog query it times, not a copy of its body.  No session: the
    rows are only bound, never called."""
    import inspect

    import bench
    from financial_data_science_spark import queries

    assert bench.EXTRA
    for name, row in bench.EXTRA.items():
        fn = getattr(row, "func", row)
        assert getattr(queries, fn.__name__, None) is fn, (name, fn)
        inspect.signature(fn).bind(None, "sf_dir", **getattr(row, "keywords", {}))
