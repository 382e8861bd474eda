"""Measure bench entries: timings, interleaved A/Bs and formatted plans.

    python tools/measure.py time NAME...      # bench v3 timing per entry
    python tools/measure.py ab REV NAME...    # REV vs the working tree
    python tools/measure.py plans [NAME...]   # plans/current/<name>.txt

NAME is a catalog query or a bench.py production twin; the scale
factor is bench.py's $SPARK_GRAFT_SF_DIR (default sf0.1).

``time`` builds each entry once, pays one untimed warmup count, then
times ``bench.time_entry``'s 3 counts against the same plan.  It prints
one JSON line ``{"entries": {name: record}, "sf_dir": ...}``; a record
holds runs, per-run steal (% of all CPU time), rows, build, warmup,
``gateway`` = the Py4J round trips the build made (see
:class:`gateway_calls`) and ``sig`` = [count, sum of xxhash64 over the
rows], an untimed content signature.

``ab`` checks REV out into a temporary git worktree and runs 10 pairs
of ``time`` subprocesses, one per side, alternating which side goes
first.  Both sides use this file's timing loop; the library and the
entry definitions come from the side's tree.  Per entry it reports the
median of each side's per-pair min, the working tree's wins out of the
pairs, the REV side's IQR, and whether every run of both sides produced
one content signature (exit status 1 if not).

``plans`` writes ``.explain("formatted")`` (the AQE initial plan) of
each entry, all bench entries when none are named.  Session-counter ids
(expression ids ``#123L``, lambda variable suffixes ``x_81``, exchange
``plan_id=``, ``RDD[...]``) and RDD call sites (``at <unknown>:0``) are
stripped, so an unchanged plan writes an unchanged file and plan
identity is ``git diff --exit-code plans/current``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO, "plans", "current")
N_RUNS = 3
N_PAIRS = 10

# Catalyst expression ids, lambda variable suffixes, then the plan and
# RDD ids: all are drawn from session-wide counters, so they shift with
# whatever ran before (or with the order a kernel builds its lambdas)
_EXPR_ID = re.compile(r"#\d+L?\b")
_LAMBDA_ID = re.compile(r"\b(lambda \w+?)_\d+\b")
_NODE_ID = re.compile(r"(plan_id=|RDD\[)\d+")
# the call site of a checkpointed RDD reads <unknown>:0 or
# NativeMethodAccessorImpl.java:0 depending on how many reflective calls
# the session made before, so keep only the RDD's operation name
_CALL_SITE = re.compile(r"(RDD\[\] at \w+) at [^\s,]+")

# an ab child: put the side's tree first on sys.path, then run `time`
# with this file's harness
_CHILD = (
    "import sys; sys.path[:0] = [sys.argv[1], sys.argv[2]]; "
    "import measure; measure.main(['time', *sys.argv[3:]])"
)


def _harness():
    """This tree's bench.py, which owns the timing loop.  In an ab child
    ``import bench`` resolves to the side's tree instead, which may
    predate the loop, so load this one by path under its own name."""
    import bench

    path = os.path.join(REPO, "bench.py")
    if os.path.samefile(bench.__file__, path):
        return bench
    spec = importlib.util.spec_from_file_location("measure_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _entry(name: str):
    import bench
    from financial_data_science_spark.queries import Q

    return bench.EXTRA.get(name) or Q[name]


class gateway_calls:
    """Count the Py4J gateway round trips made while the block runs::

        with gateway_calls() as gw:
            df = build()
        gw.n

    Every driver call into the JVM is one ``send_command`` on a Py4J
    client-server connection: a Column or DataFrame method, a collect's
    result fetch, and in PySpark 4.1 about eight more per Column call
    that record its Python call site.  Calls from every thread count.
    Blocks nest; each restores the method it found."""

    def __enter__(self):
        from py4j.clientserver import ClientServerConnection

        self.n = 0
        self._send = send = ClientServerConnection.send_command

        def counted(conn, *args, **kwargs):
            self.n += 1
            return send(conn, *args, **kwargs)

        ClientServerConnection.send_command = counted
        return self

    def __exit__(self, *exc):
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._send
        return False


def signature(df) -> list:
    """[count, sum of xxhash64 over all columns]: equal signatures mean
    the same rows with overwhelming probability, in any order."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return [row[0], None if row[1] is None else str(row[1])]


def timings(spark, names: list[str], sf_dir: str) -> dict[str, dict]:
    h = _harness()
    h.warm_tables(spark, sf_dir)
    out = {}
    for name in names:
        entry, gw = _entry(name), gateway_calls()

        def build(spark, sf_dir, entry=entry, gw=gw):
            with gw:
                return entry(spark, sf_dir)

        rec, df = h.time_entry(spark, build, sf_dir, N_RUNS)
        rec["gateway"] = gw.n
        rec["sig"] = signature(df)
        out[name] = rec
        print(f"# {name}: runs={rec['runs']} steal={rec['steal']} "
              f"rows={rec['rows']} build={rec['build']} "
              f"warmup={rec['warmup']} gateway={rec['gateway']}",
              file=sys.stderr, flush=True)
    return out


def write_plans(spark, names: list[str], sf_dir: str,
                out_dir: str = PLANS_DIR) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name in names:
        df = _entry(name)(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        plan = _EXPR_ID.sub("", plan)
        plan = _NODE_ID.sub(r"\1", _LAMBDA_ID.sub(r"\1", plan))
        plan = _CALL_SITE.sub(r"\1", plan)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        paths.append(path)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
    return paths


def _time_child(tree: str, names: list[str]) -> dict[str, dict]:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, tree, os.path.join(REPO, "tools"),
         *names],
        cwd=tree, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"time in {tree} failed:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["entries"]


def ab(rev: str, names: list[str]) -> int:
    tmp = tempfile.mkdtemp(prefix="measure_ab_")
    tree = os.path.join(tmp, "rev")
    subprocess.run(["git", "worktree", "add", "--detach", tree, rev],
                   cwd=REPO, check=True, capture_output=True)
    mins = {side: {n: [] for n in names} for side in ("rev", "working")}
    sigs = {n: set() for n in names}
    try:
        for pair in range(N_PAIRS):
            order = [("rev", tree), ("working", REPO)]
            for side, root in order if pair % 2 == 0 else order[::-1]:
                for name, rec in _time_child(root, names).items():
                    mins[side][name].append(min(rec["runs"]))
                    sigs[name].add(tuple(rec["sig"]))
            print(f"# pair {pair + 1}/{N_PAIRS}: " + json.dumps(
                {s: {n: v[-1] for n, v in m.items()}
                 for s, m in mins.items()}), file=sys.stderr, flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", tree],
                       cwd=REPO, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    report = {}
    for name in names:
        a, b = mins["rev"][name], mins["working"][name]
        q1, _, q3 = statistics.quantiles(a, n=4)
        report[name] = {
            "rev_median": round(statistics.median(a), 3),
            "working_median": round(statistics.median(b), 3),
            "working_wins": sum(y < x for x, y in zip(a, b)),
            "pairs": N_PAIRS,
            "rev_iqr": round(q3 - q1, 3),
            "same_content": len(sigs[name]) == 1,
        }
    print(json.dumps({"rev": rev, "entries": report}))
    return 0 if all(r["same_content"] for r in report.values()) else 1


def session():
    """The measuring session.  Spark's console progress bar writes to the
    same terminal as the ``time`` JSON line and hides it, so it is off;
    every other setting is ``get_spark``'s default."""
    from financial_data_science_spark import get_spark

    return get_spark("measure",
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in ("time", "ab", "plans") or (
            argv[0] == "ab" and len(argv) < 3):
        sys.exit(__doc__)
    cmd, args = argv[0], argv[1:]
    if cmd == "ab":
        return ab(args[0], args[1:])
    import bench

    spark = session()
    if cmd == "time":
        out = timings(spark, args, bench.SF_DIR)
        print(json.dumps({"entries": out, "sf_dir": bench.SF_DIR}))
    elif cmd == "plans":
        write_plans(spark, args or (bench.BENCH_QUERIES
                                    + bench.ORACLE_PATH_QUERIES
                                    + bench.EXTENDED_QUERIES), bench.SF_DIR)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    sys.exit(main(sys.argv[1:]))
