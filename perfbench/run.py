"""Benchmark entry point.

One workload in one fresh process:

    python3 perfbench/run.py --workload research_panel --seed 1 --seconds 20 --trace 0

prints diagnostics lines, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``).

Every workload, each in its own fresh process, with a table of every
end-to-end metric by name and unit:

    python3 perfbench/run.py --all --seed 1 --seconds 20

Run from the root of a checkout; the library is imported from there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("research_panel", "filing_dedup")
RUNS_DIR = ".perfbench_runs"
# run notes the --all table prints beside the bounded metrics
NOTE_UNITS = {"cold_pass_s": "s", "pass_s": "s", "reference_s": "s", "batch_p50_s": "s",
              "batch_tail_s": "s", "batch_tail_percentile": "pct", "batches": "count",
              "store_ratio": "ratio", "dup_recall": "ratio"}


def _load(name: str):
    import importlib

    return importlib.import_module(f"perfbench.workloads.{name}")


def _result_line(res: dict, trace: bool) -> dict:
    ops = res["ops"]
    metrics = res["layer"] if trace else res["e2e"]
    return {
        "correct": ops["failed"] == 0 and bool(metrics),
        "attempted": max(1, ops["attempted"]),
        "failed": ops["failed"] if metrics else max(1, ops["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    import financial_data_science_spark  # noqa: F401  (fails outside a checkout)
    from perfbench import harness

    workload = _load(args.workload)
    res = harness.run(workload, args.seed, args.seconds, bool(args.trace), ROOT,
                      T_START, args.size)
    line = _result_line(res, bool(args.trace))
    ops = res["ops"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "result": line, "notes": res["notes"],
        "error_rate": ops["failed"] / max(1, ops["attempted"]),
        "failures": ops["failures"], "diagnostics": res["diagnostics"],
        "spans": res["spans"],
    }
    os.makedirs(os.path.join(ROOT, RUNS_DIR), exist_ok=True)
    path = os.path.join(
        ROOT, RUNS_DIR,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    diag = {k: v for k, v in res["diagnostics"].items() if k != "conf"}
    print(json.dumps({"diagnostics": diag, "notes": res["notes"],
                      "error_rate": record["error_rate"], "failures": ops["failures"][:5],
                      "record": os.path.relpath(path, ROOT)}))
    print(json.dumps(line))
    return 0


def run_all(args) -> int:
    """Each workload in its own fresh process, one after another."""
    status = 0
    table = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{w}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
            status = 1
            continue
        info, res = json.loads(lines[-2]), json.loads(lines[-1])
        for k, m in res["metrics"].items():
            table.append((w, k, m["value"], m["unit"]))
        table.append((w, "error_rate", info["error_rate"], "ratio"))
        for k, v in info["notes"].items():
            if k in NOTE_UNITS:
                table.append((w, k, v, NOTE_UNITS[k]))
        status |= 0 if res["correct"] else 1
    for w, k, v, u in table:
        print(f"{w:15s} {k:40s} {v:14.6g} {u}")
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--all", action="store_true", help="run every workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke tests")
    args = p.parse_args()
    if args.all:
        return run_all(args)
    if not args.workload:
        p.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
