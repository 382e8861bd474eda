"""Every catalog oracle runs in DuckDB at sf0.01 and returns the rows it
returned when ``tests/oracle_digests.json`` was written.

``test_catalog.py`` only checks that each query has an oracle; this runs
them.  Each ``ORACLE`` entry must emit no HUGEINT/DECIMAL column
(``check_correctness.audit_oracle_types``) and its ``strict_rows`` (the
driver-style value hash input) must hash to the pinned sha256.  An
oracle rewrite that keeps its rows passes unchanged; one that changes
its rows on purpose regenerates the table with

    python tests/test_oracle_digests.py --write

and says why in CHANGES.md.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGESTS = os.path.join(REPO, "tests", "oracle_digests.json")


def _check_correctness():
    path = os.path.join(REPO, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_digests() -> dict[str, dict]:
    """``{key: {"rows": n, "sha256": hex}}`` for every ``ORACLE`` key, and
    ``{key: {"bad_types": [...]}}`` for one that emits a hostile type."""
    from financial_data_science_spark.queries import ORACLE

    cc = _check_correctness()
    con = cc.duck_connection()
    out = {}
    for name in sorted(ORACLE):
        bad = cc.audit_oracle_types(con, ORACLE[name])
        if bad:
            out[name] = {"bad_types": bad}
            continue
        df = con.execute(ORACLE[name]).df()
        rows = cc.strict_rows(df)
        blob = json.dumps([sorted(df.columns), rows], separators=(",", ":"))
        out[name] = {"rows": len(rows),
                     "sha256": hashlib.sha256(blob.encode()).hexdigest()}
    return out


def test_every_oracle_matches_its_pinned_digest():
    with open(DIGESTS) as f:
        want = json.load(f)
    got = oracle_digests()
    assert sorted(got) == sorted(want)
    hostile = {k: v["bad_types"] for k, v in got.items() if "bad_types" in v}
    assert not hostile, f"oracles emitting HUGEINT/DECIMAL: {hostile}"
    changed = sorted(k for k in want if got[k] != want[k])
    assert not changed, f"oracle rows changed: {changed}"


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    if sys.argv[1:] != ["--write"]:
        raise SystemExit("usage: python tests/test_oracle_digests.py --write")
    table = oracle_digests()
    with open(DIGESTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(table)} digests to {DIGESTS}")
