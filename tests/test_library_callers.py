"""Every public top-level def of the near-dup and ANN kernel modules has
a caller outside the tests.

A def that only its own tests call is code nobody runs: no catalog
query, bench entry, perfbench workload or tool reaches it.  The scan is
static and by name: a def counts as called when library code,
``bench.py``, ``perfbench/`` or ``tools/`` mentions it as a bare name,
an attribute or an import.  A string registry or a ``getattr`` call is
not seen, so a def reached only that way fails here and needs a named
caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "financial_data_science_spark"
CHECKED = [
    PKG / "functions" / name
    for name in ("similarity.py", "semdedup.py", "minhash_index.py")
]
CALLERS = [PKG, REPO / "bench.py", REPO / "perfbench", REPO / "tools"]


def _referenced_names() -> set[str]:
    names = set()
    for root in CALLERS:
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_public_kernel_def_has_a_non_test_caller():
    called = _referenced_names()
    uncalled = [
        f"{path.name}:{node.name}"
        for path in CHECKED
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and node.name not in called
    ]
    assert not uncalled, (
        f"public defs with no caller outside tests: {uncalled}; delete "
        "them or name the caller that needs them"
    )
