"""Every public top-level def of the package has a caller outside the
tests, or re-expresses a cited FinDS path.

A def that only its own tests call is code nobody runs: no catalog
query, bench entry, perfbench workload, tool or the driver entry
(``__spark_entry__.py``) reaches it.  The scan is static and by name: a
def counts as called when library code, ``bench.py``, ``perfbench/``,
``tools/`` or ``__spark_entry__.py`` mentions it as a bare name, an
attribute or an import.  A string registry or a ``getattr`` call is not
seen, so a def reached only that way fails here and needs a named
caller.  ``queries.py`` is not scanned: ``@query`` registers its defs.

The exception is the paper's own surface: a def in ``FINDS_SURFACE``
re-expresses a FinDS function, which its docstring cites as
``<file>.py:<lines>``, and stays for the library's users even where no
query calls it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "financial_data_science_spark"
CALLERS = [
    PKG,
    REPO / "bench.py",
    REPO / "perfbench",
    REPO / "tools",
    REPO / "__spark_entry__.py",
]
FINDS_SURFACE = {
    "datasets/links.py:build_ibes_links",
    "datasets/links.py:ibes_get_permnos",
    "functions/dates.py:month_key",
    "functions/dates.py:to_monthend",
    "functions/econs.py:efficient_weights",
    "functions/econs.py:tangency_weights",
    "functions/econs.py:long_only_min_variance",
    "functions/econs.py:approximate_factors",
    "functions/econs.py:approximate_factors_rowmatrix",
    "functions/econs.py:fillna_em",
    "functions/econs.py:integration_order",
    "functions/econs.py:least_squares_by_group",
    "functions/econs.py:train_test_split",
    "functions/econs.py:marginal_rsq",
    "functions/econs.py:select_baing",
    "functions/edgar_text.py:extract_item_udf",
    "functions/edgar_text.py:clean_html_expr",
    "functions/finance.py:bond_price",
    "functions/finance.py:bootstrap_spot",
    "functions/finance.py:forwards_from_spots",
    "functions/finance.py:macaulay_duration",
    "functions/finance.py:bond_convexity",
    "functions/finance.py:max_drawdown",
    "functions/finance.py:halflife",
    "functions/learn.py:lang_classifier_pipeline",
    "functions/stats.py:bootstrap_risk",
    "functions/vocab.py:embedding_join",
    "operators/binning.py:time_weighted_quote_aggs",
    "operators/fractiles.py:remove_outliers",
    "sources/vintages.py:latest_release",
    "sources/vintages.py:kth_release",
    "sources/vintages.py:asof_release",
    "sources/vintages.py:date_spans",
    "streaming/stateful.py:close_ticks",
    "streaming/stateful.py:stream_align_candidates",
}
_CITE = re.compile(r"\w\.py:\d+")


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


def _public_defs():
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "queries.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                yield f"{path.relative_to(PKG).as_posix()}:{node.name}", node


def test_every_public_kernel_def_has_a_non_test_caller():
    called = _referenced_names()
    uncalled = {key: node for key, node in _public_defs() if node.name not in called}
    stray = sorted(set(uncalled) - FINDS_SURFACE)
    assert not stray, (
        f"public defs with no caller outside tests: {stray}; delete them, "
        "name the caller that needs them, or cite the FinDS path they "
        "re-express and add them to FINDS_SURFACE"
    )
    stale = sorted(FINDS_SURFACE - set(uncalled))
    assert not stale, f"FINDS_SURFACE entries that are gone or now called: {stale}"
    uncited = sorted(
        key for key, node in uncalled.items()
        if not _CITE.search(ast.get_docstring(node) or "")
    )
    assert not uncited, f"FINDS_SURFACE defs citing no FinDS <file>.py:<line>: {uncited}"
