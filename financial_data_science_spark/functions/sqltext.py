"""Spark SQL text builders for kernel expressions.

PySpark 4.1's Column API costs one Py4J round trip per call plus about
eight more to record the Python call site: ``F.col("a")`` is 13 round
trips, ``F.expr("...")`` is 3 whatever the length of its text.  A
kernel that composes a 32-column MinHash aggregate or a centroid argmax
from Column calls spends more driver time building the plan than Spark
spends running it.  The kernels therefore write each expression as SQL
text and hand it to Catalyst in one ``F.expr`` (or ``selectExpr``)
call.  The parser builds the same unresolved tree the Column calls
built, so the analyzed and optimized plans are unchanged, provided the
text is spelled the way PySpark builds the tree:

- lambda parameters are named ``x_N``/``y_N``/``z_N``, as PySpark names
  them (:func:`lam`);
- ``struct(e AS n, ...)`` stands for ``F.struct(e.alias(n), ...)``, and
  ``named_struct`` only where the Column form used ``named_struct``;
- double literals carry the ``D`` suffix: a bare ``0.0`` parses as a
  decimal (:func:`sql_double` for computed values);
- column names are backtick-quoted (:func:`sql_name`).
"""

from __future__ import annotations

import inspect
import itertools

_LAMBDA_IDS = itertools.count()


def sql_name(name: str) -> str:
    """``name`` as a SQL column reference, read the way ``F.col`` reads
    it: dots separate a qualifier from a field, and every part is
    backtick-quoted, so names holding spaces or keywords parse.  A name
    that already holds a backtick is taken as quoted."""
    if not isinstance(name, str):
        raise TypeError(f"expected a column name, got {type(name).__name__}")
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


def sql_double(x: float) -> str:
    """A double literal for a computed value: Python ``repr`` is the
    shortest string that round-trips, and the CAST guards spellings
    such as ``inf`` or ``1e-05`` that are not SQL double literals."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def lam(body) -> str:
    """SQL lambda text ``(x_N, y_M) -> body(x_N, y_M)``.  The parameter
    count follows ``body``'s, and the names are fresh and spelled as
    PySpark spells them, so a nested lambda never shadows an outer one
    and a plan written from this text prints as the Column-built plan
    did."""
    n = len(inspect.signature(body).parameters)
    names = [f"{p}_{next(_LAMBDA_IDS)}" for p in "xyz"[:n]]
    args = names[0] if n == 1 else "(" + ", ".join(names) + ")"
    return f"{args} -> {body(*names)}"


def let_sql(value: str, body) -> str:
    """Text of ``porthash.let_``: evaluate ``value`` once and bind it as
    the lambda variable ``body`` receives (a one-element transform)."""
    return f"element_at(transform(array({value}), {lam(body)}), 1)"
