"""Helpers shared by the workloads."""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass, field


@dataclass
class PassResult:
    """What one pass hands back: the small collected outputs the checks
    and the digest read, the latency of each batch in the pass, and the
    per-layer counters the workload measures itself."""

    outputs: dict
    batch_s: list[float]
    counters: dict = field(default_factory=dict)


def _canon(x, sig: int):
    if isinstance(x, float):
        if math.isnan(x) or math.isinf(x):
            return str(x)
        return float(f"{x:.{sig}g}")
    if isinstance(x, dict):
        return {str(k): _canon(v, sig) for k, v in sorted(x.items(), key=lambda kv: str(kv[0]))}
    if isinstance(x, (list, tuple)):
        return [_canon(v, sig) for v in x]
    if hasattr(x, "item"):  # numpy scalar
        return _canon(x.item(), sig)
    return x


def digest(obj, sig: int = 9) -> str:
    """Hash of ``obj`` with floats rounded to ``sig`` significant digits,
    so a last-bit difference in a float sum's merge order does not count
    as a changed result."""
    blob = json.dumps(_canon(obj, sig), sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def rows(df) -> list[tuple]:
    """Collect ``df`` as plain tuples in a stable order (nulls last)."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, 0 if v is None else v) for v in t),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
