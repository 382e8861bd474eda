"""Skew and co-location tools for 100 TB shuffles (SURVEY §4 'needs
deliberate design').

AQE's skew-join splitting handles moderate skew automatically
(session.py enables it); these helpers cover the two cases it can't:

  - ``salted_aggregate``: a groupBy whose hottest key holds a large
    fraction of all rows (e.g. one permno with billions of ticks).  A
    random salt splits each key across ``n_salts`` reducers for a partial
    aggregate; the tiny second pass merges the partials.  NOTE the
    measured scope (bdde7f0:tools/scale_probe_skew.py): for plain
    ALGEBRAIC aggregates (sum/count/min/max/avg) Spark's map-side partial
    aggregation already compresses the hot key to one partial row per
    map task — salting those is an anti-optimization (extra shuffle,
    measured slower).  Salt the aggregates whose partial state Spark
    ships uncompressed: holistic-but-mergeable shapes like per-key
    top-k (``slice(sort_array(collect_list(..)))`` partials merge by
    flatten+re-slice, bounding the hot reducer to n_salts x k elements
    instead of the hot key's full row set).
  - ``salted_broadcast_join``: fact ⋈ skewed small-dim where AQE chose a
    sort-merge join: explode the dim side over the salt space instead of
    shuffling the fact.
  - ``write_bucketed`` / bucketed tables: two facts bucketed on the same
    key join WITHOUT any exchange — the physical plan shows zero shuffles
    (asserted in tests/test_plans.py).  This is how repeated
    permno-keyed joins (links, signals, holdings) should be laid out at
    rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    keys: list[str] | str,
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a salt: partial per (key, salt), merge
    per key.

    ``partial_aggs``: name -> aggregate over the raw rows.
    ``merge_aggs``: name -> aggregate over the partial columns (same
    names), e.g. partial ``F.sum('x')`` merges with ``F.sum('x')``;
    partial count merges with sum; partial top-k list merges with
    ``slice(sort_array(flatten(collect_list(..))))``.

    Use for aggregates WITHOUT effective map-side combine (collect_list
    derived top-k, large mergeable sketches).  For sum/count/min/max
    prefer the plain groupBy — hash aggregation's partial pass already
    bounds the hot reducer's input to one row per map task, and the
    salted form's extra (key, salt) shuffle only adds cost (measured:
    bdde7f0:tools/scale_probe_skew.py / SCALE.md).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    salted = df.withColumn("__salt__", (F.rand(seed=7) * n_salts).cast("int"))
    part = salted.groupBy(*keys, "__salt__").agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    return part.groupBy(*keys).agg(*[c.alias(n) for n, c in merge_aggs.items()])


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join where the dim is replicated across the salt space so the
    (possibly key-skewed) fact never re-shuffles: fact rows get a random
    salt, dim rows get ALL salts, join on (key, salt).  Use when the dim
    is broadcastable but a plain broadcast still funnels one hot key's
    rows through few tasks downstream."""
    salted_fact = fact.withColumn(
        "__salt__", (F.rand(seed=7) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(
        F.broadcast(salted_dim), [key, "__salt__"]
    ).drop("__salt__")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str | list[str],
    n_buckets: int = 32,
    sort_key: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist bucketed (and optionally sorted) by the join key: subsequent
    equi-joins/aggregations on that key read co-located buckets and skip
    the exchange entirely (the reference's manual temp-table + CREATE
    INDEX, stocks.py:233-241, became physical layout)."""
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    w = df.write.mode(mode).bucketBy(n_buckets, *keys)
    if sort_key:
        sk = [sort_key] if isinstance(sort_key, str) else list(sort_key)
        w = w.sortBy(*sk)
    w.saveAsTable(table)
