"""On-arrival approximate-nearest-neighbor search (§2.9 x ANN).

The ingestion-time shape of similarity search: an offline leg builds an
IVF index over the existing corpus (``similarity.ivf_build_index`` —
Lloyd training, corpus binning, persisted through the Store), and the
ARRIVAL stream is matched against it inside one streaming DAG — each
new vector tagged with its nearest existing neighbor as it lands.

Why this composes in a stream at all: the IVF coarse probe is a pure
per-row projection (``similarity._probe_clusters`` scores the inlined
centroid literal with an array_sort/slice/explode — no window, no
aggregate), the candidate fetch is a stream-static join onto the binned
corpus restricted to the probed lists (stateless, broadcast-able: the
probed lists are a corpus fraction ~nprobe/nlist), and the only
stateful operator is the per-arrival argmax, grouped on the arrival's
OWN event-time window so each group is one arrival.

Output modes (the scaling boundary, measured in SCALE.md):

- ``watermark=None`` -> COMPLETE mode: every per-arrival argmax is
  re-emitted each micro-batch.  Exact and convenient for bounded
  backfills and the memory-sink gate, but re-emission work grows with
  ACCUMULATED arrivals — quadratic over an unbounded stream (measured
  bog-down by epoch ~6 of 8 at 20k arrivals).
- ``watermark="0 seconds"`` (or any horizon) -> APPEND mode: each
  argmax emits exactly ONCE when the watermark passes its window end,
  and its state row is evicted — per-epoch cost stays flat in arrivals
  per epoch, the indefinite-ingestion deployment shape.  The price is
  the horizon itself: an arrival's match emits only after a LATER
  arrival advances the watermark past it (continuous streams do this
  for free; a drained backfill leaves its final in-horizon windows
  unemitted).

Reference parity: the reference has no streaming engine — its
nearest-neighbor flows are batch loops (finds/recipes similarity
sections); this module is the Spark-native arrival-time twin of the
same IVF quantizer chain, oracle-checked against the identical
deterministic replay (queries._ivf_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def on_arrival_nearest(
    stream: DataFrame,
    index: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str = "ts",
    nprobe: int = 2,
    window: str = "1 second",
    watermark: str | None = None,
    query_id: str = "query_id",
    flush_ts=None,
    sentinel_id: int = -1,
) -> DataFrame:
    """Match each arriving vector against a pre-built IVF ``index``
    (the dict from ``similarity.ivf_build_index``) and emit its top-1
    in-list cosine neighbor, keyed by the arrival's event-time window.

    ``watermark=None`` -> run the result in complete mode (bounded
    query sets / gate harness); a watermark string -> append mode with
    once-per-arrival emission and state eviction (production; see
    module docstring for the emission-horizon contract).  Ties break to
    the lowest neighbor id on the 6dp-rounded score — the same
    round-before-rank discipline as the batch IVF top-k.

    ``flush_ts`` (append mode only): a ``datetime`` strictly past the
    last real arrival's window end plus the watermark delay.  Unions
    ONE sentinel arrival (``streaming/windows.sentinel_stream``) at
    that event time just before the watermark, so a DRAINED bounded
    stream emits ALL its in-horizon windows under
    ``Trigger.AvailableNow`` — the flush recipe the emission-horizon
    contract documents; a live stream gets the same effect from its
    next real arrival.  The sentinel's own rows are filtered from the
    output; parity with complete mode on a drained stream is pinned by
    test.  ``sentinel_id`` is the id the sentinel rides under (query
    AND neighbor) — it must NOT be a real corpus/arrival id (default -1
    fits the non-negative-id convention of the testdata; pass your own
    reserved id for corpora with negative ids)."""
    from financial_data_science_spark.functions.similarity import (
        _probe_clusters,
        dot_sql,
        norm,
    )
    from financial_data_science_spark.functions.sqltext import sql_name

    binned = index["binned"].withColumn("__cn__", norm(vec_col))
    probes = _probe_clusters(
        stream, id_col, vec_col, index["centroids"], nprobe, query_id,
        keep=(ts_col,),
    ).withColumn("__qn__", norm("__qv__"))
    scored = (
        probes.join(binned, "cluster")
        .filter(F.col(query_id) != F.col(id_col))
        .select(
            query_id,
            ts_col,
            F.col(id_col).alias("neighbor_id"),
            F.expr(
                f"round({dot_sql('__qv__', sql_name(vec_col))} / "
                "(__qn__ * __cn__), 6) AS __s__"
            ),
        )
    )
    if flush_ts is not None:
        if watermark is None:
            raise ValueError("flush_ts is the append-mode drain; pass a "
                             "watermark")
        from financial_data_science_spark.streaming.windows import (
            sentinel_stream,
        )

        sent = sentinel_stream(
            stream.sparkSession,
            [(sentinel_id, flush_ts, sentinel_id, 0.0)],
            f"{query_id} long, {ts_col} timestamp, neighbor_id long, "
            f"__s__ double",
        )
        scored = scored.unionByName(sent)
    if watermark is not None:
        scored = scored.withWatermark(ts_col, watermark)
    out = (
        scored.groupBy(F.window(ts_col, window), query_id)
        .agg(
            F.max(
                F.struct(
                    F.col("__s__").alias("s"),
                    (-F.col("neighbor_id")).alias("negid"),
                )
            ).alias("m")
        )
        .select(
            query_id,
            (-F.col("m.negid")).alias("neighbor_id"),
            F.round("m.s", 4).alias("score"),
        )
    )
    if flush_ts is not None:
        # drop the sentinel's own (never-emitting) group defensively —
        # via the AGGREGATE-DERIVED neighbor column, NOT the grouping
        # key: a predicate on the grouping key (query_id != sentinel)
        # is legally pushed below the aggregate, through the watermark
        # node and the union into the sentinel's source branch, which
        # deletes the sentinel row BEFORE it reaches the event-time
        # stats and silently un-flushes the stream (measured: the last
        # arrival's window stayed unemitted).  neighbor_id is computed
        # FROM the max() result, so this filter cannot push below the
        # aggregation; only the sentinel's group carries the sentinel
        # neighbor (its row bypasses the corpus join).
        out = out.filter(F.col("neighbor_id") != F.lit(sentinel_id))
    return out
