"""Physical-layout helpers: scan fan-out for under-split inputs.

A parquet file is splittable only at row-group boundaries, so a table
written as one row group scans as ONE task no matter how many cores the
session has — and every map-side operator downstream of that scan
(tokenize/shingle explodes, hash projections, vector folds) serializes
on one core.  That is the guide's "input skew: one huge unsplittable
file" case: repartition immediately after the read.

``fan_out_scan`` is deliberately SCALE-ADAPTIVE, not a constant: the
target is the session's default parallelism (which tracks the master's
core count — the bench driver varies it via $SPARK_GRAFT_CPUS), and the
repartition is a NO-OP whenever the scan already has at least that many
partitions.  At 100 TB a corpus scan arrives in thousands of splits, so
this helper inserts nothing; it only pays one tiny exchange (the raw
rows, pre-explode) when the input is under-split relative to the
session.

Size awareness (r15): fanning a TRIVIALLY small frame to every core
costs more in exchange + task-scheduling overhead than the kernel it
parallelizes — the r14 scaling block showed two entries FASTER at 8
cores than 32 for exactly this reason.  Two guards, both derived from
the optimizer's size estimate for the input plan (file bytes for
scans; no job, no RDD materialization):

* frames below ``_FAN_MIN_BYTES`` (8 KiB) are never fanned — the work
  they carry cannot amortize even one exchange;
* the fan WIDTH is ``bytes / _FAN_BYTES_PER_TASK`` (24 KiB/task),
  capped at default parallelism — so a 700 KB corpus at sf0.1 fans
  ~wide while a 60 KB test-scale frame fans a few ways, and
  the width is the same at every core count at or above it (the 8-core
  vs 32-core bench comparison stops being distorted by 32-way overhead
  on sub-second inputs).

Both constants are sized for the local bench's heavy-per-row kernels
(shingle/gram explodes over compressed text: per-row compute is orders
of magnitude larger than per-row bytes).  Plain columnar work on a
production cluster would want the guide's 100 MB - 1 GB per-task
sizing (§2.2), but at 100 TB the helper is a no-op either way because
real scans arrive well-split.  When the estimate is unavailable
(localCheckpoint/RDD-backed frames report the default "unknown = huge"
stat), the helper behaves as before: fan to default parallelism.

Partitioning by an id column (when given) rather than round-robin does
double duty: the rows spread evenly AND the downstream per-id
aggregation's ClusteredDistribution is already satisfied, so the
repartition exchange REPLACES the aggregate's exchange instead of
adding one (guide: two operations keyed the same way share one
exchange).  Only use it on paths whose results are
partitioning-order-independent (min/max/count/integer sums, row-local
projections); a floating-point sum/avg whose accumulation order feeds
an output value must keep its original partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# below this, never fan: one exchange costs more than the kernel
_FAN_MIN_BYTES = 8 * 1024
# fan width = estimated input bytes / this (bytes per task)
_FAN_BYTES_PER_TASK = 24 * 1024
# estimates at/above this are treated as "unknown" (Catalyst reports
# spark.sql.defaultSizeInBytes = Long.Max for RDD-backed plans)
_STATS_UNKNOWN = 1 << 60
# compact_width's target: bytes of estimated frame per partition
_COMPACT_BYTES_PER_PART = 1 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for ``df``'s logical plan in bytes, or
    -1 when unknown/unavailable.  Driver-side metadata only — no job."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # pragma: no cover - py4j/analysis edge paths
        return -1
    return -1 if size >= _STATS_UNKNOWN else size


# physical operators whose RDD keeps its input's partition count
_NARROW = frozenset(
    ("WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec",
     "ProjectExec", "FilterExec", "SortExec", "WindowExec",
     "WindowGroupLimitExec")
)


def _num_partitions(df: DataFrame) -> int:
    """Partition count ``df`` is planned with, read without a job.

    ``df.rdd.getNumPartitions()`` executes the plan to build the RDD;
    on an adaptive plan that first runs every query stage (a broadcast
    or a shuffle) as a job.  This walks the physical plan instead, down
    narrow operators and broadcast joins' streamed sides, to the node
    that sets the count: a scan's splits or a shuffle's width.  Adaptive
    execution may still shrink a shuffle's width when it runs (coalesced
    partitions, an empty relation); the count here is the planned one.
    Any other shape (a union, a sort-merge join, a cache, a bucketed or
    partition-pruned scan) keeps the RDD count.  Raises what ``df.rdd``
    raises on an unconvertible plan."""
    plan = df._jdf.queryExecution().executedPlan()
    while True:
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        elif kind in _NARROW:
            plan = plan.child()
        elif kind == "BroadcastHashJoinExec":
            plan = plan.streamedPlan()
        elif kind == "ShuffleExchangeExec":
            return plan.numPartitions()
        elif kind == "RDDScanExec" or kind == "FileSourceScanExec" and (
            not plan.bucketedScan() and plan.partitionFilters().isEmpty()
        ):
            return plan.inputRDD().getNumPartitions()
        else:
            return df.rdd.getNumPartitions()


def compact_width(df: DataFrame) -> int:
    """Width to COMPACT a small reused intermediate to before an eager
    checkpoint, or 0 to leave the layout alone.

    The inverse problem of :func:`fan_out_scan`: a tiny frame that a
    wide lineage (e.g. a fanned fold) materializes into one checkpoint
    block PER TASK is re-scanned by every consumer at full task count —
    pure scheduling overhead when the whole frame is a few hundred KB
    (guide §6: small files/partitions hurt twice).  Returns
    ``ceil(estimated_bytes / _COMPACT_BYTES_PER_PART)`` (1 MiB) when
    that is SMALLER than the current partition count, else 0 — so it
    only ever shrinks trivially small frames and is an identity at
    scale, where the estimate (and hence the width) exceeds the existing
    layout.  Checkpoint blocks are uncompressed row data, far lighter
    per row than the guide's on-disk 128 MB-1 GB file sizing."""
    if df.isStreaming:
        return 0
    size = _plan_size_bytes(df)
    if size < 0:
        return 0
    want = max(1, -(-size // _COMPACT_BYTES_PER_PART))
    try:
        current = _num_partitions(df)
    except Exception:  # unconvertible plans: leave layout alone
        return 0
    return want if want < current else 0


def fan_out_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition an under-split scan up to the session's default
    parallelism (width size-capped, see module doc); no-op on streaming
    frames, well-split inputs, and trivially small frames.

    ``keys``: optional column names to hash-partition by (enables
    exchange reuse by a downstream groupBy on the same keys); without
    keys the split is round-robin.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    size = _plan_size_bytes(df)
    if 0 <= size < _FAN_MIN_BYTES:
        return df
    if size >= 0 and _FAN_BYTES_PER_TASK > 0:
        target = min(target, max(1, -(-size // _FAN_BYTES_PER_TASK)))
    try:
        current = _num_partitions(df)
    except Exception:  # unconvertible plans: leave layout alone
        return df
    if current >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)
