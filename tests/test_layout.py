"""fan_out_scan: scale-adaptive repartition of under-split scans.

The helper exists for single-row-group parquet inputs (one scan task no
matter the core count); it must be a no-op whenever the input is already
split at least as wide as the session's parallelism, and it must never
change operator results (the call sites restrict it to
partitioning-order-independent math).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_science_spark.operators.layout import fan_out_scan

SF = "/root/testdata/sf0.001"


def test_fan_out_widens_underspit_scan(spark):
    from financial_data_science_spark.operators.layout import (
        _FAN_BYTES_PER_TASK,
        _plan_size_bytes,
    )
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target  # single-row-group input
    fanned = fan_out_scan(docs, "doc_id")
    # width is size-capped (r15): bytes/task sizing, never wider than
    # the session
    size = _plan_size_bytes(docs)
    assert size > 0
    want = min(target, max(1, -(-size // _FAN_BYTES_PER_TASK)))
    assert fanned.rdd.getNumPartitions() == want
    assert fanned.rdd.getNumPartitions() > docs.rdd.getNumPartitions()


def test_fan_out_skips_trivially_small_frame(spark):
    """The r15 size floor: a frame whose optimizer estimate is below
    layout._FAN_MIN_BYTES comes back IDENTITY — no exchange, no
    tasks spent parallelizing work smaller than the exchange itself."""
    from financial_data_science_spark.sources.testdata import load_table

    region = load_table(spark, SF, "region")  # ~2 KB on disk
    assert fan_out_scan(region, "r_regionkey") is region


def test_fan_out_noop_on_wellsplit_frame(spark):
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target + 4)
    # already wider than the session: the SAME frame comes back (no
    # second exchange inserted on top)
    assert fan_out_scan(wide, "doc_id") is wide


def test_fan_out_preserves_minhash_results(spark):
    """End-to-end invariance on the heaviest call site: the banded
    MinHash candidate set (min() aggregate + bucket join) is identical
    whether the signature pipeline runs on the 1-partition scan or the
    fanned-out frame."""
    from financial_data_science_spark.functions import similarity as SIM
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    # coalesce(1) defeats the internal fan-out's benefit check target by
    # comparing against an explicitly single-partition pipeline run via
    # the public API (which fans out internally)
    fanned = SIM.minhash_candidates(docs, num_hashes=32, bands=16)
    rows_f = sorted(
        (r["left_id"], r["right_id"], r["est_jaccard"]) for r in fanned.collect()
    )
    assert rows_f  # non-vacuous on the sf0.001 corpus
    # independent single-partition reference: same pipeline maths on the
    # raw 1-partition scan, bypassing fan-out by pre-widening with the
    # SAME partitioner so fan_out_scan no-ops
    single = SIM.minhash_candidates(
        docs.repartition(spark.sparkContext.defaultParallelism + 1, F.col("doc_id")),
        num_hashes=32,
        bands=16,
    )
    rows_s = sorted(
        (r["left_id"], r["right_id"], r["est_jaccard"]) for r in single.collect()
    )
    assert rows_f == rows_s


def test_fan_out_decides_without_a_job(spark):
    """Deciding whether to fan out runs no Spark job.  On an adaptive
    plan over a broadcast join, ``df.rdd.getNumPartitions()`` first runs
    the plan's query stages as jobs; the count is read from the plan
    instead: a scan's splits, or a shuffle's planned width."""
    from financial_data_science_spark.operators.layout import (
        _FAN_BYTES_PER_TASK,
        _plan_size_bytes,
    )
    from financial_data_science_spark.operators.prevailing import keep_extremum
    from financial_data_science_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    seen = docs.select("doc_id").filter(F.col("doc_id") % 7 == 0)
    scanned = docs.join(F.broadcast(seen), "doc_id", "left_anti")
    # the ingestion shape: a per-key dedup (one shuffle), then the
    # anti-join against ids already stored
    shuffled = keep_extremum(docs, ["doc_id"], ["n_chars"]).join(
        F.broadcast(seen), "doc_id", "left_anti"
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for frame, planned in (
        (scanned, docs.rdd.getNumPartitions()),
        (shuffled, int(spark.conf.get("spark.sql.shuffle.partitions"))),
    ):
        before = dag.nextJobId()
        fanned = fan_out_scan(frame, "doc_id")
        assert dag.nextJobId() - before == 0
        want = min(
            spark.sparkContext.defaultParallelism,
            max(1, -(-_plan_size_bytes(frame) // _FAN_BYTES_PER_TASK)),
        )
        if planned >= want:
            assert fanned is frame
        else:
            assert fanned.rdd.getNumPartitions() == want
