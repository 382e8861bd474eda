"""Physical-plan assertions: the properties that make the operators viable
at 100 TB — predicate pushdown to the parquet scan, column pruning,
broadcast of dimension sides, and whole-stage codegen — checked on real
explain output so a regression that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import functions as F

from financial_data_science_spark.operators import (
    asof_join,
    compound_returns,
    event_window,
    fractile_split,
)
from financial_data_science_spark.plans.calendar import TradingCalendar
from financial_data_science_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_suppkey") == 7).select("l_suppkey", "l_extendedprice")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,7)" in plan


def test_column_pruning_reaches_parquet_scan(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
    plan = _formatted(q)
    # ReadSchema must contain only the two referenced columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_suppkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_compound_returns_pushes_date_range(spark):
    # date_col is a raw parquet column here, so compound_returns' internal
    # [beg, end] filter must reach the scan as PushedFilters
    li = load_table(spark, SF, "lineitem")
    q = compound_returns(
        li, keys="l_suppkey", ret_col="l_discount", date_col="l_orderkey",
        beg=100, end=5000,
    )
    plan = _formatted(q)
    assert "GreaterThanOrEqual(l_orderkey,100)" in plan
    assert "LessThanOrEqual(l_orderkey,5000)" in plan
    # and the scan must not read unreferenced columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read


def test_fractile_breakpoints_are_broadcast(spark):
    li = load_table(spark, SF, "lineitem")
    q = fractile_split(li.select("l_orderkey", "l_extendedprice"), "l_extendedprice")
    plan = _plan(q)
    assert "Broadcast" in plan  # one-row breakpoints frame never shuffles the fact side
    assert "SortMergeJoin" not in plan


def test_event_window_broadcasts_calendar(spark):
    li = load_table(spark, SF, "lineitem")
    panel = li.groupBy("l_suppkey", F.col("l_shipdate").alias("fact_d")).agg(
        F.sum("l_quantity").alias("qty")
    )
    cal = TradingCalendar.from_dates(li.select(F.col("l_shipdate").alias("date")))
    anchors = panel.filter(F.col("qty") > 90).select(
        "l_suppkey", F.col("fact_d").alias("anchor_d")
    )
    q = event_window(
        anchors, panel, by="l_suppkey", event_date="anchor_d",
        fact_date="fact_d", values=["qty"], left=-1, right=1, calendar=cal.dim,
    )
    assert "Broadcast" in _plan(q)


def test_asof_union_strategy_has_no_join(spark):
    ev = load_table(spark, SF, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("qts"), F.col("value").alias("qval")
    )
    q = asof_join(left, right, by="user_id", left_on="ts", right_on="qts",
                  strategy="union")
    plan = _plan(q)
    # union-ffill as-of: one shuffle on the by-key, zero joins
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_text_pipeline_is_jvm_side(spark):
    """Text functions must never fall back to Python row evaluation — on a
    100 TB scan, a BatchEvalPython node is a 10-100x tax.  (Higher-order
    lambda expressions run JVM-side but outside whole-stage codegen;
    that's expected and fine.)"""
    docs = load_table(spark, SF, "documents")
    from financial_data_science_spark.functions.text import n_tokens, quality_features

    feats = quality_features("text")
    q = docs.select(
        "doc_id", n_tokens("text").alias("nt"), *[v.alias(k) for k, v in feats.items()]
    )
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wholestage_codegen_covers_agg_pipeline(spark):
    li = load_table(spark, SF, "lineitem")
    q = (
        li.filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    q.collect()  # AQE finalizes the physical plan only on execution
    # '*(n)' prefixes mark whole-stage-codegen'd spans in the plan string;
    # scan->filter->partial-agg and final-agg must both be inside one
    assert "*(1)" in _plan(q) and "*(2)" in _plan(q)


def test_salted_aggregate_matches_plain(spark):
    from financial_data_science_spark.operators.skew import salted_aggregate

    li = load_table(spark, SF, "lineitem")
    plain = {
        r.l_suppkey: (r.s, r.n)
        for r in li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r.l_suppkey: (r.s, r.n)
        for r in salted_aggregate(
            li,
            "l_suppkey",
            partial_aggs={"s": F.sum("l_quantity"), "n": F.count(F.lit(1))},
            merge_aggs={"s": F.sum("s"), "n": F.sum("n")},
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k][0] - salted[k][0]) < 1e-6 and plain[k][1] == salted[k][1]


def test_salted_broadcast_join_matches_plain(spark):
    from financial_data_science_spark.operators.skew import salted_broadcast_join

    li = load_table(spark, SF, "lineitem")
    supp = load_table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    fact = li.select(F.col("l_suppkey").alias("s_suppkey"), "l_quantity")
    plain = fact.join(supp, "s_suppkey").count()
    salted = salted_broadcast_join(fact, supp, "s_suppkey")
    assert salted.count() == plain
    assert "SortMergeJoin" not in _plan(salted)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must join with ZERO shuffles —
    the at-rest layout for repeated permno-keyed joins at 100 TB."""
    from financial_data_science_spark.operators.skew import write_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    li = load_table(spark, SF, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    supp_panel = load_table(spark, SF, "lineitem").groupBy("l_suppkey").agg(
        F.avg("l_discount").alias("avg_disc")
    )
    write_bucketed(li, "bkt.li_b", "l_suppkey", n_buckets=8)
    write_bucketed(supp_panel, "bkt.supp_b", "l_suppkey", n_buckets=8)
    a = spark.table("bkt.li_b")
    b = spark.table("bkt.supp_b")
    j = a.join(b.hint("merge"), "l_suppkey")
    j.collect()
    plan = _plan(j)
    assert "Exchange" not in plan, plan


def test_ivf_probe_join_is_broadcast(spark):
    """The IVF probe->bin join must be map-side (broadcast): a hash
    shuffle on the nlist-value cluster key would cap parallelism at
    nlist and skew on popular lists."""
    from financial_data_science_spark.functions.similarity import ivf_topk
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ivf_topk(emb.filter(F.col("vec_id") < 5), emb, k=2, nlist=4, iters=1)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    """Corpus->cluster assignment is a map-side argmax against the inlined
    centroid literal: no Exchange between the scan and the cluster column
    (the round-4 audit flagged the old crossJoin+row_number argmax as an
    avoidable |C| x nlist shuffle)."""
    from financial_data_science_spark.functions.similarity import (
        _assign_clusters,
        _ivf_train_rows,
    )
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = _ivf_train_rows(emb, nlist=4, iters=1)
    plan = _plan(_assign_clusters(emb, "embedding", rows))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_triangles_plan_has_no_cartesian(spark):
    """Triangle enumeration is equi-joins on shared vertices, never a
    per-node neighborhood cross product."""
    import pandas as pd

    from financial_data_science_spark.functions.graph import (
        clustering_coefficient,
    )

    df = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], columns=["src", "dst"])
    )
    plan = _plan(clustering_coefficient(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_parametric_risk_is_single_aggregation(spark):
    """Gaussian VaR/ES is one hash aggregate over the scan — no window,
    no join, no second shuffle."""
    from financial_data_science_spark.functions.stats import parametric_risk
    from financial_data_science_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plan = _plan(parametric_risk(ev, "event_type", ret="value"))
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read) only
    assert "Window" not in plan and "Join" not in plan


def test_fstats_single_shuffle_window_chain(spark):
    """Break-point F-stats ride ordered windows over ONE shuffle on the
    group key — no join back, no per-split re-scan."""
    from financial_data_science_spark.functions.stats import fstats_breaks
    from financial_data_science_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    s = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.sum("value").alias("value")
    )
    plan = _plan(fstats_breaks(s, "event_type", value="value", order="day"))
    assert "Join" not in plan


def test_hash_split_is_pure_map(spark):
    """Deterministic split/sample assignment must add ZERO exchanges —
    it is per-row arithmetic on the key."""
    from financial_data_science_spark.functions.pipeline import hash_split

    docs = load_table(spark, SF, "documents")
    plan = _plan(hash_split(docs, "doc_id", {"train": 0.9, "test": 0.1}))
    assert "Exchange" not in plan


def test_global_cumsum_numeric_path_has_no_single_partition_window(spark):
    """The two-phase prefix sum must not degrade to a SinglePartition
    window over the full data, and the numeric fast path must not range-
    repartition (block ids are map-side searchsorted over quantile
    boundaries; the only full-data exchange is the block-window's)."""
    from financial_data_science_spark.operators.windows import global_cumsum

    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    plan = _plan(global_cumsum(docs, "doc_id", "n_chars", num_blocks=8))
    assert "rangepartitioning" not in plan.lower()
    # the offsets frame (num_blocks rows) legitimately uses a single
    # partition; the full-data window must partition by the block id
    assert "Window [sum" in plan and "windowspecdefinition(__blk__" in plan


def test_cached_section_is_computed_once(spark):
    """S6 result-cache semantics: both consumers of the self-join read
    the persisted InMemoryRelation — the customer scan + aggregation run
    once, not once per consumer (the reference's Redis memoization,
    redisdb.py:60-81, realized as persist())."""
    from financial_data_science_spark.queries import Q

    df = Q["cached_section_reuse"](spark, SF)
    try:
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert "Scan parquet" not in plan.split("InMemoryTableScan")[0]
    finally:
        spark.catalog.clearCache()


def test_no_slow_paths_anywhere_in_catalog(spark):
    """Catalog-wide physical-plan audit: NO query may plan a
    CartesianProduct / BroadcastNestedLoopJoin on a data path or a
    row-at-a-time Python UDF (BatchEvalPython) anywhere.  Arrow paths
    (ArrowEvalPython, mapInPandas, FlatMapGroupsInPandas[WithState]) are
    the sanctioned Python escapes.  Streaming queries execute during
    construction, so this sweeps the batch catalog only."""
    from financial_data_science_spark.queries import Q

    skip = {n for n in Q if n.startswith("stream_")}
    bad: dict[str, list[str]] = {}
    for name, fn in Q.items():
        if name in skip:
            continue
        try:
            plan = _plan(fn(spark, SF))
        finally:
            spark.catalog.clearCache()
        hits = [
            pat
            for pat in ("CartesianProduct", "BatchEvalPython")
            if pat in plan
        ]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_rerank_exact_broadcasts_candidates(spark):
    """rerank_exact's two vector fetches must broadcast the candidate
    side (it is |Q| x R pairs by construction): the corpus streams, it
    is never shuffled or broadcast itself."""
    from financial_data_science_spark.functions.similarity import rerank_exact
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cand = (
        emb.limit(3).selectExpr("vec_id as query_id")
        .crossJoin(emb.limit(9).selectExpr("vec_id as neighbor_id"))
        .filter("query_id != neighbor_id")
    )
    plan = _plan(rerank_exact(cand, emb, k=3))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the corpus-side scans must not feed an Exchange (shuffle)
    assert "Exchange hashpartitioning" not in plan.split("Window")[0], plan


def test_ivfpq_query_index_plan_is_probe_only(spark):
    """The query-only IVFPQ path: probes broadcast onto the pre-built
    coded corpus, ADC scoring map-side, one window for top-k — no
    Exchange hashpartitioning anywhere before the window (training and
    encoding happened at build time, not in this plan)."""
    from financial_data_science_spark.functions.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )
    from financial_data_science_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = ivfpq_build_index(emb, dim=64, nlist=4, m=2, k=4, iters=1,
                              persist=True)
    plan = _plan(ivfpq_query_index(emb.filter(F.col("vec_id") < 5), index,
                                   nprobe=2, topk=3))
    assert "BroadcastHashJoin" in plan, plan
    pre_window = plan.split("Window")[0]
    assert "Exchange hashpartitioning" not in pre_window, plan
    assert "CartesianProduct" not in plan


# Pinned physical-plan fingerprints for the ANN family (round-7 guard):
# the r6 bench drift on the fused PQ entries turned out environmental
# (quiet-window rerun matched r5 minimums), but the episode showed plan
# regressions and bench noise are indistinguishable after the fact.
# These counts pin the plan SHAPE — a helper refactor that adds a
# shuffle, drops a broadcast, or falls off the sanctioned
# BroadcastNestedLoopJoin (broadcast queries x streamed corpus on an
# inequality join) now fails as a diff, not a bench mystery.
# ("Window" counts include Spark's WindowGroupLimit partial/final pair
# around each top-k window — 3 per ranked window is the expected shape.)
_ANN_PLAN_FINGERPRINTS = {
    # cosine_topk carries 2 hash exchanges since r14: the second is the
    # scale-adaptive scan fan-out (operators/layout.fan_out_scan) that
    # parallelizes the |Q|x|C| score projection off the single-row-group
    # corpus file — a deliberate repartition-after-read, not a regression.
    "cosine_topk":         {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 0, "BroadcastNestedLoopJoin": 1, "Window": 3},
    # r14: the ANN corpus-side encode/assign projections fan out off the
    # single-row-group scan (operators/layout.fan_out_scan) — each fused
    # entry gains one deliberate hash exchange per distinct encode input
    # (ivfpq counts the binned subtree's fan exchange once per textual
    # reference; AQE reuses the stage at runtime).  Training lineages
    # keep their partitioning, so no other operator counts move.
    "ann_sq8_topk":        {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 0, "BroadcastNestedLoopJoin": 1, "Window": 3},
    "ann_pq_topk":         {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 0, "BroadcastNestedLoopJoin": 1, "Window": 3},
    "ann_ivf_topk":        {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 0, "Window": 3},
    "ann_ivfpq_topk":      {"Exchange hashpartitioning": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 0, "Window": 3},
    # r15: +2 exchanges — the ENCODE lineage (assign + residual +
    # pq_encode) now fans the raw (id, vec) input BEFORE the assignment
    # so those row-local stages parallelize too (the TRAINING lineage
    # keeps its partitioning), and the size-derived fan widths
    # (layout.fan_out_scan) make the two fan exchanges non-identical so
    # they no longer collapse into one textual node.
    "ann_ivfpq_residual":  {"Exchange hashpartitioning": 4, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 0, "Window": 3},
    "ann_ivfpq_refined":   {"Exchange hashpartitioning": 4, "BroadcastHashJoin": 4, "BroadcastNestedLoopJoin": 0, "Window": 6},
    "ann_ivfpq_query_only": {"Exchange hashpartitioning": 1, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 0, "Window": 3},
    # r15: +1 deliberate fan exchange (fan_out_scan on the corpus side,
    # same treatment as cosine_topk — the |Q| x |C| flat-score
    # projection parallelizes off the under-split scan)
    "hard_negative_mining": {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 0, "BroadcastNestedLoopJoin": 1, "Window": 3},
    "hard_negative_mining_production": {"Exchange hashpartitioning": 2, "BroadcastHashJoin": 5, "BroadcastNestedLoopJoin": 0, "Window": 6},
    "hard_negative_mining_ivf": {"Exchange hashpartitioning": 1, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 0, "Window": 3},
}


def test_ann_family_plan_fingerprints(spark, monkeypatch):
    """Every ANN catalog entry's executed plan must match its pinned
    operator-count fingerprint exactly (see comment above).  The fan
    widths derive from defaultParallelism, so it is pinned to the
    session default of 32: at a few CPUs the two size-derived fan widths
    of ann_ivfpq_residual coincide and their exchanges collapse into one
    textual node."""
    from financial_data_science_spark.queries import _IVFPQ_INDEX_CACHE, Q

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 32))

    diffs = {}
    for name, want in _ANN_PLAN_FINGERPRINTS.items():
        try:
            plan = _plan(Q[name](spark, SF))
        finally:
            spark.catalog.clearCache()
        got = {pat: plan.count(pat) for pat in want}
        if got != want:
            diffs[name] = {"want": want, "got": got}
    _IVFPQ_INDEX_CACHE.clear()
    assert not diffs, diffs


def test_windowed_anti_join_pushes_both_predicates(spark):
    """users_click_no_purchase_window (the non-vacuous J15 gate row): the
    shared ts window AND the event_type equality must reach BOTH parquet
    scans as PushedFilters (partition/file pruning at 100 TB), and the
    anti join must be a hash join, not a cartesian product."""
    from financial_data_science_spark.queries import Q

    q = Q["users_click_no_purchase_window"](spark, SF)
    plan = _formatted(q)
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    ts_pushed = [l for l in scans if "LessThan(ts," in l]
    assert len(ts_pushed) == 2, plan  # both sides prune on the window
    assert any("EqualTo(event_type,click)" in l for l in scans)
    assert any("EqualTo(event_type,purchase)" in l for l in scans)
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
