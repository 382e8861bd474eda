"""Skew-guarded SemDeDup (functions/semdedup.py): the recursive cell
split must break up spread mega-cells, the sorted-neighborhood budget
must HARD-bound pairs in cells that defeat the splitter, and the
guarded output must agree with plain within-cell pairing wherever no
guard engaged."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.functions.semdedup import (
    kmeans_cell_split,
    semantic_dedup_pairs,
)
from financial_data_science_spark.functions.similarity import ivf_build_index

DIM = 8


def _emb_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            columns=["vec_id", "embedding"],
        )
    )


def _spread_blob(rng, center, n, jitter=0.15):
    return [center + rng.normal(0, jitter, DIM) for _ in range(n)]


def test_split_breaks_spread_mega_cell(spark):
    """A dense-but-spread blob (the realistic boilerplate case: one
    region, many templates) lands in one k-means cell; the split must
    re-quantize it into strictly smaller sub-cells."""
    rng = np.random.default_rng(7)
    c1, c2 = np.ones(DIM), -np.ones(DIM)
    blob, far = _spread_blob(rng, c1, 60), _spread_blob(rng, c2, 6)
    # ids 0,1 seed the init: one from each region so the top-level
    # quantizer genuinely separates blob from far and the blob lands
    # in ONE cell
    rows = [(i, v) for i, v in enumerate(
        [blob[0], far[0]] + blob[1:] + far[1:]
    )]
    emb = _emb_df(spark, rows)
    idx = ivf_build_index(emb, nlist=2, iters=2)
    pre = idx["binned"].groupBy("cluster").count().toPandas()
    assert pre["count"].max() >= 55  # the blob really is one cell
    cells, _ = kmeans_cell_split(
        idx["binned"], cap=20, nsub=4, sub_iters=2, max_depth=1
    )
    post = cells.groupBy("cluster").count().toPandas()
    assert len(post) > len(pre)
    assert post["count"].max() < pre["count"].max()
    # injective renumbering: every member still binned exactly once
    assert post["count"].sum() == 66


def test_budget_hard_bounds_point_mass_and_keeps_connectivity(spark):
    """The adversarial cell: m near-identical vectors no quantizer can
    separate.  Pair count must be <= m * budget_w (never m^2/2), pairs
    must be labeled truncated, and rank-adjacency must CHAIN the blob
    so greedy drop-the-larger still collapses it to the min id."""
    rng = np.random.default_rng(11)
    base = np.ones(DIM)
    m, w = 60, 4
    rows = [(i, base + rng.normal(0, 1e-6, DIM)) for i in range(m)]
    emb = _emb_df(spark, rows)
    out = semantic_dedup_pairs(
        emb, nlist=2, iters=2, tau=0.9, cap=10, nsub=2, sub_iters=2,
        max_depth=1, budget_w=w,
    ).toPandas()
    assert 0 < len(out) <= m * w          # hard bound, quadratic is 1770
    assert out["truncated"].all()
    # chain connectivity: greedy drop-the-larger over the pair list
    dropped = set(out["right_id"])
    assert set(range(m)) - dropped == {0}  # all collapse to the min id


def test_no_guard_matches_plain_within_cell_pairs(spark):
    """With cap above every cell size the guards are inert: output must
    equal the plain semantic_dedup within-cell join (modulo the cell
    renumbering and the truncated=false label)."""
    rng = np.random.default_rng(3)
    c1, c2 = np.ones(DIM), -np.ones(DIM)
    rows = [(i, v) for i, v in enumerate(
        _spread_blob(rng, c1, 12, 0.3) + _spread_blob(rng, c2, 12, 0.3)
    )]
    emb = _emb_df(spark, rows)
    out = semantic_dedup_pairs(
        emb, nlist=2, iters=2, tau=0.4, cap=100, nsub=2, sub_iters=2,
        max_depth=1, budget_w=4,
    ).toPandas()
    assert not out["truncated"].any()
    idx = ivf_build_index(emb, nlist=2, iters=2)
    b = idx["binned"]
    from financial_data_science_spark.functions.similarity import cosine

    l = b.select(F.col("vec_id").alias("li"), F.col("embedding").alias("lv"),
                 "cluster")
    r = b.select(F.col("vec_id").alias("ri"), F.col("embedding").alias("rv"),
                 "cluster")
    plain = (
        l.join(r, "cluster").filter(F.col("li") < F.col("ri"))
        .withColumn("c6", F.round(cosine("lv", "rv"), 6))
        .filter(F.col("c6") >= 0.4)
        .select("li", "ri")
        .toPandas()
    )
    assert set(zip(out["left_id"], out["right_id"])) == set(
        zip(plain["li"], plain["ri"])
    )
    # skip-level parity: cell ids renumbered by (nsub+1) even with no
    # split (the static-SQL oracle always applies the arithmetic)
    cells, _ = kmeans_cell_split(b, cap=100, nsub=2, sub_iters=2, max_depth=1)
    got = sorted(set(r["cluster"] for r in cells.select("cluster").collect()))
    want = sorted(set(r["cluster"] * 3 for r in b.select("cluster").collect()))
    assert got == want


def test_max_depth_recursion_tightens_cells(spark):
    """Depth 2 must re-split sub-cells that level 1 left oversized."""
    rng = np.random.default_rng(19)
    rows = [(i, v) for i, v in enumerate(
        _spread_blob(rng, np.ones(DIM), 80, 0.5)
    )]
    emb = _emb_df(spark, rows)
    idx = ivf_build_index(emb, nlist=1, iters=1)
    d1, _ = kmeans_cell_split(idx["binned"], cap=10, nsub=2, sub_iters=1,
                              max_depth=1)
    d2, _ = kmeans_cell_split(idx["binned"], cap=10, nsub=2, sub_iters=1,
                              max_depth=2)
    m1 = d1.groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
    m2 = d2.groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
    assert m2 < m1
    assert d2.count() == 80


def test_split_is_partitioning_invariant(spark):
    """The determinism contract: cell assignments depend only on the
    DATA (ids, vectors), never on physical partitioning or input order
    — the property the DuckDB oracle replay rests on."""
    rng = np.random.default_rng(23)
    rows = [(i, v) for i, v in enumerate(
        _spread_blob(rng, np.ones(DIM), 50, 0.4)
        + _spread_blob(rng, -np.ones(DIM), 30, 0.4)
    )]
    emb = _emb_df(spark, rows)
    idx = ivf_build_index(emb, nlist=2, iters=2)
    base = idx["binned"].localCheckpoint(eager=True)

    def cells_of(frame):
        out, _ = kmeans_cell_split(frame, cap=12, nsub=3, sub_iters=2,
                                   max_depth=2)
        return {r["vec_id"]: r["cluster"] for r in
                out.select("vec_id", "cluster").collect()}

    a = cells_of(base.repartition(1))
    b = cells_of(base.repartition(32, F.col("vec_id")))
    c = cells_of(base.orderBy(F.col("vec_id").desc()).repartition(7))
    assert a == b == c and len(set(a.values())) > 2


def test_semdedup_index_probe_finds_planted_dups(spark):
    """BIN-ONCE / probe-per-batch: exact copies of corpus vectors must
    route through the frozen assignment chain to the same final cell
    and be reported; far vectors report nothing; copies of a point-mass
    member are caught through the cap'd representatives (truncated
    label, <= cap comparisons)."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_index,
    )

    rng = np.random.default_rng(41)
    spread = _spread_blob(rng, np.ones(DIM), 30, 0.4)
    mass = [np.full(DIM, -1.0) + rng.normal(0, 1e-7, DIM) for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(spread + mass)]
    emb = _emb_df(spark, rows)
    idx = semdedup_build_index(
        emb, nlist=2, iters=2, cap=12, nsub=2, sub_iters=1, max_depth=1,
        persist=True,
    )
    batch = _emb_df(spark, [
        (1000, spread[5]),               # exact copy -> must be found
        (1001, np.full(DIM, -1.0)),      # point-mass copy -> truncated hit
        (1002, np.array([1.0] * (DIM // 2) + [-1.0] * (DIM // 2))),  # far
    ])
    out = semdedup_query_index(batch, idx, tau=0.95).toPandas()
    hits = {int(q) for q in out["new_vec_id"]}
    assert 1000 in hits and 1001 in hits and 1002 not in hits
    exact = out[(out["new_vec_id"] == 1000) & (out["corpus_id"] == 5)]
    assert len(exact) == 1 and exact.iloc[0]["cos"] == 1.0
    mass_hits = out[out["new_vec_id"] == 1001]
    assert mass_hits["truncated"].all()
    assert 0 < len(mass_hits) <= 12      # the representative cap
    # cross pairs only ever touch representatives: per query, per cell,
    # never more than cap corpus comparisons even for the 40-row mass
    assert out.groupby("new_vec_id").size().max() <= 12


def test_probe_leaves_the_index_dict_unchanged(spark):
    """Routing reads the level rows the build collected: two probes
    leave the caller's index dict exactly as built, with no routing
    cache written into it."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_index,
    )

    rng = np.random.default_rng(41)
    rows = list(enumerate(_spread_blob(rng, np.ones(DIM), 30, 0.4)
                          + _spread_blob(rng, -np.ones(DIM), 8, 0.4)))
    idx = semdedup_build_index(
        _emb_df(spark, rows), nlist=2, iters=2, cap=12, nsub=2,
        sub_iters=1, max_depth=1,
    )
    # a split level, so routing reads collected level rows
    assert any(rows is not None for rows in idx["level_rows"])
    before = dict(idx)
    batch = _emb_df(spark, [(1000, rows[5][1]), (1001, rows[33][1])])
    for _ in range(2):
        assert semdedup_query_index(batch, idx, tau=0.95).count() >= 1
    assert idx.keys() == before.keys()
    assert all(idx[k] is before[k] for k in before)


def test_routing_literal_refuses_an_oversized_level():
    """A refinement level grows as nlist * nsub^depth rows, all inlined
    into the routing SQL text.  The largest level a catalog query builds
    (nlist=8, nsub=2, depth 1: 16 rows) still builds; a level of
    nlist=32, nsub=8, depth 2 (2,048 rows) raises a ValueError naming
    the parameters to lower."""
    from financial_data_science_spark.functions.semdedup import _level_literal

    def level(n):
        return [{"__cell__": i // 2, "__sub__": i % 2 + 1, "__cv__": [0.5, -0.25]}
                for i in range(n)]

    assert _level_literal(level(16)).startswith("map(")
    with pytest.raises(ValueError, match=r"nlist.*nsub.*max_depth"):
        _level_literal(level(32 * 8**2))


def test_stratified_reps_cover_id_contiguous_families(spark):
    """reps='stratified' picks every ceil(cnt/cap)-th id-rank: on small
    cells both policies are the FULL cell (identical output), and in an
    unsplittable cell an id-contiguous duplicate family of >= step
    members must be witnessed under stratified even when it sits past
    rank cap (where the lowest-id policy is structurally blind)."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_index,
    )

    rng = np.random.default_rng(53)
    # one dense region of 6 id-contiguous families x 8: family centers
    # ISOTROPIC around the region center (Lloyd reduces but cannot
    # bound such cells — same geometry as the measured probe-recall
    # FAMILY arm), members ~identical within a family.  Inter-family
    # cosine ~0.92 << tau, intra ~1.0.  cap=12 -> step <= 4 <= 8, so
    # stratified's id-run coverage guarantee is engaged.
    center = np.ones(DIM)
    fams = []
    for f in range(6):
        off = rng.normal(0, 0.3, DIM)
        fams.append([center + off + rng.normal(0, 1e-7, DIM)
                     for _ in range(8)])
    flat = [v for fam in fams for v in fam]
    far = _spread_blob(rng, -np.ones(DIM), 6, 0.1)
    rows = [(i, v) for i, v in enumerate([flat[0], far[0]] + flat[1:]
                                         + far[1:])]
    emb = _emb_df(spark, rows)
    idx = semdedup_build_index(
        emb, nlist=2, iters=2, cap=12, nsub=2, sub_iters=1, max_depth=1,
        persist=True,
    )
    # fixture validity: the LAST family (highest ids 41-48) must sit in
    # an over-cap cell with > cap lower-id members ahead of it, so the
    # lowest-id reps cannot contain any of its members
    fam_cells = idx["cells"].filter(
        (F.col("vec_id") >= 41) & (F.col("vec_id") <= 48)
    ).toPandas()
    assert (fam_cells["__cnt__"] > 12).all()
    assert (fam_cells["__rn__"] > 12).all()
    # probe = twin of a member of the LAST family (highest ids)
    batch = _emb_df(spark, [(1000, fams[-1][3])])
    tau = 0.999
    low = semdedup_query_index(batch, idx, tau=tau, reps="lowest").toPandas()
    strat = semdedup_query_index(
        batch, idx, tau=tau, reps="stratified"
    ).toPandas()
    # at tau ~1 only same-family members witness; the family's ids are
    # all past rank cap=12 -> lowest misses, stratified must hit
    assert len(low) == 0
    assert len(strat) > 0 and strat["truncated"].all()
    # small-cell equivalence: far-region copies read identically
    batch2 = _emb_df(spark, [(2000, far[2])])
    a = semdedup_query_index(batch2, idx, tau=0.95, reps="lowest").toPandas()
    b = semdedup_query_index(
        batch2, idx, tau=0.95, reps="stratified"
    ).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("corpus_id").reset_index(drop=True),
        b.sort_values("corpus_id").reset_index(drop=True),
    )
    # invalid policy is an error, not a silent fallback
    with pytest.raises(ValueError):
        semdedup_query_index(batch, idx, reps="nope").toPandas()


def test_query_with_pool_unions_index_and_pool_pairs(spark):
    """semdedup_query_with_pool = index probe (source='index', identical
    to semdedup_query_index) + cell-keyed pool probe (source='pool',
    never truncated): a batch twin of an un-indexed pool vector must be
    found through the pool arm only, a twin of a corpus vector through
    the index arm only, and the index arm must match the plain probe
    row-for-row."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_index,
        semdedup_query_with_pool,
    )

    rng = np.random.default_rng(59)
    spread = _spread_blob(rng, np.ones(DIM), 30, 0.4)
    rows = [(i, v) for i, v in enumerate(spread)]
    emb = _emb_df(spark, rows)
    idx = semdedup_build_index(
        emb, nlist=2, iters=2, cap=12, nsub=2, sub_iters=1, max_depth=1,
        persist=True,
    )
    # pool = accepted survivors since the last rebuild: near the same
    # region (they route to the same cells) but distinct content
    pool_vecs = [np.ones(DIM) + rng.normal(0, 0.4, DIM) for _ in range(5)]
    pool = _emb_df(spark, [(500 + j, v) for j, v in enumerate(pool_vecs)])
    batch = _emb_df(spark, [
        (1000, spread[5]),      # corpus twin -> index arm
        (1001, pool_vecs[2]),   # pool twin -> pool arm
    ])
    out = semdedup_query_with_pool(batch, idx, pool, tau=0.95).toPandas()
    pool_hits = out[out["source"] == "pool"]
    idx_hits = out[out["source"] == "index"]
    assert (1001, 502) in {
        (int(q), int(c))
        for q, c in pool_hits[["new_vec_id", "corpus_id"]].to_numpy()
    }
    assert not pool_hits["truncated"].any()
    # the index arm IS semdedup_query_index, row for row
    plain = semdedup_query_index(batch, idx, tau=0.95).toPandas()
    key = ["new_vec_id", "corpus_id", "cos", "truncated"]
    pd.testing.assert_frame_equal(
        idx_hits[key].sort_values(key).reset_index(drop=True),
        plain[key].sort_values(key).reset_index(drop=True),
    )
    # the rebuild-trigger statistic is computable from the output alone:
    # at the exact-twin threshold each probe's ONLY witness is its twin,
    # so 1001's decision is pool-sourced and 1000's is index-sourced
    exact = out[out["cos"] >= 0.999]
    dec = exact.groupby("new_vec_id")["source"].apply(set)
    assert dec[1001] == {"pool"} and dec[1000] == {"index"}


def test_pool_cap_bounds_burst_but_keeps_witness(spark):
    """pool_cap engages the stratified id-run guarantee on the POOL
    side: an ingestion burst (id-contiguous near-identical family) in
    one pool cell is cut to <= pool_cap representatives, pairs labeled
    truncated, yet every burst family of >= ceil(cnt/pool_cap) members
    keeps a witness; pool_cap=None stays exact."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_with_pool,
    )

    rng = np.random.default_rng(67)
    spread = _spread_blob(rng, np.ones(DIM), 30, 0.4)
    emb = _emb_df(spark, [(i, v) for i, v in enumerate(spread)])
    idx = semdedup_build_index(
        emb, nlist=2, iters=2, cap=12, nsub=2, sub_iters=1, max_depth=1,
        persist=True,
    )
    # pool = one 24-member boilerplate burst landing in one cell
    burst_center = np.ones(DIM) + rng.normal(0, 0.05, DIM)
    burst = [(500 + j, burst_center + rng.normal(0, 1e-7, DIM))
             for j in range(24)]
    pool = _emb_df(spark, burst)
    batch = _emb_df(spark, [(1000, burst_center)])
    exact = semdedup_query_with_pool(batch, idx, pool, tau=0.999).toPandas()
    capped = semdedup_query_with_pool(
        batch, idx, pool, tau=0.999, pool_cap=4
    ).toPandas()
    exact_pool = exact[exact["source"] == "pool"]
    capped_pool = capped[capped["source"] == "pool"]
    assert len(exact_pool) == 24 and not exact_pool["truncated"].any()
    # bounded: <= pool_cap reps of the 24-member cell, all truncated,
    # and the burst keeps a witness (the dedup decision survives)
    assert 0 < len(capped_pool) <= 4
    assert capped_pool["truncated"].all()
    # capped pairs are a subset of the exact pairs
    assert set(capped_pool["corpus_id"]) <= set(exact_pool["corpus_id"])


def test_rebuild_cycle_restores_index_recall_and_drains_pool(spark):
    """The CLOSED lifecycle loop (r13 verdict item 2), pytest twin of
    the rebuild_cycle arm in ee5f3ba:tools/scale_probe_semdedup.py: run the
    MIGRATION.md recipe end-to-end — probe with pool, trigger =
    pool-hit share, rebuild past tolerance, re-probe — and pin each
    phase: (1) between rebuilds the lifecycle frame still decides a
    pool-targeted dup (loop recall holds while the frozen index is
    blind to it), (2) the trigger statistic crosses tolerance exactly
    when the batch's dup mass targets the pool, (3) the fired rebuild
    restores INDEX-arm recall on the same targets and the drained pool
    brings the trigger back to 0."""
    from financial_data_science_spark.functions.semdedup import (
        semdedup_build_index,
        semdedup_query_index,
        semdedup_query_with_pool,
    )

    TAU, TOL = 0.99, 0.3

    def build(df):
        return semdedup_build_index(
            df, nlist=2, iters=2, cap=12, nsub=2, sub_iters=1, max_depth=1,
            persist=True,
        )

    def trigger(lifecycle_pdf, nbatch):
        pool_src = lifecycle_pdf[lifecycle_pdf["source"] == "pool"]
        return pool_src["new_vec_id"].nunique() / nbatch

    rng = np.random.default_rng(61)
    corpus_rows = [(i, v) for i, v in
                   enumerate(_spread_blob(rng, np.ones(DIM), 30, 0.4))]
    corpus = _emb_df(spark, corpus_rows)
    idx = build(corpus)

    # batch 1: five fresh vectors — nothing indexed or pooled is a twin
    b1_vecs = [np.ones(DIM) + rng.normal(0, 0.4, DIM) for _ in range(5)]
    batch1 = _emb_df(spark, [(100 + j, v) for j, v in enumerate(b1_vecs)])
    empty_pool = batch1.limit(0)
    life1 = semdedup_query_with_pool(batch1, idx, empty_pool, tau=TAU).toPandas()
    assert trigger(life1, 5) == 0.0          # nothing to trigger on
    pool_frames = [batch1]                    # accepted, not yet indexed

    # batch 2: three exact twins of batch-1 members + two fresh — the
    # dup mass targets the POOL, which the frozen index cannot see
    b2_rows = [(200, b1_vecs[0]), (201, b1_vecs[1]), (202, b1_vecs[2]),
               (203, np.ones(DIM) + rng.normal(0, 0.4, DIM)),
               (204, np.ones(DIM) + rng.normal(0, 0.4, DIM))]
    batch2 = _emb_df(spark, b2_rows)
    idx_only = semdedup_query_index(batch2, idx, tau=TAU).toPandas()
    assert idx_only.empty                     # frozen index: blind
    life2 = semdedup_query_with_pool(
        batch2, idx, pool_frames[0], tau=TAU
    ).toPandas()
    got = {(int(q), int(c)) for q, c in
           life2.loc[life2["source"] == "pool",
                     ["new_vec_id", "corpus_id"]].to_numpy()}
    assert {(200, 100), (201, 101), (202, 102)} <= got   # loop recall holds
    t2 = trigger(life2, 5)
    assert t2 == pytest.approx(0.6) and t2 > TOL         # trigger FIRES

    # rebuild: fold standing + both batches into a fresh index; drain pool
    standing = corpus.unionByName(batch1).unionByName(batch2)
    fresh_idx = build(standing)
    pool_frames = []

    # batch 3: twins of the SAME batch-1 content the frozen index missed
    batch3 = _emb_df(spark, [(300, b1_vecs[0]), (301, b1_vecs[1])])
    restored = semdedup_query_index(batch3, fresh_idx, tau=TAU).toPandas()
    rgot = {(int(q), int(c)) for q, c in
            restored[["new_vec_id", "corpus_id"]].to_numpy()}
    assert {(300, 100), (301, 101)} <= rgot   # INDEX recall restored
    life3 = semdedup_query_with_pool(
        batch3, fresh_idx, batch3.limit(0), tau=TAU
    ).toPandas()
    assert trigger(life3, 2) == 0.0           # drained pool: trigger reset
