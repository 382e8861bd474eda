"""Link prediction and label propagation vs brute-force pandas oracles
(reference recipes/graph.py:235-317)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from financial_data_science_spark.functions.graph import (
    label_propagation,
    link_scores,
)

# a small undirected graph: two triangles bridged by one edge + a pendant
EDGES = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7)]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(pd.DataFrame(EDGES, columns=["src", "dst"]))


def test_link_scores_matches_bruteforce(spark, edges_df):
    nbrs: dict[int, set[int]] = {}
    for a, b in EDGES:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = link_scores(edges_df).toPandas().set_index(["u", "v"]).sort_index()
    want = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if v in nbrs[u]:
                continue  # existing edges excluded
            common = nbrs[u] & nbrs[v]
            if not common:
                continue  # 2-hop candidates only
            want[(u, v)] = {
                "cn": len(common),
                "jaccard": len(common) / len(nbrs[u] | nbrs[v]),
                "adamic_adar": sum(1 / math.log(len(nbrs[z])) for z in common),
                "resource_alloc": sum(1 / len(nbrs[z]) for z in common),
                "pref_attach": len(nbrs[u]) * len(nbrs[v]),
            }
    assert set(got.index) == set(want)
    for pair, scores in want.items():
        for k, v in scores.items():
            assert got.loc[pair, k] == pytest.approx(v), (pair, k)


def test_link_scores_src_side_projection(spark):
    # bipartite: suppliers {1,2} share customers {10, 11}; 3 shares only 10
    e = spark.createDataFrame(
        pd.DataFrame(
            [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10)], columns=["src", "dst"]
        )
    )
    got = link_scores(e, mode="src_side").toPandas().set_index(["u", "v"])
    # pair (1,2): cn=2, degrees 2/2 -> jaccard 1.0; z-degrees: 10->3, 11->2
    assert got.loc[(1, 2), "cn"] == 2
    assert got.loc[(1, 2), "jaccard"] == pytest.approx(1.0)
    assert got.loc[(1, 2), "resource_alloc"] == pytest.approx(1 / 3 + 1 / 2)
    assert got.loc[(1, 2), "adamic_adar"] == pytest.approx(
        1 / math.log(3) + 1 / math.log(2)
    )
    assert got.loc[(1, 3), "cn"] == 1 and got.loc[(2, 3), "cn"] == 1
    assert got.loc[(1, 3), "jaccard"] == pytest.approx(1 / 2)


def test_label_propagation_two_cliques(spark):
    # two 4-cliques joined by a single bridge: labels converge to the min
    # id of each clique; the bridge node sticks with its clique majority
    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(1, 5)]
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    edges.append((4, 11))
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = label_propagation(df, iters=5).toPandas().set_index("id")["lab"]
    assert set(out[[1, 2, 3, 4]]) == {1}
    assert set(out[[11, 12, 13, 14]]) == {11}


def _np_power_iteration(nodes, nbrs, iters=8):
    import numpy as np

    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, ns in nbrs.items():
        for b in ns:
            A[idx[a], idx[b]] = 1.0
    x = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(iters):
        y = x + A @ x
        x = y / np.sqrt((y * y).sum())
    return {n: x[idx[n]] for n in nodes}


def test_eigenvector_centrality_vs_numpy(spark, edges_df):
    from financial_data_science_spark.functions.graph import (
        eigenvector_centrality,
    )

    nbrs: dict[int, set[int]] = {}
    for a, b in EDGES:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = _np_power_iteration(sorted(nbrs), nbrs, iters=8)
    got = (
        eigenvector_centrality(edges_df, max_iter=8)
        .toPandas()
        .set_index("id")["eigenvector"]
    )
    for n, v in want.items():
        assert got[n] == pytest.approx(v), n


def test_hits_vs_numpy(spark):
    import numpy as np

    from financial_data_science_spark.functions.graph import hits

    # directed: 1,2 -> {10,11}; 3 -> 10 (hubs = sources, auths = sinks)
    E = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10)]
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    nodes = sorted({x for e in E for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for a, b in E:
        A[idx[a], idx[b]] = 1.0
    h = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(8):
        a = A.T @ h
        a = a / a.max()
        h = A @ a
        h = h / h.max()
    hn, an = h / h.sum(), a / a.sum()
    got = hits(df, max_iter=8).toPandas().set_index("id")
    for n in nodes:
        assert got.loc[n, "hub"] == pytest.approx(hn[idx[n]]), n
        assert got.loc[n, "authority"] == pytest.approx(an[idx[n]]), n
    # structure: sinks have no out-edges -> hub 0; sources -> authority 0
    assert got.loc[10, "hub"] == pytest.approx(0.0)
    assert got.loc[1, "authority"] == pytest.approx(0.0)


def test_modularity_two_cliques(spark):
    from financial_data_science_spark.functions.graph import (
        community_quality,
        label_propagation,
        modularity,
    )

    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(1, 5)]
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    edges.append((4, 11))
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    labels = label_propagation(df, iters=5)
    per = modularity(df, labels).toPandas().set_index("community")
    # m=13 edges; each clique: 6 internal, degree sum 3*3+4 = 13
    assert per.loc[1, "internal_edges"] == 6 and per.loc[11, "internal_edges"] == 6
    assert per.loc[1, "degree_sum"] == 13
    q_want = 2 * (6 / 13 - (13 / 26) ** 2)
    assert per["contribution"].sum() == pytest.approx(q_want)
    q = community_quality(df, labels).toPandas().iloc[0]
    assert q["communities"] == 2
    assert q["modularity"] == pytest.approx(q_want)
    assert q["coverage"] == pytest.approx(12 / 13)
    # pairs: n=8 -> 28; intra pairs 2*6=12, all are edges; inter non-edges
    # = 28 - 12 - 1 = 15 -> performance = (12 + 15) / 28
    assert q["performance"] == pytest.approx(27 / 28)


def test_closeness_path_graph(spark):
    from financial_data_science_spark.functions.graph import (
        closeness_centrality,
    )
    from pyspark.sql import functions as F

    # path 1-2-3-4-5: closeness known in closed form (wf_improved on a
    # connected graph reduces to (n-1)/sum_dist)
    E = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    sources = df.select(F.col("src").alias("id")).union(
        df.select(F.col("dst").alias("id"))
    ).distinct()
    got = closeness_centrality(df, sources, hops=8).toPandas().set_index("id")
    want = {1: 4 / 10, 2: 4 / 7, 3: 4 / 6, 4: 4 / 7, 5: 4 / 10}
    for n, v in want.items():
        assert got.loc[n, "closeness"] == pytest.approx(v), n


def test_closeness_disconnected_wf(spark):
    from financial_data_science_spark.functions.graph import (
        closeness_centrality,
    )
    from pyspark.sql import functions as F

    # two components: 1-2-3 and 4-5; wf factor (r-1)/(n-1) applies
    E = [(1, 2), (2, 3), (4, 5)]
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    sources = df.select(F.col("src").alias("id")).union(
        df.select(F.col("dst").alias("id"))
    ).distinct()
    got = closeness_centrality(df, sources, hops=8).toPandas().set_index("id")
    assert got.loc[2, "closeness"] == pytest.approx((2 / 4) * (2 / 2))
    assert got.loc[1, "closeness"] == pytest.approx((2 / 4) * (2 / 3))
    assert got.loc[4, "closeness"] == pytest.approx((1 / 4) * (1 / 1))


def test_triangles_and_clustering_bruteforce(spark, edges_df):
    from itertools import combinations

    from financial_data_science_spark.functions.graph import (
        clustering_coefficient,
    )

    nbrs: dict[int, set[int]] = {}
    for a, b in EDGES:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want_tri = {
        n: sum(
            1
            for u, v in combinations(sorted(ns), 2)
            if v in nbrs[u]
        )
        for n, ns in nbrs.items()
    }
    got = clustering_coefficient(edges_df).toPandas().set_index("id")
    for n, t in want_tri.items():
        assert got.loc[n, "triangles"] == t, n
        d = len(nbrs[n])
        want_c = 2 * t / (d * (d - 1)) if d >= 2 else 0.0
        assert got.loc[n, "clustering"] == pytest.approx(want_c), n


def test_k_core_peels_to_clique(spark):
    from financial_data_science_spark.functions.graph import k_core

    # 4-clique {1..4} + chain 4-5-6 + pendant 7 on the clique
    E = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (1, 7)]
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    core3 = set(r.id for r in k_core(df, k=3).collect())
    assert core3 == {1, 2, 3, 4}
    core1 = set(r.id for r in k_core(df, k=1).collect())
    assert core1 == {1, 2, 3, 4, 5, 6, 7}
    core5 = k_core(df, k=5).count()
    assert core5 == 0


def test_degree_assortativity_vs_numpy(spark, edges_df):
    import numpy as np

    from financial_data_science_spark.functions.graph import (
        degree_assortativity,
    )

    nbrs: dict[int, set[int]] = {}
    for a, b in EDGES:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    da, db = [], []
    for a, ns in nbrs.items():
        for b in ns:
            da.append(len(nbrs[a]))
            db.append(len(nbrs[b]))
    want = np.corrcoef(da, db)[0, 1]
    got = degree_assortativity(edges_df).collect()[0]["assortativity"]
    assert got == pytest.approx(want)


def test_betweenness_exact_on_path_and_star(spark):
    """With sources = ALL vertices the sampled estimator is exact Brandes:
    check against closed-form networkx values for P5 and a 4-star."""
    import pandas as pd

    from financial_data_science_spark.functions.graph import betweenness_sampled

    # path 0-1-2-3-4: normalized betweenness [0, .5, 2/3, .5, 0]
    p5 = spark.createDataFrame(
        pd.DataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], columns=["src", "dst"])
    )
    allv = spark.createDataFrame(pd.DataFrame({"id": [0, 1, 2, 3, 4]}))
    out = (
        betweenness_sampled(p5, allv, hops=6)
        .toPandas().set_index("id")["betweenness"].sort_index()
    )
    assert abs(out[0]) < 1e-9 and abs(out[4]) < 1e-9
    assert abs(out[1] - 0.5) < 1e-5 and abs(out[3] - 0.5) < 1e-5
    assert abs(out[2] - 2.0 / 3.0) < 1e-5

    # star K1,4: hub carries all 6 leaf pairs -> normalized 1.0, leaves 0
    star = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (0, 3), (0, 4)], columns=["src", "dst"])
    )
    out = (
        betweenness_sampled(star, allv, hops=4)
        .toPandas().set_index("id")["betweenness"]
    )
    assert abs(out[0] - 1.0) < 1e-5
    assert (out.drop(0).abs() < 1e-9).all()


def test_betweenness_sigma_multiplicity(spark):
    """4-cycle 0-1-3-2-0 (two equal shortest paths between each opposite
    pair): every vertex mediates one opposite pair with weight 1/2, so
    exact nx betweenness is 0.5/3 = 1/6 everywhere — exercises the sigma
    path-count split (sigma=2 at the far vertex)."""
    import pandas as pd

    from financial_data_science_spark.functions.graph import betweenness_sampled

    g = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], columns=["src", "dst"])
    )
    allv = spark.createDataFrame(pd.DataFrame({"id": [0, 1, 2, 3]}))
    out = (
        betweenness_sampled(g, allv, hops=4)
        .toPandas().set_index("id")["betweenness"]
    )
    assert (abs(out - 1.0 / 6.0) < 1e-5).all()


def test_betweenness_sampled_sources_scale_up(spark):
    """Cycle C6: exact betweenness (all sources) is 0.2 at every vertex;
    with a half source subset the (n/k)-scaled estimator is unbiased —
    the vertex MEAN stays 0.2 even though per-vertex estimates split by
    parity of distance to the sampled sources."""
    import pandas as pd

    from financial_data_science_spark.functions.graph import betweenness_sampled

    c6 = spark.createDataFrame(
        pd.DataFrame(
            [(i, (i + 1) % 6) for i in range(6)], columns=["src", "dst"]
        )
    )
    allv = spark.createDataFrame(pd.DataFrame({"id": list(range(6))}))
    exact = (
        betweenness_sampled(c6, allv, hops=6)
        .toPandas().set_index("id")["betweenness"]
    )
    assert (abs(exact - 0.2) < 1e-5).all()

    srcs = spark.createDataFrame(pd.DataFrame({"id": [0, 2, 4]}))
    est = (
        betweenness_sampled(c6, srcs, hops=6)
        .toPandas().set_index("id")["betweenness"]
    )
    assert abs(est.mean() - 0.2) < 1e-5


@pytest.mark.parametrize("seeds", [None, [1, 4]], ids=["pagerank", "ppr"])
def test_pagerank_matches_numpy_power_iteration(spark, seeds):
    """Both PageRanks at a fixed max_iter equal a numpy power iteration of
    the same update: no dangling redistribution (sink 5 leaks its mass),
    teleport (1-d)/N, or (1-d)/|S| on the seeds S only.  7 sweeps end
    between checkpoints, so the lazy tail is compared too."""
    import numpy as np

    from financial_data_science_spark.functions.graph import (
        pagerank,
        personalized_pagerank,
    )

    E = [(1, 2), (2, 3), (3, 1), (3, 4), (2, 4), (4, 5), (1, 5)]
    nodes = sorted({x for e in E for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    outdeg = {a: sum(1 for x, _ in E if x == a) for a, _ in E}
    M = np.zeros((len(nodes), len(nodes)))
    for a, b in E:
        M[idx[b], idx[a]] += 1.0 / outdeg[a]
    d, iters = 0.85, 7
    S = np.isin(nodes, seeds) if seeds else np.ones(len(nodes), bool)
    r = np.where(S, 1.0 / S.sum(), 0.0)
    for _ in range(iters):
        r = np.where(S, (1 - d) / S.sum(), 0.0) + d * M @ r
    df = spark.createDataFrame(pd.DataFrame(E, columns=["src", "dst"]))
    if seeds:
        seed_df = spark.createDataFrame(pd.DataFrame({"id": seeds}))
        out = personalized_pagerank(df, seed_df, damping=d, max_iter=iters)
    else:
        out = pagerank(df, damping=d, max_iter=iters)
    got = out.toPandas().set_index("id")["rank"]
    np.testing.assert_allclose([got[n] for n in nodes], r, rtol=1e-12)


def test_personalized_pagerank_mass_and_locality(spark):
    """PPR invariants on a two-component graph: all rank mass stays in
    the seed's component (teleport never crosses components); total mass
    sums to ~1; seeds outrank non-seeds near convergence for symmetric
    neighborhoods."""
    import pandas as pd

    from financial_data_science_spark.functions.graph import (
        personalized_pagerank,
    )

    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)]
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    seeds = spark.createDataFrame(pd.DataFrame({"id": [1]}))
    out = personalized_pagerank(e, seeds, max_iter=20).toPandas()
    by = dict(zip(out.id, out["rank"]))
    assert sum(v for k, v in by.items() if k in (10, 11, 12)) == 0.0
    assert abs(sum(by.values()) - 1.0) < 0.05  # leakage only via dangling 3->1 cycle closure
    assert by[1] == max(by.values())
