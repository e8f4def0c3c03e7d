"""PageRank (wsspark/ops/graph.py): hand-computed reference on a small
graph incl. a dangling node, rank-mass conservation, and the registered
query's edge semantics."""

from __future__ import annotations

import pytest

from wsspark.ops.graph import pagerank


def py_pagerank(edges, n_iter=5, d=0.85):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += r[s] * w / out_w[s]
        dang = sum(r[v] for v in nodes if v not in out_w)
        r = {
            v: (1 - d) / n + d * (contrib[v] + dang / n) for v in nodes
        }
    return r


@pytest.fixture(scope="module")
def toy_edges():
    # 1 -> 2 (heavy), 1 -> 3 (light), 2 -> 3, 3 is DANGLING
    return [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0)]


def test_pagerank_matches_reference(spark, toy_edges):
    df = spark.createDataFrame(toy_edges, "src long, dst long, w double")
    got = {r.node: r.rank for r in pagerank(df, n_iter=5).collect()}
    want = py_pagerank(toy_edges, n_iter=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_rank_mass_is_conserved(spark, toy_edges):
    df = spark.createDataFrame(toy_edges, "src long, dst long, w double")
    for it in (1, 3, 7):
        total = sum(r.rank for r in pagerank(df, n_iter=it).collect())
        assert total == pytest.approx(1.0, abs=1e-12), it


def test_heavier_inflow_ranks_higher(spark):
    # every node points at 9; 9 points back at 0 only
    edges = [(i, 9, 1.0) for i in range(9)] + [(9, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r.node: r.rank for r in pagerank(df, n_iter=10).collect()}
    # the 9<->0 cycle oscillates between iterations, so compare only
    # parity-free facts: both cycle members dominate the leaves, leaves
    # are symmetric, and the whole vector matches the reference exactly.
    assert min(got[9], got[0]) > 10 * got[1]
    assert got[1] == pytest.approx(got[5], abs=1e-12)  # symmetric leaves
    want = py_pagerank(edges, n_iter=10)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_empty_graph_raises(spark):
    df = spark.createDataFrame([], "src long, dst long, w double")
    with pytest.raises(ValueError, match="empty"):
        pagerank(df)


def test_triangle_stats_exact_on_known_graph(spark):
    """K4 (4 triangles) + a 10-leaf star hub (0 triangles) + duplicate /
    reversed / self-loop edges: orientation dedups and the hub adds
    wedges but no triangles."""
    from wsspark.ops.graph import triangle_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    star = [(100, 200 + i) for i in range(10)]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2)] + star
    edges = spark.createDataFrame(noisy, "src long, dst long")
    row = triangle_stats(edges).collect()[0]
    assert row.n_triangles == 4
    assert row.n_edges == len(k4) + len(star)
    assert row.n_nodes == 4 + 11
    # wedges: K4 contributes 4*C(3,2)=12, star hub C(10,2)=45, leaves 0,
    # leaf-side of K4 edges... every K4 node has deg 3 -> 4*3=12; hub 45;
    # star leaves deg 1 -> 0. Total 57.
    assert row.n_wedges == 57
    assert row.clustering_coefficient == round(3 * 4 / 57, 6)


def test_shortest_paths_known_graph(spark):
    """Weighted diamond + chain + unreachable island: exact distances,
    min path chosen over fewer-hop-but-heavier alternative."""
    from wsspark.ops.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            (1, 2, 1), (2, 3, 1), (1, 3, 5),   # 1->3: via 2 (2) beats direct (5)
            (3, 4, 2),
            (5, 6, 1),                          # island, unreachable from 1
        ],
        "src long, dst long, w int",
    )
    got = {
        r.node: r.dist
        for r in shortest_paths(edges, 1, weight="w").collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 4, 5: None, 6: None}


def test_shortest_paths_hops_default_weight(spark):
    from wsspark.ops.graph import shortest_paths

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    got = {r.node: r.dist for r in shortest_paths(chain, 0).collect()}
    assert got == {i: i for i in range(9)}


def test_shortest_paths_rejects_bad_weights_and_nonconvergence(spark):
    import pytest as _pytest

    from wsspark.ops.graph import shortest_paths

    bad = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w int")
    with _pytest.raises(ValueError):
        shortest_paths(bad, 1, weight="w")
    frac = spark.createDataFrame([(1, 2, 1.5)], "src long, dst long, w double")
    with _pytest.raises(ValueError):
        shortest_paths(frac, 1, weight="w")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError):
        shortest_paths(chain, 0, max_iter=3)


def test_triangle_stats_rejects_unpackable_node_ids(spark):
    """Node ids outside [0, 2^31) would silently break the packed
    (deg, id) total-order key; the eager bounds check raises instead
    (r9 advice)."""
    import pytest
    from pyspark.sql import functions as F

    from wsspark.ops.graph import triangle_stats

    big = spark.createDataFrame(
        [(1, 1 << 31), (1 << 31, 2)], "s long, d long"
    )
    with pytest.raises(ValueError, match="2\\^31"):
        triangle_stats(big, "s", "d")
    neg = spark.createDataFrame([(-1, 2), (2, 3)], "s long, d long")
    with pytest.raises(ValueError, match="remap"):
        triangle_stats(neg, "s", "d")
    # boundary: max legal id still works
    ok = spark.createDataFrame(
        [(0, (1 << 31) - 1), ((1 << 31) - 1, 1), (1, 0)], "s long, d long"
    )
    row = triangle_stats(ok, "s", "d").collect()[0]
    assert row.n_triangles == 1
