import numpy as np

from sheep_spark import evaluate, graph, partitioner, tree
from tests.conftest import degree_pos, edges_df, random_graph


def test_tree_facts_full_matches_reference_semantics(spark):
    """Facts (jnode.cpp:256-290) vs a direct python recomputation."""
    edges = random_graph(60, 120, seed=3)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(sym, verts), n)
    facts = tree.tree_facts_full(t)

    pos = degree_pos(edges)
    parent, pst = tree.serial_tree_oracle(edges, pos)
    # python recomputation of the ascending pass
    vh = [1] * n
    eh = list(pst)
    vert_height = edge_height = roots = 0
    for j in range(n):
        p = parent[j]
        if p is not None:
            vh[p] = max(vh[p], vh[j] + 1)
            eh[p] = max(eh[p], eh[j] + pst[p])
        else:
            vert_height = max(vert_height, vh[j])
            edge_height = max(edge_height, eh[j])
            roots += 1
    assert facts["vert_cnt"] == n
    assert facts["edge_cnt"] == len(edges)
    assert facts["width"] == max(pst) + 1
    assert facts["vert_height"] == vert_height
    assert facts["edge_height"] == edge_height
    assert facts["root_cnt"] == roots
    assert facts["core_id"] == 0  # reference quirk: id 0 always qualifies


def test_tree_save_load_and_repartition(spark, tmp_path):
    """Tree reuse across k (partition_tree mode A; cost independent of k,
    data/runtimes/com-lj.time)."""
    edges = random_graph(100, 220, seed=5)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(sym, verts), n)
    p = str(tmp_path / "tree.parquet")
    tree.save_tree(t, p)
    t2 = tree.load_tree(spark, p)
    assert sorted(map(tuple, t.collect())) == sorted(map(tuple, t2.collect()))
    for k in (2, 4):
        assign = partitioner.sheep_partition(t2, verts, k)
        assert assign.count() == n


def test_fennel_baseline(spark):
    from tests.conftest import SF_DIR

    edges, verts = graph.graph_from_tpch(spark, SF_DIR)
    assign = partitioner.fennel_partition(edges, verts, 4)
    vm = partitioner.vertex_meta(verts, assign)
    m = evaluate.evaluate(edges, vm)
    m_rand = evaluate.evaluate(
        edges, partitioner.vertex_meta(verts, partitioner.random_partition(verts, 4))
    )
    # fennel beats random on edges cut (its objective)
    assert m["edges_cut"] < m_rand["edges_cut"]
    # hard balance cap respected (edge-balanced: weights are degrees)
    deg = {r.vid: r.degree for r in verts.collect()}
    loads = {}
    for r in assign.collect():
        loads[r.part] = loads.get(r.part, 0) + deg[r.vid]
    n_edges_directed = edges.count()
    assert max(loads.values()) <= (n_edges_directed / 4) * 1.03

def test_driver_and_mapreduce_strategies_identical(spark, monkeypatch):
    """build_tree's driver path (rank-0 single sweep) must equal its
    distributed map/reduce path edge-for-edge; the second build takes
    map/reduce because the edge cap is patched below the input."""
    edges = random_graph(120, 400, seed=23)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    n = verts.count()
    epos = graph.edges_pos(sym, verts).persist()
    ra = sorted(tuple(r) for r in tree.build_tree(epos, n).collect())
    monkeypatch.setattr(tree, "DRIVER_TREE_MAX_EDGES", len(edges) - 1)
    rb = sorted(tuple(r) for r in tree.build_tree(epos, n).collect())
    assert ra == rb


def test_tree_heights_pointer_doubling_matches_sequential_sweep():
    """tree_heights (vectorized pointer doubling) vs an independent
    re-implementation of the reference's ascending cascade, on chains,
    stars, and random forests (including deep ones)."""
    import random

    import numpy as np

    from sheep_spark.tree import tree_heights

    def sweep(parent, pst):
        n = len(parent)
        vh = [1] * n
        eh = list(pst)
        vmax = emax = 0
        for j in range(n):
            p = parent[j]
            if p >= 0:
                vh[p] = max(vh[p], vh[j] + 1)
                eh[p] = max(eh[p], eh[j] + pst[p])
            else:
                vmax = max(vmax, vh[j])
                emax = max(emax, eh[j])
        return vmax, emax

    cases = []
    # chain 0->1->...->n-1 (depth = n; the worst case for round-limited schemes)
    n = 1000
    cases.append(([j + 1 for j in range(n - 1)] + [-1], [1] * n))
    # star: everyone -> root n-1
    cases.append(([n - 1] * (n - 1) + [-1], list(range(n))))
    # empty
    cases.append(([], []))
    # random forests with parent > j (jnid-topological, like real trees)
    rng = random.Random(5)
    for seed in range(3):
        par = [rng.randrange(j + 1, n) if rng.random() < 0.9 and j < n - 1 else -1
               for j in range(n)]
        pst = [rng.randrange(0, 7) for _ in range(n)]
        cases.append((par, pst))
    for par, pst in cases:
        got = tree_heights(np.asarray(par, np.int64), np.asarray(pst, np.int64))
        assert got == sweep(par, pst)


def test_jxn_memory_limit_guard_dense_graph():
    """A dense graph must abort with MemoryError under a small jxn
    budget instead of silently growing driver state (jtree.h
    memory_limit analogue), and succeed when the budget fits."""
    import numpy as np
    import pytest

    from sheep_spark.jxn import jxn_kernel

    # K40: jxn sets peak at Σ|jxn| ~ width * live-roots
    n = 40
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
    lo = np.array([p[0] for p in pairs], np.int64)
    hi = np.array([p[1] for p in pairs], np.int64)
    with pytest.raises(MemoryError, match="memory_limit"):
        jxn_kernel(lo, hi, n, memory_limit=20)
    _, _, _, width, facts = jxn_kernel(lo, hi, n, memory_limit=10_000)
    assert facts["width"] == n  # clique treewidth bound: bag = n
