import numpy as np
import pytest

from sheep_spark import evaluate, graph, partitioner, tree
from tests.conftest import SF_DIR, degree_pos, edges_df, random_graph


def build_all(spark, edges, k):
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    ep = graph.edges_pos(sym, verts)
    n = verts.count()
    t = tree.build_tree(ep, n, n_partials=4)
    assign = partitioner.sheep_partition(t, verts, k)
    vmeta = partitioner.vertex_meta(verts, assign)
    return sym, verts, vmeta


def test_ffd_invariants():
    edges = random_graph(200, 500, seed=3)
    pos = degree_pos(edges)
    parent_l, pst_l = tree.serial_tree_oracle(edges, pos)
    parent = np.array([-1 if p is None else p for p in parent_l], dtype=np.int64)
    weight = np.array(pst_l, dtype=np.int64)
    for k in (2, 4, 8):
        parts, max_component = partitioner.forward_partition(parent, weight, k)
        assert (parts >= 0).all()
        # per-part down-edge load (sum of pst weights) respects the bound
        loads = np.bincount(parts, weights=weight)
        assert (loads <= max_component).all()
        assert max_component == int((weight.sum() // k) * 1.03)


@pytest.mark.parametrize("k", [2, 5])
def test_down_assign_semantics(spark, k):
    edges = random_graph(100, 220, seed=11)
    sym, verts, vmeta = build_all(spark, edges, k)
    ep = partitioner.down_assign(sym, vmeta).collect()
    meta = {r.vid: (r.pos, r.part) for r in vmeta.collect()}
    # every undirected edge exactly once, owned by the lower-pos endpoint
    assert sorted((r.src, r.dst) for r in ep) == edges
    for r in ep:
        pa, qa = meta[r.src]
        pb, qb = meta[r.dst]
        assert r.part == (qa if pa < pb else qb)


def test_sheep_beats_random_on_ecv_down(spark):
    edges, verts = graph.graph_from_tpch(spark, SF_DIR)
    ep = graph.edges_pos(edges, verts)
    t = tree.build_tree(ep, verts.count(), n_partials=4)
    for k in (8,):
        assign = partitioner.sheep_partition(t, verts, k)
        m_sheep = evaluate.evaluate(edges, partitioner.vertex_meta(verts, assign))
        m_rand = evaluate.evaluate(
            edges, partitioner.vertex_meta(verts, partitioner.random_partition(verts, k))
        )
        assert m_sheep["ecv_down"] < m_rand["ecv_down"]
        # FFD balance bound on down-edge load
        total = m_sheep["n_edges"]
        assert m_sheep["down_balance"] <= int((total // k) * 1.03)


def test_naive_partition_ranges(spark):
    edges, verts = graph.graph_from_tpch(spark, SF_DIR)
    n = verts.count()
    k = 8
    assign = partitioner.naive_partition(verts, k)
    rows = partitioner.vertex_meta(verts, assign).collect()
    for r in rows:
        assert r.part == (r.pos * k) // n


def test_down_reassign_equals_bruteforce_diff(spark):
    """Bounded-shuffle reassignment must emit exactly the edges whose
    down-assignment differs between the old and new partition vectors."""
    from tests.conftest import edges_df, random_graph

    from sheep_spark import graph, partitioner

    edges = random_graph(120, 300, seed=17)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    vm_old = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 4))
    vm_new = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 3))
    moves = set(map(tuple, partitioner.down_reassign(sym, vm_old, vm_new).collect()))
    full_old = {(r.src, r.dst): r.part for r in partitioner.down_assign(sym, vm_old).collect()}
    full_new = {(r.src, r.dst): r.part for r in partitioner.down_assign(sym, vm_new).collect()}
    expected = {
        (s, d, full_old[(s, d)], full_new[(s, d)])
        for (s, d) in full_old
        if full_old[(s, d)] != full_new[(s, d)]
    }
    assert moves == expected
    assert len(moves) > 0  # the k-change really moved something


def test_cffd_matches_interpreted_ffd():
    """The compiled FFD packer (r6, _csweep.sheep_ffd) must reproduce
    the interpreted forward_partition exactly — same parts array, same
    max_component — across random trees, ks, and degenerate shapes."""
    import numpy as np

    from sheep_spark import _csweep

    if _csweep.loaded_ffd() is None:
        import pytest

        pytest.skip("C FFD unavailable; interpreted fallback in use")

    def py_ffd(parent, weight, k):
        real = _csweep.loaded_ffd
        _csweep.loaded_ffd = lambda: None
        try:
            return partitioner.forward_partition(parent, weight, k)
        finally:
            _csweep.loaded_ffd = real

    rng = np.random.default_rng(11)
    for seed in range(12):
        n = int(rng.integers(2, 2000))
        r = np.random.default_rng(seed)
        parent = np.full(n, -1, dtype=np.int64)
        for j in range(n - 1):
            if r.random() > 0.05:
                parent[j] = int(r.integers(j + 1, n))
        weight = r.integers(0, 50, size=n).astype(np.int64)
        for k in (2, 8, 64):
            a, mca = partitioner.forward_partition(parent, weight, k)
            b, mcb = py_ffd(parent, weight, k)
            assert mca == mcb and np.array_equal(a, b), (seed, n, k)
    # degenerates: single node, flat star with oversize kids, zero weights
    for parent, weight in [
        ([-1], [0]),
        ([4, 4, 4, 4, -1], [9, 9, 9, 9, 1]),
        ([1, 2, 3, 4, -1], [0, 0, 0, 0, 0]),
        ([1, 2, 3, 4, -1], [1000, 1, 1, 1, 1]),
    ]:
        pa = np.asarray(parent, dtype=np.int64)
        wa = np.asarray(weight, dtype=np.int64)
        for k in (1, 2, 1000):
            a, _ = partitioner.forward_partition(pa, wa, k)
            b, _ = py_ffd(pa, wa, k)
            assert np.array_equal(a, b), (parent, weight, k)
