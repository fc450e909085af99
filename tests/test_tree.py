import numpy as np
import pytest

from sheep_spark import _csweep, graph, tree
from tests.conftest import degree_pos, edges_df, random_graph


def _compiled(fn, *args, **kwargs):
    """Run ``fn`` as configured: the compiled sweep when the C library
    loaded."""
    return fn(*args, **kwargs)


def _interpreted(fn, *args, **kwargs):
    """Run ``fn`` with the C library unavailable (interpreted sweep)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_csweep, "loaded", lambda: None)
        return fn(*args, **kwargs)


def _sweep_pairs(lo, hi, n, run=_compiled):
    kid, par = run(tree._eliminate, np.asarray(lo, dtype=np.int64),
                   np.asarray(hi, dtype=np.int64), n)
    return set(zip(kid.tolist(), par.tolist()))


def _kruskal_forest(lo, hi, n):
    """Plain Kruskal minimum spanning forest under edge weight ``hi``:
    an independent reference for the only edges the sweep can use."""
    uf = list(range(n))

    def find(x):
        while uf[x] != x:
            x = uf[x]
        return x

    keep = []
    for i in sorted(range(len(lo)), key=lambda i: hi[i]):
        a, b = find(int(lo[i])), find(int(hi[i]))
        if a != b:
            uf[a] = b
            keep.append(i)
    return lo[keep], hi[keep]


def _random_pos_edges(rng):
    n = int(rng.integers(20, 300))
    m = int(rng.integers(10, 2500))
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    return n, np.minimum(a, b)[keep].astype(np.int64), np.maximum(a, b)[keep].astype(np.int64)


@pytest.mark.parametrize("seed", range(10))
def test_msf_select_preserves_sweep_output(seed):
    """The sweep's output depends only on the minimum spanning forest
    under weight hi (cycle property): sweeping the Kruskal-selected
    subset yields the identical (kid, parent) set as sweeping every
    edge, on the compiled and the interpreted path. Covers dense and
    sparse inputs, duplicate edges, and multi-component graphs."""
    n, lo, hi = _random_pos_edges(np.random.default_rng(seed))
    if seed % 2 == 0:  # half the seeds: deduped like edges_pos output
        pairs = np.unique(np.stack([lo, hi], 1), axis=0)
        lo, hi = pairs[:, 0], pairs[:, 1]
    sl, sh = _kruskal_forest(lo, hi, n)
    assert len(sl) <= len(lo)
    want = _sweep_pairs(lo, hi, n)
    for run in (_compiled, _interpreted):
        assert _sweep_pairs(sl, sh, n, run) == _sweep_pairs(lo, hi, n, run) == want


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("chunk", [17, 64, 509])
def test_msf_select_chunked_preserves_sweep_output(seed, chunk):
    """The map/reduce identity build_tree relies on: sweeping each chunk
    of the edge list into its partial tree edges and sweeping the union
    of those partials yields the same (kid, parent) set as one sweep over
    every edge, for any chunk size, on both kernel paths."""
    n, lo, hi = _random_pos_edges(np.random.default_rng(4000 + seed))
    for run in (_compiled, _interpreted):
        kids, pars = [], []
        for s in range(0, len(lo), chunk):
            k, p = run(tree._eliminate, lo[s:s + chunk], hi[s:s + chunk], n)
            assert len(k) <= min(chunk, n - 1)
            kids.append(k)
            pars.append(p)
        merged = _sweep_pairs(np.concatenate(kids), np.concatenate(pars), n, run)
        assert merged == _sweep_pairs(lo, hi, n, run)


def test_msf_select_dense_graph_selects_at_most_v_minus_1():
    """On a dense graph the sweep emits at most V-1 tree edges, and the
    minimum spanning forest (≤ V-1 edges) sweeps to the same tree."""
    rng = np.random.default_rng(99)
    n = 100
    a = rng.integers(0, n, 8000)
    b = rng.integers(0, n, 8000)
    keep = a != b
    lo = np.minimum(a, b)[keep].astype(np.int64)
    hi = np.maximum(a, b)[keep].astype(np.int64)
    sl, sh = _kruskal_forest(lo, hi, n)
    assert len(sl) <= n - 1
    for run in (_compiled, _interpreted):
        full = _sweep_pairs(lo, hi, n, run)
        assert len(full) <= n - 1
        assert _sweep_pairs(sl, sh, n, run) == full


def spark_tree(spark, edges, n_partials):
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    ep = graph.edges_pos(sym, verts)
    n = verts.count()
    t = tree.build_tree(ep, n, n_partials=n_partials)
    rows = sorted(t.collect(), key=lambda r: r.jnid)
    parent = [r.parent for r in rows]
    pst = [r.pst_weight for r in rows]
    return parent, pst


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("n_partials", [1, 4, 16])
def test_distributed_tree_equals_serial_oracle(spark, seed, n_partials):
    """Merge associativity (jnode.cpp:174-201): the distributed build must
    equal the serial jtree.cpp:34-55 semantics for ANY partial count."""
    edges = random_graph(80, 160, seed=seed)
    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    parent_s, pst_s = spark_tree(spark, edges, n_partials)
    assert parent_s == parent_o
    assert pst_s == pst_o


def test_tree_structural_invariants(spark):
    edges = random_graph(120, 200, seed=9)
    parent, pst = spark_tree(spark, edges, 4)
    n = len(parent)
    # parent strictly later in the sequence (elimination goes upward)
    assert all(p is None or p > j for j, p in enumerate(parent))
    # sum pst_weight == number of undirected edges (each counted at its lo end)
    assert sum(pst) == len(edges)
    # roots == number of connected components (python union-find oracle)
    uf = {}

    def find(x):
        while uf.get(x, x) != x:
            uf[x] = uf.get(uf[x], uf[x])
            x = uf[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            uf[ra] = rb
    n_comp = len({find(v) for v in {v for e in edges for v in e}})
    assert sum(1 for p in parent if p is None) == n_comp


def test_disconnected_graph(spark):
    edges = [(0, 1), (1, 2), (10, 11), (12, 13), (11, 12)]
    pos = degree_pos(edges)
    parent_o, pst_o = tree.serial_tree_oracle(edges, pos)
    parent_s, pst_s = spark_tree(spark, edges, 4)
    assert parent_s == parent_o and pst_s == pst_o
    assert sum(1 for p in parent_s if p is None) == 2


def test_csweep_matches_interpreted_sweep():
    """The compiled union-find sweep (_csweep.sheep_sort_sweep) must emit
    the exact (kid -> parent) mapping of the interpreted sweep across
    random multigraphs."""
    if _csweep.loaded() is None:  # no toolchain: the fallback IS the path
        pytest.skip("C sweep unavailable; interpreted fallback in use")

    def pairs(lo, hi, n, force_python):
        run = _interpreted if force_python else _compiled
        k, p = run(tree._eliminate, lo.copy(), hi.copy(), n)
        assert len(set(k.tolist())) == len(k)  # each kid adopted once
        return dict(zip(k.tolist(), p.tolist()))

    rng = np.random.default_rng(29)
    for trial, (n, m) in enumerate([(6, 3), (40, 200), (500, 3000), (4000, 30000)]):
        a = rng.integers(0, n, size=m)
        b = rng.integers(0, n, size=m)
        keep = a != b
        lo = np.minimum(a, b)[keep].astype(np.int64)
        hi = np.maximum(a, b)[keep].astype(np.int64)
        assert pairs(lo, hi, n, False) == pairs(lo, hi, n, True), trial


def test_sort_sweep_matches_interpreted_and_emits_bincounts():
    """The compiled counting-sort + sweep (_csweep.sheep_sort_sweep) must
    emit the exact (kid -> parent) mapping of the interpreted sweep
    (equal-hi order differs — counting sort keeps input order, the
    interpreted path a stable argsort — but same-hi edges commute), and
    both paths' pst_weight must equal the numpy bincount of lo.
    Covers multigraphs with duplicate edges, a disconnected graph, the
    empty input, and the shared rejection envelope."""
    if _csweep.loaded() is None:
        pytest.skip("C sort-sweep unavailable; fallback paths in use")

    rng = np.random.default_rng(83)
    for n, m in [(5, 2), (60, 400), (700, 5000), (3000, 40000)]:
        a = rng.integers(0, n, size=m)
        b = rng.integers(0, n, size=m)
        keep = a != b
        lo = np.minimum(a, b)[keep].astype(np.int64)
        hi = np.maximum(a, b)[keep].astype(np.int64)
        w: dict = {}
        wi: dict = {}
        k, p = tree._eliminate(lo, hi, n, weights_out=w)
        ki, pi = _interpreted(tree._eliminate, lo, hi, n, weights_out=wi)
        assert dict(zip(k.tolist(), p.tolist())) == dict(zip(ki.tolist(), pi.tolist()))
        for weights in (w, wi):
            assert np.array_equal(weights["pst_weight"], np.bincount(lo, minlength=n))

    # empty input
    w = {}
    k, p = tree._eliminate(np.array([], np.int64), np.array([], np.int64), 7,
                           weights_out=w)
    assert len(k) == 0 and np.array_equal(w["pst_weight"], np.zeros(7, np.int64))

    # one envelope on both paths: out-of-range ids and calls of 2^31 or
    # more vertices raise ValueError (the size check fires before any
    # allocation, so a tiny array suffices)
    one, five, neg = (np.array([v], np.int64) for v in (0, 5, -1))
    for run in (_compiled, _interpreted):
        with pytest.raises(ValueError, match=r"outside \[0, 3\)"):
            run(tree._eliminate, one, five, 3)
        with pytest.raises(ValueError, match=r"outside \[0, 3\)"):
            run(tree._eliminate, neg, np.array([2], np.int64), 3)
        with pytest.raises(ValueError, match=r"2\^31"):
            run(tree._eliminate, one, np.array([1], np.int64), 2**31)


@pytest.mark.parametrize("run", [_compiled, _interpreted], ids=["compiled", "interpreted"])
def test_weightless_sweep_equals_weighted(run):
    """Without ``weights_out`` the sweep skips the pst weight (the C
    kernel gets a NULL weight pointer) and must return exactly the
    (kid, parent) arrays of a weighted call, on both paths."""
    rng = np.random.default_rng(47)
    for n, m in [(1, 0), (5, 2), (80, 500), (2000, 20000)]:
        a = rng.integers(0, n, size=m)
        b = rng.integers(0, n, size=m)
        keep = a != b
        lo = np.minimum(a, b)[keep].astype(np.int64)
        hi = np.maximum(a, b)[keep].astype(np.int64)
        w: dict = {}
        k_w, p_w = run(tree._eliminate, lo, hi, n, weights_out=w)
        k, p = run(tree._eliminate, lo, hi, n)
        assert np.array_equal(k, k_w) and np.array_equal(p, p_w)
        assert np.array_equal(w["pst_weight"], np.bincount(lo, minlength=n))


ADVERSARIAL_SHAPES = {
    "empty": [],
    "single_edge": [(3, 9)],
    "star": [(0, v) for v in range(1, 40)],
    "path": [(v, v + 1) for v in range(50)],
    "k12_clique": [(a, b) for a in range(12) for b in range(a + 1, 12)],
    "multigraph": [(0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (2, 3), (3, 0), (3, 0), (4, 4)],
    "disconnected": [(0, 1), (1, 2), (10, 11), (11, 12), (12, 10), (20, 21)],
    "sparse_ids": [(10**12 + 7 * a, 10**12 + 7 * b)
                   for a, b in random_graph(30, 70, seed=17)],
}


@pytest.mark.parametrize("shape", list(ADVERSARIAL_SHAPES))
def test_every_tree_path_equals_serial_oracle(spark, shape):
    """Every way the engine builds a tree — the compiled sort-sweep, the
    interpreted sweep, the fused driver funnel, and the map/reduce build
    at 2 and 4 partials — must equal serial_tree_oracle on adversarial
    shapes: empty, one edge, star, path, clique, a multigraph with
    duplicate edges and a self loop, disconnected components, and
    sparse ~10^12 ids."""
    raw = ADVERSARIAL_SHAPES[shape]
    simple = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    pos = degree_pos(simple)
    parent_o, pst_o = tree.serial_tree_oracle(raw, pos)
    n = len(pos)
    want_parent = np.array([-1 if p is None else p for p in parent_o], np.int64)
    want_pst = np.array(pst_o, np.int64)

    # the kernel on pos-space edges, duplicates kept
    lo = np.array([min(pos[a], pos[b]) for a, b in raw if a != b], np.int64)
    hi = np.array([max(pos[a], pos[b]) for a, b in raw if a != b], np.int64)
    for run in (_compiled, _interpreted):
        kid, par = run(tree._eliminate, lo, hi, n)
        got = np.full(n, -1, np.int64)
        got[kid] = par
        assert np.array_equal(got, want_parent), shape

    rows = spark.createDataFrame(raw, "src long, dst long")
    fused = graph.driver_sequence_tree_arrays(graph.symmetrize_canonical(rows))
    assert np.array_equal(fused["parent"], want_parent), shape
    assert np.array_equal(fused["pst_weight"], want_pst), shape

    sym = edges_df(spark, raw)
    verts = graph.vertices_from_edges(sym)
    ep = graph.edges_pos(sym, verts)
    for n_partials in (2, 4):
        t = tree.build_tree(ep, n, n_partials=n_partials, strategy="mapreduce")
        rows_t = sorted(t.collect(), key=lambda r: r.jnid)
        assert [r.parent for r in rows_t] == parent_o, (shape, n_partials)
        assert [r.pst_weight for r in rows_t] == pst_o, (shape, n_partials)
