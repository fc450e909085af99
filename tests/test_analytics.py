import numpy as np
import pytest

from sheep_spark import _csweep, analytics, graph, tree
from tests.conftest import edges_df, random_graph


def numpy_pagerank(edges, d=0.85, tol=1e-12, max_iter=2000):
    vids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(vids)}
    n = len(vids)
    deg = np.zeros(n)
    for a, b in edges:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = r / deg
        nr = np.full(n, (1 - d) / n)
        for a, b in edges:
            nr[idx[b]] += d * contrib[idx[a]]
            nr[idx[a]] += d * contrib[idx[b]]
        if np.abs(nr - r).sum() < tol:
            r = nr
            break
        r = nr
    return {v: r[idx[v]] for v in vids}


def test_pagerank_allclose_oracle(spark):
    edges = random_graph(70, 150, seed=13)
    sym = edges_df(spark, edges)
    ranks, info = analytics.pagerank(sym, tol=1e-8, max_iter=150)
    got = {r.vid: r.rank for r in ranks.collect()}
    want = numpy_pagerank(edges)
    assert info["l1_delta"] < 1e-8
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-6 for v in want)
    # probability mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_connected_components_exact(spark):
    edges = [(0, 1), (1, 2), (5, 6), (7, 8), (8, 9), (9, 7), (20, 21)]
    sym = edges_df(spark, edges)
    labels, info = analytics.connected_components(sym)
    got = {r.vid: r.component for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 7, 8: 7, 9: 7, 20: 20, 21: 20}
    assert info == {"iterations": 1, "path": "driver"}


def test_connected_components_random_vs_unionfind(spark):
    edges = random_graph(150, 160, seed=17)  # sparse → several components
    sym = edges_df(spark, edges)
    labels, _ = analytics.connected_components(sym)
    got = {r.vid: r.component for r in labels.collect()}
    assert got == _cc_oracle(_both_directions(edges))


def _cc_oracle(rows):
    """Plain union-find over the rows with src < dst — the rows both CC
    paths read — → {vid: min vid of its component}."""
    uf = {}

    def find(x):
        while uf.setdefault(x, x) != x:
            x = uf[x]
        return x

    for a, b in rows:
        if a < b:
            ra, rb = find(a), find(b)
            uf[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in uf}


def _both_directions(edges):
    return edges + [(b, a) for a, b in edges]


CC_SHAPES = {
    "empty": [],
    "one_edge": _both_directions([(3, 9)]),
    "star": _both_directions([(0, v) for v in range(1, 40)]),
    "path_400": _both_directions([(v, v + 1) for v in range(399)]),
    "k12": _both_directions([(a, b) for a in range(12) for b in range(a + 1, 12)]),
    "duplicates_and_self_loop": _both_directions([(0, 1), (0, 1), (1, 2), (2, 2), (5, 6)]) + [(5, 6)],
    "self_loop_only_vertex": _both_directions([(0, 1), (1, 2)]) + [(7, 7)],
    "sparse_ids_near_2_40": _both_directions(
        [(2**40 + 3 * a, 2**40 + 3 * b) for a, b in random_graph(40, 45, seed=5)]
    ),
    "one_direction_only": [(5, 1), (9, 5), (3, 8), (12, 11), (20, 30)],
}


# The name is kept from when the above-cap path was star contraction; it
# now checks the map/reduce union-find.
@pytest.mark.parametrize("shape", sorted(CC_SHAPES))
def test_connected_components_driver_and_star_match_unionfind(spark, monkeypatch, shape):
    """Differential CC on the rows as given and on their canonical
    src < dst half (graph.symmetrize_canonical): the driver path
    (compiled sweep, then interpreted sweep) and the map/reduce path
    (pinned by a cap of -1, so even the empty input takes it) must each
    label both like a plain union-find oracle, in one pass."""
    rows = CC_SHAPES[shape]
    raw = spark.createDataFrame(rows, "src long, dst long")
    canon_rows = [(min(a, b), max(a, b)) for a, b in rows]

    def run(df):
        labels, info = analytics.connected_components(df)
        assert labels.dtypes == [("vid", "bigint"), ("component", "bigint")]
        assert info["iterations"] == 1
        return {r.vid: r.component for r in labels.collect()}, info["path"]

    for df, form_rows in ((raw, rows), (graph.symmetrize_canonical(raw), canon_rows)):
        want = _cc_oracle(form_rows)
        assert run(df) == (want, "driver")
        with monkeypatch.context() as mp:
            mp.setattr(_csweep, "loaded", lambda: None)
            assert run(df) == (want, "driver")
        with monkeypatch.context() as mp:
            mp.setattr(tree, "DRIVER_TREE_MAX_EDGES", -1)
            assert run(df) == (want, "mapreduce")


def _undirected(rows):
    """Each undirected edge of ``rows`` once, self loops dropped — the
    graph graph.symmetrize keeps."""
    return sorted({(min(a, b), max(a, b)) for a, b in rows if a != b})


@pytest.mark.parametrize("shape", sorted(CC_SHAPES))
def test_pagerank_driver_and_spark_match_oracle(spark, monkeypatch, shape):
    """Differential PageRank over graph.symmetrize of each shape and
    over graph.symmetrize_canonical: the driver path and the Spark path
    (pinned by a cap of -1) each agree with numpy_pagerank at a fixed 5
    supersteps to 1e-12 relative error, on the same vertex set. An empty
    graph gives an empty typed frame and 0 iterations on both."""
    edges = _undirected(CC_SHAPES[shape])
    raw = spark.createDataFrame(CC_SHAPES[shape], "src long, dst long")
    want = numpy_pagerank(edges, tol=0.0, max_iter=5) if edges else {}

    def run(path):
        for e in (graph.symmetrize(raw), graph.symmetrize_canonical(raw)):
            check(path, *analytics.pagerank(e, tol=0.0, max_iter=5))

    def check(path, ranks, info):
        assert ranks.dtypes == [("vid", "bigint"), ("rank", "double")]
        assert info["path"] == path
        assert info["iterations"] == (5 if edges else 0)
        assert info["n_vertices"] == len(want)
        assert len(info["superstep_secs"]) == info["iterations"]
        got = {r.vid: r.rank for r in ranks.collect()}
        assert set(got) == set(want)
        assert all(abs(got[v] - want[v]) <= 1e-12 * want[v] for v in want)

    run("driver")
    with monkeypatch.context() as mp:
        mp.setattr(tree, "DRIVER_TREE_MAX_EDGES", -1)
        run("spark")


def test_pagerank_vertices_count_and_convergence_match_paths(spark, monkeypatch):
    """With ``vertices`` given, n is its count on both paths, and the
    driver path stops at the same superstep as the Spark path under a
    tolerance. The Spark path is taken here by PageRank's own cap."""
    edges = random_graph(60, 140, seed=19)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    extra = spark.createDataFrame([(10**6, 1, 60)], "vid long, degree long, pos long")
    runs = {}
    for path, cap in (("driver", analytics.DRIVER_ANALYTICS_MAX_EDGES), ("spark", -1)):
        with monkeypatch.context() as mp:
            mp.setattr(analytics, "DRIVER_ANALYTICS_MAX_EDGES", cap)
            ranks, info = analytics.pagerank(sym, verts.unionAll(extra), tol=1e-4, max_iter=100)
            assert info["path"] == path and info["n_vertices"] == 61
            runs[path] = ({r.vid: r.rank for r in ranks.collect()}, info["iterations"])
    (d, d_it), (s_, s_it) = runs["driver"], runs["spark"]
    assert d_it == s_it and set(d) == set(s_)
    assert all(abs(d[v] - s_[v]) <= 1e-12 * s_[v] for v in d)


def triangle_brute(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    vids = sorted(adj)
    for i, a in enumerate(vids):
        for b in adj[a]:
            if b <= a:
                continue
            count += len(adj[a] & adj[b] & {c for c in vids if c > b})
    return count


def test_triangle_count_exact(spark):
    """Exact on the doubled table and on its canonical src < dst half."""
    edges = random_graph(40, 150, seed=23)
    sym = edges_df(spark, edges)
    canon = graph.symmetrize_canonical(spark.createDataFrame(edges, "src long, dst long"))
    verts = graph.vertices_from_edges(sym)
    for e in (sym, canon):
        assert analytics.triangle_count(e, verts) == triangle_brute(edges)


@pytest.mark.parametrize("shape", sorted(CC_SHAPES))
def test_triangle_count_every_path_matches_brute(spark, monkeypatch, shape):
    """Differential triangle count on graph.symmetrize of each shape and
    on graph.symmetrize_canonical: the driver path, the driver path
    checking one wedge per batch, and the Spark path (cap -1) all equal
    triangle_brute."""
    raw = spark.createDataFrame(CC_SHAPES[shape], "src long, dst long")
    sym = graph.symmetrize(raw)
    verts = graph.vertices_from_edges(sym)
    want = triangle_brute(_undirected(CC_SHAPES[shape]))
    for e in (sym, graph.symmetrize_canonical(raw)):
        assert analytics.triangle_count(e, verts) == want
        with monkeypatch.context() as mp:
            mp.setattr(analytics, "WEDGE_BATCH", 1)
            assert analytics.triangle_count(e, verts) == want
        with monkeypatch.context() as mp:
            mp.setattr(tree, "DRIVER_TREE_MAX_EDGES", -1)
            assert analytics.triangle_count(e, verts) == want


@pytest.mark.parametrize("batch", [1, 5, 64, analytics.WEDGE_BATCH])
def test_triangles_every_batch_size_matches_brute(monkeypatch, batch):
    """_triangles gives triangle_brute's count on random graphs whatever
    the wedge batch size, batch boundaries inside a row included."""
    monkeypatch.setattr(analytics, "WEDGE_BATCH", batch)
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 80))
        edges = _undirected(zip(rng.integers(0, n, 300).tolist(), rng.integers(0, n, 300).tolist()))
        lo = np.array([a for a, _ in edges], dtype=np.int64)
        hi = np.array([b for _, b in edges], dtype=np.int64)
        assert analytics._triangles(lo, hi, n) == triangle_brute(edges)


def python_lpa(edges, iters):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v in adj:
            counts = {}
            for u in adj[v]:
                counts[label[u]] = counts.get(label[u], 0) + 1
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        label = new
    return label


def test_label_propagation_deterministic_and_exact(spark):
    edges = random_graph(60, 130, seed=29)
    sym = edges_df(spark, edges)
    l1, _ = analytics.label_propagation(sym, max_iter=4)
    l2, _ = analytics.label_propagation(sym, max_iter=4)
    got1 = {r.vid: r.label for r in l1.collect()}
    got2 = {r.vid: r.label for r in l2.collect()}
    assert got1 == got2
    assert got1 == python_lpa(edges, 4)
