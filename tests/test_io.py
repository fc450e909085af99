import os

import pytest
from pyspark.sql import functions as F

from sheep_spark import graph, io, partitioner, tree
from tests.conftest import HEP_TH


def test_xs1_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (3, 4), (5, 1)], "src long, dst long")
    p = str(tmp_path / "tiny.dat")
    io.write_xs1(df, p)
    back = io.read_xs1(spark, p)
    assert sorted((r.src, r.dst) for r in back.collect()) == [(1, 2), (3, 4), (5, 1)]


@pytest.mark.parametrize("bad", [2**32, -1])
def test_xs1_write_rejects_ids_outside_uint32(spark, tmp_path, bad):
    """XS1 records hold uint32 ids: an id that would wrap raises instead
    of being written as a different vertex."""
    df = spark.createDataFrame([(1, 2), (3, bad)], "src long, dst long")
    p = tmp_path / "bad.dat"
    with pytest.raises(ValueError, match="column 'dst' has ids outside"):
        io.write_xs1(df, str(p))
    assert not p.exists()


def test_snap_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    p = str(tmp_path / "snap")
    io.write_snap(df, p)
    back = io.read_snap(spark, p)
    assert sorted((r.src, r.dst) for r in back.collect()) == [(1, 2), (3, 4)]


def test_hep_th_loads_with_reference_counts(spark):
    """The reference's own test graph: 15751 edge records, vid space 8361
    (data/hep-th.dat.ini:1-5) of which 7610 are non-isolated — the engine,
    like sheep's node iterator (graph_wrapper.h:61-62), skips degree-0."""
    raw = io.read_xs1(spark, HEP_TH)
    assert raw.count() == 15751
    sym = graph.symmetrize(raw)
    assert sym.count() == 2 * 15751
    verts = graph.vertices_from_edges(sym)
    assert verts.count() == 7610


def test_hep_th_end_to_end_partition_quality(spark):
    """Full sheep pipeline on hep-th: tree → FFD k=2 → quality metrics.
    ECV(down)/edge must be small (sheep's thesis) — well under 5% on this
    graph — and the tree must mirror the graph's component structure."""
    from sheep_spark import evaluate

    raw = io.read_xs1(spark, HEP_TH)
    sym = graph.symmetrize(raw).persist()
    verts = graph.vertices_from_edges(sym).persist()
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(sym, verts), n, n_partials=8)
    facts = tree.tree_facts(t)
    assert facts["vert_cnt"] == 7610
    assert facts["edge_cnt"] == 15751

    assign = partitioner.sheep_partition(t, verts, 2)
    m = evaluate.evaluate(sym, partitioner.vertex_meta(verts, assign))
    assert m["ecv_down_per_edge"] < 0.05
    assert m["down_balance"] <= int((m["n_edges"] // 2) * 1.03)


def test_partitioned_sink(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2, 0), (3, 4, 1), (5, 6, 1)], "src long, dst long, part int"
    )
    out = str(tmp_path / "parts")
    partitioner.write_partitioned(edges, out)
    assert os.path.isdir(os.path.join(out, "part=0"))
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert back.where(F.col("part") == 1).count() == 2


def test_sequence_text_roundtrip(spark, tmp_path):
    """writeTextSequence/readTextSequence interop (sequence.h:153-170):
    line N holds the vid at pos N."""
    from sheep_spark import graph, io
    from tests.conftest import degree_pos, edges_df, random_graph

    edges = random_graph(30, 60, seed=5)
    verts = graph.vertices_from_edges(edges_df(spark, edges))
    path = str(tmp_path / "seq_txt")
    io.write_sequence_text(verts, path)
    got = {r.pos: r.vid for r in io.read_sequence_text(spark, path).collect()}
    pos = degree_pos(edges)
    assert got == {p: v for v, p in pos.items()}


def test_partition_vector_text_roundtrip(spark, tmp_path):
    from sheep_spark import graph, io, partitioner
    from tests.conftest import edges_df, random_graph

    edges = random_graph(30, 60, seed=6)
    verts = graph.vertices_from_edges(edges_df(spark, edges))
    vmeta = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 3))
    path = str(tmp_path / "parts_txt")
    io.write_partition_vector_text(vmeta, path)
    got = {r.pos: r.part for r in io.read_partition_vector(spark, path).collect()}
    want = {r.pos: r.part for r in vmeta.collect()}
    assert got == want


def test_read_snap_tabs_and_multispace(spark, tmp_path):
    p = tmp_path / "tabs.net"
    p.write_text("# comment\n1\t2\n3   4\n 5 6\n")
    from sheep_spark import io

    got = sorted((r.src, r.dst) for r in io.read_snap(spark, str(p)).collect())
    assert got == [(1, 2), (3, 4), (5, 6)]


def test_read_snap_garbage_fails_loudly(spark, tmp_path):
    p = tmp_path / "bad.net"
    p.write_text("a,b\nc,d\n")
    from sheep_spark import io

    import pytest as _pytest

    with _pytest.raises(ValueError, match="none parsed"):
        io.read_snap(spark, str(p))


def test_metis_adj_export(spark, tmp_path):
    """graph2adj parity: header V/E/010; line i = degree + 1-based
    sequence-index neighbors of the vertex at pos i."""
    from tests.conftest import degree_pos, edges_df, random_graph

    edges = random_graph(20, 35, seed=9)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    path = str(tmp_path / "g.adj")
    io.write_metis_adj(sym, verts, path)

    pos = degree_pos(edges)
    adj = {v: set() for v in pos}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    lines = open(path).read().splitlines()
    nv, ne, fmt = lines[0].split()
    assert (int(nv), int(ne), fmt) == (len(pos), len(edges), "010")
    by_pos = sorted(pos, key=lambda v: pos[v])
    for i, v in enumerate(by_pos):
        toks = [int(x) for x in lines[1 + i].split()]
        assert toks[0] == len(adj[v])
        assert sorted(toks[1:]) == sorted(pos[n] + 1 for n in adj[v])


def test_tree_dot_export(spark, tmp_path):
    from tests.conftest import edges_df

    sym = edges_df(spark, [(0, 1), (1, 2), (3, 4)])
    verts = graph.vertices_from_edges(sym)
    t = tree.build_tree(graph.edges_pos(sym, verts), verts.count())
    path = str(tmp_path / "t.dot")
    io.write_tree_dot(t, path)
    text = open(path).read()
    assert text.startswith("digraph {") and text.rstrip().endswith("}")
    n_edges = text.count("->")
    n_roots = sum(1 for r in t.collect() if r["parent"] is None)
    assert n_edges == verts.count() - n_roots
