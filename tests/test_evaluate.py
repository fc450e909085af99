import random

import pytest

from sheep_spark import evaluate, graph, partitioner
from tests.conftest import degree_pos, edges_df, random_graph


def test_spark_evaluator_matches_python_port(spark):
    """DataFrame metric suite == direct python port of the reference's
    nested-loop evaluator (partition.cpp:428-521)."""
    edges = random_graph(90, 200, seed=21)
    pos = degree_pos(edges)
    rng = random.Random(4)
    part = {v: rng.randrange(4) for v in pos}

    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    assign = spark.createDataFrame(list(part.items()), "vid long, part int")
    vmeta = partitioner.vertex_meta(verts, assign)

    got = evaluate.evaluate(sym, vmeta)
    want = evaluate.evaluate_oracle(edges, pos, part)
    assert got == want


def test_canonical_once_path_matches_doubled(spark):
    """evaluate over the canonical half (each undirected edge once,
    src < dst) must equal evaluate over the doubled table AND the python
    port, for the full suite and the fast subset."""
    edges = random_graph(70, 160, seed=33)
    pos = degree_pos(edges)
    rng = random.Random(9)
    part = {v: rng.randrange(5) for v in pos}
    canon = graph.symmetrize_canonical(spark.createDataFrame(edges, "src long, dst long"))
    sym = graph.doubled_view(canon)
    verts = graph.vertices_from_edges(sym)
    assign = spark.createDataFrame(list(part.items()), "vid long, part int")
    vmeta = partitioner.vertex_meta(verts, assign)

    want = evaluate.evaluate_oracle(edges, pos, part)
    assert evaluate.evaluate(canon, vmeta) == evaluate.evaluate(sym, vmeta) == want
    fast = ("edges_cut", "ecv_down", "down_balance")
    got_fast = evaluate.evaluate(canon, vmeta, metrics=fast)
    assert all(got_fast[k] == want[k] for k in fast)


def test_evaluator_single_part_zero_cut(spark):
    edges = random_graph(40, 80, seed=2)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    assign = verts.selectExpr("vid", "CAST(0 AS INT) AS part")
    m = evaluate.evaluate(sym, partitioner.vertex_meta(verts, assign))
    assert m["edges_cut"] == 0
    assert m["vcom_vol"] == 0
    assert m["ecv_down"] == 0
    assert m["down_balance"] == m["n_edges"]


def test_metrics_subset_fast_mode(spark):
    """metrics=(...) subset mode (the at-scale quality gate) must return
    exactly the requested keys with the same values as the full suite."""
    edges = random_graph(70, 150, seed=11)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    vmeta = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 4)).persist()
    full = evaluate.evaluate(sym, vmeta)
    fast = evaluate.evaluate(sym, vmeta, metrics=("edges_cut", "ecv_down", "down_balance"))
    assert set(fast) == {"n_edges", "edges_cut", "ecv_down", "down_balance", "ecv_down_per_edge"}
    for k in fast:
        assert fast[k] == full[k], k
    # balances-only and ecv-only subsets hit each single-job path
    bal_only = evaluate.evaluate(sym, vmeta, metrics=("vertex_balance", "up_balance"))
    assert bal_only["vertex_balance"] == full["vertex_balance"]
    assert bal_only["up_balance"] == full["up_balance"]
    ecv_only = evaluate.evaluate(sym, vmeta, metrics=("vcom_vol",))
    assert ecv_only["vcom_vol"] == full["vcom_vol"]
    # subsets with no set metric and no edge balance run the same pass
    for subset in (("edges_cut",), ("vertex_balance",)):
        got = evaluate.evaluate(sym, vmeta, metrics=subset)
        assert set(got) == {"n_edges", *subset}, subset
        for k in got:
            assert got[k] == full[k], (subset, k)
    with pytest.raises(ValueError):
        evaluate.evaluate(sym, vmeta, metrics=("nope",))
    with pytest.raises(ValueError, match="non-negative"):
        evaluate.evaluate(sym, vmeta.selectExpr("vid", "pos", "part - 1 AS part"))


@pytest.fixture(scope="module")
def shapes_graph(spark):
    """Four shapes — random, hub star, path, two components — as disjoint
    components of one graph (vid offsets of 10^4, ≥ 200 vertices each),
    with its doubled table and vertices built once."""
    shapes = [
        random_graph(260, 700, seed=3),
        [(0, v) for v in range(1, 241)] + [(v, v + 1) for v in range(1, 240, 7)],
        [(v, v + 1) for v in range(239)],
        random_graph(120, 300, seed=5) + [(a + 1000, b + 1000) for a, b in random_graph(120, 300, seed=6)],
    ]
    shapes = [[(a + 10_000 * i, b + 10_000 * i) for a, b in e] for i, e in enumerate(shapes)]
    edges = [e for shape in shapes for e in shape]
    sym = edges_df(spark, edges).persist()
    verts = graph.vertices_from_edges(sym).persist()
    yield shapes, edges, sym, verts
    verts.unpersist()
    sym.unpersist()


@pytest.mark.parametrize("k", [1, 2, 8, 62, 63, 64, 65, 128, 200])
def test_every_part_count_matches_oracle(spark, shapes_graph, k):
    """One plan for every part count: the bitset spans ⌈k/64⌉ words, so
    the word boundaries (63/64/65, 128) and several words (200) must
    give the python port's numbers, for the full suite and the CLI
    subset, with every part id in use in every shape."""
    shapes, edges, sym, verts = shapes_graph
    part = {}
    for shape in shapes:
        vids = sorted(degree_pos(shape))
        random.Random(k).shuffle(vids)
        part.update((v, i % k) for i, v in enumerate(vids))
        assert {part[v] for v in vids} == set(range(k))
    assign = spark.createDataFrame(list(part.items()), "vid long, part int")
    vmeta = partitioner.vertex_meta(verts, assign)
    want = evaluate.evaluate_oracle(edges, degree_pos(edges), part)
    assert evaluate.evaluate(sym, vmeta) == want
    fast = ("edges_cut", "ecv_down", "down_balance")
    got_fast = evaluate.evaluate(sym, vmeta, metrics=fast)
    assert {m: got_fast[m] for m in fast} == {m: want[m] for m in fast}
