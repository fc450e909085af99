"""The driver↔JVM transfer layer (tree.upload_columns / collect_int64_columns).

Every driver upload carries an explicit schema, so each site returns the
same schema whether its input is empty or not, and an empty graph runs
the whole partition chain instead of failing to infer a schema.
"""

import numpy as np
import pytest
from pyspark.sql import types as T

from sheep_spark import analytics, evaluate, extract, graph, jxn, partitioner, tree

L, I, S = T.LongType(), T.IntegerType(), T.StringType()


def _struct(*fields):
    return T.StructType([T.StructField(name, typ, True) for name, typ in fields])


VERTICES = _struct(("vid", L), ("degree", L), ("pos", L))
TREE = _struct(("jnid", L), ("parent", L), ("pst_weight", L))
VID_PART = _struct(("vid", L), ("part", I))

# Schema of each upload site, names, types and nullability, as the
# pandas/pyarrow/tuple-list uploads produced them before they were
# routed through tree.upload_columns.
EXPECTED = {
    "vertices_from_edges": VERTICES,
    "vertices_df_from_arrays": VERTICES,
    "tree_df_from_arrays": TREE,
    "assign_df": _struct(("pos", L), ("part", I)),
    "vertex_meta_from_arrays": _struct(("vid", L), ("pos", L), ("part", I)),
    "fennel_partition": VID_PART,
    "connected_components": _struct(("vid", L), ("component", L)),
    "pagerank": _struct(("vid", L), ("rank", T.DoubleType())),
    "mint_vertex_ids": _struct(("url", S), ("vid", L)),
    "build_jxn_tree": _struct(("jnid", L), ("pos", L), ("parent", L), ("pst_weight", L),
                              ("width", L)),
}

EDGES = [(0, 1), (1, 2), (2, 0), (3, 4)]


def _sym(spark, empty):
    return graph.symmetrize(spark.createDataFrame([] if empty else EDGES, "src long, dst long"))


def _arange(empty, n=3):
    return np.arange(0 if empty else n, dtype=np.int64)


def _fennel(spark, empty):
    sym = _sym(spark, empty)
    return partitioner.fennel_partition(sym, graph.vertices_from_edges(sym), 2)


def _cc(spark, empty):
    labels, info = analytics.connected_components(_sym(spark, empty))
    assert info["path"] == "driver"
    return labels


def _pagerank(spark, empty):
    ranks, info = analytics.pagerank(_sym(spark, empty), max_iter=3)
    assert info["path"] == "driver"
    return ranks


def _jxn(spark, empty):
    sym = _sym(spark, empty)
    verts = graph.vertices_from_edges(sym)
    return jxn.build_jxn_tree(graph.edges_pos(sym, verts), verts.count())[0]


SITES = {
    "vertices_from_edges": lambda spark, e: graph.vertices_from_edges(_sym(spark, e)),
    "vertices_df_from_arrays": lambda spark, e: graph.vertices_df_from_arrays(
        spark, _arange(e), _arange(e), _arange(e)),
    "tree_df_from_arrays": lambda spark, e: tree.tree_df_from_arrays(
        spark, {"parent": np.array([] if e else [1, -1], dtype=np.int64),
                "pst_weight": np.array([] if e else [1, 0], dtype=np.int64)}),
    "assign_df": lambda spark, e: partitioner.assign_df(spark, _arange(e)),
    "vertex_meta_from_arrays": lambda spark, e: partitioner.vertex_meta_from_arrays(
        spark, [], [], []) if e else partitioner.vertex_meta_from_arrays(
        spark, [10, 11, 12], [2, 0, 1], [0, 1, 1]),
    "fennel_partition": _fennel,
    "connected_components": _cc,
    "pagerank": _pagerank,
    "mint_vertex_ids": lambda spark, e: extract.mint_vertex_ids(spark.createDataFrame(
        [] if e else [("a", "b"), ("b", "c")], "src_url string, dst_url string")),
    "build_jxn_tree": _jxn,
}


@pytest.mark.parametrize("empty", [True, False], ids=["empty", "nonempty"])
@pytest.mark.parametrize("site", sorted(SITES))
def test_upload_schema_pinned(spark, site, empty):
    df = SITES[site](spark, empty)
    assert df.schema == EXPECTED[site]
    assert (df.count() == 0) == empty


def test_empty_graph_partition_chain(spark):
    """An empty edge table runs build_tree → sheep_partition → vertex_meta
    → evaluate → down_assign to typed empty frames and zero metrics."""
    sym = _sym(spark, True)
    verts = graph.vertices_from_edges(sym)
    n = verts.count()
    t = tree.build_tree(graph.edges_pos(sym, verts, n), n)
    assign = partitioner.sheep_partition(t, verts, 4)
    vmeta = partitioner.vertex_meta(verts, assign)
    metrics = evaluate.evaluate(sym, vmeta, metrics=("edges_cut", "ecv_down", "down_balance"))
    down = partitioner.down_assign(sym, vmeta, n)
    assert n == 0
    assert t.schema == TREE
    assert assign.schema.simpleString() == "struct<vid:bigint,part:int>"
    assert vmeta.schema.simpleString() == "struct<vid:bigint,pos:bigint,part:int>"
    assert down.schema.simpleString() == "struct<src:bigint,dst:bigint,part:int>"
    assert t.count() == assign.count() == vmeta.count() == down.count() == 0
    assert metrics == {"n_edges": 0, "edges_cut": 0, "ecv_down": 0, "down_balance": 0,
                       "ecv_down_per_edge": 0.0}
