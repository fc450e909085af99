import pytest
from pyspark.sql import functions as F

from sheep_spark import graph
from tests.conftest import SF_DIR, degree_pos, edges_df, random_graph


def test_symmetrize_invariants(spark):
    raw = spark.createDataFrame([(1, 2), (2, 1), (3, 3), (1, 2), (4, 1)], "a long, b long")
    sym = graph.symmetrize(raw, "a", "b")
    rows = {(r.src, r.dst) for r in sym.collect()}
    assert rows == {(1, 2), (2, 1), (1, 4), (4, 1)}


def test_degree_sequence_matches_oracle(spark):
    edges = random_graph(60, 120, seed=7)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym).collect()
    pos_oracle = degree_pos(edges)
    deg_oracle: dict[int, int] = {}
    for a, b in edges:
        deg_oracle[a] = deg_oracle.get(a, 0) + 1
        deg_oracle[b] = deg_oracle.get(b, 0) + 1
    assert {r.vid: r.pos for r in verts} == pos_oracle
    assert {r.vid: r.degree for r in verts} == deg_oracle


def test_attach_rank_total_order(spark):
    df = spark.createDataFrame([(v,) for v in [5, 3, 9, 1, 7, 2]], "x long")
    ranked = {r.x: r.pos for r in graph.attach_rank(df, ["x"]).collect()}
    assert ranked == {1: 0, 2: 1, 3: 2, 5: 3, 7: 4, 9: 5}


def test_tpch_graph_deterministic(spark):
    e1, v1 = graph.graph_from_tpch(spark, SF_DIR)
    n_edges = e1.count()
    assert n_edges % 2 == 0 and n_edges > 0
    assert e1.where(F.col("src") == F.col("dst")).count() == 0
    # doubled: reversed set equals forward set
    fwd = e1.where(F.col("src") < F.col("dst")).count()
    rev = e1.where(F.col("src") > F.col("dst")).count()
    assert fwd == rev == n_edges // 2
    # pos is a dense permutation ordered by (degree, vid)
    rows = sorted(v1.collect(), key=lambda r: r.pos)
    assert [r.pos for r in rows] == list(range(len(rows)))
    assert all(
        (a.degree, a.vid) < (b.degree, b.vid) for a, b in zip(rows, rows[1:])
    )


def test_degree_sequence_driver_and_distributed_agree(spark):
    """The driver lexsort rank (small-V funnel) and the distributed
    two-phase rank must produce identical (vid, degree, pos) rows."""
    from tests.conftest import edges_df, random_graph

    from sheep_spark import graph

    edges = random_graph(150, 400, seed=31)
    sym = edges_df(spark, edges)
    a = graph.vertices_from_edges(sym)  # n << cap → driver path
    b = graph.vertices_from_edges(sym, driver_rank_max=0)  # force distributed
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_fused_driver_funnel_matches_staged_path(spark):
    """driver_sequence_arrays (one collect + numpy) must reproduce the
    staged vertices_from_edges + edges_pos + build_tree pipeline exactly
    — vertices, pos-space edges, tree, and vmeta alike. Exercised on
    both the dense-vid fast path and the sparse relabel path."""
    import numpy as np

    from sheep_spark import graph, partitioner, tree
    from tests.conftest import random_graph

    base = random_graph(500, 2000, seed=77)
    for shift, label in ((0, "dense"), (10**12, "sparse")):
        edges = [(a + shift, b + shift) for a, b in base]
        raw = spark.createDataFrame(edges, "src long, dst long")
        canon = graph.symmetrize_canonical(raw).persist()
        sym = graph.doubled_view(canon)

        # staged path
        verts = graph.vertices_from_edges(sym).persist()
        n = verts.count()
        staged_epos = sorted(
            (r["lo"], r["hi"]) for r in graph.edges_pos(sym, verts).collect()
        )
        t_staged = tree.build_tree(
            graph.edges_pos(sym, verts), n, strategy="driver"
        )

        # fused path (force the sparse branch via dense_vid_limit=1)
        arrs = graph.driver_sequence_arrays(
            canon, dense_vid_limit=1 if label == "sparse" else 500_000_000
        )
        assert len(arrs["vid"]) == n
        fused_verts = {
            (int(v), int(d), int(p))
            for v, d, p in zip(arrs["vid"], arrs["degree"], arrs["pos"])
        }
        staged_verts = {
            (r["vid"], r["degree"], r["pos"]) for r in verts.collect()
        }
        assert fused_verts == staged_verts, label
        assert sorted(zip(arrs["lo"].tolist(), arrs["hi"].tolist())) == staged_epos, label

        arrays = tree.build_tree_arrays(arrs["lo"], arrs["hi"], n)
        fused_t = tree.tree_df_from_arrays(spark, arrays)
        assert fused_t.exceptAll(t_staged).unionAll(t_staged.exceptAll(fused_t)).count() == 0, label

        parts, _ = partitioner.forward_partition(arrays["parent"], arrays["pst_weight"], 4)
        vmeta_arr = partitioner.vertex_meta_from_arrays(
            spark, arrs["vid"], arrs["pos"], parts
        )
        vmeta_join = partitioner.vertex_meta(verts, partitioner.assign_df(spark, parts).join(
            verts.select("vid", "pos"), "pos").select("vid", "part"))
        a = {(r["vid"], r["pos"], r["part"]) for r in vmeta_arr.collect()}
        b = {(r["vid"], r["pos"], r["part"]) for r in vmeta_join.collect()}
        assert a == b, label
        canon.unpersist()
        verts.unpersist()


def test_fused_driver_funnel_int32_transfer(spark):
    """ids_fit_int32=True casts the funnel collect to int JVM-side
    (half the transfer bytes); every returned array must be
    bit-identical to the default int64 path."""
    import numpy as np

    from sheep_spark import graph
    from tests.conftest import edges_df, random_graph

    canon = graph.symmetrize_canonical(
        edges_df(spark, random_graph(400, 1500, seed=93))
    ).persist()
    a = graph.driver_sequence_arrays(canon)
    b = graph.driver_sequence_arrays(canon, ids_fit_int32=True)
    for k in ("vid", "degree", "pos", "lo", "hi"):
        assert a[k].dtype == b[k].dtype == np.int64, k
        assert np.array_equal(a[k], b[k]), k


def test_fused_driver_funnel_int32_promise_violation_raises(spark):
    """A false ids_fit_int32 promise must raise, not corrupt (ADVICE
    r5): under the ANSI default the JVM cast itself throws
    CAST_OVERFLOW; under ansi.enabled=false the cast silently WRAPS an
    id in [2^31, 2^32) to a negative int32 and the funnel's
    post-collect guard must catch it instead."""
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    big = 2**31 + 7  # wraps to a negative int32 under non-ANSI cast
    canon = spark.createDataFrame(
        [(0, 1), (1, big), (0, big)], "src long, dst long"
    )
    # sanity: the honest path handles the same ids fine (sparse relabel)
    a = graph.driver_sequence_arrays(canon)
    assert len(a["vid"]) == 3
    with pytest.raises((ValueError, ArithmeticException)):
        graph.driver_sequence_arrays(canon, ids_fit_int32=True)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:  # non-ANSI: the wrap is silent JVM-side — OUR guard must fire
        with pytest.raises(ValueError, match="ids_fit_int32"):
            graph.driver_sequence_arrays(canon, ids_fit_int32=True)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_fused_seq_tree_matches_staged(spark):
    """driver_sequence_tree_arrays (r6 latest: one compiled call for the
    whole post-collect funnel + tree body) must reproduce
    driver_sequence_arrays + build_tree_arrays exactly — vid/degree/pos,
    parent, and the pst weight — on the compiled path AND the
    forced-fallback path, dense and sparse ids alike."""
    import numpy as np

    from sheep_spark import _csweep, graph, tree
    from tests.conftest import random_graph

    base = random_graph(400, 1600, seed=55)
    for shift, label in ((0, "dense"), (10**12, "sparse")):
        edges = [(a + shift, b + shift) for a, b in base]
        raw = spark.createDataFrame(edges, "src long, dst long")
        canon = graph.symmetrize_canonical(raw).persist()

        ref = graph.driver_sequence_arrays(canon)
        n = len(ref["vid"])
        ref_arrays = tree.build_tree_arrays(ref["lo"], ref["hi"], n)

        fused = graph.driver_sequence_tree_arrays(canon)
        # forced fallback (kernel unavailable) must also agree
        real = _csweep.loaded_seq_tree
        _csweep.loaded_seq_tree = lambda: None
        try:
            fallback = graph.driver_sequence_tree_arrays(canon)
        finally:
            _csweep.loaded_seq_tree = real
        variants = [fused, fallback]
        if label == "dense":  # narrow int32 transfer end-to-end
            variants.append(graph.driver_sequence_tree_arrays(canon, ids_fit_int32=True))

        for out in variants:
            assert out["n_vertices"] == n, label
            assert out["vid"].dtype == out["pos"].dtype == np.int64, label
            assert np.array_equal(out["vid"], ref["vid"]), label
            assert np.array_equal(out["degree"], ref["degree"]), label
            assert np.array_equal(out["pos"], ref["pos"]), label
            assert np.array_equal(out["parent"], ref_arrays["parent"]), label
            assert np.array_equal(out["pst_weight"], ref_arrays["pst_weight"]), label
        canon.unpersist()

    # empty graph
    empty = spark.createDataFrame([], "src long, dst long")
    out = graph.driver_sequence_tree_arrays(empty)
    assert out["n_vertices"] == 0 and len(out["parent"]) == 0


@pytest.mark.parametrize("compiled", [True, False], ids=["compiled", "interpreted"])
@pytest.mark.parametrize(
    "funnel, rows, column",
    [
        ("vertices_from_edges", [(0, 1), (1, 0), (1, 2), (2, 1), (None, 2)], "vid"),
        ("driver_sequence_tree_arrays", [(0, 1), (1, 2), (2, None)], "dst"),
        ("write_xs1", [(0, 1), (None, 2)], "src"),
        ("fennel_partition", [(0, 1), (1, 0), (1, None)], "dst"),
    ],
)
def test_null_endpoint_raises(spark, monkeypatch, tmp_path, funnel, rows, column, compiled):
    """A null endpoint fails at the driver collect with a ValueError
    naming the column, whether or not the compiled kernel is loaded;
    numpy has no integer null, so it would otherwise become a bogus id
    (io.write_xs1 used to write it as vertex 0)."""
    from sheep_spark import _csweep, io, partitioner

    if not compiled:
        monkeypatch.setattr(_csweep, "loaded_seq_tree", lambda: None)
    df = spark.createDataFrame(rows, "src long, dst long")
    call = {
        "write_xs1": lambda e: io.write_xs1(e, str(tmp_path / "g.xs1")),
        "fennel_partition": lambda e: partitioner.fennel_partition(e, e, 2),
    }.get(funnel) or getattr(graph, funnel)
    with pytest.raises(ValueError, match=f"column '{column}' has 1 null value"):
        call(df)
