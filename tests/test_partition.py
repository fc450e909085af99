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


def test_isomorphic_ids_dense(spark):
    edges = random_graph(50, 100, seed=5)
    sym, verts, vmeta = build_all(spark, edges, 3)
    iso = partitioner.isomorphic_ids(vmeta).collect()
    new_ids = sorted(r.new_vid for r in iso)
    assert new_ids == list(range(len(iso)))


def test_write_isomorphic_matches_python_port(spark, tmp_path):
    """writeIsomorphicGraph parity (partition.cpp:528-586): relabel by
    stable (part, pos) order, each undirected edge once, new-lo first."""
    from sheep_spark import graph, partitioner
    from tests.conftest import degree_pos, edges_df, random_graph

    edges = random_graph(40, 80, seed=17)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    assign = partitioner.naive_partition(verts, 3)
    vmeta = partitioner.vertex_meta(verts, assign).persist()

    path = str(tmp_path / "iso")
    partitioner.write_isomorphic(sym, vmeta, path, fmt="parquet")
    got = sorted((r.src, r.dst) for r in spark.read.parquet(path).collect())

    # python port: stable sort vids by (part, pos) → new id = index
    pos = degree_pos(edges)
    meta = {r.vid: r.part for r in vmeta.collect()}
    order = sorted(pos, key=lambda v: (meta[v], pos[v]))
    new_id = {v: i for i, v in enumerate(order)}
    want = sorted(
        (min(new_id[a], new_id[b]), max(new_id[a], new_id[b])) for a, b in edges
    )
    assert got == want

    # text interop sink produces the same edges
    partitioner.write_isomorphic(sym, vmeta, str(tmp_path / "iso_snap"), fmt="snap")
    from sheep_spark import io as sio

    snap = sorted((r.src, r.dst) for r in sio.read_snap(spark, str(tmp_path / "iso_snap")).collect())
    assert snap == want


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


def test_apply_down_reassign_rewrites_only_touched_dirs(spark, tmp_path):
    """End-to-end bounded reassignment: applying the delta to a
    partitionBy sink must (a) produce exactly the new full assignment,
    (b) drop fully-drained part directories, (c) leave untouched part
    directories byte-identical."""
    import os

    from pyspark.sql import functions as F

    from tests.conftest import edges_df, random_graph

    from sheep_spark import graph, partitioner

    edges = random_graph(100, 250, seed=19)
    sym = edges_df(spark, edges)
    verts = graph.vertices_from_edges(sym)
    vm_old = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 5))
    path = str(tmp_path / "parts")
    partitioner.write_partitioned(partitioner.down_assign(sym, vm_old), path)

    # scenario A: small perturbation — move the 8 lowest-pos vertices to
    # part 1; only their old parts and part 1 are touched
    assign_b = vm_old.select(
        "vid", F.when(F.col("pos") < 8, F.lit(1)).otherwise(F.col("part")).cast("int").alias("part")
    )
    vm_b = partitioner.vertex_meta(verts, assign_b)

    def dir_sig(p):
        d = f"{path}/part={p}"
        if not os.path.isdir(d):
            return None
        return sorted((f, os.path.getsize(f"{d}/{f}")) for f in os.listdir(d) if not f.startswith("."))

    untouched_before = {p: dir_sig(p) for p in range(5)}
    moves = partitioner.down_reassign(sym, vm_old, vm_b)
    touched = {r.part_old for r in moves.select("part_old").distinct().collect()} | {
        r.part_new for r in moves.select("part_new").distinct().collect()
    }
    stats = partitioner.apply_down_reassign(spark, path, moves)
    assert stats["parts_rewritten"] == len(touched) < 5
    got = {(r.src, r.dst, r.part) for r in spark.read.parquet(path).collect()}
    want = {(r.src, r.dst, r.part) for r in partitioner.down_assign(sym, vm_b).collect()}
    assert got == want
    for p in range(5):
        if p not in touched:
            assert dir_sig(p) == untouched_before[p], p

    # scenario B: shrink k 5 -> 3 — parts 3 and 4 drain entirely and
    # their directories must disappear
    vm_new = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 3))
    moves2 = partitioner.down_reassign(sym, vm_b, vm_new)
    partitioner.apply_down_reassign(spark, path, moves2)
    got2 = {(r.src, r.dst, r.part) for r in spark.read.parquet(path).collect()}
    want2 = {(r.src, r.dst, r.part) for r in partitioner.down_assign(sym, vm_new).collect()}
    assert got2 == want2
    assert dir_sig(3) is None and dir_sig(4) is None


def test_apply_down_reassign_crash_recovery(spark, tmp_path):
    """ADVICE r3: the rewrite is staged — a crash after the staging
    commit (mid-overwrite) is repaired idempotently by
    recover_down_reassign; an uncommitted staging dir (no manifest) is
    dropped without touching the sink."""
    import json
    import os

    from pyspark.sql import functions as F

    from tests.conftest import edges_df, random_graph

    from sheep_spark import graph, partitioner

    sym = edges_df(spark, random_graph(80, 200, seed=23))
    verts = graph.vertices_from_edges(sym)
    vm_old = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 4))
    path = str(tmp_path / "parts")
    partitioner.write_partitioned(partitioner.down_assign(sym, vm_old), path)

    assign_new = vm_old.select(
        "vid", F.when(F.col("pos") < 10, F.lit(2)).otherwise(F.col("part")).cast("int").alias("part")
    )
    vm_new = partitioner.vertex_meta(verts, assign_new)
    moves = partitioner.down_reassign(sym, vm_old, vm_new).persist()
    touched = sorted(
        {r.part_old for r in moves.select("part_old").distinct().collect()}
        | {r.part_new for r in moves.select("part_new").distinct().collect()}
    )
    assert touched

    # --- simulate the crash window: staging + manifest committed, sink
    # not yet overwritten (exactly the state after apply's staging step)
    staging, manifest = partitioner._reassign_staging_paths(path)
    new_full = partitioner.down_assign(sym, vm_new)
    new_touched = new_full.where(F.col("part").isin([int(p) for p in touched]))
    new_touched.write.mode("overwrite").partitionBy("part").parquet(staging)
    with open(manifest, "w") as f:
        json.dump({"touched": [int(p) for p in touched]}, f)

    got = partitioner.recover_down_reassign(spark, path)
    assert got and got["recovered"] and got["parts_rewritten"] == len(touched)
    have = {(r.src, r.dst, r.part) for r in spark.read.parquet(path).collect()}
    want = {(r.src, r.dst, r.part) for r in new_full.collect()}
    assert have == want
    assert not os.path.exists(staging) and not os.path.exists(manifest)
    # idempotent: nothing in flight now
    assert partitioner.recover_down_reassign(spark, path) is None

    # --- uncommitted staging (no manifest) must be dropped, sink intact
    os.makedirs(f"{staging}/part=0", exist_ok=True)
    before = {(r.src, r.dst, r.part) for r in spark.read.parquet(path).collect()}
    assert partitioner.recover_down_reassign(spark, path) is None
    assert not os.path.exists(staging)
    after = {(r.src, r.dst, r.part) for r in spark.read.parquet(path).collect()}
    assert after == before
    moves.unpersist()


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
