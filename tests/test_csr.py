from sheep_spark import analytics, csr, graph, partitioner
from tests.conftest import edges_df, random_graph


def setup_graph(spark, n=80, m=180, k=3, seed=41):
    edges = edges_df(spark, random_graph(n, m, seed=seed)).persist()
    verts = graph.vertices_from_edges(edges)
    vmeta = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, k)).persist()
    return edges, vmeta


def test_csr_blocks_cover_all_edges(spark):
    edges, vmeta = setup_graph(spark)
    blocks = csr.build_csr_blocks(edges, vmeta).collect()
    total_edges = sum(len(b.out_idx) for b in blocks)
    assert total_edges == edges.count()  # symmetrized: every directed row once
    for b in blocks:
        assert len(b.vids) == len(b.deg) == len(b.indptr) - 1
        assert b.indptr[-1] == len(b.out_idx)
        assert max(b.out_idx) < len(b.out_vids)
    # every vertex appears in exactly one (part, vid) block set
    seen = [v for b in blocks for v in b.vids]
    assert len(seen) == len(set(seen))


def test_csr_sub_block_split(spark):
    edges, vmeta = setup_graph(spark)
    blocks = csr.build_csr_blocks(edges, vmeta, max_edges_per_block=50).collect()
    assert max(len(b.out_idx) for b in blocks) <= 50 + 30  # vertex-aligned overshoot
    seen = [v for b in blocks for v in b.vids]
    assert len(seen) == len(set(seen))  # still unique across sub-blocks


def test_pagerank_csr_matches_join_pagerank(spark):
    edges, vmeta = setup_graph(spark)
    blocks = csr.build_csr_blocks(edges, vmeta)
    ranks_csr, info_csr = csr.pagerank_csr(blocks, vmeta, tol=0.0, max_iter=5)
    ranks_join, info_join = analytics.pagerank(edges, tol=0.0, max_iter=5)
    a = {r.vid: r.rank for r in ranks_csr.collect()}
    b = {r.vid: r.rank for r in ranks_join.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-9 for v in a)
    assert abs(sum(a.values()) - 1.0) < 1e-9
