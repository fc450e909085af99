"""Cache-lifecycle hygiene (VERDICT r2 task 6): the LSH/jaccard ops must
not leave session-lifetime caches behind. The ANN ops cache nothing at
all; the textops pair ops release their dependency caches in finally
(only the returned result's own localCheckpoint storage — owned by the
caller, not a session cache — may remain)."""

from sheep_spark import ann, textops

SF01 = "/root/testdata/sf0.01"


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ann_lsh_ops_cache_nothing(spark):
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    before = _persistent_rdd_ids(spark)
    ann.lsh_topk(emb, [0, 1, 2], k=5, n_planes=2, n_tables=2).count()
    ann.lsh_pairs(emb, min_cosine=0.3, n_planes=3, n_tables=2).count()
    # No new persistent RDD. Earlier tests' localCheckpoint RDDs may be
    # dropped meanwhile by Spark's ContextCleaner once the JVM collects
    # their DataFrames, so the id set, not its size, is compared.
    assert _persistent_rdd_ids(spark) - before == set()


def test_textops_pair_ops_release_dependency_caches(spark):
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF01}/documents.parquet").limit(120)
    r1 = textops.jaccard_pairs(docs, threshold=0.5)
    r2 = textops.minhash_lsh_pairs(docs, threshold=0.5)
    assert r1.count() >= 0 and r2.count() >= 0
    # the toks/sig persists are gone — nothing left in the cache manager
    assert _cache_manager_empty(spark)


def test_triangle_count_releases_oriented_cache(spark):
    """VERDICT r3 leak fix: triangle_count persists the oriented edge
    table for the 3-scan wedge join, and must release it."""
    from tests.conftest import edges_df, random_graph

    from sheep_spark import analytics, graph

    spark.catalog.clearCache()
    edges = edges_df(spark, random_graph(60, 150, seed=7))
    verts = graph.vertices_from_edges(edges)
    n = analytics.triangle_count(edges, verts)
    assert n >= 0
    assert _cache_manager_empty(spark)


def test_edges_from_pages_releases_href_cache(spark):
    """VERDICT r3 leak fix: the E-row href table must be released; only
    the caller-owned ids frame may remain cached."""
    from sheep_spark import corpus, extract

    spark.catalog.clearCache()
    pages = corpus.generate_pages(spark, 80)
    edges, ids = extract.edges_from_pages(pages)
    assert edges.count() > 0
    ids.unpersist()  # caller-owned per the docstring
    assert _cache_manager_empty(spark)
