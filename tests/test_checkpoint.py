from sheep_spark import analytics, tree
from sheep_spark.checkpointing import Checkpointer
from tests.conftest import edges_df, random_graph


def test_pagerank_resume_matches_straight_run(spark, tmp_path, monkeypatch):
    """Kill after superstep i → resume from checkpoint → same scores
    (FIXTURES.md F8). Only the Spark path checkpoints, so the cap is set
    to -1 to take it on this small graph."""
    monkeypatch.setattr(tree, "DRIVER_TREE_MAX_EDGES", -1)
    edges = random_graph(50, 110, seed=31)
    sym = edges_df(spark, edges)

    straight, info = analytics.pagerank(sym, tol=1e-7, max_iter=12)
    assert info["path"] == "spark"
    want = {r.vid: r.rank for r in straight.collect()}

    ck = Checkpointer(spark, str(tmp_path / "pr"), job="pagerank")
    # "killed" run: only 5 supersteps happen
    analytics.pagerank(sym, tol=1e-7, max_iter=5, checkpointer=ck)
    assert ck.complete_iterations() == [0, 1, 2, 3, 4]

    resumed, rinfo = analytics.pagerank(sym, tol=1e-7, max_iter=12, checkpointer=ck)
    got = {r.vid: r.rank for r in resumed.collect()}
    assert rinfo["iterations"] == info["iterations"]  # same total superstep count
    assert set(got) == set(want)
    assert all(abs(got[v] - want[v]) < 1e-12 for v in want)

    # per-partition lineage + metrics recorded every superstep
    m = ck.metrics(3)
    assert m["lineage"] == "pagerank:iter=3<-iter=2"
    assert m["rows"] == sum(p["rows"] for p in m["partitions"])
    assert "l1_delta" in m


def test_lp_resume(spark, tmp_path):
    edges = random_graph(60, 130, seed=41)
    sym = edges_df(spark, edges)
    straight, _ = analytics.label_propagation(sym, max_iter=4)
    want = {r.vid: r.label for r in straight.collect()}

    ck = Checkpointer(spark, str(tmp_path / "lp"), job="lp")
    analytics.label_propagation(sym, max_iter=2, checkpointer=ck)
    resumed, _ = analytics.label_propagation(sym, max_iter=4, checkpointer=ck)
    got = {r.vid: r.label for r in resumed.collect()}
    assert got == want
