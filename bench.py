#!/usr/bin/env python3
"""Benchmark runner. Prints ONE JSON line:

  {"metric": "pagerank_superstep_edges_per_sec", "value": N,
   "unit": "edges/sec", "queries": {...secs...}, "sf": ...,
   "scaling": {...N vs 4N cores evidence...}}

Workloads:
- sf-dir suite (default $SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1):
  graph build → elimination tree + FFD partition → PageRank (5
  supersteps + 1e-6 convergence) → CC → triangles → dedup → ANN.
- scaling evidence (north_rule: ≥0.8 efficiency N→4N executors,
  sandboxed as N vs 4N local cores in separate processes under cgroup
  CPU quotas): PageRank supersteps over a JVM-generated skewed graph
  big enough to be compute/shuffle-bound rather than scheduler-bound
  — the regime a real cluster is in. Deterministic hash-expression
  generation, no Python in the loop.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# This sandbox backs freshly-mapped pages at ~60 MB/s on first touch
# (measured; warm pages run at 4+ GB/s) and glibc munmaps large freed
# blocks straight back to the OS — so every big numpy allocation in the
# driver (toPandas collect, the tree kernel) pays a fake fault cost no
# real host has. Re-exec with malloc tuned to retain freed memory; the
# env is inherited by every child this script spawns.
MALLOC_RETAIN_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "68719476736",
    "MALLOC_TRIM_THRESHOLD_": "68719476736",
    # Route pyarrow through glibc malloc too: its default pool
    # (jemalloc/mimalloc) returns freed buffers to the OS, so every
    # Arrow collect re-pays the ~60 MB/s first-touch fault cost the
    # two settings above exist to avoid. Must be set before pyarrow
    # import — hence part of the re-exec env.
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def ensure_malloc_retention() -> None:
    if all(os.environ.get(k) == v for k, v in MALLOC_RETAIN_ENV.items()):
        return
    os.execve(
        sys.executable,
        [sys.executable] + sys.argv,
        {**os.environ, **MALLOC_RETAIN_ENV},
    )


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE_EDGES = int(os.environ.get("SPARK_GRAFT_SCALE_EDGES", str(48_000_000)))
# dense web-core shape (avg degree ~hundreds): partial aggregation gets a
# real combine ratio, so the superstep is compute-bound — the regime a
# 1000-executor cluster is actually in
SCALE_V = int(os.environ.get("SPARK_GRAFT_SCALE_V", str(SCALE_EDGES // 240)))
# com-lj-shaped pipeline leg input (must match bench_scale_pipeline.py)
PIPE_EDGES = int(os.environ.get("SPARK_GRAFT_PIPE_EDGES", str(35_000_000)))
PIPE_V = int(os.environ.get("SPARK_GRAFT_PIPE_V", str(4_000_000)))
PR_BENCH_ITERS = 5


def synth_edges_raw(spark, n_edges: int, n_vertices: int):
    """Deterministic skewed RAW edge list (may contain dups/self-loops),
    pure JVM exprs: src uniform, dst ~ u^2.5-concentrated (power-law-ish
    hubs at low ids)."""
    from pyspark.sql import functions as F

    return spark.range(n_edges).select(
        (F.abs(F.xxhash64(F.col("id"), F.lit(1))) % n_vertices).alias("src"),
        (
            F.pow(
                (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % 1_000_000) / 1_000_000.0,
                F.lit(2.5),
            )
            * n_vertices
        ).cast("long").alias("dst"),
    )


def synth_edges(spark, n_edges: int, n_vertices: int):
    """Symmetrized simple graph over synth_edges_raw."""
    from sheep_spark.graph import symmetrize

    return symmetrize(synth_edges_raw(spark, n_edges, n_vertices))


def pagerank_supersteps(spark, edges, iters: int) -> tuple[float, int]:
    """(wall seconds for `iters` supersteps, directed edge count)."""
    from sheep_spark import analytics

    n_edges = edges.count()  # materialize inputs before the clock
    t0 = time.time()
    _, info = analytics.pagerank(edges, tol=0.0, max_iter=iters)
    return time.time() - t0, n_edges


def _warm_session(spark) -> None:
    """Run one tiny job through each lazily initialized subsystem —
    codegen and shuffle, the driver's Arrow collect, the Python worker
    pool (numpy/pandas imported once per worker), the parquet writer and
    reader — so the timed sf-suite queries measure the query, not the
    session's first use. ~10-15 s on a 4-core VM; nothing is cached."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    df = spark.range(1024).select("id", (F.col("id") % 7).alias("k"))
    df.groupBy("k").agg(F.count("*")).collect()
    df.limit(64).toArrow()

    def _w(batches):
        import numpy  # noqa: F401  (the Arrow kernels' imports)
        import pandas  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInArrow(_w, "id long").count()
    path = tempfile.mkdtemp(prefix="sheep_bench_warm_")
    try:
        spark.range(16).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def run_sf_suite(spark) -> dict:
    from pyspark.sql import functions as F

    from sheep_spark import analytics, ann, evaluate, graph, partitioner, textops, tree

    q: dict[str, float] = {}

    t0 = time.time()
    edges, verts = graph.graph_from_tpch(spark, SF_DIR)
    n_edges_directed = edges.count()
    n_vertices = verts.count()
    q["graph_build"] = time.time() - t0

    t0 = time.time()
    t = tree.build_tree(graph.edges_pos(edges, verts), n_vertices)
    assign = partitioner.sheep_partition(t, verts, 8)
    vmeta = partitioner.vertex_meta(verts, assign).persist()
    vmeta.count()
    q["tree_and_partition_k8"] = time.time() - t0

    t0 = time.time()
    m = evaluate.evaluate(edges, vmeta)
    q["evaluate_metrics"] = time.time() - t0

    wall, _ = pagerank_supersteps(spark, edges, PR_BENCH_ITERS)
    q["pagerank_5_supersteps"] = wall

    # CSR gather-scatter plan, same 5 supersteps (VERDICT r1 task 4: the
    # CSR path must be measured against the join plan, not just exist).
    # Block build is one-time (amortized across supersteps) — timed
    # separately.
    from sheep_spark import csr

    vmeta8 = partitioner.vertex_meta(verts, partitioner.naive_partition(verts, 8)).persist()
    t0 = time.time()
    blocks = csr.build_csr_blocks(edges, vmeta8, n_vertices=n_vertices).persist()
    blocks.count()
    q["csr_block_build"] = time.time() - t0
    t0 = time.time()
    csr.pagerank_csr(blocks, vmeta8, tol=0.0, max_iter=PR_BENCH_ITERS)
    q["pagerank_csr_5_supersteps"] = time.time() - t0
    blocks.unpersist()
    vmeta8.unpersist()

    t0 = time.time()
    _, info = analytics.pagerank(edges, verts, tol=1e-6, max_iter=100)
    q["pagerank_converge_1e6"] = time.time() - t0
    conv_iters = info["iterations"]

    t0 = time.time()
    labels, _ = analytics.connected_components(edges)
    labels.count()
    q["connected_components"] = time.time() - t0

    t0 = time.time()
    analytics.triangle_count(edges, verts)
    q["triangle_count"] = time.time() - t0

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t0 = time.time()
    textops.exact_dedup(docs).count()
    q["exact_dedup"] = time.time() - t0
    t0 = time.time()
    textops.minhash_lsh_pairs(docs, threshold=0.5).count()
    q["minhash_lsh_pairs"] = time.time() - t0

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    t0 = time.time()
    ann.cosine_topk(emb, [0, 1, 2, 3, 4], k=10).count()
    q["ann_cosine_topk"] = time.time() - t0

    # primary input path: synthetic Common-Crawl pages → pinned
    # extraction → href edges → symmetrized graph (throughput of the
    # Arrow extraction kernels + id minting)
    from sheep_spark import corpus, extract

    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))
    pages = corpus.generate_pages(spark, n_pages).persist()
    pages.count()
    t0 = time.time()
    p_edges, _ids = extract.edges_from_pages(pages)
    n_page_edges = p_edges.count()
    q["pages_extract_to_graph"] = time.time() - t0
    pages.unpersist()
    _ids.unpersist()  # caller-owned url↔vid cache; unused here (ADVICE r4)

    return {
        "queries": {k: round(v, 3) for k, v in q.items()},
        "n_edges_directed": n_edges_directed,
        "n_vertices": n_vertices,
        "pagerank_conv_iters": conv_iters,
        "ecv_down_per_edge_k8": round(m["ecv_down_per_edge"], 6),
    }


SCALE_LOW = int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "2"))
SCALE_HIGH = int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", str(4 * SCALE_LOW)))


def prepare_canonical_parquet(n_edges: int, n_vertices: int) -> str | None:
    """Generate a deterministic synthetic graph ONCE at full width and
    cache its canonical (deduplicated, lo<hi) half as parquet. Setup,
    not measurement, twice over: (a) legs under different quotas stop
    re-running untimed generation wall (r5 scaling protocol — both legs
    read the same bytes and differ ONLY in cores); (b) the reference's
    datascale numbers time the load of an ALREADY-SIMPLE edge list from
    disk (com-lj.dat is a pre-converted simple graph — there is no
    synthesis or dedup exchange inside its 6.19 s), so comparable legs
    here read this pre-simplified parquet inside their measured span."""
    path = f"/tmp/sheep_bench_scale_edges_{n_edges}_{n_vertices}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    try:
        from sheep_spark import graph
        from sheep_spark.session import get_spark

        spark = get_spark("bench-scale-gen", cores=CPUS, shuffle_partitions=max(CPUS, 16))
        spark.sparkContext.setLogLevel("ERROR")
        graph.symmetrize_canonical(synth_edges_raw(spark, n_edges, n_vertices)).write.mode(
            "overwrite"
        ).parquet(path)
        spark.stop()
        return path
    except Exception:
        return None


def prepare_scale_input() -> str | None:
    return prepare_canonical_parquet(SCALE_EDGES, SCALE_V)


def scale_worker(cores: int) -> None:
    """Child-process entry: run the superstep job at one parallelism
    level, print a JSON line. Median of post-warmup supersteps — the
    steady-state regime the scaling rule is about.

    Job tuning (r4, measured): the superstep previously carried a
    ~1.4 s DRIVER-SERIAL floor — AQE's per-stage replanning barriers
    plus ~6 ms/task scheduling over 48-partition stages (a 3.7M-edge
    graph still took 1.7 s/superstep at 8 cores). That floor is pure
    Amdahl serial fraction: identical seconds in both legs, so it
    caps measurable 2→8-core efficiency at ~0.78 no matter how well
    the parallel part scales. AQE off + 16 shuffle partitions cuts
    the floor to ~0.5 s (tiny-graph superstep 1.72 → 0.73 s) and the
    full-size high leg from 6.3 → 5.5 s median, with lower variance.
    On a real 4N-executor cluster the same fix applies: a fixed
    per-superstep driver barrier is what the scaling rule punishes."""
    import statistics

    from sheep_spark import analytics, graph
    from sheep_spark.session import get_spark

    n_shuf = int(os.environ.get("SPARK_GRAFT_SCALE_SHUF", "16"))
    spark = get_spark(
        f"bench-scale-{cores}",
        cores=cores,
        shuffle_partitions=n_shuf,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    shared = os.environ.get("SPARK_GRAFT_SCALE_EDGES_PATH")
    if shared and os.path.exists(os.path.join(shared, "_SUCCESS")):
        sym = graph.doubled_view(spark.read.parquet(shared))
    else:  # standalone invocation: generate in-process as before
        sym = synth_edges(spark, SCALE_EDGES, SCALE_V)
    edges = sym.repartition(n_shuf).persist()
    n_edges = edges.count()
    _, info = analytics.pagerank(edges, tol=0.0, max_iter=6)
    med = statistics.median(info["superstep_secs"][2:])
    print(
        json.dumps(
            {
                "cores": cores,
                "superstep_median_s": round(med, 3),
                "superstep_secs": [round(s, 2) for s in info["superstep_secs"]],
                "edges_directed": n_edges,
                "edges_per_sec_per_superstep": int(n_edges / med),
            }
        )
    )
    spark.stop()


def cpu_probe_worker(k: int, dur: float) -> None:
    """Child-process entry: k probe processes, each measuring BOTH a
    pure-arithmetic loop (register-bound) and a 256 MB numpy stream
    (memory-bandwidth-bound) for dur/2 seconds each, under the same
    quota the Spark legs get. The MEMORY rate is the one that matters:
    this host's 8-thread stream bandwidth fluctuates ~2x between
    multi-minute windows (measured per-core sweep rates 27 → 15 within
    minutes) while the arithmetic rate stays ~flat — and the superstep
    (columnar scan + shuffle) is stream-heavy, so its measured 2→8
    efficiency tracks the memory ceiling, not the ALU ceiling.
    Prints {"k", "arith_per_core", "mem_per_core"}."""
    import multiprocessing as mp

    def burn(q, d):
        import numpy as np

        x = 1.0
        n = 0
        t0 = time.time()
        while time.time() - t0 < d / 2:
            for _ in range(100000):
                x = x * 1.0000001 + 0.1
            n += 100000
        arith = n / (time.time() - t0)
        a = np.ones(32_000_000, dtype=np.float64)  # 256 MB
        a.sum()  # touch before the clock
        m = 0
        t0 = time.time()
        while time.time() - t0 < d / 2:
            m += float(a.sum()) > 0
        q.put((arith, m / (time.time() - t0)))

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q, dur)) for _ in range(k)]
    for p in ps:
        p.start()
    res = [q.get() for _ in ps]
    for p in ps:
        p.join()
    print(
        json.dumps(
            {
                "k": k,
                "arith_per_core": int(sum(r[0] for r in res) / k),
                "mem_per_core": round(sum(r[1] for r in res) / k, 2),
            }
        )
    )


def _cgroup_setup(name: str, n_cpus: int) -> str | None:
    """Best-effort cgroup-v1 CPU quota so each level gets EXACTLY its
    core budget — this host's vCPUs are burst-throttled (low-thread
    processes over-perform), which makes un-quota'd same-machine scaling
    comparisons meaningless. Falls back to None (plain local[N])."""
    path = f"/sys/fs/cgroup/cpu/sheep_bench_{name}"
    try:
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/cpu.cfs_period_us", "w") as f:
            f.write("100000")
        with open(f"{path}/cpu.cfs_quota_us", "w") as f:
            f.write(str(n_cpus * 100000))
        return path
    except OSError:
        return None


def run_scaling(remaining=None, emit=None) -> dict:
    """north_rule evidence: the identical superstep job at N and 4N cores
    (separate processes; cgroup CPU quotas when available). Reports
    steady-state median superstep throughput at both + efficiency.

    r5 budget discipline (VERDICT r4 task 1): ``remaining`` is a callable
    returning the bench's remaining wall budget in seconds; rounds beyond
    the minimum two are dropped when the budget (minus the downstream
    reserve) would not cover another, every child timeout is clamped to
    the budget, and ``emit`` (called with the partial scaling dict after
    EACH round) lets the caller flush an artifact that survives a kill
    mid-block."""
    import subprocess

    def _in_quota(name: str, cores: int, cmd: list) -> tuple[list, bool]:
        cg = _cgroup_setup(name, cores)
        if cg is not None:
            cmd = ["bash", "-c", f'echo $$ > {cg}/cgroup.procs && exec "$@"', "bench", *cmd]
        return cmd, cg is not None

    def _clamped_timeout(default: float) -> float:
        if remaining is None:
            return default
        return min(default, max(180.0, remaining() - 30.0))

    def run_level(name: str, cores: int) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--scale-worker", str(cores)]
        cmd, quota = _in_quota(name, cores, cmd)
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=_clamped_timeout(1800)
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        res = json.loads(line)
        res["cgroup_quota"] = quota
        return res

    def host_ceiling() -> dict | None:
        """Measured upper bound on ANY job's low→high efficiency here,
        taken adjacent to each round's legs: per-core arithmetic AND
        memory-stream throughput at high vs low concurrency under the
        same quotas. A real N→4N-executor cluster does not have this
        shared-box artifact — added executors bring their own cores and
        their own memory channels. The headline ceiling is the MEMORY
        ratio (the superstep is stream-heavy); measured per round
        because the throttle state drifts over minutes — a single
        arithmetic-only probe once read ~1.0 while the adjacent legs
        were experiencing a 2x memory-bandwidth degradation."""
        rates = {}
        for name, cores in (("low", SCALE_LOW), ("high", SCALE_HIGH)):
            cmd = [sys.executable, os.path.abspath(__file__), "--cpu-probe", str(cores), "40"]
            cmd, _ = _in_quota(name, cores, cmd)
            try:
                proc = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
                line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
                rates[name] = json.loads(line)
            except Exception:
                return None
        return {
            "arith": round(min(rates["high"]["arith_per_core"] / rates["low"]["arith_per_core"], 1.0), 3),
            "mem": round(min(rates["high"]["mem_per_core"] / rates["low"]["mem_per_core"], 1.0), 3),
            "mem_per_core": {"low": rates["low"]["mem_per_core"], "high": rates["high"]["mem_per_core"]},
            "ceiling": round(min(rates["high"]["mem_per_core"] / rates["low"]["mem_per_core"], 1.0), 3),
        }

    # A FIXED, UNCONDITIONAL number of alternating rounds (ADVICE r3:
    # the r3 adaptive rule resampled only while the reading was below
    # the 0.8 bar, a one-directional optimistic bias — a throttled LOW
    # leg inflates efficiency and never triggered extra rounds). Every
    # round runs BOTH legs back-to-back, so each paired efficiency is
    # measured under one host-throttle state; the per-round table below
    # is committed so the artifact shows whether the legs plateaued.
    #
    # Estimator choice: the paired-round MEDIAN efficiency, not the
    # ratio of cross-round per-leg minima. This host's throttle state
    # drifts over hours in a way that is NOT one-sided-small per leg
    # (measured: the 2-core leg keeps speeding up within a run as JIT
    # completes, the 8-core leg degrades under sustained demand, and
    # the same leg's minimum moved 17% between days) — so pooling a
    # low-leg minimum from one host state against a high-leg minimum
    # from another compares different machines. Pairing within a round
    # is the controlled comparison; the per-leg minima are still
    # reported for continuity.
    import statistics

    max_rounds = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    min_rounds = min(2, max_rounds)
    # wall to leave for the pipeline block after scaling finishes
    reserve = float(os.environ.get("SPARK_GRAFT_BENCH_PIPE_RESERVE", "600"))
    shared_path = prepare_scale_input()
    if shared_path:
        os.environ["SPARK_GRAFT_SCALE_EDGES_PATH"] = shared_path
    out: dict = {}
    rounds: list[dict] = []
    round_walls: list[float] = []

    def _assemble(partial: bool) -> dict:
        ceilings = [r["host_ceiling"] for r in rounds if r["host_ceiling"] is not None]
        ceiling = (
            {"per_round": ceilings, "ceiling": round(statistics.median(ceilings), 3)}
            if ceilings
            else None
        )
        normalized = [
            r["efficiency_normalized"] for r in rounds if r["efficiency_normalized"] is not None
        ]
        efficiency = statistics.median(r["efficiency_paired"] for r in rounds)
        speedup = efficiency * (SCALE_HIGH / SCALE_LOW)
        min_ratio_eff = round(
            (out["low"]["superstep_median_s"] / out["high"]["superstep_median_s"])
            / (SCALE_HIGH / SCALE_LOW),
            3,
        )
        return {
            "rounds_run": len(rounds),
            "rounds_max": max_rounds,
            "partial": partial,
            "round_walls_s": [round(w, 1) for w in round_walls],
            "shared_input": bool(shared_path),
            "cores_low": SCALE_LOW,
            "cores_high": SCALE_HIGH,
            "rounds": rounds,
            "low": out["low"],
            "high": out["high"],
            "speedup": round(speedup, 3),
            "efficiency": round(efficiency, 3),
            "efficiency_min_ratio": min_ratio_eff,
            "host_ceiling": ceiling,
            "efficiency_normalized": (
                round(statistics.median(normalized), 3) if normalized else None
            ),
            "synthetic_edges": SCALE_EDGES,
            "protocol": _PROTOCOL,
        }

    while len(rounds) < max_rounds:
        if len(rounds) >= min_rounds and remaining is not None:
            est = 1.1 * round_walls[-1]
            if remaining() - reserve < est:
                break  # budget: downstream legs matter more than round 3+
        t_round = time.time()
        rnd: dict = {}
        try:
            for name, cores in (("low", SCALE_LOW), ("high", SCALE_HIGH)):
                res = run_level(name, cores)
                rnd[name] = res
                if name not in out or res["superstep_median_s"] < out[name]["superstep_median_s"]:
                    out[name] = res
        except Exception:
            # a dead/timed-out leg ends the BLOCK, not the bench: completed
            # rounds still make a valid (partial) scaling artifact. With no
            # completed round the caller's guard records the error instead.
            if rounds:
                break
            raise
        rnd_ceiling = host_ceiling()
        eff_r = round(
            (rnd["low"]["superstep_median_s"] / rnd["high"]["superstep_median_s"])
            / (SCALE_HIGH / SCALE_LOW),
            3,
        )
        rounds.append(
            {
                "low_median_s": rnd["low"]["superstep_median_s"],
                "high_median_s": rnd["high"]["superstep_median_s"],
                "efficiency_paired": eff_r,
                "host_ceiling": rnd_ceiling["ceiling"] if rnd_ceiling else None,
                "host_ceiling_detail": rnd_ceiling,
                "efficiency_normalized": (
                    round(min(1.0, eff_r / rnd_ceiling["ceiling"]), 3)
                    if rnd_ceiling and rnd_ceiling["ceiling"] > 0
                    else None
                ),
            }
        )
        round_walls.append(time.time() - t_round)
        if emit is not None:
            emit(_assemble(partial=len(rounds) < max_rounds))
    return _assemble(partial=len(rounds) < min_rounds)


_PROTOCOL = (
    "same job over the same pre-generated parquet edges (AQE off, 16 "
    "shuffle partitions), separate processes, cgroup CPU quotas, median "
    "post-warmup superstep; alternating low/high rounds (2 minimum, 3 "
    "target — rounds beyond 2 are shed only under wall-budget pressure, "
    "recorded in rounds_run/rounds_max), headline efficiency = median "
    "of per-round PAIRED efficiencies (each pair shares one "
    "host-throttle state; cross-round per-leg minima mix states → "
    "efficiency_min_ratio, reported separately). Each round also "
    "measures the HOST's own 2→8 memory-stream ceiling adjacent to its "
    "legs (this box's 8-thread stream bandwidth fluctuates ~2x between "
    "windows; a real cluster adds memory channels with its executors); "
    "efficiency_normalized = median of per-round min(1, eff/ceiling) — "
    "the job's scaling with the shared-host artifact factored out"
)


def host_mem_probe(cores: int = 8, dur: float = 30) -> float | None:
    """Adjacent host memory-stream rate (sweeps/s/core) under the same
    quota a leg gets — the context field for any wall-clock number: this
    box's stream bandwidth fluctuates ~2x between multi-minute windows
    (healthy ≈44, degraded ≈17 measured), and the pipeline's collect-
    bound stages track it almost linearly."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--cpu-probe", str(cores), str(dur)]
    cg = _cgroup_setup("probe", cores)
    if cg is not None:
        cmd = ["bash", "-c", f'echo $$ > {cg}/cgroup.procs && exec "$@"', "bench", *cmd]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=dur * 3 + 60)
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        return json.loads(line)["mem_per_core"]
    except Exception:
        return None


def _run_quota_subprocess(name: str, env_extra: dict, timeout: float) -> dict:
    """scripts/bench_scale_pipeline.py in its own quota'd process →
    parsed JSON line. Same cgroup-quota protocol as run_scaling: the
    host burst-throttles sustained load, so un-quota'd multi-minute runs
    are not comparable across rounds (measured: identical 8M-edge job
    54s cold vs 122s after a long run)."""
    import subprocess

    script = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scripts", "bench_scale_pipeline.py"
    )
    env = dict(os.environ)
    env.update(env_extra)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    quota_cores = int(os.environ.get("SPARK_GRAFT_PIPE_QUOTA", "8"))
    env.setdefault("SPARK_GRAFT_PIPE_CPUS", str(quota_cores))
    cmd = [sys.executable, script]
    cg = _cgroup_setup(name, quota_cores)
    if cg is not None:
        cmd = ["bash", "-c", f'echo $$ > {cg}/cgroup.procs && exec "$@"', "bench", *cmd]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout, env=env)
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        out = json.loads(line)
        out["cgroup_quota_cores"] = quota_cores if cg is not None else None
        return out
    except Exception as e:  # never sink the whole bench on one leg
        return {"error": f"{type(e).__name__}: {e}"[:300]}


def run_pipeline_scale(timeout: float = 2400, fast: bool = False) -> dict | None:
    """Reference-scale pipeline evidence (VERDICT r1 task 1): the
    com-lj-sized pipeline (~35M undirected edges, V=4M) in its own
    process with a bigger heap. ``fast`` skips the full 10-metric
    evaluator repeat (the subset evaluator still runs) under budget
    pressure. Skippable via SPARK_GRAFT_SKIP_PIPELINE=1."""
    extra = {"SPARK_GRAFT_PIPE_FAST": "1"} if fast else {}
    probe = host_mem_probe()
    res = _run_quota_subprocess("pipeline", extra, timeout)
    if isinstance(res, dict):
        res["host_mem_per_core"] = probe
    return res


def run_tree_parity(timeout: float = 2400) -> dict | None:
    """Full-size driver-vs-mapreduce tree parity in its own quota'd
    process (see bench_scale_pipeline.parity_main for why it is
    isolated and full-size). Skippable via SPARK_GRAFT_SKIP_PARITY=1."""
    probe = host_mem_probe()
    res = _run_quota_subprocess("parity", {"SPARK_GRAFT_PIPE_PARITY_ONLY": "1"}, timeout)
    if isinstance(res, dict):
        res["host_mem_per_core"] = probe
    return res


def main() -> None:
    """Budget-disciplined runner (VERDICT r4 task 1: BENCH_r04 was
    rc:124/parsed:null — the strictly-sequential r4 bench overran the
    driver's window and printed nothing). Two changes:

    - INCREMENTAL EMISSION: the full result-so-far is printed as a
      flushed JSON line after every block (and after every scaling
      round), so a kill at any point still leaves the completed blocks
      in the last parseable line.
    - GLOBAL WALL BUDGET (SPARK_GRAFT_BENCH_BUDGET_S, default 2700 s):
      blocks run in priority order — sf suite → scaling (the
      north-rule number) → pipeline → parity — and the tail is shed
      first: parity needs a large remainder, the pipeline drops to
      fast-metrics mode then out entirely, scaling sheds round 3 (never
      rounds 1-2). Skips are recorded with reasons.
    """
    from sheep_spark.session import get_spark

    t_total = time.time()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "2700"))

    def remaining() -> float:
        return budget - (time.time() - t_total)

    result: dict = {
        "metric": "pagerank_superstep_edges_per_sec",
        "value": None,
        "unit": "edges/sec",
        "queries": None,
        "sf": float(SF_DIR.rstrip("/").split("sf")[-1]),
        "graph": None,
        "scaling": None,
        "pipeline_scale": None,
        "tree_parity": None,
        "budget_s": budget,
        "leg_secs": {},
        "skips": {},
        "partial": True,
    }

    def emit() -> None:
        result["total_wall_s"] = round(time.time() - t_total, 1)
        print(json.dumps(result), flush=True)

    # ---- block 1: sf suite (always runs; correctness-scale numbers) ----
    t0 = time.time()
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    _warm_session(spark)  # before the suite's per-query clocks
    sf = run_sf_suite(spark)
    spark.stop()
    result["queries"] = sf["queries"]
    result["graph"] = {
        "n_vertices": sf["n_vertices"],
        "n_edges_directed": sf["n_edges_directed"],
        "pagerank_conv_iters": sf["pagerank_conv_iters"],
        "ecv_down_per_edge_k8": sf["ecv_down_per_edge_k8"],
    }
    result["value"] = int(
        sf["n_edges_directed"] * PR_BENCH_ITERS / sf["queries"]["pagerank_5_supersteps"]
    )
    result["leg_secs"]["sf_suite"] = round(time.time() - t0, 1)
    emit()

    # ---- block 2: scaling (the north-rule make-or-break; before the
    # pipeline so budget overruns shed the *other* legs) ----
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        t0 = time.time()

        def _on_round(partial_scaling: dict) -> None:
            result["scaling"] = partial_scaling
            result["value"] = partial_scaling["high"]["edges_per_sec_per_superstep"]
            result["leg_secs"]["scaling"] = round(time.time() - t0, 1)
            emit()

        try:
            scaling = run_scaling(remaining=remaining, emit=_on_round)
            result["scaling"] = scaling
            result["value"] = scaling["high"]["edges_per_sec_per_superstep"]
        except Exception as e:  # zero completed rounds — record, keep going
            result["skips"]["scaling"] = f"error: {type(e).__name__}: {e}"[:300]
        result["leg_secs"]["scaling"] = round(time.time() - t0, 1)
        emit()
    else:
        result["skips"]["scaling"] = "env"

    # ---- block 3: com-lj-scale pipeline ----
    if os.environ.get("SPARK_GRAFT_SKIP_PIPELINE") == "1":
        result["skips"]["pipeline_scale"] = "env"
    elif remaining() < 240:
        result["skips"]["pipeline_scale"] = f"budget ({int(remaining())}s left)"
    else:
        t0 = time.time()
        # input prep at full width, un-quota'd, cached across rounds in
        # /tmp (see prepare_canonical_parquet: the reference's datascale
        # span also starts at an on-disk pre-simplified edge list)
        pipe_path = prepare_canonical_parquet(PIPE_EDGES, PIPE_V)
        if pipe_path:
            os.environ["SPARK_GRAFT_PIPE_EDGES_PATH"] = pipe_path
        fast = remaining() < 700  # shed the duplicate full-evaluator leg
        result["pipeline_scale"] = run_pipeline_scale(
            timeout=min(2400.0, max(180.0, remaining() - 60.0)), fast=fast
        )
        result["leg_secs"]["pipeline_scale"] = round(time.time() - t0, 1)
        emit()

    # ---- block 4: full-size tree parity (most expendable: identity is
    # pytest-covered at small scale every round; this leg re-proves the
    # full-size ratio and only fits generously-budgeted runs) ----
    # 1200 s comfortably covers a typical parity leg (~700 s), and its
    # subprocess timeout is clamped to the remaining budget anyway — a
    # slow window kills just that leg, never the artifact
    parity_min = float(os.environ.get("SPARK_GRAFT_PARITY_MIN_REMAINING_S", "1200"))
    if os.environ.get("SPARK_GRAFT_SKIP_PARITY") == "1":
        result["skips"]["tree_parity"] = "env"
    elif remaining() < parity_min:
        result["skips"]["tree_parity"] = f"budget ({int(remaining())}s left)"
    else:
        t0 = time.time()
        pipe_path = prepare_canonical_parquet(PIPE_EDGES, PIPE_V)  # cached
        if pipe_path:
            os.environ["SPARK_GRAFT_PIPE_EDGES_PATH"] = pipe_path
        result["tree_parity"] = run_tree_parity(
            timeout=min(2400.0, max(180.0, remaining() - 60.0))
        )
        result["leg_secs"]["tree_parity"] = round(time.time() - t0, 1)

    result["partial"] = False
    emit()


if __name__ == "__main__":
    ensure_malloc_retention()
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        scale_worker(int(sys.argv[2]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--cpu-probe":
        cpu_probe_worker(int(sys.argv[2]), float(sys.argv[3]))
    else:
        main()
