"""The three benchmark workloads: one measured pass each, plus output checks.

A pass returns its wall time, its step times (see README.md) and the
outputs the check needs; ``check_*`` compares them with the oracle
expectations that ``gen.py`` cached beside the input and returns a list
of mismatches (empty when the pass is correct).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CLI = os.path.join("scripts", "run_pipeline.py")
CLI_K = 8
REPART_KS = (8, 64)
CLI_METRICS = ("n_edges", "edges_cut", "ecv_down", "down_balance", "ecv_down_per_edge")

# Public functions each workload must reach; a traced run with any of
# these at zero calls fails loudly (the workload no longer measures
# what its name says).
EXPECTED_CALLS = {
    "pipeline-cli": ("session.get_spark", "graph.symmetrize", "graph.vertices_from_edges",
                     "graph.edges_pos", "tree.build_tree", "partitioner.sheep_partition",
                     "partitioner.vertex_meta", "evaluate.evaluate", "partitioner.down_assign",
                     "partitioner.write_partitioned"),
    "repartition-eval": ("session.get_spark", "graph.doubled_view", "tree.load_tree",
                         "tree.load_sequence", "partitioner.sheep_partition",
                         "partitioner.tree_to_arrays", "partitioner.forward_partition",
                         "partitioner.vertex_meta", "evaluate.evaluate"),
    "analytics": ("session.get_spark", "graph.doubled_view", "graph.vertices_from_edges",
                  "analytics.pagerank", "analytics.connected_components",
                  "analytics.triangle_count"),
}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))


def _compare_metrics(got: dict, want: dict, keys, label: str) -> list[str]:
    bad = []
    for key in keys:
        g, w = got.get(key), want[key]
        if g is None or not _close(float(g), float(w)):
            bad.append(f"{label} {key}: got {g}, expected {w}")
    return bad


# -- pipeline-cli: the CLI as a child process ------------------------------

def cli_pass(inp: str, work: str, env: dict, timeout: float, tag: str) -> dict:
    """Run the pipeline CLI once through the launcher; wall is the child
    process from launch to exit."""
    sink = os.path.join(work, f"sink-{tag}")
    sidecar = os.path.join(work, f"sidecar-{tag}.json")
    cmd = [sys.executable, os.path.join(HERE, "cli_launcher.py"), sidecar, CLI,
           "--input", os.path.join(inp, "raw.xs1"), "--format", "xs1",
           "--k", str(CLI_K), "--output", sink]
    with open(os.path.join(work, f"cli-{tag}.log"), "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise
        wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"pipeline CLI exited {proc.returncode}; log in {log.name}")
    report = json.loads([ln for ln in stdout.splitlines() if ln.startswith("{")][-1])
    with open(sidecar) as f:
        side = json.load(f)
    return {
        "wall_s": wall,
        "t_launch": t0,
        "steps": [report["stages_s"]["load"] + report["stages_s"]["tree_partition"]],
        "setup_s": side["setup_s"],
        "peak_rss_mb": side["peak_rss_mb"],
        "side": side,
        "report": report,
        "sink": sink,
    }


def check_cli(res: dict, inp: str, expected: dict) -> list[str]:
    import pyarrow.dataset as ds

    want = expected["metrics"][str(CLI_K)]
    bad = _compare_metrics(res["report"], want, CLI_METRICS, "cli")
    if res["report"].get("n_vertices") != expected["n_vertices"]:
        bad.append(f"cli n_vertices: got {res['report'].get('n_vertices')}")
    # sink: every canonical edge once, in the part of its lower-pos endpoint
    tbl = ds.dataset(res["sink"], format="parquet", partitioning="hive").to_table(
        columns=["src", "dst", "part"])
    if tbl.num_rows != expected["n_edges"]:
        bad.append(f"sink rows: got {tbl.num_rows}, expected {expected['n_edges']}")
        return bad
    exp = np.load(os.path.join(inp, "expected.npz"))
    vid, pos, vpart = exp["vid"], exp["pos"], exp[f"part_k{CLI_K}"]
    src = tbl.column("src").to_numpy()
    dst = tbl.column("dst").to_numpy()
    part = tbl.column("part").to_numpy().astype(np.int64)
    i_s, i_d = np.searchsorted(vid, src), np.searchsorted(vid, dst)
    i_s, i_d = np.minimum(i_s, len(vid) - 1), np.minimum(i_d, len(vid) - 1)
    if not (np.all(vid[i_s] == src) and np.all(vid[i_d] == dst) and np.all(src < dst)):
        bad.append("sink holds an edge that is not a canonical edge of the input")
    elif len(np.unique(src * (1 << 32) + dst)) != len(src):
        bad.append("sink holds a duplicate edge")
    else:
        owner = np.where(pos[i_s] < pos[i_d], i_s, i_d)
        wrong = int(np.count_nonzero(vpart[owner] != part))
        if wrong:
            bad.append(f"sink: {wrong} edges outside the part of their down endpoint")
    return bad


# -- repartition-eval: saved tree → new k → full evaluate ------------------

def repart_pass(spark, inp: str, tracer) -> dict:
    from sheep_spark import evaluate, graph, partitioner, tree

    t0 = time.perf_counter()
    sym = graph.doubled_view(spark.read.parquet(os.path.join(inp, "canon.parquet")))
    steps, metrics = [], {}
    for k in REPART_KS:
        tracer.context["k"] = k
        t1 = time.perf_counter()
        tree_df = tree.load_tree(spark, os.path.join(inp, "tree.parquet"))
        verts = tree.load_sequence(spark, os.path.join(inp, "seq.parquet"))
        vmeta = partitioner.vertex_meta(verts, partitioner.sheep_partition(tree_df, verts, k)).persist()
        vmeta.count()
        steps.append(time.perf_counter() - t1)
        metrics[k] = evaluate.evaluate(sym, vmeta)
        vmeta.unpersist()
    tracer.context.pop("k", None)
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "steps": [sum(steps)], "metrics": metrics}


def check_repart(res: dict, expected: dict) -> list[str]:
    bad = []
    for k in REPART_KS:
        want = expected["metrics"][str(k)]
        bad += _compare_metrics(res["metrics"][k], want, sorted(want), f"k={k}")
    return bad


# -- analytics: PageRank, CC and triangles on the canonical graph ----------

def analytics_pass(spark, inp: str) -> dict:
    from gen import PAGERANK_SUPERSTEPS
    from sheep_spark import analytics, graph

    t = [time.perf_counter()]
    canon = spark.read.parquet(os.path.join(inp, "canon.parquet")).persist()
    sym = graph.doubled_view(canon)
    verts = graph.vertices_from_edges(sym).persist()
    verts.count()
    t.append(time.perf_counter())
    ranks, info = analytics.pagerank(sym, verts, tol=0.0, max_iter=PAGERANK_SUPERSTEPS)
    ranks_t = ranks.toArrow()
    t.append(time.perf_counter())
    labels, cc_info = analytics.connected_components(sym)
    labels_t = labels.toArrow()
    t.append(time.perf_counter())
    triangles = analytics.triangle_count(sym, verts)
    t.append(time.perf_counter())
    return {
        "wall_s": t[-1] - t[0],
        "phases_s": dict(zip(("load", "pagerank", "cc", "triangles"), np.diff(t).tolist())),
        # superstep 0 plans before the state cache exists; 1.. are the floor
        "steps": list(info["superstep_secs"][1:]),
        "ranks": ranks_t,
        "labels": labels_t,
        "cc_rounds": cc_info["iterations"],
        "triangles": triangles,
    }


def check_analytics(res: dict, inp: str, expected: dict) -> list[str]:
    exp = np.load(os.path.join(inp, "expected.npz"))
    vid = exp["vid"]
    bad = []
    for name, tbl, col, exact in (("pagerank", res["ranks"], "rank", False),
                                  ("cc", res["labels"], "component", True)):
        v = tbl.column("vid").to_numpy()
        order = np.argsort(v)
        got = tbl.column(col).to_numpy()[order]
        if not np.array_equal(v[order], vid):
            bad.append(f"{name}: vertex set differs ({len(v)} vs {len(vid)})")
        elif exact and not np.array_equal(got, exp[col]):
            bad.append(f"{name}: {int(np.count_nonzero(got != exp[col]))} labels differ")
        elif not exact:
            err = float(np.max(np.abs(got - exp[col]) / np.abs(exp[col])))
            if err > 1e-9:
                bad.append(f"{name}: max relative error {err:.3g} > 1e-9")
    if res["triangles"] != expected["triangles"]:
        bad.append(f"triangles: got {res['triangles']}, expected {expected['triangles']}")
    return bad
