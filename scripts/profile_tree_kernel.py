#!/usr/bin/env python3
"""Profile the elimination-tree kernel in isolation (no Spark).

Generates the same skewed distribution as bench.synth_edges (PROF_EDGES
raw edges over PROF_V vertices; defaults 4M / 500k), converts it to
deduped (lo, hi) pos-space pairs, then times ``tree._eliminate`` on both
of its paths:

  1. in this process: the compiled counting-sort sweep (or the
     interpreted sweep if the C library is unavailable here);
  2. in a child run with ``SPARK_GRAFT_NO_CSWEEP=1``: the interpreted
     sweep, the fallback on hosts without a C compiler.

Prints one JSON line with both walls, the interpreted/compiled slowdown
and whether the two paths built the same tree. Run as
``python scripts/profile_tree_kernel.py``; a run with
``SPARK_GRAFT_NO_CSWEEP=1`` set times the interpreted leg alone. The
defaults finish in about a minute; the interpreted leg dominates.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sheep_spark import _csweep, tree  # noqa: E402

E = int(os.environ.get("PROF_EDGES", str(4_000_000)))
V = int(os.environ.get("PROF_V", str(500_000)))


def _warm_memory_pool() -> None:
    """Pre-touch a pool of pages and free it, sized to the run. Fresh
    pages can be backed lazily at a far lower rate than warm ones, so
    any phase that allocates big fresh arrays would pay a one-time cost
    unrelated to the kernel; touch-and-free once, then the allocator
    reuses the warm pool."""
    block = np.ones(12 * E, dtype=np.int64)
    del block


def _pos_pairs() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(7)
    # same shape as bench.synth_edges: src uniform, dst ~ u^2.5 hubs
    src = rng.integers(0, V, E, dtype=np.int64)
    dst = (rng.random(E) ** 2.5 * V).astype(np.int64)
    keep = src != dst
    lo = np.minimum(src, dst)[keep]
    hi = np.maximum(src, dst)[keep]
    pairs = np.unique(lo * np.int64(V) + hi)
    # pos space: the profile uses vid order directly (the sweep only
    # depends on the ORDER being total, which vids are)
    return pairs // V, pairs % V


def _leg(lo: np.ndarray, hi: np.ndarray) -> dict:
    tm: dict = {}
    t0 = time.perf_counter()
    kid, par = tree._eliminate(lo, hi, V, timings=tm)
    wall = time.perf_counter() - t0
    parent = np.full(V, -1, dtype=np.int64)
    parent[kid] = par
    return {
        "compiled": _csweep.loaded() is not None,
        "kernel_s": round(wall, 3),
        "kernel_detail": tm,
        "tree_edges": len(kid),
        "kernel_rate_Medges_per_s": round(len(lo) / wall / 1e6, 2),
        "parent_sha1": hashlib.sha1(parent.tobytes()).hexdigest(),
    }


def main() -> None:
    _warm_memory_pool()
    lo, hi = _pos_pairs()
    head = {"n_edges_undirected": len(lo), "n_vertices": V}
    leg = _leg(lo, hi)
    if os.environ.get("SPARK_GRAFT_NO_CSWEEP") == "1":
        print(json.dumps({**head, **leg}))
        return
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env={**os.environ, "SPARK_GRAFT_NO_CSWEEP": "1"},
        check=True, capture_output=True, text=True,
    )
    interp = json.loads(child.stdout.strip().splitlines()[-1])
    print(json.dumps({
        **head,
        "compiled": leg,
        "interpreted": {k: interp[k] for k in leg},
        "interpreted_slowdown": round(interp["kernel_s"] / leg["kernel_s"], 1),
        "outputs_identical": interp["parent_sha1"] == leg["parent_sha1"],
    }))


if __name__ == "__main__":
    from bench import ensure_malloc_retention

    ensure_malloc_retention()  # re-exec with the allocator settings bench.py uses
    main()
