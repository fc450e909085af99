"""Seeded benchmark inputs and their oracle expectations.

Runs as its own process so that no oracle work shares the measured
driver process:

    python3 perfbench/gen.py --kind cli --seed 1 --raw-edges 200000 --out DIR

Every input is a skewed power-law raw edge list in the shape of
``bench.synth_edges_raw`` (src uniform, dst ~ u^2.5 so low ids are hubs)
plus injected duplicate rows and self loops, drawn from numpy's PCG64
with the given seed. What is written depends on ``--kind``:

- ``cli``: ``raw.xs1`` (the CLI's input) and the expected k=8 partition;
- ``repart``: ``canon.parquet``, a saved tree and sequence in the
  schemas of ``tree.save_tree`` / ``tree.save_sequence``, and the full
  expected metric dicts at every k;
- ``analytics``: ``canon.parquet`` and the expected PageRank ranks, CC
  labels and triangle count.

Oracles, all independent of the Spark code paths under test:
``tree.serial_tree_oracle`` for the elimination tree, the interpreted
FFD (``SPARK_GRAFT_NO_CSWEEP=1``) for the partition,
``evaluate.evaluate_oracle`` for the metrics, numpy power iteration for
PageRank, min-vid union-find for CC and DuckDB for triangles.
The directory appears atomically (written under a temporary name, then
renamed), so an interrupted generation is never mistaken for a cache hit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DAMPING = 0.85
PAGERANK_SUPERSTEPS = 10
BALANCE = 1.03
AVG_RAW_DEGREE = 8.75  # raw edges per vertex id, as in bench.py's pipeline leg


def raw_edges(seed: int, n_raw: int) -> tuple[np.ndarray, np.ndarray]:
    """``n_raw`` directed rows over ``n_raw / 8.75`` vertex ids, with
    ~2% duplicated rows and ~0.5% self loops on top of the natural ones."""
    rng = np.random.default_rng(seed)
    n_vertices = max(int(n_raw / AVG_RAW_DEGREE), 16)
    n_base = n_raw - n_raw // 50 - n_raw // 200
    src = rng.integers(0, n_vertices, n_base, dtype=np.int64)
    dst = (rng.random(n_base) ** 2.5 * n_vertices).astype(np.int64)
    dup = rng.integers(0, n_base, n_raw // 50)
    loops = rng.integers(0, n_vertices, n_raw // 200, dtype=np.int64)
    src = np.concatenate([src, src[dup], loops])
    dst = np.concatenate([dst, dst[dup], loops])
    order = rng.permutation(len(src))
    return src[order], dst[order]


def canonical(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each undirected edge once as (lo, hi), self loops dropped."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    key = np.unique(lo[keep] * (1 << 32) + hi[keep])
    return key >> 32, key & ((1 << 32) - 1)


def sequence(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vid, degree, pos): pos ranks (degree asc, vid asc), as sheep's
    degree sequence does."""
    deg_all = np.bincount(np.concatenate([lo, hi]))
    vid = np.nonzero(deg_all)[0].astype(np.int64)
    degree = deg_all[vid].astype(np.int64)
    pos = np.empty(len(vid), dtype=np.int64)
    pos[np.lexsort((vid, degree))] = np.arange(len(vid), dtype=np.int64)
    return vid, degree, pos


def oracle_partition(lo, hi, vid, pos, ks) -> tuple[dict, dict]:
    """Serial tree oracle → interpreted FFD at each k → evaluate_oracle.
    Returns ({k: vertex part array aligned with vid}, {k: metrics})."""
    from sheep_spark import _csweep, evaluate, partitioner, tree

    if _csweep.loaded_ffd() is not None:
        raise RuntimeError("oracle must run the interpreted FFD (SPARK_GRAFT_NO_CSWEEP=1)")
    edges = list(zip(lo.tolist(), hi.tolist()))
    pos_of = dict(zip(vid.tolist(), pos.tolist()))
    parent_l, pst_l = tree.serial_tree_oracle(edges, pos_of)
    parent = np.array([-1 if p is None else p for p in parent_l], dtype=np.int64)
    pst = np.asarray(pst_l, dtype=np.int64)
    parts, metrics = {}, {}
    for k in ks:
        by_jnid, _ = partitioner.forward_partition(parent, pst, k, BALANCE)
        vpart = by_jnid[pos]
        parts[k] = vpart
        metrics[k] = evaluate.evaluate_oracle(edges, pos_of, dict(zip(vid.tolist(), vpart.tolist())))
    return {"parent": parent, "pst": pst, "parts": parts}, metrics


def oracle_pagerank(lo, hi, vid) -> np.ndarray:
    """Fixed-iteration power iteration with analytics.pagerank's update:
    rank'(v) = (1-d)/n + d * sum over neighbours u of rank(u)/deg(u)."""
    idx = {v: i for i, v in enumerate(vid.tolist())}
    a = np.fromiter((idx[x] for x in lo.tolist()), np.int64, len(lo))
    b = np.fromiter((idx[x] for x in hi.tolist()), np.int64, len(hi))
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    n = len(vid)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_SUPERSTEPS):
        rank = (1.0 - DAMPING) / n + DAMPING * np.bincount(dst, weights=(rank / deg)[src], minlength=n)
    return rank


def oracle_components(lo, hi, vid) -> np.ndarray:
    """Union-find keeping the minimum vid as each set's representative."""
    uf = {v: v for v in vid.tolist()}

    def find(x):
        while uf[x] != x:
            uf[x] = uf[uf[x]]
            x = uf[x]
        return x

    for a, b in zip(lo.tolist(), hi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            uf[max(ra, rb)] = min(ra, rb)
    return np.array([find(v) for v in vid.tolist()], dtype=np.int64)


def oracle_triangles(lo, hi) -> int:
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    e = pa.table({"s": lo, "d": hi})  # noqa: F841  (scanned by name below)
    n = con.execute(
        "SELECT count(*) FROM e e1 JOIN e e2 ON e1.d = e2.s "
        "JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d"
    ).fetchone()[0]
    con.close()
    return int(n)


def _write_parquet(path: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def generate(kind: str, seed: int, n_raw: int, out: str) -> dict:
    t0 = time.perf_counter()
    src, dst = raw_edges(seed, n_raw)
    lo, hi = canonical(src, dst)
    vid, degree, pos = sequence(lo, hi)
    expected: dict = {"n_raw": int(n_raw), "n_edges": int(len(lo)), "n_vertices": int(len(vid))}
    if kind == "cli":
        from sheep_spark.io import XS1_DTYPE

        rec = np.zeros(len(src), dtype=XS1_DTYPE)
        rec["tail"], rec["head"] = src, dst
        with open(os.path.join(out, "raw.xs1"), "wb") as f:
            f.write(rec.tobytes())
    else:
        _write_parquet(os.path.join(out, "canon.parquet"), {"src": lo, "dst": hi})
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    arrays = {"vid": vid, "pos": pos}
    if kind in ("cli", "repart"):
        ks = (8,) if kind == "cli" else (8, 64)
        tree_arrays, metrics = oracle_partition(lo, hi, vid, pos, ks)
        expected["metrics"] = {str(k): m for k, m in metrics.items()}
        for k, vpart in tree_arrays["parts"].items():
            arrays[f"part_k{k}"] = vpart
        if kind == "repart":
            import pyarrow as pa

            parent = tree_arrays["parent"]
            _write_parquet(os.path.join(out, "tree.parquet"), {
                "jnid": pa.array(np.arange(len(parent), dtype=np.int64)),
                "parent": pa.array(parent, mask=parent < 0),
                "pst_weight": pa.array(tree_arrays["pst"]),
            })
            _write_parquet(os.path.join(out, "seq.parquet"), {"vid": vid, "degree": degree, "pos": pos})
    else:
        arrays["rank"] = oracle_pagerank(lo, hi, vid)
        arrays["component"] = oracle_components(lo, hi, vid)
        expected["triangles"] = oracle_triangles(lo, hi)
        expected["n_directed_edges"] = 2 * int(len(lo))
    np.savez(os.path.join(out, "expected.npz"), **arrays)
    expected["prep"] = {"gen_s": gen_s, "oracle_s": time.perf_counter() - t0}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kind", choices=["cli", "repart", "analytics"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--raw-edges", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if os.environ.get("SPARK_GRAFT_NO_CSWEEP") != "1":
        raise SystemExit("gen.py must run with SPARK_GRAFT_NO_CSWEEP=1 (interpreted FFD oracle)")
    sys.path.insert(0, REPO)
    tmp = args.out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        generate(args.kind, args.seed, args.raw_edges, tmp)
        os.rename(tmp, args.out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
