"""Degree-ordered CSR blocks per partition + gather-scatter PageRank.

This is the payoff of sheep-style partitioning (north_star): adjacency
is materialized as one CSR block (or several sub-blocks) per part —
vertices sorted by pos within their part — and a PageRank superstep runs
``applyInPandas`` per block: contributions scatter into a numpy
accumulator indexed by the block's *distinct* out-vertex list, so each
part emits at most |distinct dsts touched| rows into the shuffle. Summed
per vertex, that row count is exactly V + (replication implied by the
partition) — i.e. per-superstep shuffle volume ∝ the evaluator's
communication-volume metric. Low ECV(down) partitions → light shuffles;
that's WHY the elimination-tree partitioner exists.

Block schema (sub-blocks keep single Arrow rows bounded at scale):
  csr_blocks(part int, block int, vids array<long>,   -- local vertices, pos-sorted
             deg array<long>,                          -- their degrees
             indptr array<long>,                       -- CSR offsets into out_idx
             out_idx array<long>,                      -- per-edge index into out_vids
             out_vids array<long>)                     -- distinct destinations

The driver-side join of new sums back to parts uses a broadcast of the
(vid → part) map; on a 10^9-vertex cluster replace with a co-partitioned
join on vid (both sides hash-partitioned once).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CSR_SCHEMA = (
    "part int, block int, vids array<long>, deg array<long>, "
    "indptr array<long>, out_idx array<long>, out_vids array<long>"
)


def build_csr_blocks(
    edges_sym: DataFrame,
    vmeta: DataFrame,
    max_edges_per_block: int = 4_000_000,
    bucket_vertices: int = 2_000_000,
    n_vertices: int | None = None,
) -> DataFrame:
    """Group symmetrized edges by (part, pos-range bucket) and build numpy
    CSR sub-blocks (applyInPandas — Arrow in, Arrow out).

    The pos-range bucket (``bucket_vertices`` vertices wide, vertex-
    aligned because every edge of a vertex shares pos_src) bounds the
    pandas group a single executor materializes — without it the whole
    part's edge set lands in one Arrow group and ``max_edges_per_block``
    only bounds the OUTPUT rows, not peak build memory (ADVICE r1)."""
    from .graph import maybe_broadcast

    meta = vmeta.select(F.col("vid").alias("src"), F.col("pos").alias("pos_src"), "part")
    e = edges_sym.join(maybe_broadcast(meta, n_rows=n_vertices), "src").withColumn(
        "bucket", (F.col("pos_src") / bucket_vertices).cast("long")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        bucket_base = int(pdf["bucket"].iloc[0]) << 20  # block ids unique per part
        order = np.lexsort((pdf["dst"].to_numpy(), pdf["pos_src"].to_numpy()))
        src = pdf["src"].to_numpy()[order]
        dst = pdf["dst"].to_numpy()[order]
        # split vertex-aligned: sub-block boundaries only between vertices
        rows = []
        block_id = 0
        start = 0
        n = len(src)
        while start < n:
            end = min(start + max_edges_per_block, n)
            if end < n:  # advance to the next vertex boundary
                while end < n and src[end] == src[end - 1]:
                    end += 1
            s, d = src[start:end], dst[start:end]
            # s is pos-sorted with equal vids contiguous: run-length encode
            bounds = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
            vids_sorted = s[bounds]
            deg = np.diff(np.r_[bounds, len(s)]).astype(np.int64)
            indptr = np.concatenate([[0], np.cumsum(deg)])
            out_vids, out_idx = np.unique(d, return_inverse=True)
            rows.append(
                (
                    part,
                    bucket_base + block_id,
                    vids_sorted.tolist(),
                    deg.tolist(),
                    indptr.tolist(),
                    out_idx.astype(np.int64).tolist(),
                    out_vids.astype(np.int64).tolist(),
                )
            )
            block_id += 1
            start = end
        return pd.DataFrame(
            rows, columns=["part", "block", "vids", "deg", "indptr", "out_idx", "out_vids"]
        )

    return e.select("src", "dst", "pos_src", "part", "bucket").groupBy(
        "part", "bucket"
    ).applyInPandas(build, CSR_SCHEMA)


def pagerank_csr(
    csr_blocks: DataFrame,
    vmeta: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> tuple[DataFrame, dict]:
    """PageRank over CSR blocks: scatter inside numpy per block, shuffle
    only per-block-aggregated (dst, partial) rows. Semantics identical to
    analytics.pagerank (symmetrized graph → no dangling mass)."""
    from .graph import maybe_broadcast

    spark = csr_blocks.sparkSession
    blocks = csr_blocks.persist()
    n = vmeta.count()
    part_map = maybe_broadcast(vmeta.select("vid", "part"), n_rows=n)

    state = vmeta.select("vid", "part").withColumn("rank", F.lit(1.0 / n)).persist()
    info = {"iterations": 0, "l1_delta": None, "superstep_secs": [], "n_vertices": n}
    base = (1.0 - damping) / n

    for it in range(max_iter):
        t0 = time.time()

        def step(block_pdf: pd.DataFrame, rank_pdf: pd.DataFrame) -> pd.DataFrame:
            """Pure-numpy gather-scatter: one rank gather per block via an
            index-aligned Series (no per-vertex Python), bincount scatter,
            then a vectorized unique+bincount combine across sub-blocks.
            The only Python loop is over the handful of sub-block rows."""
            if block_pdf.empty or rank_pdf.empty:
                return pd.DataFrame({"vid": [], "acc": []})
            rank_s = pd.Series(
                rank_pdf["rank"].to_numpy(np.float64),
                index=rank_pdf["vid"].to_numpy(np.int64),
            )
            out_v, out_a = [], []
            for row in block_pdf.itertuples(index=False):
                vids = np.asarray(row.vids, dtype=np.int64)
                deg = np.asarray(row.deg, dtype=np.int64)
                out_idx = np.asarray(row.out_idx, dtype=np.int64)
                out_vids = np.asarray(row.out_vids, dtype=np.int64)
                ranks = rank_s.reindex(vids).to_numpy(np.float64)
                per_edge = np.repeat(ranks / deg, deg)
                out_v.append(out_vids)
                out_a.append(np.bincount(out_idx, weights=per_edge, minlength=len(out_vids)))
            v = np.concatenate(out_v)
            uv, inv = np.unique(v, return_inverse=True)
            acc = np.bincount(inv, weights=np.concatenate(out_a))
            return pd.DataFrame({"vid": uv, "acc": acc})

        scattered = (
            blocks.groupby("part")
            .cogroup(state.groupby("part"))
            .applyInPandas(lambda b, r: step(b, r), "vid long, acc double")
        )
        sums = scattered.groupBy("vid").agg(F.sum("acc").alias("acc"))
        new_state = (
            sums.join(part_map, "vid")
            .select(
                "vid",
                "part",
                (F.lit(base) + F.lit(damping) * F.col("acc")).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        if tol > 0.0:
            l1 = (
                new_state.select("vid", F.col("rank").alias("nr"))
                .join(state.select("vid", "rank"), "vid")
                .agg(F.sum(F.abs(F.col("nr") - F.col("rank"))).alias("d"))
                .collect()[0]["d"]
            )
        else:  # fixed-iteration mode: skip the delta join, like
            # analytics.pagerank (r6) — the eager localCheckpoint above
            # already materialized the state
            l1 = float("inf")
        state.unpersist()
        state = new_state.persist()
        info["iterations"] = it + 1
        info["l1_delta"] = float(l1)
        info["superstep_secs"].append(time.time() - t0)
        if l1 < tol:
            break
    blocks.unpersist()
    return state.select("vid", "rank"), info
