"""Tree partitioning + edge routing.

- ``forward_partition``: exact semantics of sheep's default partitioner
  (lib/partition.cpp:86-157, the paper's method): one ascending pass
  accumulating subtree weight; when a component exceeds
  ``max_component = (total_weight // k) * balance_factor``
  (partition.cpp:54-57, truncated to int), first-fit-decreasing bin-pack
  the children's components; then push labels down the tree and pack
  roots last-fit (partition.cpp:140-156). Node weight is pst_weight
  (get_weight's default flags, partition.h:51-52 → edge-balanced
  parts); the vtx/pre flags have no caller and are not offered.

  Like the reference, this runs serially on rank-0/driver
  (graph2tree.cpp:205-208): the tree is O(V) longs, tiny next to the
  edge table; the bound is documented in tree.py.

- ``naive_partition`` / ``random_partition``: cheap baselines
  (partition.cpp:253-275) as pure column expressions.

- ``down_assign``: THE shuffle-routing rule — an edge belongs to the part
  of its earlier-in-sequence endpoint (partition.cpp:623, :505). With a
  degree-ascending sequence this bounds each part's replication set,
  which is exactly what makes the downstream analytics shuffle-light.

- ``down_reassign``: the edges whose owner changes between two
  partition vectors over one sequence, as a delta (no sink rewrite).

- ``write_partitioned``: the partitioned-edge sink, one directory per
  part (partition.cpp:588-630). The reference's relabelled-graph sink
  (partition.cpp:528-586) is not offered: no CLI, query or bench leg
  asks for it.

Arrays cross the driver↔JVM boundary only through ``tree``'s transfer
layer: the tree comes in by one ``collect_int64_columns`` and the parts
vector goes out by one ``upload_columns`` with an explicit schema (below),
so an empty graph yields typed empty frames.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tree

ASSIGN_SCHEMA = pa.schema([("pos", pa.int64()), ("part", pa.int32())])
VMETA_SCHEMA = pa.schema([("vid", pa.int64()), ("pos", pa.int64()), ("part", pa.int32())])
VID_PART_SCHEMA = pa.schema([("vid", pa.int64()), ("part", pa.int32())])


def forward_partition(
    parent: np.ndarray,
    weight: np.ndarray,
    num_parts: int,
    balance_factor: float = 1.03,
) -> tuple[np.ndarray, int]:
    """FFD tree packing. ``parent`` is jnid-indexed (-1 = root), ``weight``
    the per-node weight (default callers pass pst_weight). Returns
    (parts array jnid-indexed, max_component).

    May open more than ``num_parts`` bins, exactly like the reference
    (partition.cpp:128-130; Partition::print reports "actually created").
    """
    n = len(parent)
    total = int(weight.sum())
    max_component = int((total // num_parts) * balance_factor)

    # children index at C speed: jnids sorted by parent; kids(j) is the
    # contiguous slice found by binary search (only cut nodes — a small
    # set — ever ask for it, so no per-node list building)
    par_np = np.ascontiguousarray(parent, dtype=np.int64)
    kid_order = np.argsort(par_np, kind="stable").astype(np.int64, copy=False)
    par_sorted = np.ascontiguousarray(par_np[kid_order])

    # Compiled FFD (r6, _csweep.sheep_ffd): the exact same two O(V)
    # sequential sweeps at C speed (kid tie-break made explicitly
    # (weight desc, jnid asc) — the total order python's stable sort
    # produces). Any failure, or the (never-observed) bin-capacity
    # overflow, falls through to the interpreted path below.
    from . import _csweep

    c_ffd = _csweep.loaded_ffd()
    if c_ffd is not None:
        comp_c = np.ascontiguousarray(weight, dtype=np.int64).copy()
        parts_c = np.full(n, -1, dtype=np.int64)
        part_size_c = np.zeros(3 * n + 16, dtype=np.int64)
        ks = np.empty((max(n, 1), 2), dtype=np.int64)
        nb = c_ffd(par_np, comp_c, kid_order, par_sorted, max_component,
                   parts_c, part_size_c, ks)
        if nb >= 0:
            return parts_c, max_component

    # Python-list state: ~5× faster scalar access than numpy in the two
    # O(V) interpreted sweeps below (same trade as tree._eliminate); at
    # V=4M this stage dropped ~15-28 s → ~4 s. Semantics are identical
    # to the numpy form commit-for-commit.
    parent_l = par_np.tolist()
    comp = np.asarray(weight, dtype=np.int64).tolist()
    parts = [-1] * n

    def kids_of(j: int) -> list[int]:
        lo = int(np.searchsorted(par_sorted, j, side="left"))
        hi = int(np.searchsorted(par_sorted, j, side="right"))
        return kid_order[lo:hi].tolist()

    part_size: list[int] = []
    for j in range(n):
        cj = comp[j]
        if cj > max_component:
            ks = kids_of(j)
            ks.sort(key=lambda k: -comp[k])
            while comp[j] > max_component:
                before = comp[j]
                for kid in ks:
                    if comp[j] <= max_component:
                        break
                    if parts[kid] != -1:
                        continue
                    ck = comp[kid]
                    for cur in range(len(part_size)):
                        if part_size[cur] + ck <= max_component:
                            comp[j] -= ck
                            part_size[cur] += ck
                            parts[kid] = cur
                            break
                if comp[j] > max_component:
                    # Guard against the reference's latent infinite loop
                    # (partition.cpp:109-131): when E/k < a node's own
                    # pst_weight, no amount of bin-opening shrinks the
                    # component. If a full pass made no progress even with
                    # an empty bin available, accept the oversize component
                    # (it flows upward and is placed by push-down/root
                    # packing).
                    if before == comp[j] and part_size and part_size[-1] == 0:
                        break
                    part_size.append(0)
            cj = comp[j]
        p = parent_l[j]
        if p >= 0:
            comp[p] += cj

    # Push labels down to uncut vertices; pack roots last-fit
    # (partition.cpp:140-156).
    for j in range(n - 1, -1, -1):
        if parts[j] == -1 and parent_l[j] >= 0:
            parts[j] = parts[parent_l[j]]
        if parts[j] == -1 and comp[j] > max_component:
            # oversize root (see guard above): fresh bin, unconditionally
            part_size.append(comp[j])
            parts[j] = len(part_size) - 1
        while parts[j] == -1:
            for cur in range(len(part_size) - 1, -1, -1):
                if part_size[cur] + comp[j] <= max_component:
                    part_size[cur] += comp[j]
                    parts[j] = cur
                    break
            if parts[j] == -1:
                part_size.append(0)
    return np.asarray(parts, dtype=np.int64), max_component


def tree_to_arrays(tree_df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect tree(jnid, parent, pst_weight) into jnid-indexed int64
    (parent with -1 roots, pst_weight) arrays: one Arrow collect, the
    NULL root parents turned into -1 JVM-side (driver-side, O(V) — same
    centralization as sheep rank 0)."""
    jn, par, pst = tree.collect_int64_columns(
        tree_df.select("jnid", F.coalesce("parent", F.lit(-1)).alias("parent"), "pst_weight"),
        ("jnid", "parent", "pst_weight"),
    )
    parent = np.full_like(par, -1)
    weight = np.zeros_like(pst)
    parent[jn] = par
    weight[jn] = pst
    return parent, weight


def sheep_partition(tree_df: DataFrame, vertices: DataFrame, num_parts: int,
                    balance_factor: float = 1.03) -> DataFrame:
    """End-to-end: tree DF → FFD pack on driver → ``assign(vid, part)``.

    One collect of the tree (``tree_to_arrays``), the FFD pack weighted
    by pst_weight (edge-balanced parts, partition.h:51-52 defaults), one
    upload of the parts vector (``assign_df``). jnid→vid re-index
    mirrors partition.cpp:62-66 (jnid == pos)."""
    from .graph import maybe_broadcast

    parent, weight = tree_to_arrays(tree_df)
    parts, _ = forward_partition(parent, weight, num_parts, balance_factor)
    assign = assign_df(tree_df.sparkSession, parts)
    assign = maybe_broadcast(assign, n_rows=len(parts))
    return vertices.select("vid", "pos").join(assign, "pos").select("vid", "part")


def assign_df(spark: SparkSession, parts: np.ndarray) -> DataFrame:
    """jnid-indexed parts vector → assign(pos long, part int), one upload."""
    return tree.upload_columns(
        spark, {"pos": np.arange(len(parts), dtype=np.int64), "part": parts}, ASSIGN_SCHEMA
    )


def naive_partition(vertices: DataFrame, num_parts: int) -> DataFrame:
    """Contiguous pos-range chunks (the degenerate baseline,
    partition.cpp:253-266 spirit): part = pos*k div V."""
    n = vertices.count()
    return vertices.select(
        "vid",
        F.expr(f"CAST((pos * {num_parts}) DIV {n} AS INT)").alias("part"),
    )


def random_partition(vertices: DataFrame, num_parts: int, seed: int = 42) -> DataFrame:
    """Uniform random baseline (partition.cpp:268-275), deterministic seed."""
    return vertices.select(
        "vid", (F.floor(F.rand(seed) * num_parts)).cast("int").alias("part")
    )


# fennel_partition collects the directed edge table to the driver; it
# refuses a table longer than this.
FENNEL_MAX_DRIVER_EDGES = 20_000_000


def fennel_partition(
    edges_sym: DataFrame,
    vertices: DataFrame,
    num_parts: int,
    balance_factor: float = 1.03,
) -> DataFrame:
    """Greedy streaming FENNEL (partition.cpp:282-329, the KDD14
    edge-balanced objective): place each vertex (vid ascending, the
    reference's node-iterator order; weight w = its degree) in
    argmax(neighbors_in_part − a·((size+w)^1.5 − size^1.5)) under the
    hard cap max_component = (directed edges / k) · balance_factor.

    Like the reference, this is the *comparison baseline*: a sequential
    stream, executed on the driver over collected adjacency — test-scale
    only (the reference notes its edge-stream variant was "too slow to
    be worthwhile", partition.cpp:333-335), so more than
    FENNEL_MAX_DRIVER_EDGES directed edges raise ValueError. The sheep
    tree partitioner is the scale path.
    """
    spark = edges_sym.sparkSession
    n_directed = edges_sym.count()
    if n_directed > FENNEL_MAX_DRIVER_EDGES:
        raise ValueError(
            f"fennel_partition collects the edge table to the driver "
            f"({n_directed} directed edges > cap {FENNEL_MAX_DRIVER_EDGES}). It "
            "is the serial comparison baseline, like the reference's; use "
            "sheep_partition (tree + FFD) as the at-scale partitioner."
        )
    src, dst = tree.collect_int64_columns(edges_sym, ("src", "dst"))
    if not len(src):  # no edges, no vertices to place
        return _vid_part_df(spark, {})
    n_nodes = vertices.count()
    m_directed = float(len(src))
    k = float(num_parts)
    y = 1.5
    a = n_nodes * (k / m_directed) ** y
    max_component = (m_directed / num_parts) * balance_factor

    adj: dict[int, list[int]] = {}
    for s, d in zip(src.tolist(), dst.tolist()):
        adj.setdefault(s, []).append(d)

    parts: dict[int, int] = {}
    part_size = np.zeros(num_parts)
    for x in sorted(adj):
        x_weight = float(len(adj[x]))
        value = np.zeros(num_parts)
        for ynbr in adj[x]:
            p = parts.get(ynbr)
            if p is not None:
                value[p] += 1.0
        best_p, best_v = 0, float("-inf")
        for p in range(num_parts):
            if part_size[p] + x_weight > max_component:
                continue
            cost = a * ((part_size[p] + x_weight) ** y - part_size[p] ** y)
            v = value[p] - cost
            if v > best_v:
                best_p, best_v = p, v
            if part_size[p] == 0.0:
                break
        parts[x] = best_p
        part_size[best_p] += x_weight
    return _vid_part_df(spark, parts)


def _vid_part_df(spark: SparkSession, parts: dict[int, int]) -> DataFrame:
    """{vid: part} → assign(vid long, part int), one upload."""
    return tree.upload_columns(
        spark, {"vid": list(parts), "part": list(parts.values())}, VID_PART_SCHEMA
    )


def vertex_meta(vertices: DataFrame, assign: DataFrame) -> DataFrame:
    """vmeta(vid, pos, part) — the broadcastable per-vertex state
    (sheep's mpi_sync broadcast of the parts vector, partition.cpp:69-79)."""
    return vertices.select("vid", "pos").join(assign, "vid")


def vertex_meta_from_arrays(spark: SparkSession, vid: np.ndarray, pos: np.ndarray,
                            parts: np.ndarray) -> DataFrame:
    """vmeta(vid, pos, part) built on the driver from the fused funnel's
    arrays (``parts`` is jnid-indexed): one gather + one Arrow upload,
    replacing the V⋈V assign join when the partition was packed on the
    driver anyway. Schema/contents identical to ``vertex_meta``."""
    pos = np.asarray(pos, dtype=np.int64)
    return tree.upload_columns(
        spark, {"vid": vid, "pos": pos, "part": np.asarray(parts)[pos]}, VMETA_SCHEMA
    )


def down_assign(edges_sym: DataFrame, vmeta: DataFrame,
                n_vertices: int | None = None) -> DataFrame:
    """``edge_parts(src, dst, part)`` — each undirected edge exactly once
    (src < dst by vid, partition.cpp:615-617), owned by the part of its
    lower-pos endpoint (partition.cpp:623). ``edges_sym`` is the doubled
    table or its canonical half, joined to vmeta through
    ``graph.join_endpoints``; pass ``n_vertices`` (vmeta's row count) to
    skip its broadcast guard's count job."""
    from .graph import join_endpoints

    return (
        join_endpoints(edges_sym, vmeta, ("pos", "part"), n_vertices)
        .select(
            "src",
            "dst",
            F.when(F.col("pos_a") < F.col("pos_b"), F.col("part_a"))
            .otherwise(F.col("part_b"))
            .alias("part"),
        )
    )


def down_reassign(
    edges_sym: DataFrame,
    vmeta_old: DataFrame,
    vmeta_new: DataFrame,
    n_vertices: int | None = None,
) -> DataFrame:
    """Bounded-shuffle reassignment (north_star's "explicit
    bounded-shuffle reassignment step"): given a NEW partition vector
    over the SAME sequence (a re-pack, a new k, an incremental update),
    emit exactly the edges that must move — ``(src, dst, part_old,
    part_new)`` — without recomputing or reshuffling the full edge
    assignment.

    Why it is bounded: an edge's owner is its lower-pos endpoint
    (partition.cpp:623) and pos is unchanged, so an edge moves iff its
    OWNER VERTEX changed part. The plan therefore joins the edge table
    once against the (usually tiny, broadcastable) changed-vertex set:
    shuffle volume ∝ moved edges + V, never E. At 100 TB this is the
    difference between rewriting every partition directory and
    rewriting only the touched ones. Applying the delta to a sink is the
    caller's step; the engine ships none (``q_down_reassign`` reads the
    delta itself). Like ``down_assign`` it takes the doubled table or
    its canonical half.
    """
    from .graph import join_endpoints, maybe_broadcast

    owned = (
        join_endpoints(edges_sym, vmeta_new, ("pos",), n_vertices)
        .select(
            "src",
            "dst",
            F.when(F.col("pos_a") < F.col("pos_b"), F.col("src"))
            .otherwise(F.col("dst"))
            .alias("owner_vid"),
        )
    )
    changed = (
        vmeta_old.select("vid", F.col("part").alias("part_old"))
        .join(vmeta_new.select("vid", F.col("part").alias("part_new")), "vid")
        .where(F.col("part_old") != F.col("part_new"))
        .withColumnRenamed("vid", "owner_vid")
    )
    return (
        owned.join(maybe_broadcast(changed), "owner_vid")
        .select("src", "dst", "part_old", "part_new")
    )


def write_partitioned(edge_parts: DataFrame, path: str) -> None:
    """Partitioned-edge sink: one directory per part
    (writePartitionedGraph, partition.cpp:588-630 → write.partitionBy)."""
    edge_parts.write.mode("overwrite").partitionBy("part").parquet(path)
