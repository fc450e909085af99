"""Iterative graph analytics over the (partitioned) edge table.

These are the consumers the partitioner exists for (BASELINE.json
north_rule): PageRank to convergence, connected components, label
propagation, triangle counting. All are expressed as DataFrame joins +
aggregations so Catalyst picks physical strategies; the per-superstep
shuffle volume is what sheep's low-ECV(down) partitioning minimizes.

Connected components is one union-find, the tree's own: its ``src <
dst`` rows are labelled in one pass (``_components``), on the driver at
or below ``tree.DRIVER_TREE_MAX_EDGES`` and, above it, in the last task
of the tree's map/reduce forest build (``tree.build_parent_edges``). No
Spark rounds run on either side.

Connected components and triangle counting take the doubled table or
its canonical half: CC reads the ``src < dst`` rows, and triangle
counting orients each undirected edge once, low pos → high pos, through
``graph.edges_pos``, like the partition path.

Physical notes
--------------
- The superstep loops' edge table is hash-repartitioned on ``src``
  ONCE and cached; every superstep's join then reuses that exchange,
  shuffling only the O(V) rank/label side.
- Per-superstep lineage is truncated with ``localCheckpoint`` (or durable
  parquet checkpoints via checkpointing.py for resume).
- Dangling vertices don't exist: the edge table is symmetrized, so every
  vertex has out-degree ≥ 1 — the PageRank update needs no dangling-mass
  term and matches the plain (1-d)/N + d·Σ formulation the oracle uses.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import tree

LABELS_SCHEMA = pa.schema([("vid", pa.int64()), ("component", pa.int64())])


@contextmanager
def _superstep_planning(spark):
    """Disable AQE's per-stage replanning barriers for the duration of a
    fixed-shape superstep loop, restoring the session's setting after
    (r6, guide §2 / r4 scale-worker analysis): every superstep re-plans
    the same physical shape, and the replanning + extra stage barrier is
    a DRIVER-SERIAL cost per superstep (measured 1.4 s/superstep at 48
    partitions vs 0.5 s AQE-off on the scale input; sf0.1 suite: 5
    supersteps 6.3 → 5.6 s interleaved A/B). A real 4N-executor cluster
    pays the same serial barrier — it is exactly what the scaling rule
    punishes."""
    key = "spark.sql.adaptive.enabled"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = "true"
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _prepare_edges(edges_sym: DataFrame,
                   src_partition: bool = False) -> tuple[DataFrame, bool]:
    """(edges, owned): ``owned`` is True when WE persisted the frame and
    must unpersist it. A caller-persisted input is reused as-is: when
    the per-superstep join broadcasts the O(V) state side the edge
    table's layout does not matter, and the caller owns the layout
    decision when it persisted the table itself. Otherwise, and always
    under ``src_partition=True`` (the state side is too big to
    broadcast, so every superstep joins edges⋈state by key), the table
    is hash-partitioned on src into ``spark.sql.shuffle.partitions``
    parts and cached, so each superstep reuses one exchange instead of
    re-shuffling the E-sized table."""
    sl = edges_sym.storageLevel
    if (sl.useMemory or sl.useDisk) and not src_partition:
        return edges_sym, False
    n = int(edges_sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return edges_sym.repartition(n, "src").persist(), True


def pagerank(
    edges_sym: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer=None,
) -> tuple[DataFrame, dict]:
    """PageRank to L1-convergence ``tol``. Returns (ranks(vid, rank), info).

    When ``checkpointer`` (checkpointing.Checkpointer) is given, each
    superstep is durably written with metrics + lineage and the loop
    resumes from the newest complete superstep.
    """
    from .graph import BROADCAST_ROW_LIMIT, maybe_broadcast

    if vertices is not None and "degree" in vertices.columns:
        deg = vertices.select("vid", F.col("degree").cast("double").alias("deg"))
        n = deg.count()
    else:
        deg = edges_sym.groupBy(F.col("src").alias("vid")).agg(
            F.count("*").cast("double").alias("deg")
        )
        n = deg.count()
    # Below the broadcast guard, every superstep joins edges to a
    # BROADCAST of the O(V) state — the edge table's partitioning is
    # irrelevant and a caller-persisted table is reused as-is. Above it,
    # src-hash-partition once so the per-superstep sort-merge join
    # reuses that exchange (guide §2.4/§3.1).
    edges, edges_owned = _prepare_edges(edges_sym, src_partition=n > BROADCAST_ROW_LIMIT)

    # State carries (vid, deg, rank). The superstep recovers deg "for
    # free" as the group row count on the symmetrized edge table, so an
    # iteration costs exactly ONE edge-sized shuffle (groupBy dst) plus a
    # vertex-sized join for the convergence delta.
    start_iter = 0
    state = deg.select("vid", "deg", F.lit(1.0 / n).alias("rank"))
    if checkpointer is not None:
        resumed = checkpointer.latest()
        if resumed is not None:
            start_iter, state = resumed[0] + 1, resumed[1]
    state = state.persist()

    info = {"iterations": 0, "l1_delta": None, "superstep_secs": [], "n_vertices": n}
    base = (1.0 - damping) / n
    with _superstep_planning(edges.sparkSession):
        for it in range(start_iter, max_iter):
            t0 = time.time()
            # contrib = rank/deg computed ONCE per vertex on the O(V)
            # state side before the join (r6, guide §2.3): the joined
            # edge rows carry one double instead of (rank, deg), and the
            # per-edge division disappears — the summed VALUES are
            # identical, so the result is unchanged.
            contrib = state.select(
                F.col("vid").alias("src"), (F.col("rank") / F.col("deg")).alias("contrib")
            )
            # Explicit size-guarded broadcast hint: superstep 0 plans
            # before the state cache is materialized, so the
            # auto-threshold sees no stats and would fall back to a
            # sort-merge join that sorts the E-sized table (guide §3.1:
            # hint when you KNOW the side is small — n is exact here).
            new_state = (
                edges.join(maybe_broadcast(contrib, n_rows=n), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(
                    (F.lit(base) + F.lit(damping) * F.sum("contrib")).alias("rank"),
                    F.count("*").cast("double").alias("deg"),
                )
                .select("vid", "deg", "rank")
            )
            if (it - start_iter) % 8 == 7:
                new_state = new_state.localCheckpoint(eager=False)
            new_state = new_state.persist()
            if tol > 0.0:
                l1 = (
                    new_state.select("vid", F.col("rank").alias("nr"))
                    .join(state.select("vid", "rank"), "vid")
                    .agg(F.sum(F.abs(F.col("nr") - F.col("rank"))).alias("d"))
                    .collect()[0]["d"]
                )
            else:  # fixed-iteration mode: materialize without the delta join
                new_state.count()
                l1 = float("inf")
            state.unpersist()
            state = new_state
            info["iterations"] = it + 1
            info["l1_delta"] = float(l1)
            info["superstep_secs"].append(time.time() - t0)
            if checkpointer is not None:
                checkpointer.save(it, state, {"l1_delta": float(l1)})
            if l1 < tol:
                break
    if edges_owned:
        edges.unpersist()
    return state.select("vid", "rank"), info


def _components(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One union-find pass over undirected (lo, hi) vid pairs with
    lo < hi → (vids, component), component = min vid per component.

    Ids are relabelled to dense indices in vid order and swept by the
    elimination kernel (tree._eliminate); its forest's trees are exactly
    the components (lib/unionfind.h:34-103). Each node's root comes from
    pointer doubling over that forest, and component = the minimum vid
    per root, i.e. the first index seen per root. Empty input gives
    empty int64 arrays."""
    # per-column uniques, then their union: a third of the transient
    # memory of one unique(return_inverse) over both columns
    vids = np.union1d(np.unique(lo), np.unique(hi))
    n = len(vids)
    kid, par = tree._eliminate(np.searchsorted(vids, lo), np.searchsorted(vids, hi), n)
    ptr = np.arange(n, dtype=np.int64)
    ptr[kid] = par
    while True:  # pointer doubling to each node's root
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        ptr = nxt
    roots, first = np.unique(ptr, return_index=True)
    min_idx = np.empty(n, dtype=np.int64)
    min_idx[roots] = first
    return vids, vids[min_idx[ptr]]


def _components_arrow(batches):
    """Last-task wrapper of ``_components`` for ``mapInArrow``: the
    task's (lo, hi) forest edges → one (vid, component) batch."""
    vids, comp = _components(*tree.concat_lo_hi(batches))
    yield pa.RecordBatch.from_arrays([pa.array(vids), pa.array(comp)], schema=LABELS_SCHEMA)


def connected_components(edges_sym: DataFrame) -> tuple[DataFrame, dict]:
    """Connected components → labels(vid, component), component = min
    vid in the component. Reads the ``src < dst`` rows, so it takes the
    doubled table or its canonical half, like the other edge consumers;
    a vertex whose only rows are self-loops gets no label.

    One algorithm, the reference's union-find (lib/unionfind.h:34-103),
    labels on both sides of one ``count()`` against
    ``tree.DRIVER_TREE_MAX_EDGES`` (read at call time — the envelope of
    the tree build); ``info["path"]`` says which ran and
    ``info["iterations"]`` is 1 on both.

    ``"driver"`` (at or below the cap): collect the rows once, label
    them with ``_components`` and upload the labels.

    ``"mapreduce"`` (above it): the rows go through the tree's own
    map/reduce build (``tree.build_parent_edges``), whose forest has the
    graph's components as its trees and ends in one partition of at
    most V-1 edges; ``_components`` labels that forest in the same last
    task (``coalesce(1)`` + ``mapInArrow``). This path has the tree
    build's envelope: the last task holds the whole forest, and
    ``tree._eliminate`` raises ValueError at 2^31 or more vertices. The
    returned frame is lazy, so each action on it re-runs the build.
    """
    half = edges_sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi"))
    n_edges = half.count()
    spark = half.sparkSession
    if n_edges <= tree.DRIVER_TREE_MAX_EDGES:
        vids, comp = _components(*tree.collect_int64_columns(half, ("lo", "hi")))
        labels = tree.upload_columns(spark, {"vid": vids, "component": comp}, LABELS_SCHEMA)
        return labels, {"iterations": 1, "path": "driver"}
    forest = tree.build_parent_edges(half, tree.partial_count(spark, n_edges))
    labels = forest.coalesce(1).mapInArrow(_components_arrow, "vid long, component long")
    return labels, {"iterations": 1, "path": "mapreduce"}


def label_propagation(
    edges_sym: DataFrame, max_iter: int = 10, checkpointer=None,
) -> tuple[DataFrame, dict]:
    """Synchronous LPA with a fully deterministic schedule: new label =
    most frequent neighbor label, ties broken by smallest label; a vertex
    keeps its label when it has no neighbors. Fixed round count
    (deterministic, oracle-friendly) rather than oscillation detection.
    """
    edges, edges_owned = _prepare_edges(edges_sym)
    labels = edges.select(F.col("src").alias("vid")).distinct().withColumn(
        "label", F.col("vid")
    )
    start_iter = 0
    if checkpointer is not None:
        resumed = checkpointer.latest()
        if resumed is not None:
            start_iter, labels = resumed[0] + 1, resumed[1]
    labels = labels.localCheckpoint(eager=True)
    w = Window.partitionBy("vid").orderBy(F.desc("cnt"), F.asc("label"))
    info = {"iterations": 0}
    for it in range(start_iter, max_iter):
        counts = (
            edges.join(labels.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        new_labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vid", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        info["iterations"] = it + 1
        if checkpointer is not None:
            checkpointer.save(it, labels, {})
    if edges_owned:
        edges.unpersist()
    return labels, info


def _tris(e: DataFrame) -> DataFrame:
    e1 = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = e.select(F.col("lo").alias("ta"), F.col("hi").alias("tc"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
    return tris.select("a", "b", "c")


def triangle_count(edges_sym: DataFrame, vertices: DataFrame) -> int:
    """Global triangle count via degree-ordered orientation — the same
    degree-ascending order as sheep's sequence (sequence.h:52-63) bounds
    the wedge intermediate exactly like down-assignment bounds ECV.

    ``edges_sym`` is the doubled table or its canonical half (src < dst),
    like the other edge consumers: ``graph.edges_pos`` orients each
    undirected edge once, low pos → high pos. That oriented cache
    (scanned 3× by the wedge joins) is released in ``finally``; triangle
    rows stream into the count, never stored."""
    from .graph import edges_pos

    e = edges_pos(edges_sym, vertices).persist()
    try:
        row = _tris(e).agg(F.coalesce(F.count("*"), F.lit(0)).alias("n")).collect()[0]
        return int(row["n"])
    finally:
        e.unpersist()

