"""Iterative graph analytics over the (partitioned) edge table.

These are the consumers the partitioner exists for (BASELINE.json
north_rule): PageRank to convergence, connected components, label
propagation, triangle counting.

PageRank, connected components and triangle counting take the doubled
table or its canonical half and read its ``src < dst`` rows. Each
first counts those rows (one Spark job, which re-runs the input's
lineage when it is not persisted) and picks its path against a driver
cap, read at call time — sheep's rank 0 keeps its sequence, tree and
parts as flat arrays (partition.cpp:69-79). CC's cap is
``tree.DRIVER_TREE_MAX_EDGES``, the envelope of the tree build;
PageRank's and triangles' is the lower of that and
``DRIVER_ANALYTICS_MAX_EDGES``, the largest input they were measured
on:

- at or below the cap, the rows are collected once
  (``graph.driver_sequence_arrays`` for PageRank and triangles, which
  also gives degrees and the pos-space ``(lo, hi)`` edges) and the
  whole computation runs in numpy on the driver: PageRank's supersteps
  are two ``bincount`` scatters each, triangles batched sorted-key
  lookups of the degree-oriented wedges (``_triangles``), CC one
  union-find pass (``_components``);
- above it, PageRank runs its supersteps as DataFrame joins +
  aggregations over both directions of the rows, triangles as a wedge
  join over ``graph.edges_pos``, and CC labels the forest of the tree's
  own map/reduce build (``tree.build_parent_edges``) in its last task.

PageRank and CC report ``info["path"]``. Label propagation always runs
as DataFrame supersteps.

Physical notes (Spark superstep loops)
--------------------------------------
- The superstep loops' edge table is hash-repartitioned on ``src``
  ONCE and cached; every superstep's join then reuses that exchange,
  shuffling only the O(V) rank/label side.
- Per-superstep lineage is truncated with ``localCheckpoint`` (or durable
  parquet checkpoints via checkpointing.py for resume). PageRank writes
  checkpoints only above the cap; its driver path has nothing to resume.
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

# Driver cap of pagerank and triangle_count (tree.DRIVER_TREE_MAX_EDGES
# still bounds it): bench.py's scale input, 48M raw edges, 47.5M src < dst
# rows after dedup, is the largest measured. There, on a 4-core host,
# PageRank's driver path ran 6 supersteps in 20 s, collect included,
# against 93 s on the Spark path, and peaked at 2.3 GB driver RSS
# (~46 B per row) where the tree build's fused funnel needs ~16.
DRIVER_ANALYTICS_MAX_EDGES = 48_000_000

LABELS_SCHEMA = pa.schema([("vid", pa.int64()), ("component", pa.int64())])
RANKS_SCHEMA = pa.schema([("vid", pa.int64()), ("rank", pa.float64())])


def _half(edges_sym: DataFrame) -> tuple[DataFrame, int, int]:
    """The ``src < dst`` rows of ``edges_sym``, their count and the
    count of all rows (one job). Callers take their driver path when
    the first count is at most their driver cap. On a persisted table
    the job is one scan: 0.8-1.1 s for 95M rows at local[4], where one
    Spark PageRank superstep takes ~12 s."""
    lt = F.col("src") < F.col("dst")
    row = edges_sym.agg(F.count(F.when(lt, 1)).alias("half"), F.count("*").alias("rows")).first()
    return edges_sym.where(lt).select("src", "dst"), row["half"], row["rows"]


def _analytics_cap() -> int:
    """PageRank's and triangles' driver cap, read at call time."""
    return min(tree.DRIVER_TREE_MAX_EDGES, DRIVER_ANALYTICS_MAX_EDGES)


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


def _prepare_edges(edges_sym: DataFrame, src_partition: bool = False,
                   rows: DataFrame | None = None) -> tuple[DataFrame, bool]:
    """(edges, owned): ``owned`` is True when WE persisted the frame and
    must unpersist it. ``rows`` (default ``edges_sym``) is the table the
    loop scans, a narrow view of ``edges_sym``. A caller-persisted
    ``edges_sym`` makes ``rows`` a rescan of its cache and is reused
    as-is: when the per-superstep join broadcasts the O(V) state side
    the edge table's layout does not matter, and the caller owns the
    layout decision when it persisted the table itself. Otherwise, and
    always under ``src_partition=True`` (the state side is too big to
    broadcast, so every superstep joins edges⋈state by key), ``rows``
    is hash-partitioned on src into ``spark.sql.shuffle.partitions``
    parts and cached, so each superstep reuses one exchange instead of
    re-shuffling the E-sized table."""
    rows = edges_sym if rows is None else rows
    sl = edges_sym.storageLevel
    if (sl.useMemory or sl.useDisk) and not src_partition:
        return rows, False
    n = int(edges_sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return rows.repartition(n, "src").persist(), True


def pagerank(
    edges_sym: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer=None,
) -> tuple[DataFrame, dict]:
    """PageRank to L1-convergence ``tol``: at most ``max_iter``
    supersteps of rank'(v) = (1-d)/n + d·Σ_u rank(u)/deg(u), stopping
    after the first whose L1 delta is below ``tol``. n is
    ``vertices.count()`` when ``vertices`` (with a ``degree`` column)
    is given, else the number of vertices with an edge. Returns
    (ranks(vid long, rank double), info) with info keys
    ``iterations``, ``l1_delta``, ``superstep_secs``, ``n_vertices`` and
    ``path``. An empty graph gives an empty frame and 0 iterations.

    ``edges_sym`` is the doubled table or its canonical half; both
    paths read its ``src < dst`` rows, after one job that counts them.
    ``path`` is ``"driver"`` when they number at most the driver cap
    (``DRIVER_ANALYTICS_MAX_EDGES``, lowered further by
    ``tree.DRIVER_TREE_MAX_EDGES``): one collect through
    ``graph.driver_sequence_arrays``, numpy supersteps, one upload of
    the ranks. It always computes the L1 delta, and ignores
    ``checkpointer`` — there is nothing to resume.

    ``"spark"`` above the cap: DataFrame supersteps over the doubled
    table as given (an input with twice as many rows as its ``src <
    dst`` rows) or else over both directions of those rows
    (``graph.doubled_view``); the L1 delta is computed only when
    ``tol > 0`` (else reported as inf). When ``checkpointer``
    (checkpointing.Checkpointer) is given, each superstep is durably
    written with metrics + lineage and the loop resumes from the newest
    complete superstep.
    """
    from .graph import BROADCAST_ROW_LIMIT, doubled_view, driver_sequence_arrays, maybe_broadcast

    spark = edges_sym.sparkSession
    given = vertices is not None and "degree" in vertices.columns
    half, n_edges, n_rows = _half(edges_sym)
    if n_edges <= _analytics_cap():
        arrs = driver_sequence_arrays(half)
        n = vertices.count() if given else len(arrs["vid"])
        return _pagerank_driver(spark, arrs, n, damping, tol, max_iter)

    # the doubled table is scanned as given; any other input (the
    # canonical half) through both directions of its src < dst rows
    doubled = edges_sym if n_rows == 2 * n_edges else doubled_view(half)
    if given:
        deg = vertices.select("vid", F.col("degree").cast("double").alias("deg"))
    else:
        deg = doubled.groupBy(F.col("src").alias("vid")).agg(
            F.count("*").cast("double").alias("deg")
        )
    n = deg.count()
    info = {"iterations": 0, "l1_delta": None, "superstep_secs": [], "n_vertices": n,
            "path": "spark"}
    if n == 0:
        return _upload_ranks(spark, np.empty(0, np.int64), np.empty(0)), info
    # Below the broadcast guard, every superstep joins edges to a
    # BROADCAST of the O(V) state — the edge table's partitioning is
    # irrelevant and a caller-persisted table is reused as-is. Above it,
    # src-hash-partition once so the per-superstep sort-merge join
    # reuses that exchange (guide §2.4/§3.1).
    edges, edges_owned = _prepare_edges(edges_sym, n > BROADCAST_ROW_LIMIT, doubled)

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


def _upload_ranks(spark, vid: np.ndarray, rank: np.ndarray) -> DataFrame:
    return tree.upload_columns(spark, {"vid": vid, "rank": rank}, RANKS_SCHEMA)


def _pagerank_driver(spark, arrs: dict, n: int, damping: float, tol: float,
                     max_iter: int) -> tuple[DataFrame, dict]:
    """``pagerank``'s driver path over ``graph.driver_sequence_arrays``
    output. State is pos-indexed; each superstep is c = rank/deg, then
    base + d·(bincount(hi, c[lo]) + bincount(lo, c[hi])): every
    undirected (lo, hi) edge carries rank both ways."""
    vid, pos, lo, hi = arrs["vid"], arrs["pos"], arrs["lo"], arrs["hi"]
    nv = len(vid)
    info = {"iterations": 0, "l1_delta": None, "superstep_secs": [], "n_vertices": n,
            "path": "driver"}
    if nv == 0:
        return _upload_ranks(spark, vid, np.empty(0)), info
    deg = np.empty(nv)
    deg[pos] = arrs["degree"]
    rank = np.full(nv, 1.0 / n)
    base = (1.0 - damping) / n
    for it in range(max_iter):
        t0 = time.time()
        c = rank / deg
        new = base + damping * (np.bincount(hi, c[lo], nv) + np.bincount(lo, c[hi], nv))
        l1 = float(np.abs(new - rank).sum())
        rank = new
        info["iterations"] = it + 1
        info["l1_delta"] = l1
        info["superstep_secs"].append(time.time() - t0)
        if l1 < tol:
            break
    return _upload_ranks(spark, vid, rank[pos]), info


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
    half, n_edges, _ = _half(edges_sym)
    spark = half.sparkSession
    if n_edges <= tree.DRIVER_TREE_MAX_EDGES:
        vids, comp = _components(*tree.collect_int64_columns(half, ("src", "dst")))
        labels = tree.upload_columns(spark, {"vid": vids, "component": comp}, LABELS_SCHEMA)
        return labels, {"iterations": 1, "path": "driver"}
    half = half.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
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


# wedges checked per vectorized batch in _triangles: ~3 MB of transient
# index arrays. Batches of 4M added 20 MB of driver RSS on the perfbench
# analytics input and 180 MB on 1.8M dense edges, and ran no faster.
WEDGE_BATCH = 1 << 16


def _triangles(lo: np.ndarray, hi: np.ndarray, n: int) -> int:
    """Triangle count over pos-space (lo, hi) edges, lo < hi, oriented
    low → high pos as ``graph.edges_pos`` orients the Spark path. Each
    triangle u < v < w is counted once, at its edge (u, v): for every w
    in v's out-row, look up (u, w) among the sorted edge keys. The
    wedges are generated and looked up in vectorized batches of about
    ``WEDGE_BATCH``."""
    key = lo * n + hi  # < n^2 <= (2·DRIVER_TREE_MAX_EDGES)^2
    key.sort()
    u, v = key // n, key % n  # key order: row u, then v ascending
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(u, minlength=n), out=indptr[1:])
    lens = indptr[v + 1] - indptr[v]  # wedges through each edge
    ends = np.cumsum(lens)
    cuts = np.searchsorted(ends, np.arange(WEDGE_BATCH, ends[-1] if len(ends) else 0,
                                           WEDGE_BATCH), side="right")
    total = 0
    for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(key)]):
        ln = lens[a:b]
        if not ln.any():
            continue
        # v[a:b]'s out-rows, concatenated, as one index array into v
        idx = np.arange(ln.sum()) + np.repeat(indptr[v[a:b]] - np.cumsum(ln) + ln, ln)
        q = np.repeat(u[a:b] * n, ln) + v[idx]
        at = np.searchsorted(key, q)
        at[at == len(key)] = 0
        total += int(np.count_nonzero(key[at] == q))
    return total


def triangle_count(edges_sym: DataFrame, vertices: DataFrame) -> int:
    """Global triangle count via degree-ordered orientation — the same
    degree-ascending order as sheep's sequence (sequence.h:52-63) bounds
    the wedge intermediate exactly like down-assignment bounds ECV.

    ``edges_sym`` is the doubled table or its canonical half (src < dst),
    like the other edge consumers; each undirected edge is oriented
    once, low pos → high pos.

    With at most ``pagerank``'s driver cap of ``src < dst`` rows (one
    job counts them), one collect through
    ``graph.driver_sequence_arrays`` gives the pos-space edges
    (``vertices`` is not read), and ``_triangles`` counts them on the
    driver. Above it, ``graph.edges_pos`` orients the edges by
    ``vertices``' pos and a wedge join counts; that oriented cache
    (scanned 3× by the wedge joins) is released in ``finally``, and
    triangle rows stream into the count, never stored."""
    from .graph import driver_sequence_arrays, edges_pos

    half, n_edges, _ = _half(edges_sym)
    if n_edges <= _analytics_cap():
        arrs = driver_sequence_arrays(half)
        return _triangles(arrs["lo"], arrs["hi"], len(arrs["vid"]))
    e = edges_pos(edges_sym, vertices).persist()
    try:
        row = _tris(e).agg(F.coalesce(F.count("*"), F.lit(0)).alias("n")).collect()[0]
        return int(row["n"])
    finally:
        e.unpersist()
