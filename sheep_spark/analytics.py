"""Iterative graph analytics over the (partitioned) edge table.

These are the consumers the partitioner exists for (BASELINE.json
north_rule): PageRank to convergence, connected components, label
propagation, triangle counting. All are expressed as DataFrame joins +
aggregations so Catalyst picks physical strategies; the per-superstep
shuffle volume is what sheep's low-ECV(down) partitioning minimizes.

Connected components has two paths, split by one ``count()`` of the
canonical half against ``tree.DRIVER_TREE_MAX_EDGES`` (the envelope of
the tree build's driver funnel). At or below it the half is collected
once and labelled by one union-find pass with the elimination kernel
(``tree._eliminate``) — no Spark rounds at all. Above it, large/small-star
contraction runs as Spark rounds with ``max_iter`` and checkpoint/resume.

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


def _prepare_edges(edges_sym: DataFrame, n_partitions: int | None = None,
                   src_partition: bool = False) -> tuple[DataFrame, bool]:
    """(edges, owned): ``owned`` is True when WE persisted the frame and
    must unpersist it. A caller-persisted input is reused AS-IS (r6,
    guide §2.4/§5): the old unconditional ``repartition(n, "src")`` +
    ``persist`` re-shuffled and double-cached an edge table the caller
    already cached — pure overhead when the per-superstep join
    broadcasts the O(V) state side, and the caller owns the layout
    decision when it persisted the table itself. ``src_partition=True``
    restores the old behavior for the regime where the state side is
    too big to broadcast: there every superstep joins edges⋈state by
    key, and a src-hash-partitioned cache lets each superstep reuse one
    exchange instead of re-shuffling the E-sized table."""
    spark = edges_sym.sparkSession
    sl = edges_sym.storageLevel
    if (sl.useMemory or sl.useDisk) and not src_partition:
        return edges_sym, False
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
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


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for each vertex u, connect every LARGER
    neighbor to m = min(Γ(u) ∪ {u}). Input/output: canonical parent
    edges (src > dst). One groupBy + one join — both shuffles on the
    vertex key."""
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: for each vertex u, connect every SMALLER
    neighbor (and u itself) to m = min of the smaller neighborhood.
    Input/output: canonical parent edges (src > dst)."""
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        e.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return rewired.unionAll(self_edge).distinct()


def _cc_driver(half: DataFrame) -> DataFrame:
    """CC on the driver: one union-find pass over the collected
    canonical half (src > dst) → labels(vid, component).

    Ids are relabelled to dense indices in vid order and swept by the
    elimination kernel (tree._eliminate) as (min, max) index pairs; its
    forest's trees are exactly the components (lib/unionfind.h:34-103).
    Each node's root comes from pointer doubling over that forest, and
    component = the minimum vid per root, i.e. the first index seen per
    root. One collect, one kernel call, one ``tree.upload_columns``
    (an empty graph yields typed empty labels)."""
    src, dst = tree.collect_int64_columns(half, ("src", "dst"))
    # per-column uniques, then their union: a third of the transient
    # driver memory of one unique(return_inverse) over both columns
    vids = np.union1d(np.unique(dst), np.unique(src))
    n = len(vids)
    kid, par = tree._eliminate(np.searchsorted(vids, dst), np.searchsorted(vids, src), n)
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
    return tree.upload_columns(
        half.sparkSession, {"vid": vids, "component": vids[min_idx[ptr]]}, LABELS_SCHEMA
    )


def connected_components(
    edges_sym: DataFrame, max_iter: int = 50, checkpointer=None
) -> tuple[DataFrame, dict]:
    """Connected components → labels(vid, component), component = min
    vid in the component, over the canonical half (src > dst) of the
    edge table. Two paths, chosen by one ``count()`` of that half
    against ``tree.DRIVER_TREE_MAX_EDGES`` (read at call time — the same
    envelope as the tree build's driver funnel); ``info["path"]`` says
    which ran.

    ``"driver"`` (at or below the cap): collect the half once and run
    one union-find pass with the elimination kernel — the reference's
    in-memory union-find (lib/unionfind.h:34-103) itself. No rounds run,
    so ``checkpointer`` is neither read nor written and ``max_iter`` is
    unused; info reports iterations=1, changed=0, converged=True.

    ``"star"`` (above the cap): alternating large-star / small-star
    contraction (Kiveris et al. 2014). Each round rewires every edge
    toward the minimum of a local neighborhood; the edge set converges
    to min-rooted stars in O(log² V) rounds worst-case (O(log V)
    observed), INDEPENDENT of graph diameter — unlike naive min-label
    propagation (O(diameter)) or single-sided min contraction, which
    shrinks path graphs by only ~1 vertex per round. Rounds are
    edge-sized shuffles keyed on vertices. Convergence = the canonical
    edge set reaches a fixpoint (count + order-insensitive xxhash both
    stable). Each round is saved to ``checkpointer`` and a run resumes
    from its newest round.

    If ``max_iter`` rounds pass without a fixpoint (a deliberately
    bounded run, e.g. kill/resume tests), a RuntimeWarning is emitted
    and ``info["converged"]`` is False — callers must not treat the
    labels as final (they previously got silently-wrong labels; ADVICE
    r1). Partial labels are still a function of vid (min-aggregated).
    """
    half = edges_sym.where(F.col("src") > F.col("dst")).select("src", "dst")
    if half.count() <= tree.DRIVER_TREE_MAX_EDGES:
        info = {"iterations": 1, "changed": 0, "converged": True, "path": "driver"}
        return _cc_driver(half), info

    edges, edges_owned = _prepare_edges(edges_sym)
    e = edges.where(F.col("src") > F.col("dst")).select("src", "dst")
    start_iter = 0
    if checkpointer is not None:
        resumed = checkpointer.latest()
        if resumed is not None:
            start_iter, e = resumed[0] + 1, resumed[1].select("src", "dst")
    e = e.localCheckpoint(eager=True)

    def stats(df: DataFrame) -> tuple[int, int]:
        # order-insensitive digest; decimal(38,0) so the sum of 2^63-scale
        # hashes can't hit ANSI long overflow at any row count
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    prev = stats(e)
    info = {"iterations": 0, "changed": prev[0], "converged": prev[0] == 0, "path": "star"}
    # NOTE (r6): AQE stays ON here, unlike pagerank — CC's edge set
    # shrinks every round and AQE's runtime join re-selection (small
    # rounds become broadcast joins) beats the static plan: toggling it
    # off measured 10.4 s vs 6 s for the sf0.1 CC query.
    for it in range(start_iter, max_iter):
        # lazy checkpoint: the stats() collect is the materializing
        # action, so each round runs ONE job instead of two (r6)
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = stats(e2)
        e_prev, e = e, e2
        info["iterations"] = it + 1
        info["changed"] = cur[0]
        if checkpointer is not None:
            checkpointer.save(it, e, {"edges": cur[0]})
        # digest equality is necessary but (at ~2^-64) not sufficient: on
        # the terminating round only, confirm with an exact set compare
        # (ADVICE r2 — a collision would return silently wrong labels)
        if cur == prev and e2.exceptAll(e_prev).isEmpty():
            info["converged"] = True
            info["changed"] = 0  # fixpoint: the last round changed nothing
            break
        prev = cur
    if edges_owned:
        edges.unpersist()
    if not info["converged"]:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"({info['changed']} edges remain) — labels are PARTIAL; "
            "raise max_iter or resume from the checkpoint",
            RuntimeWarning,
            stacklevel=2,
        )
    labels = (
        e.select(F.col("src").alias("vid"), F.col("dst").alias("component"))
        .unionAll(e.select(F.col("dst").alias("vid"), F.col("dst").alias("component")))
        .groupBy("vid")
        .agg(F.min("component").alias("component"))
    )
    return labels, info


def label_propagation(
    edges_sym: DataFrame, max_iter: int = 10, init: DataFrame | None = None,
    checkpointer=None,
) -> tuple[DataFrame, dict]:
    """Synchronous LPA with a fully deterministic schedule: new label =
    most frequent neighbor label, ties broken by smallest label; a vertex
    keeps its label when it has no neighbors. Fixed round count
    (deterministic, oracle-friendly) rather than oscillation detection.
    """
    edges, edges_owned = _prepare_edges(edges_sym)
    labels = init or edges.select(F.col("src").alias("vid")).distinct().withColumn(
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


def _oriented_edges(edges_sym: DataFrame, vertices: DataFrame) -> DataFrame:
    """Each undirected edge once, oriented low-pos → high-pos (degree
    ascending): (a, b) with pos a < b. NOT persisted — callers own the
    cache lifecycle."""
    from .graph import maybe_broadcast

    v = maybe_broadcast(vertices.select("vid", "pos"))
    return (
        edges_sym.join(v.withColumnRenamed("vid", "src").withColumnRenamed("pos", "pa"), "src")
        .join(v.withColumnRenamed("vid", "dst").withColumnRenamed("pos", "pb"), "dst")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )


def _tris(e: DataFrame) -> DataFrame:
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
    return tris.select("a", "b", "c")


def triangle_count(edges_sym: DataFrame, vertices: DataFrame) -> int:
    """Global triangle count via degree-ordered orientation — the same
    degree-ascending order as sheep's sequence (sequence.h:52-63) bounds
    the wedge intermediate exactly like down-assignment bounds ECV.

    The oriented edge cache (scanned 3× by the wedge joins) is released
    in ``finally``; triangle rows stream into the count, never stored."""
    e = _oriented_edges(edges_sym, vertices).persist()
    try:
        row = _tris(e).agg(F.coalesce(F.count("*"), F.lit(0)).alias("n")).collect()[0]
        return int(row["n"])
    finally:
        e.unpersist()

