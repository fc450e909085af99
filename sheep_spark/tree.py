"""Elimination-tree ("JTree") construction.

Reference semantics (dmargo/sheep):

- Serial insert (lib/jtree.cpp:34-55): vertices are *eliminated* in
  sequence order. Inserting X (at jnid = pos(X)): for every neighbor
  already inserted, the root of that neighbor's forest component is
  adopted — its parent becomes X — and the components merge
  (lib/jnode.h:158-162 ``adopt`` + lib/unionfind.h:34-103). Neighbors not
  yet inserted only bump ``pst_weight(X)``.
- Partial trees built from *any* edge subset over the same global
  sequence merge associatively (lib/jnode.cpp:174-201 ``merge``,
  :203-250 ``mpi_merge``): per jnid ascending, re-adopt each partial's
  tree children through a fresh union-find, summing pst_weights.

One kernel, ``_eliminate``, runs that insert as a union-find sweep over
pos-space (lo, hi) edges taken in hi order. It has two paths: the
compiled counting-sort sweep (``_csweep.sheep_sort_sweep``) whenever the
C library loaded, else one interpreted numpy sweep, which is also the
reference oracle beside ``serial_tree_oracle``. Both take ids and edge
counts below 2^31 and raise ValueError on anything else.

Two paths call it, chosen by the edge count alone. At most
DRIVER_TREE_MAX_EDGES edges are collected once and swept in one call,
the analogue of sheep's rank-0 funnel. Above that cap the map/reduce
path uses the identity that a partial tree *is* an edge set
{(kid_root → parent)} and that sheep's merge of partials is the partial
build run on the union of those edge sets: repartition the edge list,
sweep each partition into ≤V-1 tree edges, and repeat with fan-in
MERGE_FAN_IN until one partition remains — a log-depth reduction, the
DataFrame equivalent of sheep's MPI_Reduce custom op, expressed as
``mapInArrow`` stages. Each task remaps its slice to dense local ids
(_eliminate_arrow), so per-task state is O(vertices in the slice), not
O(global V) as in sheep's per-rank JNode arrays (jnode.cpp:203-250).
Merging two partials (merge_trees.cpp) needs no function of its own:
it is ``build_parent_edges`` over the union of their tree edges.

The forest's trees are exactly the graph's connected components, so
``analytics.connected_components`` is this same union-find on both
sides of the DRIVER_TREE_MAX_EDGES cap: one ``_eliminate`` call on the
driver at or below it, ``build_parent_edges`` above it.

pst_weight needs no kernel: it counts later neighbors (jtree.cpp:47-49),
i.e. ``bincount(lo)`` on the driver or ``groupBy(lo).count()`` over the
deduped pos-space edge list. Either path yields the one tree table,
``TREE_SCHEMA = (jnid, parent, pst_weight)``, parent NULL for roots.

This module also holds the engine's one driver↔JVM transfer layer,
the analogue of sheep rank 0 broadcasting its flat arrays
(partition.cpp:69-79): every driver array crosses to the JVM through
``upload_columns`` (one Arrow table, always with an explicit Arrow schema,
so an empty upload still has types) and comes back through
``collect_int64_columns``/``collect_native_columns`` (one Arrow collect
that raises ValueError on a null).

Nothing here times itself; a caller that wants phase walls times the
calls (the benchmark's span tracer wraps these functions by name).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TREE_EDGE_SCHEMA = "lo long, hi long"
TREE_SCHEMA = pa.schema([("jnid", pa.int64()), ("parent", pa.int64()),
                         ("pst_weight", pa.int64())])

def _eliminate(lo: np.ndarray, hi: np.ndarray, n_vertices: int,
               pst_out: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Union-find elimination sweep over pos-space (lo, hi) edges.

    Returns (kid, parent) tree-edge arrays. Exact semantics of
    jtree.cpp:34-55 restricted to this edge subset: processing hi
    ascending == inserting vertices in sequence order; adopting
    find(lo) == adopting the neighbor's component root. Edges may come
    in any order and may repeat; equal-hi edges commute, so the output
    pairs do not depend on their order.

    Two paths, one contract. With the C library loaded, one compiled
    call (_csweep.sheep_sort_sweep) counting-sorts the edges by hi and
    sweeps them. Otherwise an interpreted sweep over a stable argsort
    runs — the reference oracle for the compiled one. Both raise
    ValueError when an id falls outside [0, n_vertices) or a call has
    2^31 or more vertices or edges (the compiled kernel's state is
    int32). ``pst_out``, a C-contiguous int64 array of n_vertices
    (anything else raises ValueError), is filled with ``pst_weight`` =
    bincount(lo); with None the weight is not computed (CC and the
    map/reduce merge rounds have no use for it).
    """
    from . import _csweep

    if n_vertices >= 2**31 or len(lo) >= 2**31:
        raise ValueError(
            f"elimination kernel takes fewer than 2^31 vertices and edges per "
            f"call, got {n_vertices} vertices and {len(lo)} edges"
        )
    if pst_out is not None and (pst_out.dtype != np.int64 or pst_out.shape != (n_vertices,)
                                or not pst_out.flags.c_contiguous):
        raise ValueError(f"pst_out must be a C-contiguous int64 array of {n_vertices} slots")
    lo = np.ascontiguousarray(lo, dtype=np.int64)
    hi = np.ascontiguousarray(hi, dtype=np.int64)
    ss_fn = _csweep.loaded()
    if ss_fn is not None:
        cap = min(len(lo), n_vertices)
        kid_out = np.empty(cap, dtype=np.int64)
        par_out = np.empty_like(kid_out)
        n_out = ss_fn(lo, hi, n_vertices, kid_out, par_out, pst_out)
        return kid_out[:n_out], par_out[:n_out]

    if len(lo) and (min(lo.min(), hi.min()) < 0
                    or max(lo.max(), hi.max()) >= n_vertices):
        raise ValueError(
            f"an edge endpoint falls outside [0, {n_vertices}) — "
            "pos-space input expected"
        )
    if pst_out is not None:
        pst_out[:] = np.bincount(lo, minlength=n_vertices)
    order = np.argsort(hi, kind="stable")
    lo = lo[order]
    hi = hi[order]
    uf = np.arange(n_vertices, dtype=np.int64)
    kid_out = np.empty(min(len(lo), n_vertices), dtype=np.int64)
    par_out = np.empty_like(kid_out)
    n_out = 0
    for i in range(len(lo)):
        x = int(hi[i])
        r = int(lo[i])
        while uf[r] != r:  # path halving; the root is its component's latest jnid
            uf[r] = uf[uf[r]]
            r = int(uf[r])
        if r != x:
            kid_out[n_out] = r
            par_out[n_out] = x
            n_out += 1
            uf[r] = x
    return kid_out[:n_out], par_out[:n_out]


def concat_lo_hi(batches: Iterator[pa.RecordBatch]) -> tuple[np.ndarray, np.ndarray]:
    """A ``mapInArrow`` task's two columns as int64 arrays (empty arrays
    for a task with no batches)."""
    los, his = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for b in batches:
        los.append(b.column(0).to_numpy(zero_copy_only=False))
        his.append(b.column(1).to_numpy(zero_copy_only=False))
    return (np.concatenate(los).astype(np.int64, copy=False),
            np.concatenate(his).astype(np.int64, copy=False))


def _eliminate_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Per-task kernel wrapper: remap the slice's vertices to dense local
    ids before the sweep, map tree edges back after. The sweep depends
    only on the ORDER of jnids (sort + comparisons), and np.unique's
    sorted relabel is order-preserving, so results are exact — while
    per-task state shrinks from O(global V) to O(vertices present in the
    slice). At 10^9 global vertices a 2M-edge slice costs ~32 MB, not
    16 GB."""
    lo, hi = concat_lo_hi(batches)
    verts = np.unique(np.concatenate([lo, hi]))
    kid_l, par_l = _eliminate(
        np.searchsorted(verts, lo), np.searchsorted(verts, hi), len(verts)
    )
    yield pa.RecordBatch.from_arrays(
        [pa.array(verts[kid_l]), pa.array(verts[par_l])], names=["lo", "hi"]
    )


# Partials merged per reduce round of the map/reduce build.
MERGE_FAN_IN = 8


def build_parent_edges(edges_pos_df: DataFrame, n_partials: int) -> DataFrame:
    """Map/reduce elimination-tree build → DataFrame (lo=kid jnid, hi=parent jnid).

    Stage 1 ("map", sheep's per-worker JTree ctor): n_partials partial
    trees, one per shuffle partition. Stages 2.. ("reduce",
    sheep's merge_trees rounds / MPI_Reduce): coalesce partials by
    MERGE_FAN_IN and re-run the same kernel on their union until one
    remains. The tree does not depend on n_partials (merge
    associativity, jnode.cpp:174-201).
    """
    # every stage runs the same _eliminate kernel on slice-local ids:
    # stage 1 sweeps raw edges, each merge round the union of its forests
    t = edges_pos_df.select("lo", "hi").repartition(n_partials).mapInArrow(
        _eliminate_arrow, TREE_EDGE_SCHEMA
    )
    p = n_partials
    while p > 1:
        p = max(1, p // MERGE_FAN_IN)
        t = t.repartition(p).mapInArrow(_eliminate_arrow, TREE_EDGE_SCHEMA)
    return t


def partial_count(spark, n_edges: int) -> int:
    """Stage-1 partials of a map/reduce build over ``n_edges`` edges:
    enough that a slice stays ~2M edges (so each task's sweep stays
    short, even on the interpreted fallback), and at least one per
    default-parallelism slot."""
    return max(spark.sparkContext.defaultParallelism, n_edges // 2_000_000 + 1)


# Above this the collected edge list stops fitting comfortably on a
# reference-class driver (100M edges × 16 B = 1.6 GB; sheep's own SLURM
# config gives every rank 15 GB, README:63-70) and the map/reduce path
# takes over.
DRIVER_TREE_MAX_EDGES = 100_000_000


def upload_columns(spark, columns: dict, schema: pa.Schema) -> DataFrame:
    """Driver arrays → DataFrame in one Arrow upload; every driver→JVM
    transfer in the engine goes through here. ``schema`` is an explicit
    Arrow schema, so an empty upload still has types and each column is
    cast to its field type (a value that does not fit raises). A
    nullable column is passed as a numpy masked array; masked entries
    become nulls."""
    return spark.createDataFrame(pa.table(columns, schema=schema))


def _collect_columns(df: DataFrame, cols: tuple[str, ...],
                     widen: bool) -> tuple[np.ndarray, ...]:
    """Arrow-collect the named columns (toArrow, no pandas copy) as
    C-contiguous numpy arrays, widened to int64 when ``widen``. A null
    in any column raises ValueError naming it: numpy has no integer
    null, so it would otherwise arrive as a bogus id."""
    tbl = df.select(*cols).toArrow()
    for c in cols:
        nulls = tbl.column(c).null_count
        if nulls:
            raise ValueError(
                f"column {c!r} has {nulls} null value(s); "
                "graph endpoints and ids must be non-null"
            )
    out = tuple(tbl.column(c).to_numpy(zero_copy_only=False) for c in cols)
    return tuple(
        a.astype(np.int64, copy=False) if widen else np.ascontiguousarray(a) for a in out
    )


def collect_int64_columns(df: DataFrame, cols: tuple[str, ...]) -> tuple[np.ndarray, ...]:
    """Collect the named columns as int64 numpy arrays: every driver
    read of ids or the tree (tree build, degree-sequence rank, jxn, CC,
    ``partitioner.tree_to_arrays``, fennel, ``io.write_xs1``)."""
    return _collect_columns(df, cols, widen=True)


def collect_native_columns(df: DataFrame, cols: tuple[str, ...]) -> tuple[np.ndarray, ...]:
    """Like collect_int64_columns but keeps each column's NATIVE width:
    an int32 transfer (the narrow funnel cast) arrives as int32 numpy —
    no widening pass, half the driver-side footprint. Consumers that
    need int64 widen at their own entry (the fused C kernel reads
    either width directly)."""
    return _collect_columns(df, cols, widen=False)


def build_tree_arrays(lo: np.ndarray, hi: np.ndarray, n_vertices: int) -> dict:
    """Driver kernel from pre-collected pos-space arrays → jnid-indexed
    {parent (-1 roots), pst_weight} numpy arrays. The fused pipeline
    (graph.driver_sequence_arrays) feeds this directly, then FFD-packs
    the returned arrays without any DataFrame round-trip."""
    pst = np.empty(n_vertices, dtype=np.int64)
    kid, par = _eliminate(lo, hi, n_vertices, pst_out=pst)
    parent_full = np.full(n_vertices, -1, dtype=np.int64)
    parent_full[kid] = par
    return {"parent": parent_full, "pst_weight": pst}


def tree_df_from_arrays(spark, arrays: dict) -> DataFrame:
    """jnid-indexed driver arrays (``parent`` with -1 roots,
    ``pst_weight``) → the tree table (TREE_SCHEMA) in one
    ``upload_columns`` call; roots upload as NULL parents."""
    parent = arrays["parent"]
    return upload_columns(spark, {
        "jnid": np.arange(len(parent), dtype=np.int64),
        "parent": np.ma.masked_less(parent, 0),
        "pst_weight": arrays["pst_weight"],
    }, TREE_SCHEMA)


def build_tree(edges_pos_df: DataFrame, n_vertices: int,
               n_edges: int | None = None) -> DataFrame:
    """``tree(jnid, parent, pst_weight)`` (TREE_SCHEMA) over jnid = 0..V-1.

    parent is NULL for roots (reference INVALID_JNID, jnode.h:43);
    pst_weight(j) = #neighbors of the vertex at pos j with greater pos
    (jtree.cpp:47-49) — the only node weight the partitioner packs
    (get_weight's default flags, partition.h:51-52).

    The edge count picks the path: ``n_edges`` when the caller knows it
    (no job run), else one ``count()``. At most DRIVER_TREE_MAX_EDGES
    edges take the driver funnel — one collect, one kernel call with
    the pst weight as its byproduct, one upload, and the input scanned
    exactly once. Above it the map/reduce build runs with
    ``partial_count`` partials and pst_weight is a ``groupBy(lo)``. Both
    paths give the same tree.
    """
    if n_edges is None:
        n_edges = edges_pos_df.count()
    spark = edges_pos_df.sparkSession
    if n_edges <= DRIVER_TREE_MAX_EDGES:
        lo, hi = collect_int64_columns(edges_pos_df, ("lo", "hi"))
        return tree_df_from_arrays(spark, build_tree_arrays(lo, hi, n_vertices))
    edges_pos_df = edges_pos_df.persist()
    parents = build_parent_edges(edges_pos_df, partial_count(spark, n_edges))
    parents = parents.withColumnRenamed("lo", "jnid").withColumnRenamed("hi", "parent")
    pst = edges_pos_df.groupBy(F.col("lo").alias("jnid")).agg(F.count("*").alias("pst_weight"))
    base = spark.range(n_vertices).select(F.col("id").alias("jnid"))
    return (
        base.join(parents, "jnid", "left")
        .join(pst, "jnid", "left")
        .select("jnid", "parent", F.coalesce("pst_weight", F.lit(0)).cast("long").alias("pst_weight"))
    )


def serial_tree_oracle(edges: list[tuple[int, int]], pos: dict[int, int]) -> tuple[list, list]:
    """Independent pure-python oracle of jtree.cpp:34-55 for tests.

    ``edges`` are undirected vid pairs (dedup not required); returns
    (parent, pst_weight) lists indexed by jnid, parent None for roots.
    """
    n = len(pos)
    seq = sorted(pos, key=lambda v: pos[v])
    adj: dict[int, set[int]] = {v: set() for v in pos}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    parent: list[int | None] = [None] * n
    pst = [0] * n
    comp: dict[int, int] = {}  # plain dict union-find, rep = latest jnid

    def find(j: int) -> int:
        root = j
        while comp.get(root, root) != root:
            root = comp[root]
        while comp.get(j, j) != j:
            comp[j], j = root, comp[j]
        return root

    for x_vid in seq:
        x = pos[x_vid]
        for nbr in adj[x_vid]:
            nbr_j = pos[nbr]
            if nbr_j < x:  # PREORDER: neighbor already inserted
                r = find(nbr_j)
                if r != x:
                    parent[r] = x
                    comp[r] = x
            else:  # POSTORDER
                pst[x] += 1
    return parent, pst


def save_tree(tree_df: DataFrame, path: str) -> None:
    """Tree sink (reference .tre save, jnode.cpp:164-168 → parquet)."""
    tree_df.write.mode("overwrite").parquet(path)


def load_tree(spark, path: str) -> DataFrame:
    """Reopen a saved tree (jnode.cpp:76-102 mmap-open → parquet scan).
    Repartitioning with a new k reuses this — partition cost independent
    of k, matching data/runtimes/com-lj.time (constant col4)."""
    return spark.read.parquet(path)


def load_sequence(spark, path: str) -> DataFrame:
    """Reopen a sequence (.seq, sequence.h:133-184 → parquet of vid,
    degree, pos)."""
    return spark.read.parquet(path)


def tree_path_sums(parent: np.ndarray, node_w: np.ndarray) -> np.ndarray:
    """Per-node sum of ``node_w`` over the node's STRICT ancestors, by
    pointer doubling: O(V log height) fully-vectorized rounds instead of
    the O(V) interpreted cascade (VERDICT r4 task 4 — a ~V-deep chain
    like com-lj's 1.19M-height tree is ~21 doubling rounds of numpy
    gathers, not 4M Python iterations). ``parent`` is jnid-indexed with
    -1 roots; parents need NOT be larger than kids (works on any forest).
    """
    n = len(parent)
    idx = np.arange(n, dtype=np.int64)
    is_root = parent < 0
    ptr = np.where(is_root, idx, parent)
    acc = np.where(is_root, 0, node_w[ptr])
    while True:
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            return acc
        # segment (j, ptr] + segment (ptr, ptr[ptr]] — roots self-loop
        # with acc 0, so the unconditional add is exact
        acc = acc + acc[ptr]
        ptr = nxt


def tree_heights(parent: np.ndarray, pst: np.ndarray) -> tuple[int, int]:
    """(vert_height, edge_height) of the forest, vectorized.

    Identities (vs the reference's ascending sweep, jnode.cpp:256-290):
    vert_height = max over nodes of (1 + #strict ancestors);
    edge_height = max over nodes of Σ pst along the node→root path
    (both endpoints inclusive) — each leaf-to-root cascade maximum is
    exactly the best path sum ending at that root."""
    n = len(parent)
    if n == 0:
        return 0, 0
    depth = tree_path_sums(parent, np.ones(n, dtype=np.int64))
    epath = pst + tree_path_sums(parent, np.asarray(pst, dtype=np.int64))
    return int(depth.max()) + 1, int(epath.max())


def tree_facts_full(tree_df: DataFrame) -> dict:
    """Exact JNodeTable::Facts (jnode.cpp:256-290) without the jxn
    machinery (width = 1 + pst_weight, fill = 0 — the reference's
    default jopts build the same padless tree, jtree.h:86-90). Driver
    pass over the O(V) arrays of ``partitioner.tree_to_arrays``, like
    the reference's rank 0; heights via pointer-doubling (tree_heights)
    — no interpreted O(V) loop remains."""
    from .partitioner import tree_to_arrays

    par, pst = tree_to_arrays(tree_df)
    n = len(par)
    w = pst + 1
    running = np.maximum.accumulate(w) if n else w
    halo = np.flatnonzero(w > 3)
    core = np.flatnonzero(w >= running)
    vmax, emax = tree_heights(par, pst)
    return {
        "vert_cnt": int(n),
        "edge_cnt": int(pst.sum()),
        "width": int(w.max()) if n else 0,
        "fill": 0,
        "vert_height": vmax,
        "edge_height": emax,
        "root_cnt": int((par < 0).sum()),
        "halo_id": int(halo[0]) if len(halo) else None,
        "core_id": int(core[0]) if len(core) else None,
    }
