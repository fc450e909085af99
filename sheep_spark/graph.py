"""Edge-table and vertex-sequence construction.

Semantics mirror the reference engine (dmargo/sheep):

- undirected graphs are stored *doubled* — both (u,v) and (v,u) rows
  (graph_wrapper.h:50-51, ``LL_L_UNDIRECTED_DOUBLE``);
- self loops are ignored (jtree.cpp:48-49);
- duplicate edges are removed (dedup toggle, defs.h:40-43 — our engine
  always dedups: the graph is a simple graph);
- the canonical vertex order ("sequence") is **degree-ascending with
  vid tie-break** (sequence.h:52-63). ``pos`` is the 0-based rank in that
  order and equals sheep's ``jnid``.

Scale notes
-----------
``attach_rank`` computes a global dense rank without collapsing to a
single partition: range-repartition on the sort key, count rows per
partition (one tiny job), then rank within partitions and add broadcast
offsets. This is the distributed equivalent of sheep's parallel sort
(sequence.h:55) and works at 10^9+ vertices, unlike a bare
``row_number() OVER (ORDER BY ...)`` which serializes on one task.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

VERTICES_SCHEMA = pa.schema([("vid", pa.int64()), ("degree", pa.int64()), ("pos", pa.int64())])

# Canonical derived test graph over the TPC-H-ish sandbox tables: a
# deterministic pseudo-random multigraph folded to V_MOD vertices. It has
# hubs, triangles, and several components — and is expressible in ANSI SQL
# so the DuckDB oracle can reproduce it exactly.
V_MOD = 4999

# Above this row count a "small side" stops being broadcastable (~100s of
# MB serialized) and the join must fall back to shuffle/sort-merge so both
# sides co-partition on the key. Every vertex-table broadcast in the
# engine routes through maybe_broadcast, which reads this at call time.
BROADCAST_ROW_LIMIT = 10_000_000

# At most this many vertices (or distinct urls, extract.mint_vertex_ids)
# are ranked on the driver; above it attach_rank ranks them distributed.
DRIVER_RANK_MAX = 30_000_000

# The driver sequence funnels index degree and pos arrays by vid when
# every id lies in [0, DENSE_VID_LIMIT); sparser or negative ids are
# relabelled through a sorted unique table instead.
DENSE_VID_LIMIT = 500_000_000


def maybe_broadcast(df: DataFrame, n_rows: int | None = None) -> DataFrame:
    """Broadcast hint only when the side is actually small.

    ``n_rows`` is the caller's (usually already-known) row count; when
    None it is computed — pass it in hot paths. At 10^9 vertices the
    hint is dropped and Catalyst/AQE pick a shuffle join."""
    if n_rows is None:
        n_rows = df.count()
    return F.broadcast(df) if n_rows <= BROADCAST_ROW_LIMIT else df


def join_endpoints(edges: DataFrame, vertices: DataFrame, cols: tuple[str, ...],
                   n_vertices: int | None = None) -> DataFrame:
    """Each undirected edge once, as the ``src < dst`` rows of ``edges``
    (the doubled table or its canonical half), with the ``vertices``
    columns ``cols`` joined onto both endpoints as ``<col>_a`` (src) and
    ``<col>_b`` (dst). The vertex side goes through maybe_broadcast;
    pass ``n_vertices`` (its row count) to skip the guard's count job.
    Every join of vertex state onto both edge endpoints goes through
    here: edges_pos, evaluate.joined_edges, partitioner.down_assign and
    down_reassign."""
    v = maybe_broadcast(vertices.select("vid", *cols), n_rows=n_vertices)
    a = v.select(F.col("vid").alias("src"), *[F.col(c).alias(f"{c}_a") for c in cols])
    b = v.select(F.col("vid").alias("dst"), *[F.col(c).alias(f"{c}_b") for c in cols])
    return edges.where(F.col("src") < F.col("dst")).join(a, "src").join(b, "dst")


def symmetrize_canonical(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """The canonical half of ``symmetrize``: each undirected edge exactly
    once as (lo, hi), self loops dropped, deduped. Pipelines that cache
    the graph should persist THIS (E/2 rows) and derive the doubled view
    with ``doubled_view`` — every scan then reads the half-size cache
    twice instead of materializing (and first-touching) 2E cached rows.
    """
    a = F.col(src).cast("long")
    b = F.col(dst).cast("long")
    return (
        edges.select(F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def doubled_view(canon: DataFrame) -> DataFrame:
    """Both directions of every canonical edge — the engine's standard
    symmetrized table, as a lazy union over (usually cached) canon."""
    rev = canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return canon.unionAll(rev)


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Double, drop self loops, dedup → the engine's canonical edge table.

    Input may be directed/unsymmetrized; output contains both directions
    of every undirected edge exactly once.

    Plan note: dedup runs on the CANONICAL (min, max) orientation first —
    one distinct over E/2 rows — and the mirror is unioned after. The
    naive order (double, then distinct over 2E) shuffles twice the data
    for the identical result set; at 10^8+ edges the dedup shuffle is the
    pipeline's single biggest exchange.
    """
    return doubled_view(symmetrize_canonical(edges, src, dst))


def attach_rank(df: DataFrame, order_cols: list[str], out: str = "pos") -> DataFrame:
    """Dense 0-based global rank over ``order_cols`` (must be a total order).

    Distributed two-phase ranking: range partition → per-partition
    row_number → add per-partition offsets (broadcast map). No global
    single-partition window.
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 4)
    ranged = df.repartitionByRange(n_part, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    if not counts:  # empty input → empty output with the rank column typed
        empty = ranged.withColumn(out, F.lit(None).cast("long")).drop("_pid")
        empty = empty.localCheckpoint(eager=True)
        ranged.unpersist()
        return empty
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    out_df = ranged.withColumn(
        out,
        (F.row_number().over(w) - 1 + off_expr[F.col("_pid")]).cast("long"),
    ).drop("_pid")
    # Eagerly materialize so the ranged cache can be released NOW: the
    # range boundaries came from sampling, so out_df must never be
    # recomputed from an unpersisted ranged (offsets could shift), and
    # leaving ranged cached leaks a V-sized block per call (ADVICE r1).
    out_df = out_df.localCheckpoint(eager=True)
    ranged.unpersist()
    return out_df


def vertices_from_edges(edges_sym: DataFrame) -> DataFrame:
    """``vertices(vid, degree, pos)`` — sheep's degreeSequence (sequence.h:52-63).

    degree = #distinct neighbors (the edge table is symmetrized + deduped,
    so grouping on ``src`` counts each incident undirected edge once).
    pos    = rank under (degree asc, vid asc); pos == sheep's jnid.
    Zero-degree vertices never appear (graph_wrapper.h:61-62 skips them).

    Up to DRIVER_RANK_MAX vertices the rank runs on the driver
    (toArrow collect + np.lexsort + one arrow upload — the analogue of
    the tree builder's rank-0 funnel, ~5× faster than the distributed
    two-phase rank at sandbox scale); above it, ``attach_rank``
    range-partitions so no single task ever holds the vertex table.
    Values are identical (same total order).
    """
    deg = edges_sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("degree"))
    deg = deg.persist()
    try:
        n = deg.count()
        if n > DRIVER_RANK_MAX:
            # attach_rank materializes its output eagerly (localCheckpoint)
            # before returning, so the deg cache is consumed HERE, inside
            # the try — the finally unpersist never forces a recompute
            return attach_rank(deg, ["degree", "vid"], out="pos")
        import numpy as np

        from .tree import collect_int64_columns

        vid, degree = collect_int64_columns(deg, ("vid", "degree"))
        order = np.lexsort((vid, degree))  # primary: degree, tie: vid
        pos = np.empty(n, dtype=np.int64)
        pos[order] = np.arange(n, dtype=np.int64)
        return vertices_df_from_arrays(deg.sparkSession, vid, degree, pos)
    finally:
        deg.unpersist()


def driver_sequence_arrays(canon: DataFrame, *, ids_fit_int32: bool = False) -> dict:
    """Fused rank-0 funnel over the canonical half: ONE Arrow collect →
    degrees, sequence pos, and pos-space edges as numpy arrays.

    Replaces three separate jobs of the staged pipeline — the degree
    ``groupBy`` shuffle over the doubled view (2E rows), the
    edges_pos vid→pos join, and the tree builder's (lo, hi) collect —
    with a single E/2-row collect plus vectorized driver passes
    (bincount/lexsort/gather). Semantics identical: degree = #distinct
    neighbors, pos = rank under (degree asc, vid asc) (sequence.h:52-63),
    (lo, hi) = sorted endpoint positions per undirected edge.

    This is the same centralization sheep's rank 0 performs for its
    sequence + tree steps, and shares the driver funnel's envelope:
    callers gate on DRIVER_TREE_MAX_EDGES and use the distributed
    ``vertices_from_edges``/``edges_pos`` path beyond it.

    Returns dict(vid, degree, pos, lo, hi) of int64 arrays; vid/degree/
    pos are vertex-indexed (degree-sequence order NOT applied — vid
    ascending), lo/hi are per-undirected-edge. Ids in
    [0, DENSE_VID_LIMIT) index the degree table directly; any other id
    set is relabelled through a sorted unique table.

    ``ids_fit_int32``: caller guarantees 0 <= id < 2^31 for every
    endpoint; the collect then casts JVM-side and ships half the bytes
    (the funnel collect is memory-bandwidth-bound — measured 37-59 s
    for 35M int64 pairs in degraded host windows). The collector widens
    back to int64 on arrival, so results are bit-identical (asserted by
    test_fused_driver_funnel_int32_transfer).
    """
    src, dst = _collect_canon_endpoints(canon, ids_fit_int32)
    return _sequence_from_endpoints(src, dst)


def _collect_canon_endpoints(canon: DataFrame, ids_fit_int32: bool):
    """Arrow-collect the canonical half's (src, dst) — native width
    (int32 under the narrow transfer, int64 otherwise) — with the
    wrapped-id rejection (shared by the sequence funnel and the fused
    sequence+tree funnel). Consumers widen at their own entry when
    they need int64; the fused C kernel reads either width."""
    from .tree import collect_native_columns

    if ids_fit_int32:
        from pyspark.sql import functions as F

        canon = canon.select(
            F.col("src").cast("int").alias("src"), F.col("dst").cast("int").alias("dst")
        )
    src, dst = collect_native_columns(canon, ("src", "dst"))
    if ids_fit_int32 and len(src) and (int(src.min()) < 0 or int(dst.min()) < 0):
        # ADVICE r5: under non-ANSI SQL config the JVM-side int cast
        # WRAPS an id >= 2^31 instead of erroring, and every downstream
        # degree/tree/quality number silently corrupts. An id in
        # [2^31, 2^32) — the realistic off-by-one-V case — wraps
        # negative, so a negative endpoint here proves the caller's
        # promise was false. Two O(E) numpy mins, ~ms at 35M edges.
        raise ValueError(
            "driver_sequence_arrays: ids_fit_int32 promised 0 <= id < 2^31 "
            "but negative endpoints arrived after the int32 transfer — an "
            "id >= 2^31 wrapped in the JVM-side cast; re-run without "
            "ids_fit_int32 (int64 transfer)"
        )
    return src, dst


def _sequence_from_endpoints(src, dst) -> dict:
    """The numpy body of driver_sequence_arrays (post-collect). Widens
    narrow-transfer int32 endpoints to int64 at entry so every returned
    array keeps its documented int64 dtype."""
    import numpy as np

    src = np.asarray(src).astype(np.int64, copy=False)
    dst = np.asarray(dst).astype(np.int64, copy=False)
    m = int(max(src.max(), dst.max())) + 1 if len(src) else 0
    if len(src) and src.min() >= 0 and dst.min() >= 0 and m <= DENSE_VID_LIMIT:
        # dense-id fast path: O(E + max_vid) bincounts, no sort of the
        # 2E concatenation
        deg_full = np.bincount(src, minlength=m) + np.bincount(dst, minlength=m)
        vid = np.flatnonzero(deg_full)
        degree = deg_full[vid].astype(np.int64)
        n = len(vid)
        order = np.lexsort((vid, degree))  # primary: degree, tie: vid
        pos = np.empty(n, dtype=np.int64)
        pos[order] = np.arange(n, dtype=np.int64)
        pos_full = np.empty(m, dtype=np.int64)
        pos_full[vid] = pos
        ps, pd_ = pos_full[src], pos_full[dst]
    else:  # sparse/negative ids: relabel through a sorted unique table
        vid = np.unique(np.concatenate([src, dst]))
        n = len(vid)
        si = np.searchsorted(vid, src)
        di = np.searchsorted(vid, dst)
        degree = (np.bincount(si, minlength=n) + np.bincount(di, minlength=n)).astype(np.int64)
        order = np.lexsort((vid, degree))
        pos = np.empty(n, dtype=np.int64)
        pos[order] = np.arange(n, dtype=np.int64)
        ps, pd_ = pos[si], pos[di]
    lo = np.minimum(ps, pd_)
    hi = np.maximum(ps, pd_)
    return {"vid": vid, "degree": degree, "pos": pos, "lo": lo, "hi": hi}


def driver_sequence_tree_arrays(canon: DataFrame, *, ids_fit_int32: bool = False) -> dict:
    """Fused funnel AND tree: one Arrow collect → degrees, sequence
    pos, and the elimination-tree arrays, with the entire post-collect
    body in ONE compiled call when ids are dense and fit int32
    (_csweep.sheep_seq_tree: degree histogram → counting rank →
    pos-space edges → counting sort by hi → union-find sweep, with the
    pst weight falling out of its scatter pass). The pos-space
    (lo, hi) edge list is never materialized driver-side as numpy
    arrays — the kernel consumes its int32 temporaries internally.

    Exactly equal to driver_sequence_arrays + tree.build_tree_arrays
    (the fallback whenever the compiled kernel is unavailable or
    declines the input), asserted by
    tests/test_graph.py::test_fused_seq_tree_matches_staged. Same
    envelope as those two: the caller gates on DRIVER_TREE_MAX_EDGES.
    Ids in [0, DENSE_VID_LIMIT) below 2^31 take the compiled call; any
    other id set takes the sparse relabel of the fallback.

    Returns dict(vid, degree, pos, n_vertices, parent, pst_weight);
    parent is pos-indexed with -1 roots.
    """
    import numpy as np

    from . import _csweep
    from .tree import build_tree_arrays

    src, dst = _collect_canon_endpoints(canon, ids_fit_int32)
    st_fn = _csweep.loaded_seq_tree()
    if st_fn is not None and len(src) and len(src) < 2**31:
        mn = int(min(src.min(), dst.min()))
        m = int(max(src.max(), dst.max())) + 1
        if mn >= 0 and m <= DENSE_VID_LIMIT and m < 2**31:
            res = st_fn(np.ascontiguousarray(src), np.ascontiguousarray(dst), m)
            if res is not None:
                vid = np.flatnonzero(res["deg_full"])
                degree = res["deg_full"][vid]
                pos = res["pos_full"][vid].astype(np.int64)
                n = res["n"]
                parent_full = np.full(n, -1, dtype=np.int64)
                parent_full[res["kid"]] = res["par"]
                return {
                    "vid": vid, "degree": degree, "pos": pos,
                    "n_vertices": n, "parent": parent_full,
                    "pst_weight": res["pst_w"],
                }
    arrs = _sequence_from_endpoints(src, dst)
    n = len(arrs["vid"])
    arrays = build_tree_arrays(arrs["lo"], arrs["hi"], n)
    return {
        "vid": arrs["vid"], "degree": arrs["degree"], "pos": arrs["pos"],
        "n_vertices": n, **arrays,
    }


def vertices_df_from_arrays(spark: SparkSession, vid, degree, pos) -> DataFrame:
    """``vertices(vid, degree, pos)`` (VERTICES_SCHEMA) from driver
    arrays in one ``tree.upload_columns`` call; ``vertices_from_edges``
    uploads its driver rank through here too."""
    from .tree import upload_columns

    return upload_columns(spark, {"vid": vid, "degree": degree, "pos": pos}, VERTICES_SCHEMA)


def edges_pos(edges: DataFrame, vertices: DataFrame,
              n_vertices: int | None = None) -> DataFrame:
    """Each undirected edge once, in sequence space: (lo, hi) with lo < hi
    being the endpoint *positions*. This is the input to the tree builder
    and the triangle count's degree orientation.

    ``edges`` is the doubled table or its canonical half (src < dst),
    joined through ``join_endpoints``.
    """
    j = join_endpoints(edges, vertices, ("pos",), n_vertices)
    return j.select(
        F.least("pos_a", "pos_b").alias("lo"),
        F.greatest("pos_a", "pos_b").alias("hi"),
    )


def edges_from_tpch(spark: SparkSession, sf_dir: str, v_mod: int = V_MOD) -> DataFrame:
    """Deterministic synthetic link graph derived from ``lineitem``.

    src = l_orderkey mod v_mod, dst = (31*l_partkey + 7*l_suppkey) mod v_mod.
    Matches the DuckDB oracle SQL in ``__spark_entry__.oracle_sql``.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    raw = li.select(
        (F.col("l_orderkey") % v_mod).cast("long").alias("a"),
        ((F.col("l_partkey") * 31 + F.col("l_suppkey") * 7) % v_mod).cast("long").alias("b"),
    ).where(F.col("a") != F.col("b"))
    return symmetrize(raw, "a", "b")


def graph_from_tpch(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges_sym, vertices) for the canonical sandbox graph, cached."""
    edges = edges_from_tpch(spark, sf_dir).persist()
    verts = vertices_from_edges(edges).persist()
    return edges, verts
