"""Partition-quality evaluators — sheep's exhaustive metric suite
(lib/partition.cpp:428-521) as DataFrame aggregations.

All metrics share one physical shape: join the symmetrized edge table to
per-vertex (pos, part) on both endpoints, derive an owner part per edge,
then a two-stage distinct-count per vertex. The two-stage form
(distinct pairs → count per vertex) keeps hub vertices skew-safe: the
heavy groupBy key only ever carries ≤ #parts rows after the first
partial aggregation.

Metrics (names match the reference's printout):
- edges_cut  : undirected edges with endpoints in different parts (:452)
- vcom_vol   : Σ_X |{X's part} ∪ {parts of X's neighbors}| − 1 (:444-460)
- ecv_hash   : edge owned by endpoint with smaller cormen_hash (:455, :423-427)
- ecv_down   : edge owned by lower-pos endpoint (:505) — the headline metric
- ecv_up     : mirror (:506)
- *_balance  : max per-part load for each ownership rule (:436-441, :507-508)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ECV(hash) owner rule: the endpoint with the smaller cormen hash
# (partition.cpp:423-427), k * floor((sqrt(5)-1)/2 * 2^32) mod 2^32
_CORMEN_S = 2654435769


def _cormen_hash(col):
    return F.pmod(col * F.lit(_CORMEN_S), F.lit(2**32))


def joined_edges(edges: DataFrame, vmeta: DataFrame, n_vertices: int | None = None) -> DataFrame:
    """Directed edge rows annotated with (pos, part) of both endpoints.

    ``edges`` is the doubled table or its canonical half (src < dst):
    the join runs over its ``src < dst`` rows only — E/2 rows, two
    broadcast probes per undirected edge — and both directed
    perspectives are re-created afterwards by exploding a 2-struct
    array per row, so the result holds exactly the doubled view's rows
    either way. The broadcast hint is size-guarded
    (graph.maybe_broadcast); pass ``n_vertices`` to skip the guard's
    count job in hot paths."""
    from .graph import maybe_broadcast

    v = maybe_broadcast(vmeta, n_rows=n_vertices)
    a = v.select(F.col("vid").alias("src"), F.col("pos").alias("pos_a"), F.col("part").alias("part_a"))
    b = v.select(F.col("vid").alias("dst"), F.col("pos").alias("pos_b"), F.col("part").alias("part_b"))
    j = edges.where(F.col("src") < F.col("dst")).join(a, "src").join(b, "dst")
    both = F.array(
        F.struct(
            F.col("src"), F.col("dst"),
            F.col("pos_a"), F.col("part_a"), F.col("pos_b"), F.col("part_b"),
        ),
        F.struct(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col("pos_b").alias("pos_a"), F.col("part_b").alias("part_a"),
            F.col("pos_a").alias("pos_b"), F.col("part_a").alias("part_b"),
        ),
    )
    return j.select(F.explode(both).alias("e")).select(
        "e.src", "e.dst", "e.pos_a", "e.part_a", "e.pos_b", "e.part_b"
    )


#: every metric evaluate() can produce (reference printout order)
ALL_METRICS = (
    "edges_cut", "vcom_vol", "ecv_down", "ecv_up", "ecv_hash",
    "down_balance", "up_balance", "hash_balance", "vertex_balance",
)


def evaluate(edges: DataFrame, vmeta: DataFrame, metrics=None) -> dict:
    """Partition-quality metric dict over ``edges`` — the doubled table
    or its canonical half (src < dst), see ``joined_edges``.

    The number of parts in ``vmeta`` picks one of two plans. Up to 62
    parts (every real sheep config): ONE job over the edge-join, a
    per-vertex bitmask aggregation carrying the scalar counts and the
    per-part ownership counts as extra aggregates. It does NOT cache
    the join: with the vertex side broadcast the join is a pure
    map-side hash probe, cheaper at scale than materializing a
    9-column E-sized cache (see BASELINE.md).

    ``metrics`` selects a subset of ALL_METRICS (default: all). The
    headline quality gate only needs ``("edges_cut", "ecv_down",
    "down_balance")`` — that subset runs the minimal jobs (~3× less
    work than the full suite). ``n_edges`` (and ``ecv_down_per_edge``
    when ecv_down is requested) are always included.

    Above 62 parts a part no longer fits a bit of a long: the cached
    join feeds a metric-tagged union + two-stage distinct (the
    hub-skew-safe general form) and one explode scan for the edge
    balances. vertex_balance comes from the O(V) part histogram on both
    plans.
    """
    requested = tuple(metrics) if metrics is not None else ALL_METRICS
    unknown = set(requested) - set(ALL_METRICS)
    if unknown:
        raise ValueError(f"unknown metrics: {sorted(unknown)}")
    down_owner = F.when(F.col("pos_a") < F.col("pos_b"), F.col("part_a")).otherwise(F.col("part_b"))
    up_owner = F.when(F.col("pos_a") > F.col("pos_b"), F.col("part_a")).otherwise(F.col("part_b"))
    hash_owner = F.when(
        _cormen_hash(F.col("src")) < _cormen_hash(F.col("dst")),
        F.col("part_a"),
    ).otherwise(F.col("part_b"))
    owners = {"down": down_owner, "up": up_owner, "hash": hash_owner}
    ecv_wanted = [m for m in ("vcom_vol", "ecv_down", "ecv_up", "ecv_hash") if m in requested]
    edge_bal = [m for m in ("down_balance", "up_balance", "hash_balance") if m in requested]

    # ONE tiny O(V) job yields the part histogram → num_parts, the
    # broadcast guard's row count, AND vertex_balance.
    part_rows = vmeta.groupBy("part").agg(F.count("*").alias("c")).collect()
    n_vertices = sum(int(r["c"]) for r in part_rows)
    num_parts = max((int(r["part"]) for r in part_rows), default=-1) + 1

    j = joined_edges(edges, vmeta, n_vertices=n_vertices)

    out: dict = {}
    ecv: dict = {}
    if num_parts <= 62:
        # ONE pass over the edge-join: per (src, part), bit_or each
        # requested ownership rule's part into a long mask (integer
        # shiftleft — no floating point), popcount at the end; the
        # scalar counts AND the per-rule ownership counts ride along as
        # plain sums. Map-side partials absorb hub skew (the group
        # value is a few longs regardless of degree).
        # The per-vertex rows then re-group by part (V→K rows, a tiny
        # second exchange inside the same job) and K rows are collected.
        #
        # Balance identities (exact, not approximations): a down/up-
        # owned directed row's owner part IS part_a — the group key —
        # because ownership picks the src endpoint exactly when the
        # pos comparison favors it; and exactly one directed row of
        # each undirected edge satisfies the strict hash-winner
        # predicate below (ties broken toward the larger vid, the
        # rule _balances applies to the src < dst row).
        mask_cols = {
            "vcom_a": F.expr("shiftleft(CAST(1 AS BIGINT), part_a)"),
            "vcom_b": F.expr("shiftleft(CAST(1 AS BIGINT), part_b)"),
        }
        sel = [
            "src",
            F.col("part_a").alias("part"),
            ((F.col("src") < F.col("dst")) & (F.col("part_a") != F.col("part_b")))
            .cast("long").alias("cut"),
        ]
        aggs = [F.count("*").alias("n_directed"), F.sum("cut").alias("edges_cut")]
        if "vcom_vol" in ecv_wanted:
            sel += [mask_cols["vcom_a"].alias("ma"), mask_cols["vcom_b"].alias("mb")]
            aggs.append((F.bit_count(F.bit_or("ma").bitwiseOR(F.bit_or("mb"))) - 1).alias("vcom_vol"))
        jj = j
        for name, owner in owners.items():
            key = f"ecv_{name}"
            if key in ecv_wanted:
                # SQL shiftleft: the shift amount may be a column (the
                # python F.shiftleft wrapper only takes a literal)
                jj = jj.withColumn(f"{name}_p", owner)
                sel.append(F.expr(f"shiftleft(CAST(1 AS BIGINT), {name}_p)").alias(f"m_{name}"))
                aggs.append((F.bit_count(F.bit_or(f"m_{name}")) - 1).alias(key))
        if "down_balance" in edge_bal:
            sel.append((F.col("pos_a") < F.col("pos_b")).cast("long").alias("own_down"))
            aggs.append(F.sum("own_down").alias("n_down"))
        if "up_balance" in edge_bal:
            sel.append((F.col("pos_a") > F.col("pos_b")).cast("long").alias("own_up"))
            aggs.append(F.sum("own_up").alias("n_up"))
        if "hash_balance" in edge_bal:
            h_src = _cormen_hash(F.col("src"))
            h_dst = _cormen_hash(F.col("dst"))
            sel.append(
                ((h_src < h_dst) | ((h_src == h_dst) & (F.col("src") > F.col("dst"))))
                .cast("long").alias("own_hash")
            )
            aggs.append(F.sum("own_hash").alias("n_hash"))
        per_vertex = jj.select(*sel).groupBy("src", "part").agg(*aggs)
        final = [F.sum("n_directed").alias("n_directed"), F.sum("edges_cut").alias("edges_cut")]
        final += [F.sum(m).alias(m) for m in ecv_wanted]
        bal_col = {"down_balance": "n_down", "up_balance": "n_up", "hash_balance": "n_hash"}
        final += [F.sum(bal_col[m]).alias(bal_col[m]) for m in edge_bal]
        rows = per_vertex.groupBy("part").agg(*final).collect()
        out["n_edges"] = sum(int(r["n_directed"] or 0) for r in rows) // 2
        if "edges_cut" in requested:
            out["edges_cut"] = sum(int(r["edges_cut"] or 0) for r in rows)
        for m in ecv_wanted:
            ecv[m] = sum(int(r[m] or 0) for r in rows)
        for m in edge_bal:
            out[m] = max((int(r[bal_col[m]] or 0) for r in rows), default=0)
    else:
        # >62 parts: cached join + metric-tagged union + two-stage
        # distinct (the persist pays when the same join feeds 5 scans)
        j = j.persist()
        try:
            scalars = j.agg(
                F.count("*").alias("n_directed"),
                F.sum(
                    ((F.col("src") < F.col("dst")) & (F.col("part_a") != F.col("part_b"))).cast("long")
                ).alias("edges_cut"),
            ).collect()[0]
            out["n_edges"] = int(scalars["n_directed"]) // 2
            if "edges_cut" in requested:
                out["edges_cut"] = int(scalars["edges_cut"] or 0)

            def tagged(metric, p_col):
                return j.select(F.lit(metric).alias("metric"), "src", p_col.alias("p"))

            ecv_rows = None
            if "vcom_vol" in ecv_wanted:
                ecv_rows = tagged("vcom_vol", F.col("part_b")).unionAll(
                    tagged("vcom_vol", F.col("part_a"))
                )
            for name, owner in owners.items():
                key = f"ecv_{name}"
                if key in ecv_wanted:
                    t = tagged(key, owner)
                    ecv_rows = t if ecv_rows is None else ecv_rows.unionAll(t)
            if ecv_rows is not None:
                per_vertex = (
                    ecv_rows.distinct()
                    .groupBy("metric", "src")
                    .agg((F.count("*") - 1).alias("c"))
                    .groupBy("metric")
                    .agg(F.sum("c").alias("s"))
                )
                ecv = {r["metric"]: int(r["s"]) for r in per_vertex.collect()}

            if edge_bal:
                out.update(_balances(j, owners, edge_bal))
        finally:
            j.unpersist()

    # vertex_balance falls out of the O(V) part histogram already
    # collected above, on both paths
    if "vertex_balance" in requested:
        out["vertex_balance"] = max((int(r["c"]) for r in part_rows), default=0)

    for m in ecv_wanted:
        out[m] = ecv.get(m, 0)
    if "ecv_down" in requested:
        out["ecv_down_per_edge"] = out["ecv_down"] / max(out["n_edges"], 1)
    return out


def _balances(j: DataFrame, owners: dict, wanted: list) -> dict:
    """Per-part max edge load for each requested ownership rule, in one
    explode scan of the (cached) >62-part join."""
    conds = {
        "down_balance": (F.col("pos_a") < F.col("pos_b"), owners["down"]),
        "up_balance": (F.col("pos_a") > F.col("pos_b"), owners["up"]),
        "hash_balance": (F.col("src") < F.col("dst"), owners["hash"]),
    }
    elems = [
        F.when(cond, F.struct(F.lit(m).alias("metric"), owner.alias("part")))
        for m, (cond, owner) in conds.items()
        if m in wanted
    ]
    rows = (
        j.select(F.explode(F.array(*elems)).alias("mp"))
        .where(F.col("mp").isNotNull())
        .select("mp.metric", "mp.part")
    )
    got = {
        r["metric"]: int(r["m"])
        for r in rows.groupBy("metric", "part")
        .count()
        .groupBy("metric")
        .agg(F.max("count").alias("m"))
        .collect()
    }
    return {m: got.get(m, 0) for m in wanted}


def evaluate_oracle(edges: list[tuple[int, int]], pos: dict[int, int],
                    part: dict[int, int]) -> dict:
    """Pure-python port of the evaluator semantics (partition.cpp:428-521)
    for tests: exact, per the reference's nested-loop definition."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def cormen(k: int) -> int:
        return (k * _CORMEN_S) % 2**32

    edges_cut = vcom = ecv_down = ecv_up = ecv_hash = 0
    down_bal: dict[int, int] = {}
    up_bal: dict[int, int] = {}
    hash_bal: dict[int, int] = {}
    vert_bal: dict[int, int] = {}
    n_edges = sum(len(s) for s in adj.values()) // 2
    for x, nbrs in adj.items():
        vert_bal[part[x]] = vert_bal.get(part[x], 0) + 1
        vset = {part[x]}
        dset, uset, hset = set(), set(), set()
        for y in nbrs:
            if x < y and part[x] != part[y]:
                edges_cut += 1
            vset.add(part[y])
            d = part[x] if pos[x] < pos[y] else part[y]
            u = part[x] if pos[x] > pos[y] else part[y]
            h = part[x] if cormen(x) < cormen(y) else part[y]
            dset.add(d)
            uset.add(u)
            hset.add(h)
            if pos[x] < pos[y]:
                down_bal[part[x]] = down_bal.get(part[x], 0) + 1
            if pos[x] > pos[y]:
                up_bal[part[x]] = up_bal.get(part[x], 0) + 1
            if x < y:
                hash_bal[h] = hash_bal.get(h, 0) + 1
        vcom += len(vset) - 1
        ecv_down += len(dset) - 1
        ecv_up += len(uset) - 1
        ecv_hash += len(hset) - 1
    return {
        "n_edges": n_edges,
        "edges_cut": edges_cut,
        "vcom_vol": vcom,
        "ecv_down": ecv_down,
        "ecv_up": ecv_up,
        "ecv_hash": ecv_hash,
        "down_balance": max(down_bal.values(), default=0),
        "up_balance": max(up_bal.values(), default=0),
        "hash_balance": max(hash_bal.values(), default=0),
        "vertex_balance": max(vert_bal.values(), default=0),
        "ecv_down_per_edge": ecv_down / max(n_edges, 1),
    }
