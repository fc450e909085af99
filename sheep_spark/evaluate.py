"""Partition-quality evaluators — sheep's exhaustive metric suite
(lib/partition.cpp:428-521) as DataFrame aggregations.

All metrics share one physical shape: join the edge table to per-vertex
(pos, part) on both endpoints, derive an owner part per edge, then OR
each vertex's parts into a bitset of ⌈#parts/64⌉ longs and count its
bits. The OR is a map-side partial aggregate, so hub vertices stay
skew-safe: a heavy groupBy key carries a few longs whatever its degree.

Metrics (names match the reference's printout):
- edges_cut  : undirected edges with endpoints in different parts (:452)
- vcom_vol   : Σ_X |{X's part} ∪ {parts of X's neighbors}| − 1 (:444-460)
- ecv_hash   : edge owned by endpoint with smaller cormen_hash (:455, :423-427)
- ecv_down   : edge owned by lower-pos endpoint (:505) — the headline metric
- ecv_up     : mirror (:506)
- *_balance  : max per-part load for each ownership rule (:436-441, :507-508)
"""

from __future__ import annotations

import operator
from functools import reduce

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
    ``graph.join_endpoints`` joins its E/2 ``src < dst`` rows, and both
    directed perspectives are re-created afterwards by exploding a
    2-struct array per row, so the result holds exactly the doubled
    view's rows either way. Pass ``n_vertices`` to skip the broadcast
    guard's count job in hot paths."""
    from .graph import join_endpoints

    j = join_endpoints(edges, vmeta, ("pos", "part"), n_vertices)
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


def _part_bits(p: str, n_words: int) -> list:
    """Part column ``p`` as a one-hot bitset of ``n_words`` longs: word w
    holds bit ``p % 64`` when ``p DIV 64 = w``. A single word is the
    plain ``1 << p``. (SQL shiftleft: the shift amount may be a column;
    the python F.shiftleft wrapper only takes a literal.)"""
    if n_words == 1:
        return [F.expr(f"shiftleft(CAST(1 AS BIGINT), {p})")]
    return [
        F.expr(f"IF({p} DIV 64 = {w}, shiftleft(CAST(1 AS BIGINT), {p} % 64), CAST(0 AS BIGINT))")
        for w in range(n_words)
    ]


def _distinct_minus_one(words: list):
    """Σ popcount over a vertex's OR-reduced bitset words, minus one."""
    return reduce(operator.add, [F.bit_count(w) for w in words]) - 1


def evaluate(edges: DataFrame, vmeta: DataFrame, metrics=None) -> dict:
    """Partition-quality metric dict over ``edges`` — the doubled table
    or its canonical half (src < dst), see ``joined_edges``.

    ONE job over the edge-join for any number of parts: a per-(vertex,
    part) aggregation that ORs each vertex's neighbour / owner parts
    into a bitset of ⌈k/64⌉ longs (popcount − 1 is the vertex's
    distinct-part count) and carries the scalar counts and per-part
    ownership counts as plain sums. It does NOT cache the join: with
    the vertex side broadcast the join is a map-side hash probe,
    cheaper at scale than materializing an E-sized cache (see
    BASELINE.md). vertex_balance comes from the O(V) part histogram.

    ``metrics`` selects a subset of ALL_METRICS (default: all). The
    headline quality gate only needs ``("edges_cut", "ecv_down",
    "down_balance")`` — that subset aggregates the fewest columns.
    ``n_edges`` (and ``ecv_down_per_edge`` when ecv_down is requested)
    are always included. Part ids must be non-negative.
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

    # ONE tiny O(V) job yields the part histogram → the bitset width,
    # the broadcast guard's row count, AND vertex_balance.
    part_rows = vmeta.groupBy("part").agg(F.count("*").alias("c")).collect()
    n_vertices = sum(int(r["c"]) for r in part_rows)
    if any(int(r["part"]) < 0 for r in part_rows):
        raise ValueError("evaluate: part ids must be non-negative")
    num_parts = max((int(r["part"]) for r in part_rows), default=-1) + 1
    n_words = max(1, -(-num_parts // 64))

    j = joined_edges(edges, vmeta, n_vertices=n_vertices)

    # ONE pass over the edge-join: per (src, part), bit_or each
    # requested rule's part bitset, popcount at the end; the scalar
    # counts AND the per-rule ownership counts ride along as plain
    # sums. Map-side partials absorb hub skew (the group value is a
    # few longs regardless of degree). The per-vertex rows then
    # re-group by part (V→K rows, a tiny second exchange inside the
    # same job) and K rows are collected.
    #
    # Balance identities (exact, not approximations): a down/up-owned
    # directed row's owner part IS part_a — the group key — because
    # ownership picks the src endpoint exactly when the pos comparison
    # favors it; and exactly one directed row of each undirected edge
    # satisfies the strict hash-winner predicate below (ties go to the
    # larger vid, as the reference's rule does on the src < dst row).
    sel = [
        "src",
        F.col("part_a").alias("part"),
        ((F.col("src") < F.col("dst")) & (F.col("part_a") != F.col("part_b")))
        .cast("long").alias("cut"),
    ]
    aggs = [F.count("*").alias("n_directed"), F.sum("cut").alias("edges_cut")]
    if "vcom_vol" in ecv_wanted:
        words = []
        for w, (ma, mb) in enumerate(zip(_part_bits("part_a", n_words), _part_bits("part_b", n_words))):
            sel += [ma.alias(f"ma{w}"), mb.alias(f"mb{w}")]
            words.append(F.bit_or(f"ma{w}").bitwiseOR(F.bit_or(f"mb{w}")))
        aggs.append(_distinct_minus_one(words).alias("vcom_vol"))
    jj = j
    for name, owner in owners.items():
        key = f"ecv_{name}"
        if key in ecv_wanted:
            jj = jj.withColumn(f"{name}_p", owner)
            bits = _part_bits(f"{name}_p", n_words)
            sel += [m.alias(f"m_{name}{w}") for w, m in enumerate(bits)]
            aggs.append(_distinct_minus_one([F.bit_or(f"m_{name}{w}") for w in range(n_words)]).alias(key))
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

    out: dict = {"n_edges": sum(int(r["n_directed"] or 0) for r in rows) // 2}
    if "edges_cut" in requested:
        out["edges_cut"] = sum(int(r["edges_cut"] or 0) for r in rows)
    for m in edge_bal:
        out[m] = max((int(r[bal_col[m]] or 0) for r in rows), default=0)
    if "vertex_balance" in requested:
        out["vertex_balance"] = max((int(r["c"]) for r in part_rows), default=0)
    for m in ecv_wanted:
        out[m] = sum(int(r[m] or 0) for r in rows)
    if "ecv_down" in requested:
        out["ecv_down_per_edge"] = out["ecv_down"] / max(out["n_edges"], 1)
    return out


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
