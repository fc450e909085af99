"""T2/T6 jxn (fill) machinery vs an INDEPENDENT textbook oracle.

The oracle plays the classic elimination game: eliminate pos 0..n-1 in
order; at x the remaining neighbors N_H(x) form a clique, width(x) =
1 + |N_H(x)|. The classic identity jxn(x) == N_H(x) (kids' reach sets ∪
own post-neighbors) is exactly what the reference's newUnion computes —
the test checks the implementations agree per node, not just in
aggregate.
"""

import random

from sheep_spark import jxn


def pos_space_edges(n, m, seed):
    """Random simple graph directly on pos ids 0..n-1 (every id a vertex)."""
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def elimination_game(edges, n):
    """(widths, fill, pst_weights) by direct simulation."""
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    orig_pst = [sum(1 for v in adj[x] if v > x) for x in range(n)]
    widths, fill = [], 0
    for x in range(n):
        nb = set(adj[x])  # earlier ids already removed
        widths.append(1 + len(nb))
        fill += len(nb) - orig_pst[x]
        for u in nb:
            adj[u].discard(x)
            for v in nb:
                if u != v:
                    adj[u].add(v)
        adj[x] = set()
    return widths, fill, orig_pst


def run_kernel(edges, n, width_limit=None):
    import numpy as np

    lo = np.array([e[0] for e in edges], dtype=np.int64)
    hi = np.array([e[1] for e in edges], dtype=np.int64)
    return jxn.jxn_kernel(lo, hi, n, width_limit=width_limit)


def test_widths_match_elimination_game_multiseed():
    for seed in (1, 2, 3):
        n, m = 60, 140
        edges = pos_space_edges(n, m, seed)
        widths, fill, psts = elimination_game(edges, n)
        pos_of, parent, pst_w, width, facts = run_kernel(edges, n)
        assert pos_of == list(range(n))  # no deferral → jnid == pos
        assert width == widths
        assert pst_w == psts
        assert facts["width"] == max(widths)
        assert facts["fill"] == fill
        assert facts["edge_cnt"] == len(edges)


def test_tree_matches_plain_builder(spark):
    """No-limit jxn run must produce the SAME elimination tree (parent,
    pst_weight) as the oracle-tested plain builder."""
    from pyspark.sql import functions as F

    from sheep_spark import tree

    edges = pos_space_edges(80, 200, seed=9)
    epos = spark.createDataFrame(edges, "lo long, hi long")
    t_plain = {
        r["jnid"]: (r["parent"], r["pst_weight"])
        for r in tree.build_tree(epos, 80).collect()
    }
    df, _ = jxn.build_jxn_tree(epos, 80)
    t_jxn = {
        r["jnid"]: (r["parent"], r["pst_weight"]) for r in df.collect()
    }
    assert t_jxn == t_plain
    assert df.where(F.col("jnid") != F.col("pos")).count() == 0


def test_known_treewidths():
    # clique K6: every bag is the whole clique → width 6
    k = 6
    clique = [(a, b) for a in range(k) for b in range(a + 1, k)]
    _, _, _, width, facts = run_kernel(clique, k)
    assert facts["width"] == k
    # cycle C8: width 3 (bags of size 3), fill n-3 edges
    n = 8
    cycle = sorted((min(i, (i + 1) % n), max(i, (i + 1) % n)) for i in range(n))
    _, _, _, _, cfacts = run_kernel(cycle, n)
    assert cfacts["width"] == 3
    # a tree (star, center eliminated LAST as the degree order would):
    # width 2, no fill
    star = [(i, 6) for i in range(6)]
    _, _, _, _, sfacts = run_kernel(star, 7)
    assert sfacts["width"] == 2 and sfacts["fill"] == 0


def test_width_limit_defers_and_chains():
    """Hubs that exceed the limit must fail insertion, land in the tail
    chain (widths stepping down to 1), and the tree must stay one-rooted
    with every edge counted exactly once."""
    n = 30
    edges = pos_space_edges(n, 45, seed=4)
    # wire two hubs to everything after them so the limit binds twice
    edges = sorted(set(edges) | {(5, v) for v in range(6, n)} | {(7, v) for v in range(8, n)})
    widths_nolimit, _, _ = elimination_game(edges, n)
    limit = 6
    assert max(widths_nolimit) > limit + 1  # the limit actually binds
    pos_of, parent, pst_w, width, facts = run_kernel(edges, n, width_limit=limit)
    assert sorted(pos_of) == list(range(n))  # every vertex inserted once
    # main phase and tail are each pos-increasing; the single descent
    # marks the tail boundary
    descents = [j for j in range(1, len(pos_of)) if pos_of[j] < pos_of[j - 1]]
    assert len(descents) == 1
    tail_start = descents[0]
    deferred = pos_of[tail_start:]
    assert 5 in deferred and 7 in deferred
    for j in range(tail_start):  # main-phase nodes respect the limit
        assert width[j] <= limit + 1
    # tail chain: first node width = #deferred, stepping down to 1
    tail_widths = [width[j] for j in range(tail_start, len(pos_of))]
    assert tail_widths == list(range(len(deferred), 0, -1))
    assert facts["root_cnt"] == 1  # the chain roots everything
    assert facts["edge_cnt"] == len(edges)
