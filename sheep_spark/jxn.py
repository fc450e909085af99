"""T2/T6 — width-limited elimination trees with fill (jxn) tables.

The reference's ``-w`` mode builds, per eliminated vertex, the *fill
neighborhood* ``jxn`` — the merge of its kids' jxns with its own
post-neighbors, minus itself (lib/jnode.h:230-254 ``newUnion``,
lib/merge.h:46-155 k-way ``heuristic_merge``) — fails the insert when
that set exceeds ``width_limit`` (lib/jtree.cpp:65-110, parameterized
``insert``), defers failed vertices, and finally roots every deferred
vertex in a trivial chain whose jxn shrinks by one per node
(lib/jtree.cpp:120-170). ``width(id) = 1 + |jxn(id)|``; the maximum
over a full (no-limit) run is the treewidth of the elimination order,
and ``fill = Σ (width − pst_weight − 1)`` (lib/jnode.cpp Facts).

Spark-first shape: the elimination game is sequential by definition —
the reference runs it single-node too, memory-bounded (jtree.h
``memory_limit``) — so this is a driver kernel fed by one arrow collect
of the pos-space edge list, the same rank-0 funnel as the driver path
of ``tree.build_tree``, returning the annotated tree in one upload.
``build_jxn_tree``'s facts carry the treewidth of the order
(``facts["width"]``, find_max_width in jtree.h Options). The
partitioner path never builds jxn (reference default jopts,
jtree.h:86-90); this module serves the treewidth / fill experiments of
the reference's ``-w`` flag, at the same single-node scale envelope the
reference gives it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

JXN_TREE_SCHEMA = pa.schema(
    [(c, pa.int64()) for c in ("jnid", "pos", "parent", "pst_weight", "width")]
)


def _adjacency(lo, hi, n: int):
    """Full adjacency (both directions) as CSR numpy arrays."""
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    src = np.concatenate([lo, hi])
    dst = np.concatenate([hi, lo])
    order = np.argsort(src, kind="stable")
    nbr = dst[order]
    return indptr, nbr


JXN_MEMORY_LIMIT_DEFAULT = 100_000_000  # live jxn elements (~6 GB of sets)


def jxn_kernel(lo, hi, n: int, width_limit: int | None = None,
               memory_limit: int | None = None):
    """Pure-python/numpy elimination with jxn sets over pos ids 0..n-1.

    Returns (jnid, pos, parent, pst_weight, width) parallel lists in
    INSERTION order (jnid == index), plus the facts dict. parent is -1
    for roots. With ``width_limit`` set, a vertex whose merged jxn would
    exceed the limit is deferred (insert FAILURE, jtree.cpp:108-110) and
    re-inserted in the trivial tail chain, exactly like the reference.

    ``memory_limit`` bounds the LIVE jxn storage Σ|jxn| in elements —
    the analogue of the reference's jtree.h ``memory_limit`` — so a
    dense graph aborts with MemoryError instead of silently OOMing the
    driver (VERDICT r4 task 6). Default JXN_MEMORY_LIMIT_DEFAULT; pass
    0/negative to disable.
    """
    limit = width_limit if width_limit is not None else n + 1
    mem_limit = JXN_MEMORY_LIMIT_DEFAULT if memory_limit is None else memory_limit
    live = 0  # Σ|jxn| over non-freed entries

    indptr, nbr = _adjacency(lo, hi, n)
    inserted = [False] * n
    jnid_of = [-1] * n  # pos -> jnid
    # union-find over inserted vertices' jnids (path-halving find)
    uf_parent: list[int] = []  # per jnid: union-find parent (== tree parent until adopted)
    tree_parent: list[int] = []
    pst_weight: list[int] = []
    width: list[int] = []
    pos_of: list[int] = []
    jxn: list[set | None] = []

    def find(j: int) -> int:
        while uf_parent[j] != j:
            uf_parent[j] = uf_parent[uf_parent[j]]
            j = uf_parent[j]
        return j

    wide: list[int] = []

    def try_insert(x: int) -> bool:
        """The parameterized insert (jtree.cpp:65-110): compute the
        merged jxn first; commit adoptions only on success (the
        reference defers adoptKids for exactly this revocability)."""
        pst = 0
        s: set = set()
        kid_roots: set = set()
        for k in range(indptr[x], indptr[x + 1]):
            v = nbr[k]
            if v == x:
                continue
            if inserted[v]:
                kid_roots.add(find(jnid_of[v]))
            else:
                pst += 1
                s.add(v)
                if pst > limit:  # early pst_weight check, jtree.cpp:87
                    return False
        for r in kid_roots:
            s |= jxn[r]  # type: ignore[operator]
        s.discard(x)
        if len(s) > limit:  # heuristic_merge failure, jnode.h:247
            return False
        nonlocal live
        j = len(pos_of)
        pos_of.append(x)
        tree_parent.append(-1)
        uf_parent.append(j)
        pst_weight.append(pst)
        width.append(1 + len(s))
        jxn.append(s)
        live += len(s)
        for r in kid_roots:
            tree_parent[r] = j
            uf_parent[r] = j
            live -= len(jxn[r])  # type: ignore[arg-type]
            jxn[r] = None  # freed on adoption (jxn_data.deleteJData)
        inserted[x] = True
        jnid_of[x] = j
        if mem_limit > 0 and live > mem_limit:
            raise MemoryError(
                f"jxn storage {live} elements exceeds memory_limit "
                f"{mem_limit} (jtree.h memory_limit analogue) — use "
                f"width_limit or raise the budget"
            )
        return True

    for x in range(n):
        if not try_insert(x):
            wide.append(x)

    # tail chain for deferred vertices (jtree.cpp:120-170): the first
    # tail node adopts every current root and its jxn is all remaining
    # vertices; each subsequent node chains on the previous, jxn
    # shrinking by one.
    if wide:
        remaining = len(wide) - 1
        first = True
        prev = -1
        rest = set(wide)
        for x in wide:
            rest.discard(x)
            j = len(pos_of)
            pos_of.append(x)
            uf_parent.append(j)
            pst = 0
            for k in range(indptr[x], indptr[x + 1]):
                v = nbr[k]
                if v != x and not inserted[v]:
                    pst += 1
            pst_weight.append(pst)
            if first:
                for r in range(j):
                    if tree_parent[r] == -1:
                        tree_parent[r] = j
                        if jxn[r] is not None:
                            live -= len(jxn[r])  # type: ignore[arg-type]
                        jxn[r] = None
                width.append(1 + remaining)
                jxn.append(set(rest))
                first = False
            else:
                tree_parent[prev] = j
                if jxn[prev] is not None:
                    live -= len(jxn[prev])  # type: ignore[arg-type]
                    jxn[prev] = None
                remaining -= 1
                width.append(1 + remaining)
                jxn.append(set(rest))
            live += len(rest)
            if mem_limit > 0 and live > mem_limit:
                raise MemoryError(
                    f"jxn storage {live} elements exceeds memory_limit "
                    f"{mem_limit} in the tail chain — use width_limit "
                    f"or raise the budget"
                )
            tree_parent.append(-1)
            inserted[x] = True
            jnid_of[x] = j
            prev = j

    facts = _facts(tree_parent, pst_weight, width)
    return pos_of, tree_parent, pst_weight, width, facts


def _facts(parent: list, pst_weight: list, width: list) -> dict:
    """lib/jnode.cpp Facts, vectorized (VERDICT r4 task 4): the scalar
    aggregates are numpy reductions and the height cascade is the
    pointer-doubling path-sum from tree.tree_heights — no O(V)
    interpreted loop."""
    from .tree import tree_heights

    n = len(parent)
    par = np.asarray(parent, dtype=np.int64) if n else np.empty(0, dtype=np.int64)
    pst = np.asarray(pst_weight, dtype=np.int64) if n else np.empty(0, dtype=np.int64)
    wid = np.asarray(width, dtype=np.int64) if n else np.empty(0, dtype=np.int64)
    vmax, emax = tree_heights(par, pst)
    return {
        "vert_cnt": n,
        "edge_cnt": int(pst.sum()),
        "width": int(wid.max()) if n else 0,
        "fill": int((wid - pst - 1).sum()),
        "vert_height": vmax,
        "edge_height": emax,
        "root_cnt": int((par == -1).sum()),
    }


def build_jxn_tree(
    edges_pos_df: DataFrame, n_vertices: int, width_limit: int | None = None,
    memory_limit: int | None = None,
) -> tuple[DataFrame, dict]:
    """``(tree(jnid, pos, parent, pst_weight, width), facts)`` — the
    reference's jxn-mode tree over the degree sequence. ``jnid`` is the
    INSERTION order, which equals ``pos`` exactly until the first
    deferral (width_limit); ``parent`` is NULL for roots. ``memory_limit``
    bounds live jxn storage (see jxn_kernel).
    """
    from .tree import collect_int64_columns, upload_columns

    lo, hi = collect_int64_columns(edges_pos_df, ("lo", "hi"))
    pos_of, parent, pst_w, width, facts = jxn_kernel(
        lo, hi, n_vertices, width_limit=width_limit, memory_limit=memory_limit
    )
    df = upload_columns(edges_pos_df.sparkSession, {
        "jnid": np.arange(len(pos_of), dtype=np.int64),
        "pos": pos_of,
        "parent": np.ma.masked_less(np.asarray(parent, dtype=np.int64), 0),
        "pst_weight": pst_w,
        "width": width,
    }, JXN_TREE_SCHEMA)
    return df, facts
