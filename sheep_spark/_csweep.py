"""Compiled C kernels for the driver-side sequential loops.

Three entry points; the first two share one union-find sweep
(``sheep_bucket_sweep``):

- ``sheep_sort_sweep`` — the elimination-tree kernel behind
  ``tree._eliminate``: counting-sort the pos-space edges by hi, then
  sweep the buckets ascending; pre/pst weights fall out of the histogram
  and scatter passes.
- ``sheep_seq_tree`` — the fused driver funnel behind
  ``graph.driver_sequence_tree_arrays``: degree histogram, counting rank,
  pos-space transform, then the same counting sort and sweep.
- ``sheep_ffd`` — the FFD tree packing behind
  ``partitioner.forward_partition``.

Each produces exactly the output of its interpreted counterpart in
Python, which is the fallback when the library is unavailable. The
library is compiled with gcc at first use, cached per source hash in the
temp dir (atomic rename, so concurrent executor workers race safely) and
loaded via ctypes. A failed compile or load emits one ``RuntimeWarning``
carrying the reason, and the interpreted paths run (the tree kernel
~50-100x slower); ``SPARK_GRAFT_NO_CSWEEP=1`` skips the library on
purpose, silently.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>

/* Kid ordering for the FFD cut step: weight DESC, jnid ASC — the same
   total order python's STABLE list.sort(key=-comp) produces over the
   ascending-jnid kids slice (jnids are distinct, so this comparator is
   deterministic even though qsort itself is not stable). */
typedef struct { int64_t w; int64_t id; } ffd_kid;

static int ffd_kid_cmp(const void *a, const void *b) {
    const ffd_kid *x = (const ffd_kid *)a, *y = (const ffd_kid *)b;
    if (x->w != y->w) return (x->w > y->w) ? -1 : 1;   /* weight desc */
    return (x->id < y->id) ? -1 : 1;                   /* jnid asc */
}

/* FFD tree packing — exact port of partitioner.py::forward_partition.
   parent: jnid-indexed (-1 roots, parent > kid); comp: per-node weight,
   MUTATED into accumulated component weights exactly like the python
   `comp` list; kid_order/par_sorted: stable argsort of parent and the
   sorted parents (the kids(j) index); parts: out, preinit -1;
   part_size: bin scratch of `cap` slots; ks: scratch of n ffd_kid.
   Returns the number of bins opened, or -1 if cap would overflow
   (caller falls back to the interpreted path). */
int64_t sheep_ffd(const int64_t *parent, int64_t n, int64_t *comp,
                  const int64_t *kid_order, const int64_t *par_sorted,
                  int64_t max_component, int64_t *parts,
                  int64_t *part_size, int64_t cap, ffd_kid *ks) {
    int64_t n_bins = 0;
    for (int64_t j = 0; j < n; j++) {
        int64_t cj = comp[j];
        if (cj > max_component) {
            /* ks = kids_of(j): the contiguous par_sorted slice */
            int64_t lo = 0, hi = n;
            while (lo < hi) {  /* lower bound */
                int64_t mid = (lo + hi) / 2;
                if (par_sorted[mid] < j) lo = mid + 1; else hi = mid;
            }
            int64_t lo2 = lo, hi2 = n;
            while (lo2 < hi2) {  /* upper bound */
                int64_t mid = (lo2 + hi2) / 2;
                if (par_sorted[mid] <= j) lo2 = mid + 1; else hi2 = mid;
            }
            int64_t nk = lo2 - lo;
            for (int64_t i = 0; i < nk; i++) {
                int64_t k = kid_order[lo + i];
                ks[i].w = comp[k];   /* kids precede j: weights final */
                ks[i].id = k;
            }
            qsort(ks, (size_t)nk, sizeof(ffd_kid), ffd_kid_cmp);
            while (comp[j] > max_component) {
                int64_t before = comp[j];
                for (int64_t i = 0; i < nk; i++) {
                    if (comp[j] <= max_component) break;
                    int64_t kid = ks[i].id;
                    if (parts[kid] != -1) continue;
                    int64_t ck = comp[kid];
                    for (int64_t cur = 0; cur < n_bins; cur++) {
                        if (part_size[cur] + ck <= max_component) {
                            comp[j] -= ck;
                            part_size[cur] += ck;
                            parts[kid] = cur;
                            break;
                        }
                    }
                }
                if (comp[j] > max_component) {
                    /* no-progress guard (reference's latent infinite
                       loop, partition.cpp:109-131) */
                    if (before == comp[j] && n_bins > 0 &&
                        part_size[n_bins - 1] == 0)
                        break;
                    if (n_bins >= cap) return -1;
                    part_size[n_bins++] = 0;
                }
            }
            cj = comp[j];
        }
        int64_t p = parent[j];
        if (p >= 0) comp[p] += cj;
    }
    /* push labels down to uncut vertices; pack roots last-fit */
    for (int64_t j = n - 1; j >= 0; j--) {
        if (parts[j] == -1 && parent[j] >= 0) parts[j] = parts[parent[j]];
        if (parts[j] == -1 && comp[j] > max_component) {
            if (n_bins >= cap) return -1;
            part_size[n_bins] = comp[j];
            parts[j] = n_bins;
            n_bins++;
        }
        while (parts[j] == -1) {
            for (int64_t cur = n_bins - 1; cur >= 0; cur--) {
                if (part_size[cur] + comp[j] <= max_component) {
                    part_size[cur] += comp[j];
                    parts[j] = cur;
                    break;
                }
            }
            if (parts[j] == -1) {
                if (n_bins >= cap) return -1;
                part_size[n_bins++] = 0;
            }
        }
    }
    return n_bins;
}

#include <time.h>

static double sheep_now(void) {
    struct timespec ts; clock_gettime(CLOCK_MONOTONIC, &ts);
    return ts.tv_sec + ts.tv_nsec * 1e-9;
}

/* The elimination sweep (jtree.cpp:34-55) over edges counting-sorted
   by hi: bucket x holds the lo ends of the edges whose hi is x, and
   cnt[x] is that bucket's END offset into lo_s. Walking the buckets
   ascending inserts vertices in sequence order; for each edge, find
   the root of lo's component with path halving and, if it is not x,
   emit (root -> x) and union. uf must arrive as the identity on
   [0, n_buckets); kid_out/par_out need min(n_edges, n_buckets) slots.
   Returns the number of (kid, parent) pairs emitted. */
static int64_t sheep_bucket_sweep(const int32_t *lo_s, const int32_t *cnt,
                                  int32_t *uf, int64_t n_buckets,
                                  int64_t n_edges,
                                  int64_t *kid_out, int64_t *par_out) {
    int64_t n_out = 0, pos = 0;
    for (int64_t x = 0; x < n_buckets; x++) {
        int64_t end = cnt[x];
        for (; pos < end; pos++) {
            if (pos + 16 < n_edges) __builtin_prefetch(&uf[lo_s[pos + 16]], 0, 1);
            int32_t r = lo_s[pos];
            int32_t p = uf[r];
            while (p != r) {       /* path halving */
                int32_t pp = uf[p];
                uf[r] = pp;
                r = pp;
                p = uf[r];
            }
            if (r != (int32_t)x) {
                kid_out[n_out] = r;
                par_out[n_out] = x;
                n_out++;
                uf[r] = (int32_t)x;
            }
        }
    }
    return n_out;
}

/* Counting-sort the edges by hi (bucket = hi value, O(E + V) — the hi
   of every edge in bucket x is x itself, so only lo is materialized
   sorted), then run sheep_bucket_sweep. pre_w[v] = #edges with hi == v
   falls out of the histogram pass and pst_w[v] = #edges with lo == v
   accumulates during the scatter; either may be NULL, which skips its
   stores (for callers that discard the weights). Requires ids and
   n_edges < 2^31 (int32 internals — the kernel is memory-bound, so
   halving element width halves its traffic; offsets live in cnt's
   int32 slots). uf is initialized to the identity HERE; lo_s is an
   n_edges int32 scratch, cnt an (n_vertices+1) int32 scratch, kid/par
   int64 outs with min(n_edges, n_vertices) slots, pre_w/pst_w
   n_vertices int64 outs or NULL, phases a double[2] out (sort wall,
   sweep wall). Returns the number
   of (kid, parent) pairs emitted, or -2 if an id falls outside
   [0, n_vertices) — checked BEFORE each use (the predictable branch
   is ~free), so bad input never touches memory out of bounds. */
int64_t sheep_sort_sweep(const int64_t *lo, const int64_t *hi,
                         int64_t n_edges, int64_t n_vertices,
                         int32_t *lo_s, int32_t *cnt, int32_t *uf,
                         int64_t *kid_out, int64_t *par_out,
                         int64_t *pre_w, int64_t *pst_w, double *phases) {
    double t0 = sheep_now();
    for (int64_t v = 0; v <= n_vertices; v++) cnt[v] = 0;
    for (int64_t i = 0; i < n_edges; i++) {
        if (i + 64 < n_edges) __builtin_prefetch(&cnt[hi[i + 64]], 1, 1);
        if ((uint64_t)hi[i] >= (uint64_t)n_vertices) return -2;
        cnt[hi[i]]++;
    }
    int64_t run = 0;
    for (int64_t v = 0; v < n_vertices; v++) {
        int32_t c = cnt[v];
        if (pre_w) pre_w[v] = c;
        if (pst_w) pst_w[v] = 0;
        uf[v] = (int32_t)v;
        cnt[v] = (int32_t)run;
        run += c;
    }
    for (int64_t i = 0; i < n_edges; i++) {
        if (i + 64 < n_edges) __builtin_prefetch(&cnt[hi[i + 64]], 1, 1);
        if ((uint64_t)lo[i] >= (uint64_t)n_vertices) return -2;
        int32_t l = (int32_t)lo[i];
        lo_s[cnt[hi[i]]++] = l;
        if (pst_w) {
            if (i + 64 < n_edges) __builtin_prefetch(&pst_w[lo[i + 64]], 1, 1);
            pst_w[l]++;
        }
    }
    phases[0] = sheep_now() - t0;
    t0 = sheep_now();
    int64_t n_out = sheep_bucket_sweep(lo_s, cnt, uf, n_vertices, n_edges,
                                       kid_out, par_out);
    phases[1] = sheep_now() - t0;
    return n_out;
}

/* Fused sequence + tree: the whole rank-0 funnel body after the Arrow
   collect in one call — degree histogram over (src, dst), counting
   rank by (degree asc, vid asc) (sequence.h:52-63 semantics; the
   counting sort's vid-ascending placement IS the tie-break), pos-space
   edge transform, counting sort by hi, union-find sweep — emitting
   deg_full / pos_full (-1 for isolated vertices), the (kid, parent)
   tree edges and the pos-indexed pre/pst weights. Exactly equal to
   the numpy rank pass + sheep_sort_sweep (asserted by pytest); ~1.4x
   faster at 35M/4M because the gathers, min/max and both sorts fuse
   into three passes over the edges with int32 temporaries. Same
   envelope as sheep_sort_sweep: ids and n_edges < 2^31; out-of-range
   ids return -2 before any use. *out_n receives the non-isolated
   vertex count n; pre_w/pst_w use slots [0, n); phases = double[3]
   (hist+rank, edge passes, sweep). ``elem`` is the input element width
   (4 or 8 bytes): the int32 funnel transfer stays narrow end-to-end —
   no driver-side widening pass, half the read traffic in the two
   edge loops. */
int64_t sheep_seq_tree(const void *src_v, const void *dst_v, int64_t elem,
                       int64_t n_edges, int64_t m,
                       int64_t *deg_full,              /* [m] out */
                       int32_t *pos_full,              /* [m] out */
                       int32_t *lo_t, int32_t *hi_t,   /* [E] scratch */
                       int32_t *lo_s,                  /* [E] scratch */
                       int32_t *cnt,                   /* [m+1] scratch */
                       int32_t *uf,                    /* [m] scratch */
                       int64_t *kid_out, int64_t *par_out,  /* [min(E,m)] */
                       int64_t *pre_w, int64_t *pst_w,      /* [m] out */
                       int64_t *out_n, double *phases) {
    const int32_t *s32 = (const int32_t *)src_v;
    const int32_t *d32 = (const int32_t *)dst_v;
    const int64_t *s64 = (const int64_t *)src_v;
    const int64_t *d64 = (const int64_t *)dst_v;
    if (elem != 4 && elem != 8) return -2;
    double t0 = sheep_now();
    for (int64_t v = 0; v < m; v++) deg_full[v] = 0;
#define SHEEP_SEQ_HIST(SRC, DST)                                  \
    for (int64_t i = 0; i < n_edges; i++) {                       \
        int64_t a = SRC[i], b = DST[i];                           \
        if ((uint64_t)a >= (uint64_t)m) return -2;                \
        if ((uint64_t)b >= (uint64_t)m) return -2;                \
        deg_full[a]++;                                            \
        deg_full[b]++;                                            \
    }
    if (elem == 4) { SHEEP_SEQ_HIST(s32, d32) } else { SHEEP_SEQ_HIST(s64, d64) }
#undef SHEEP_SEQ_HIST
    /* counting rank: degree histogram (degree <= 2E but a vertex's
       degree in a deduped simple graph is <= m-1; cnt has m+1 slots
       and degrees beyond m cannot occur because each neighbor is
       distinct — duplicate edges would raise the degree, so clamp-
       check to be exact on arbitrary multigraph input) */
    for (int64_t v = 0; v <= m; v++) cnt[v] = 0;
    int64_t n = 0;
    int64_t maxd = 0;
    for (int64_t v = 0; v < m; v++) {
        int64_t d = deg_full[v];
        if (d > 0) {
            if (d > maxd) maxd = d;
            if (d <= m) cnt[d]++;
            n++;
        }
    }
    if (maxd > m) return -3;  /* multigraph degree overflow: fall back */
    int64_t run = 0;
    for (int64_t d = 1; d <= maxd; d++) {
        int32_t c = cnt[d]; cnt[d] = (int32_t)run; run += c;
    }
    for (int64_t v = 0; v < m; v++) {
        int64_t d = deg_full[v];
        if (d > 0) {
            int32_t p = cnt[d]++;
            pos_full[v] = p;
            uf[p] = p;
        } else {
            pos_full[v] = -1;
        }
    }
    for (int64_t p = 0; p < n; p++) { pre_w[p] = 0; pst_w[p] = 0; }
    phases[0] = sheep_now() - t0;
    t0 = sheep_now();
    /* pos-space edges + hi histogram (cnt reused: zero [0, n]) */
    for (int64_t p = 0; p <= n; p++) cnt[p] = 0;
#define SHEEP_SEQ_XFORM(SRC, DST)                                 \
    for (int64_t i = 0; i < n_edges; i++) {                       \
        int32_t ps = pos_full[SRC[i]];                            \
        int32_t pd = pos_full[DST[i]];                            \
        int32_t lo = ps < pd ? ps : pd;                           \
        int32_t hi = ps < pd ? pd : ps;                           \
        lo_t[i] = lo;                                             \
        hi_t[i] = hi;                                             \
        cnt[hi]++;                                                \
    }
    if (elem == 4) { SHEEP_SEQ_XFORM(s32, d32) } else { SHEEP_SEQ_XFORM(s64, d64) }
#undef SHEEP_SEQ_XFORM
    run = 0;
    for (int64_t p = 0; p < n; p++) {
        int32_t c = cnt[p]; pre_w[p] = c; cnt[p] = (int32_t)run; run += c;
    }
    for (int64_t i = 0; i < n_edges; i++) {
        if (i + 64 < n_edges) {
            __builtin_prefetch(&cnt[hi_t[i + 64]], 1, 1);
            __builtin_prefetch(&pst_w[lo_t[i + 64]], 1, 1);
        }
        int32_t l = lo_t[i];
        lo_s[cnt[hi_t[i]]++] = l;
        pst_w[l]++;
    }
    phases[1] = sheep_now() - t0;
    t0 = sheep_now();
    int64_t n_out = sheep_bucket_sweep(lo_s, cnt, uf, n, n_edges,
                                       kid_out, par_out);
    phases[2] = sheep_now() - t0;
    *out_n = n;
    return n_out;
}
"""

_cached_sort_sweep = None
_cached_ffd = None
_cached_seq_tree = None
_load_attempted = False


def _compile() -> tuple[str | None, str]:
    """Compile the kernels once per source version; atomic cache in tmp.
    Returns (path to the .so, "") or (None, why the compile failed)."""
    tag = hashlib.md5(_C_SRC.encode()).hexdigest()[:16]
    tmpdir = tempfile.gettempdir()
    so_path = os.path.join(tmpdir, f"sheep_csweep_{tag}.so")
    if os.path.exists(so_path):
        return so_path, ""
    c_path = os.path.join(tmpdir, f"sheep_csweep_{tag}_{os.getpid()}.c")
    build_path = so_path + f".build_{os.getpid()}"
    try:
        with open(c_path, "w") as f:
            f.write(_C_SRC)
        proc = subprocess.run(
            ["gcc", "-O2", "-shared", "-fPIC", "-o", build_path, c_path],
            capture_output=True,
            text=True,
            timeout=60,
        )
        if proc.returncode != 0:
            return None, f"gcc exited {proc.returncode}: {proc.stderr.strip()}"
        os.rename(build_path, so_path)  # atomic: concurrent compiles race safely
        return so_path, ""
    except (OSError, subprocess.TimeoutExpired) as exc:  # no gcc, read-only tmp
        return None, f"{type(exc).__name__}: {exc}"
    finally:
        for p in (c_path, build_path):
            try:
                os.remove(p)
            except OSError:
                pass


def loaded():
    """The compiled counting-sort + sweep as a python callable, or None
    when the C library did not load (interpreted fallbacks in use).

    Signature: fn(lo, hi, n_vertices, kid_out, par_out, pre_w, pst_w)
    -> (n_out, sort_s, sweep_s); lo/hi C-contiguous int64 inputs in ANY
    order and n_vertices, n_edges < 2^31 (caller's guard); kid_out/
    par_out int64 with min(n_edges, n_vertices) slots; pre_w/pst_w int64
    n_vertices slots receiving bincount(hi)/bincount(lo), or None to
    skip that weight. Raises ValueError if an id falls outside
    [0, n_vertices). Scratch
    (sorted-lo, counts, union-find) is allocated per call inside the
    wrapper."""
    _load()
    return _cached_sort_sweep


def loaded_ffd():
    """The compiled FFD packer as a python callable, or None (fallback).

    Signature: fn(parent, comp, kid_order, par_sorted, max_component,
    parts, part_size, ks) -> n_bins (or -1 on bin-capacity overflow);
    parent/kid_order/par_sorted int64 inputs; comp MUTATED (pass a
    copy of weight); parts preinit -1; part_size a cap-slot scratch;
    ks an (n, 2) int64 scratch.
    """
    _load()
    return _cached_ffd


def loaded_seq_tree():
    """The fused sequence+tree kernel as a python callable, or None.

    Signature: fn(src, dst, m) -> dict(n, kid, par, deg_full, pos_full,
    pre_w, pst_w, phases) or None when the kernel declines the input
    (multigraph degree overflow); raises ValueError on out-of-range
    ids. src/dst are C-contiguous int64 with values in [0, m);
    m, n_edges < 2^31 (caller's guard)."""
    _load()
    return _cached_seq_tree


def _load() -> None:
    global _cached_sort_sweep, _cached_ffd, _cached_seq_tree, _load_attempted
    if _load_attempted:
        return
    _load_attempted = True
    if os.environ.get("SPARK_GRAFT_NO_CSWEEP") == "1":
        return
    so_path, err = _compile()
    p64 = ctypes.POINTER(ctypes.c_int64)
    try:
        if so_path is None:
            raise OSError(err)
        lib = ctypes.CDLL(so_path)
        raw_ffd = lib.sheep_ffd
        raw_ffd.restype = ctypes.c_int64
        raw_ffd.argtypes = [
            p64, ctypes.c_int64, p64, p64, p64, ctypes.c_int64,
            p64, p64, ctypes.c_int64, ctypes.c_void_p,
        ]
        p32 = ctypes.POINTER(ctypes.c_int32)
        pdb = ctypes.POINTER(ctypes.c_double)
        raw_ss = lib.sheep_sort_sweep
        raw_ss.restype = ctypes.c_int64
        raw_ss.argtypes = [
            p64, p64, ctypes.c_int64, ctypes.c_int64,
            p32, p32, p32, p64, p64, p64, p64, pdb,
        ]
        raw_st = lib.sheep_seq_tree
        raw_st.restype = ctypes.c_int64
        raw_st.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int64,
            ctypes.c_int64, ctypes.c_int64,
            p64, p32, p32, p32, p32, p32, p32,
            p64, p64, p64, p64, p64, pdb,
        ]
    except (OSError, AttributeError) as exc:  # compile, load or symbol failure
        import warnings

        warnings.warn(
            "sheep_spark C kernels unavailable, running the interpreted "
            f"fallbacks (much slower): {exc}",
            RuntimeWarning,
            stacklevel=3,
        )
        return

    def fn_ffd(parent: np.ndarray, comp: np.ndarray, kid_order: np.ndarray,
               par_sorted: np.ndarray, max_component: int, parts: np.ndarray,
               part_size: np.ndarray, ks: np.ndarray) -> int:
        return raw_ffd(
            parent.ctypes.data_as(p64),
            len(parent),
            comp.ctypes.data_as(p64),
            kid_order.ctypes.data_as(p64),
            par_sorted.ctypes.data_as(p64),
            max_component,
            parts.ctypes.data_as(p64),
            part_size.ctypes.data_as(p64),
            len(part_size),
            ks.ctypes.data,
        )

    def fn_sort_sweep(lo: np.ndarray, hi: np.ndarray, n_vertices: int,
                      kid_out: np.ndarray, par_out: np.ndarray,
                      pre_w: np.ndarray | None, pst_w: np.ndarray | None):
        lo_s = np.empty(len(lo), dtype=np.int32)
        cnt = np.empty(n_vertices + 1, dtype=np.int32)
        uf = np.empty(n_vertices, dtype=np.int32)
        phases = np.zeros(2, dtype=np.float64)
        n_out = raw_ss(
            lo.ctypes.data_as(p64),
            hi.ctypes.data_as(p64),
            len(lo),
            n_vertices,
            lo_s.ctypes.data_as(p32),
            cnt.ctypes.data_as(p32),
            uf.ctypes.data_as(p32),
            kid_out.ctypes.data_as(p64),
            par_out.ctypes.data_as(p64),
            None if pre_w is None else pre_w.ctypes.data_as(p64),
            None if pst_w is None else pst_w.ctypes.data_as(p64),
            phases.ctypes.data_as(pdb),
        )
        if n_out == -2:
            raise ValueError(
                f"an edge endpoint falls outside [0, {n_vertices}) — "
                "pos-space input expected"
            )
        return n_out, float(phases[0]), float(phases[1])

    def fn_seq_tree(src: np.ndarray, dst: np.ndarray, m: int):
        if src.dtype != dst.dtype or src.dtype not in (np.int32, np.int64):
            raise ValueError("sheep_seq_tree: src/dst must share an int32/int64 dtype")
        n_edges = len(src)
        deg_full = np.empty(m, dtype=np.int64)
        pos_full = np.empty(m, dtype=np.int32)
        lo_t = np.empty(n_edges, dtype=np.int32)
        hi_t = np.empty(n_edges, dtype=np.int32)
        lo_s = np.empty(n_edges, dtype=np.int32)
        cnt = np.empty(m + 1, dtype=np.int32)
        uf = np.empty(m, dtype=np.int32)
        cap = min(n_edges, m)
        kid_out = np.empty(cap, dtype=np.int64)
        par_out = np.empty_like(kid_out)
        pre_w = np.empty(m, dtype=np.int64)
        pst_w = np.empty(m, dtype=np.int64)
        out_n = np.zeros(1, dtype=np.int64)
        phases = np.zeros(3, dtype=np.float64)
        n_out = raw_st(
            src.ctypes.data,
            dst.ctypes.data,
            src.dtype.itemsize,
            n_edges,
            m,
            deg_full.ctypes.data_as(p64),
            pos_full.ctypes.data_as(p32),
            lo_t.ctypes.data_as(p32),
            hi_t.ctypes.data_as(p32),
            lo_s.ctypes.data_as(p32),
            cnt.ctypes.data_as(p32),
            uf.ctypes.data_as(p32),
            kid_out.ctypes.data_as(p64),
            par_out.ctypes.data_as(p64),
            pre_w.ctypes.data_as(p64),
            pst_w.ctypes.data_as(p64),
            out_n.ctypes.data_as(p64),
            phases.ctypes.data_as(pdb),
        )
        if n_out == -2:
            raise ValueError(
                f"sheep_seq_tree: an endpoint falls outside [0, {m})"
            )
        if n_out == -3:  # multigraph degree overflow: caller falls back
            return None
        n = int(out_n[0])
        return {
            "n": n,
            "kid": kid_out[:n_out],
            "par": par_out[:n_out],
            "deg_full": deg_full,
            "pos_full": pos_full,
            "pre_w": pre_w[:n],
            "pst_w": pst_w[:n],
            "phases": (float(phases[0]), float(phases[1]), float(phases[2])),
        }

    _cached_ffd = fn_ffd
    _cached_sort_sweep = fn_sort_sweep
    _cached_seq_tree = fn_seq_tree
