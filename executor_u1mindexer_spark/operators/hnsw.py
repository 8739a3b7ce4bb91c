"""From-scratch deterministic HNSW — the reference's core data structure,
re-implemented so the per-partition ANN path is REAL instead of an exact
stand-in.

The reference delegates everything to hnswlib's C++ HNSW (executor.py:49
`hnswlib.Index(space, dim)`, :66-70 `init_index(max_elements,
ef_construction, M)`, :112 `knn_query(embs, k)`); hnswlib is not in this
container, so r01-r04 used an exact numpy argpartition kernel with the
identical pack/merge topology (similarity.partitioned_topk_merge) and
documented the plug-in point. This module closes that divergence with a
from-scratch Hierarchical Navigable Small World graph (Malkov & Yashunin,
arXiv:1603.09320 — the public paper hnswlib implements):

- layered graph, geometric level assignment with multiplier 1/ln(M)
  (paper §4.1; hnswlib's mult_)
- greedy descent through upper layers, beam (ef) search at each build
  level, best-first with a bounded result heap (paper Alg. 2)
- neighbor selection by the distance heuristic (paper Alg. 4; hnswlib's
  getNeighborsByHeuristic2): a candidate is kept only if it is closer to
  the query than to every already-kept neighbor — this is what keeps the
  graph navigable on clustered data
- Mmax = M on upper layers, 2M on layer 0 (hnswlib's maxM0_), overflow
  re-pruned with the same heuristic

DETERMINISM (the property hnswlib does NOT give): levels derive from
md5(external id) instead of an RNG stream, inserts happen in ascending
external-id order, and every heap/selection tie breaks on id — so the
same rows produce the same graph and the same query results on any
partitioning, any engine, any run. That is what lets a driver query
carry an invariant oracle.

KERNEL THROUGHPUT (r06, VERDICT r05 #2): two kernels share one flat
graph layout and one algorithm:

- a C kernel (_hnsw_kernel.c, compiled on first use with the system
  gcc, cached under _ckernel_cache/) that runs the whole insert loop in
  C but routes EVERY float op through the numpy-bundled OpenBLAS with
  exactly the Python kernel's batch shapes — cblas_ddot64_ for 1-row
  batches (numpy dispatches those to ddot; measured), cblas_dgemv64_ on
  a 64-byte-aligned contiguous gather otherwise (dgemv kernel selection
  is A-alignment-sensitive; measured). Same library, same shapes, same
  alignment => the same bits, at C loop cost. All three metrics: l2
  (r07, closing the r06 gate) runs on the pinned-order squared-norm
  expansion d = (sq[x] - 2.0*dot(x, q)) + sq[q] — the dot is the SAME
  dgemv/ddot call the cosine path makes, 2.0*dot is an exact power-of-
  two scaling, the remaining add/sub are single IEEE ops in a pinned
  order, and the per-node squared norms are computed ONCE in Python and
  shared with the C kernel (both consume the same bits, so no reduction
  order ever needs replicating — the einsum that made l2 unreplicable
  is gone from the distance path).
- the pure-Python/numpy kernel below — the fallback when no C compiler
  is available.

Builds and searches are verified bit-identical across the two kernels
and vs the r05 kernel (tests/test_dedup_similarity.py; BENCH_NOTES
records the measured speedup — the point of the C path is that a 50k-row
bucket builds in seconds, not minutes).

Scale role: ONE HNSW never spans 100 TB — the production shape is an
index per partition + k-per-partition merge, exactly
similarity.partitioned_topk_merge's topology with this kernel slotted in
(similarity.hnsw_partitioned_topk, which also auto-scales n_partitions
to a per-bucket row ceiling). Build is O(n log n) distance evals per
partition and stays in one executor's memory; queries scatter to
partitions and gather k rows each.
"""

from __future__ import annotations

import ctypes
import glob
import hashlib
import heapq
import math
import os
import subprocess
import sys
import threading

import numpy as np


def _unit_from_id(ext_id: int, seed: int) -> float:
    """Deterministic uniform(0,1] from an external id — replaces hnswlib's
    RNG level draw so graphs are reproducible across runs/engines."""
    h = hashlib.md5(f"{seed}:{ext_id}".encode()).digest()
    v = int.from_bytes(h[:8], "big")
    return (v + 1) / float(1 << 64)


# -- C kernel loader ---------------------------------------------------------

_CKERNEL_LOCK = threading.Lock()
_CKERNEL: ctypes.CDLL | None = None
_CKERNEL_TRIED = False
_BLAS_PTRS: tuple[int, int] | None = None  # (dgemv, ddot) addresses


def _find_openblas() -> str | None:
    """Locate the OpenBLAS shared object numpy itself links against, so
    the C kernel calls the IDENTICAL BLAS build (bit-identity depends on
    it). numpy wheels bundle it under numpy.libs/."""
    base = os.path.dirname(np.__file__)
    for pat in ("../numpy.libs/libopenblas*.so*", ".libs/libopenblas*.so*"):
        hits = sorted(glob.glob(os.path.join(base, pat)))
        if hits:
            return hits[0]
    return None


def _load_ckernel() -> ctypes.CDLL | None:
    """Compile (once, cached by source hash) and load the C kernel.
    Returns None — and the class silently uses the Python kernel — when
    no compiler or no bundled OpenBLAS with ILP64 cblas symbols exists."""
    global _CKERNEL, _CKERNEL_TRIED, _BLAS_PTRS
    with _CKERNEL_LOCK:
        if _CKERNEL_TRIED:
            return _CKERNEL
        _CKERNEL_TRIED = True
        try:
            blas_path = _find_openblas()
            if blas_path is None:
                return None
            blas = ctypes.CDLL(blas_path)
            dgemv = ctypes.cast(blas.cblas_dgemv64_, ctypes.c_void_p).value
            ddot = ctypes.cast(blas.cblas_ddot64_, ctypes.c_void_p).value
            src = os.path.join(os.path.dirname(__file__), "_hnsw_kernel.c")
            with open(src, "rb") as f:
                tag = hashlib.md5(f.read()).hexdigest()[:12]
            cache_dir = os.path.join(os.path.dirname(__file__), "_ckernel_cache")
            os.makedirs(cache_dir, exist_ok=True)
            so = os.path.join(cache_dir, f"_hnsw_kernel_{tag}.so")
            if not os.path.exists(so):
                tmp = f"{so}.tmp.{os.getpid()}"
                subprocess.run(
                    ["gcc", "-O2", "-fPIC", "-shared", "-o", tmp, src],
                    check=True,
                    capture_output=True,
                )
                os.replace(tmp, so)  # atomic: concurrent workers race safely
            lib = ctypes.CDLL(so)
            I64 = ctypes.c_int64
            PD = ctypes.POINTER(ctypes.c_double)
            PI = ctypes.POINTER(I64)
            VP = ctypes.c_void_p
            lib.hnsw_build.restype = ctypes.c_int
            lib.hnsw_build.argtypes = [
                I64, I64, PD, PD, I64, PI, I64, I64, I64, PI, PI, PI, PI,
                PI, VP, VP,
            ]
            lib.hnsw_search_batch.restype = I64
            lib.hnsw_search_batch.argtypes = [
                I64, I64, PD, PD, I64, I64, I64, PI, PI, PI, PI, I64, I64,
                PD, I64, I64, I64, PI, PI, PD, VP, VP,
            ]
            _BLAS_PTRS = (dgemv, ddot)
            _CKERNEL = lib
        except Exception:
            _CKERNEL = None
        return _CKERNEL


def _as_i64_ptr(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _as_f64_ptr(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


class HNSW:
    """Deterministic in-memory HNSW over a fixed batch of vectors.

    Metrics follow the reference's hnswlib semantics (executor.py:259-275):
    'l2' = SQUARED euclidean, 'cosine' = 1 - cos (vectors normalized at
    add time, like hnswlib), 'ip' = 1 - <a, b>.

    The graph lives in flat numpy arrays shared by both kernels:
    `_nbr_flat` holds per-node blocks — a (m0+1)-slot level-0 block then
    (m+1)-slot blocks per upper level (the +1 absorbs the transient
    overflow before a re-prune); `_cnt_flat` holds the per-(node, level)
    fill counts; `_noff`/`_coff` are the per-node offsets into each.
    """

    def __init__(
        self,
        dim: int,
        *,
        metric: str = "cosine",
        m: int = 16,
        ef_construction: int = 200,
        seed: int = 42,
        use_ckernel: bool | None = None,
    ) -> None:
        if metric not in ("l2", "cosine", "ip"):
            raise ValueError(f"unknown metric {metric!r}")
        if m < 2:
            # m=1 would make mult = 1/log(1) a ZeroDivisionError and m=0
            # an unnavigable graph; fail with the module's loud-gate style
            raise ValueError(f"m must be >= 2, got {m}")
        self.dim = dim
        self.metric = metric
        self.m = m
        self.m0 = 2 * m
        self.ef_construction = ef_construction
        self.seed = seed
        self.mult = 1.0 / math.log(m)
        # None = auto (C when compilable and metric != l2); True forces C
        # (raises if unavailable); False forces the Python kernel
        self.use_ckernel = use_ckernel
        self.ids: np.ndarray | None = None  # external ids, ascending
        self.vecs: np.ndarray | None = None  # (n, dim) float64 (normalized for cosine)
        self._sqnorms: np.ndarray | None = None  # per-node ||v||^2 (l2 only)
        self.levels: list[int] = []
        self._nbr_flat: np.ndarray | None = None
        self._cnt_flat: np.ndarray | None = None
        self._noff: list[int] = []
        self._coff: list[int] = []
        self._stamp: np.ndarray | None = None  # Python-kernel visited stamps
        self._gen: int = 0
        self._kept_buf: np.ndarray | None = None
        self._built_with_c = False
        self.entry: int = -1
        self.max_level: int = -1

    # -- graph layout --------------------------------------------------------

    def _block_bounds(self, node: int, lev: int) -> tuple[int, int]:
        off = self._noff[node]
        if lev == 0:
            return off, off + self.m0 + 1
        off += (self.m0 + 1) + (lev - 1) * (self.m + 1)
        return off, off + self.m + 1

    @property
    def neighbors(self) -> list[list[list[int]]]:
        """Nested-list adjacency view (node -> level -> ids) for tests."""
        out = []
        for i in range(len(self.levels)):
            per = []
            for lev in range(self.levels[i] + 1):
                lo, _ = self._block_bounds(i, lev)
                c = int(self._cnt_flat[self._coff[i] + lev])
                per.append(self._nbr_flat[lo : lo + c].tolist())
            out.append(per)
        return out

    def _use_c(self) -> bool:
        if self.use_ckernel is False:
            return False
        lib = _load_ckernel()
        if lib is None:
            if self.use_ckernel is True:
                raise RuntimeError("C kernel unavailable (no gcc/OpenBLAS?)")
            return False
        return True

    # -- distances (vectorized over node index arrays) ----------------------

    def _dist_many(self, q: np.ndarray, idxs, qq: float = 0.0) -> np.ndarray:
        rows = self.vecs[idxs]
        dots = rows @ q  # the SAME gather + dgemv/ddot shapes for all metrics
        if self.metric == "l2":
            # pinned-order expansion, elementwise IEEE ops mirrored 1:1 in C:
            # 2.0*dot is exact; (sq - t) + qq is two single roundings
            return (self._sqnorms[idxs] - 2.0 * dots) + qq
        # cosine (pre-normalized) and ip share the 1 - dot form
        return 1.0 - dots

    def _set_sqnorms(self) -> None:
        """Per-node squared norms, the l2 expansion's shared input —
        computed ONCE here and handed to BOTH kernels, so bit-identity
        never depends on how a reduction orders its sum."""
        if self.metric == "l2" and self.vecs is not None:
            self._sqnorms = np.einsum("ij,ij->i", self.vecs, self.vecs)
        else:
            self._sqnorms = None

    # -- build ---------------------------------------------------------------

    def build(self, ids: np.ndarray, vecs: np.ndarray) -> "HNSW":
        order = np.argsort(ids, kind="stable")  # insertion order := id order
        self.ids = ids[order].astype(np.int64)
        v = np.ascontiguousarray(vecs[order], dtype=np.float64)
        if self.metric == "cosine":
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            v = v / norms
        self.vecs = np.ascontiguousarray(v)
        self._set_sqnorms()
        n = len(self.ids)
        self.levels = [
            int(-math.log(_unit_from_id(int(e), self.seed)) * self.mult)
            for e in self.ids
        ]
        noff, coff = [], []
        nsz = csz = 0
        for lvl in self.levels:
            noff.append(nsz)
            coff.append(csz)
            nsz += (self.m0 + 1) + lvl * (self.m + 1)
            csz += lvl + 1
        self._noff, self._coff = noff, coff
        self._nbr_flat = np.zeros(nsz, np.int64)
        self._cnt_flat = np.zeros(csz, np.int64)
        self.entry = -1
        self.max_level = -1
        if n == 0:
            return self
        if self._use_c():
            lib = _load_ckernel()
            dgemv, ddot = _BLAS_PTRS
            levels_arr = np.asarray(self.levels, np.int64)
            noff_arr = np.asarray(noff, np.int64)
            coff_arr = np.asarray(coff, np.int64)
            em = np.zeros(2, np.int64)
            sq = self._sqnorms if self._sqnorms is not None else np.zeros(1)
            rc = lib.hnsw_build(
                n,
                self.dim,
                _as_f64_ptr(self.vecs),
                _as_f64_ptr(np.ascontiguousarray(sq)),
                1 if self.metric == "l2" else 0,
                _as_i64_ptr(levels_arr),
                self.m,
                self.m0,
                self.ef_construction,
                _as_i64_ptr(self._nbr_flat),
                _as_i64_ptr(noff_arr),
                _as_i64_ptr(self._cnt_flat),
                _as_i64_ptr(coff_arr),
                _as_i64_ptr(em),
                ctypes.c_void_p(dgemv),
                ctypes.c_void_p(ddot),
            )
            if rc != 0:
                raise MemoryError("hnsw_build C kernel allocation failed")
            self.entry = int(em[0])
            self.max_level = int(em[1])
            self._built_with_c = True
            self._noff_arr, self._coff_arr = noff_arr, coff_arr
            return self
        self._stamp = np.zeros(n, np.int64)
        self._gen = 0
        self._kept_buf = np.empty((self.m0, self.dim), np.float64)
        for i in range(n):
            self._insert(i)
        return self

    def _search_layer(
        self, q: np.ndarray, eps: list[int], ef: int, lev: int, qq: float = 0.0
    ):
        """Paper Alg. 2: best-first beam, bounded result heap. Returns
        [(dist, idx)] sorted ascending; ties break on idx (determinism).

        Distance batches keep fixed shapes (entry points in one batch,
        each node's full unvisited adjacency in one batch) — the C kernel
        mirrors these shapes exactly, which is what makes the two kernels
        bit-identical."""
        if self._stamp is None:
            self._stamp = np.zeros(len(self.levels), np.int64)
            self._gen = 0
        self._gen += 1
        gen = self._gen
        stamp = self._stamp
        nbr = self._nbr_flat
        cnt = self._cnt_flat
        coff = self._coff
        noff = self._noff
        # inlined _block_bounds: level-0 block then (lev-1) upper blocks
        lev_off = 0 if lev == 0 else (self.m0 + 1) + (lev - 1) * (self.m + 1)
        eps_arr = np.asarray(eps, dtype=np.int64)
        stamp[eps_arr] = gen
        dists = self._dist_many(q, eps_arr, qq)
        cand = [(float(d), int(e)) for d, e in zip(dists, eps)]
        heapq.heapify(cand)
        result = [(-d, e) for d, e in cand]
        heapq.heapify(result)
        while len(result) > ef:
            heapq.heappop(result)
        nres = len(result)
        while cand:
            d, c = heapq.heappop(cand)
            if d > -result[0][0] and nres >= ef:
                break
            k = cnt[coff[c] + lev]
            if k == 0:
                continue
            lo = noff[c] + lev_off
            arr = nbr[lo : lo + k]
            fresh = arr[stamp[arr] != gen]
            if fresh.size == 0:
                continue
            stamp[fresh] = gen
            dn_all = self._dist_many(q, fresh, qq)
            if nres >= ef:
                # prefilter: the admission threshold only tightens as
                # better results land, so dn >= current worst can never
                # be admitted downstream — drop in one vectorized compare
                keep = dn_all < -result[0][0]
                if not keep.any():
                    continue
                dl = dn_all[keep].tolist()
                fl = fresh[keep].tolist()
            else:
                dl = dn_all.tolist()
                fl = fresh.tolist()
            for dn, e in zip(dl, fl):
                if nres < ef or dn < -result[0][0]:
                    heapq.heappush(cand, (dn, e))
                    heapq.heappush(result, (-dn, e))
                    if nres >= ef:
                        heapq.heappop(result)
                    else:
                        nres += 1
        return sorted((-nd, e) for nd, e in result)

    def _select_heuristic(self, cands, m: int) -> list[int]:
        """Paper Alg. 4 / hnswlib getNeighborsByHeuristic2: keep a
        candidate only if it is closer to the query than to every
        already-kept neighbor. Kept rows accumulate in a preallocated
        buffer; each check is one (n_kept x dim) contiguous product."""
        kept: list[int] = []
        if self._kept_buf is None:
            self._kept_buf = np.empty((self.m0, self.dim), np.float64)
        K = self._kept_buf
        vecs = self.vecs
        is_l2 = self.metric == "l2"
        for d, e in cands:  # ascending distance
            if len(kept) >= m:
                break
            if not kept:
                kept.append(e)
                K[0] = vecs[e]
                continue
            nk = len(kept)
            row = vecs[e]
            dots = K[:nk] @ row  # same dgemv/ddot shapes for all metrics
            if is_l2:
                kept_sq = self._sqnorms[np.asarray(kept, np.int64)]
                d_to_kept = (kept_sq - 2.0 * dots) + self._sqnorms[e]
            else:
                d_to_kept = 1.0 - dots
            if (d_to_kept > d).all():
                K[nk] = row
                kept.append(e)
        return kept

    def _insert(self, i: int) -> None:
        level = self.levels[i]
        if self.entry < 0:
            self.entry = i
            self.max_level = level
            return
        q = self.vecs[i]
        qq = float(self._sqnorms[i]) if self.metric == "l2" else 0.0
        nbr = self._nbr_flat
        cnt = self._cnt_flat
        coff = self._coff
        ep = [self.entry]
        for lev in range(self.max_level, level, -1):
            ep = [self._search_layer(q, ep, 1, lev, qq)[0][1]]
        for lev in range(min(level, self.max_level), -1, -1):
            found = self._search_layer(q, ep, self.ef_construction, lev, qq)
            mmax = self.m0 if lev == 0 else self.m
            sel = self._select_heuristic(found, self.m)
            lo, _ = self._block_bounds(i, lev)
            nbr[lo : lo + len(sel)] = sel
            cnt[coff[i] + lev] = len(sel)
            for e in sel:
                elo, _ = self._block_bounds(e, lev)
                ke = int(cnt[coff[e] + lev])
                nbr[elo + ke] = i
                ke += 1
                if ke > mmax:  # overflow: re-prune with the heuristic
                    cur = nbr[elo : elo + ke]
                    d_nb = self._dist_many(
                        self.vecs[e], cur,
                        float(self._sqnorms[e]) if self.metric == "l2" else 0.0,
                    )
                    ranked = sorted(
                        zip(d_nb.tolist(), cur.tolist()), key=lambda t: (t[0], t[1])
                    )
                    pruned = self._select_heuristic(ranked, mmax)
                    nbr[elo : elo + len(pruned)] = pruned
                    cnt[coff[e] + lev] = len(pruned)
                else:
                    cnt[coff[e] + lev] = ke
            ep = [e for _, e in found]
        if level > self.max_level:
            self.max_level = level
            self.entry = i

    # -- query ---------------------------------------------------------------

    def _normalize_q(self, q: np.ndarray) -> np.ndarray:
        q = np.asarray(q, np.float64)
        if self.metric == "cosine":
            n = np.linalg.norm(q)
            if n > 0:
                q = q / n
        return q

    def search(self, q: np.ndarray, k: int, ef: int = 50):
        """(ids, dists) of the approximate k nearest, ascending distance,
        ties on id — the knn_query contract (executor.py:112)."""
        if self.entry < 0:
            return np.array([], np.int64), np.array([], np.float64)
        if self._use_c():
            qmat = np.ascontiguousarray(self._normalize_q(q).reshape(1, -1))
            _, ids, ds = self._search_batch_c(qmat, k, ef)
            return ids, ds
        q = self._normalize_q(q)
        qq = float(np.dot(q, q)) if self.metric == "l2" else 0.0
        ep = [self.entry]
        for lev in range(self.max_level, 0, -1):
            ep = [self._search_layer(q, ep, 1, lev, qq)[0][1]]
        found = self._search_layer(q, ep, max(ef, k), 0, qq)[:k]
        idx = [e for _, e in found]
        return self.ids[idx], np.array([d for d, _ in found], np.float64)

    def _search_batch_c(self, qmat: np.ndarray, k: int, ef: int):
        lib = _load_ckernel()
        dgemv, ddot = _BLAS_PTRS
        n = len(self.ids)
        nq = len(qmat)
        noff_arr = getattr(self, "_noff_arr", None)
        if noff_arr is None:
            noff_arr = np.asarray(self._noff, np.int64)
            self._noff_arr = noff_arr
        coff_arr = getattr(self, "_coff_arr", None)
        if coff_arr is None:
            coff_arr = np.asarray(self._coff, np.int64)
            self._coff_arr = coff_arr
        out_rows = np.empty(nq * max(k, 1), np.int64)
        out_idx = np.empty(nq * max(k, 1), np.int64)
        out_dist = np.empty(nq * max(k, 1), np.float64)
        sq = self._sqnorms if self._sqnorms is not None else np.zeros(1)
        t = lib.hnsw_search_batch(
            n,
            self.dim,
            _as_f64_ptr(self.vecs),
            _as_f64_ptr(np.ascontiguousarray(sq)),
            1 if self.metric == "l2" else 0,
            self.m,
            self.m0,
            _as_i64_ptr(self._nbr_flat),
            _as_i64_ptr(noff_arr),
            _as_i64_ptr(self._cnt_flat),
            _as_i64_ptr(coff_arr),
            self.entry,
            self.max_level,
            _as_f64_ptr(np.ascontiguousarray(qmat, np.float64)),
            nq,
            k,
            ef,
            _as_i64_ptr(out_rows),
            _as_i64_ptr(out_idx),
            _as_f64_ptr(out_dist),
            ctypes.c_void_p(dgemv),
            ctypes.c_void_p(ddot),
        )
        if t < 0:
            raise MemoryError("hnsw_search_batch C kernel allocation failed")
        return out_rows[:t], self.ids[out_idx[:t]], out_dist[:t]

    def search_batch(self, qmat: np.ndarray, k: int, ef: int = 50):
        """Batch form of search: returns (query_row, id, dist) arrays."""
        if self.entry < 0:
            return (
                np.array([], np.int64),
                np.array([], np.int64),
                np.array([], np.float64),
            )
        if self._use_c():
            qn = np.ascontiguousarray(
                np.stack([self._normalize_q(qmat[r]) for r in range(len(qmat))])
            )
            return self._search_batch_c(qn, k, ef)
        rows, out_ids, out_d = [], [], []
        for r in range(len(qmat)):
            ids, ds = self.search(qmat[r], k, ef)
            rows.extend([r] * len(ids))
            out_ids.extend(ids.tolist())
            out_d.extend(ds.tolist())
        return (
            np.array(rows, np.int64),
            np.array(out_ids, np.int64),
            np.array(out_d, np.float64),
        )
