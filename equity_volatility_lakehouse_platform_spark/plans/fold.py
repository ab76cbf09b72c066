"""Bit-exact numpy kernels for the vector queries (numpy only).

Every dot product here is the dimension-major LEFT FOLD

    acc = a[0] * b[0];  acc = acc + a[d] * b[d]   for d = 1, 2, ...

the add order of DuckDB's ``list_dot_product`` and of the engine's JVM
``similarity.dot`` (an ``aggregate`` over ``zip_with``). Vectorised
across rows it is still one IEEE multiply and one add per cell per
dimension, so a numpy kernel and its SQL oracle agree to the last bit.
BLAS products (``@``, ``einsum``, ``np.dot``) and ``np.sum`` add in
other orders and do not; Arrow kernels must fold through this module.

Kernels call these functions on Python workers, which may not be able
to import this package (a bare session started from another cwd), so
``plans/__init__`` registers this module with cloudpickle by value:
the functions travel inside the pickled kernel.
"""

from __future__ import annotations

import numpy as np


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, D) rows of ``a`` against (k, D) rows of ``b`` -> (n, k); each
    cell is the left fold of ``a[i] * b[j]``. The temporary is n x k, so
    callers bound memory by blocking the rows of ``a``. The operands are
    copied dimension-major first: outer products of contiguous rows run
    up to 1.6x faster than of strided columns."""
    at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
    acc = np.outer(at[0], bt[0])
    for d in range(1, len(at)):
        acc += np.outer(at[d], bt[d])
    return acc


def fold_self(a: np.ndarray) -> np.ndarray:
    """(n, D) -> (n,): the left fold of ``a[i] * a[i]``, i.e. the squared
    norm exactly as ``dot(v, v)`` computes it."""
    acc = a[:, 0] * a[:, 0]
    for d in range(1, a.shape[1]):
        acc = acc + a[:, d] * a[:, d]
    return acc


def cosine_scores(
    a: np.ndarray,
    b: np.ndarray,
    na: np.ndarray,
    nb: np.ndarray,
    undefined: float = -np.inf,
) -> np.ndarray:
    """Cosines of rows of ``a`` against rows of ``b`` from their norms:
    ``fold_dot / (na * nb)``, the SQL ``dot / NULLIF(na * nb, 0)``. A
    zero denominator scores ``undefined``: -inf ranks like SQL NULL
    under ``ORDER BY cos DESC`` (NULLS LAST), NaN marks it for callers
    that emit NULL."""
    den = na[:, None] * nb[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, undefined, fold_dot(a, b) / den)


def l2_distances(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 of rows of ``x`` against rows of ``c`` as the SQL
    expands it: ``dot(x, x) - 2 * dot(x, c) + dot(c, c)``, in that
    operation order."""
    return fold_self(x)[:, None] - 2.0 * fold_dot(x, c) + fold_self(c)[None, :]


def ordered_means(x: np.ndarray, best: np.ndarray, c: np.ndarray) -> np.ndarray:
    """New centroids: each cluster's members (rows of ``x`` with
    ``best == k``) summed as a left fold in row order from 0.0, then one
    division by the member count — the DataFrame step's ``aggregate``
    over the vec_id-sorted members, divided by ``count``. Clusters
    without members keep their row of ``c``."""
    counts = np.bincount(best, minlength=len(c))
    ends = np.cumsum(counts)
    rows = np.argsort(best, kind="stable")  # by cluster, then row
    out = c.copy()
    for k in np.flatnonzero(counts):
        members = x[rows[ends[k] - counts[k]:ends[k]]]
        # cumsum adds in row order; + 0.0 turns the fold's start from the
        # first member into 0.0 (they differ only on an all -0.0 sum).
        out[k] = (np.cumsum(members, axis=0)[-1] + 0.0) / counts[k]
    return out


def lloyd(x: np.ndarray, c: np.ndarray, iters: int, cosine: bool) -> np.ndarray:
    """``iters`` Lloyd iterations over rows ``x`` (in ascending id
    order) from seed centroids ``c`` (in ascending centroid id order).
    Assignment is max cosine (spherical k-means; zero denominators
    last) or min squared L2, ties to the lowest centroid id; means are
    ``ordered_means``. Rows are scored 2048 at a time, so the temporary
    is 2048 x k doubles."""
    nx = np.sqrt(fold_self(x))
    best = np.empty(len(x), dtype=np.int64)
    block = 2048
    for _ in range(iters):
        nc = np.sqrt(fold_self(c))
        for lo in range(0, len(x), block):
            xb, nb = x[lo:lo + block], nx[lo:lo + block]
            s = cosine_scores(xb, c, nb, nc) if cosine else -l2_distances(xb, c)
            best[lo:lo + block] = np.argmax(s, axis=1)  # first max: lowest id
        c = ordered_means(x, best, c)
    return c
