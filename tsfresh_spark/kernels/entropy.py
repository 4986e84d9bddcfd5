"""Entropy / complexity kernels.

Semantics match the same-named calculators in
/root/reference/tsfresh/feature_extraction/feature_calculators.py (line refs
per kernel).
"""

from __future__ import annotations

import numpy as np

from tsfresh_spark.kernels.helpers import sliding_windows, welch_psd
from tsfresh_spark.kernels.registry import kernel, per_series


@kernel("binned_entropy", "simple")
def binned_entropy(x, max_bins):
    """Shannon entropy of an equi-width histogram
    (feature_calculators.py:1666-1694)."""
    x = np.asarray(x)
    if np.isnan(x).any():
        return np.nan
    hist, _ = np.histogram(x, bins=max_bins)
    probs = hist / x.size
    probs[probs == 0] = 1.0
    return -np.sum(probs * np.log(probs))


_CHEB_DENSE_LIMIT = 4096  # n beyond which the O(n²) dense matrices spill


def _cheb_matrices(x: np.ndarray, widths: tuple[int, ...]):
    """Chebyshev window-distance matrices for each width, built as
    diagonal-shifted maxima of the single |x_i - x_j| base matrix — exact
    same values as the 3-D broadcast, ~m× less memory traffic."""
    # in-place abs: one fewer 8 MB temporary per series (abs is exact, so
    # values are bit-identical to the allocating form)
    D = np.subtract(x[:, None], x[None, :])
    np.abs(D, out=D)
    out = {}
    d = D
    for w in range(2, max(widths) + 1):
        d = np.maximum(d[:-1, :-1], D[w - 1 :, w - 1 :])
        if w in widths:
            out[w] = d
    if 1 in widths:
        out[1] = D
    return out


# sample_entropy (m=2) and the approximate_entropy grid (m=2) build the
# IDENTICAL width-{2,3} matrices for the same series back-to-back — the dense
# construction is ~73% of the comprehensive-set runtime, so sharing it halves
# that cost.  Shared only up to _CHEB_SHARE_LIMIT points: n=2048 pins ~66 MB
# per worker (fine), n=4096 would pin ~270 MB.
_cheb_matrices_shared = per_series(_cheb_matrices)
_CHEB_SHARE_LIMIT = 2048


@kernel("sample_entropy", "simple", high_comp_cost=True)
def sample_entropy(x):
    """SampEn with m=2, r=0.2·std, Chebyshev distance
    (feature_calculators.py:1701-1754)."""
    x = np.asarray(x, dtype=float)
    if np.isnan(x).any():
        return np.nan
    m = 2
    tol = 0.2 * np.std(x)

    if len(x) <= _CHEB_DENSE_LIMIT:
        share = len(x) <= _CHEB_SHARE_LIMIT
        mats = (_cheb_matrices_shared if share else _cheb_matrices)(x, (m, m + 1))
        B = int((mats[m] <= tol).sum()) - mats[m].shape[0]
        A = int((mats[m + 1] <= tol).sum()) - mats[m + 1].shape[0]
    else:

        def _count_similar(width):
            windows = sliding_windows(x, width)
            total = 0
            for row in windows:
                total += np.sum(np.abs(row - windows).max(axis=1) <= tol) - 1
            return total

        B = _count_similar(m)
        A = _count_similar(m + 1)
    # numpy float division exactly like the reference's A/B on numpy scalars
    # (feature_calculators.py:1745-1754): 0/0 -> nan, k/0 cannot occur (A<=B)
    with np.errstate(all="ignore"):
        return float(-np.log(np.float64(A) / np.float64(B)))


@kernel("approximate_entropy", "simple", high_comp_cost=True)
def approximate_entropy(x, m, r):
    """ApEn (feature_calculators.py:1759-1805); r is scaled by std.  The
    pairwise Chebyshev count is evaluated in row blocks (exact integer
    counts, so blocking cannot change the result) to bound memory on long
    series."""
    x = np.asarray(x, dtype=float)
    N = x.size
    r *= np.std(x)
    if r < 0:
        raise ValueError("Parameter r must be positive.")
    if N <= m + 1:
        return 0

    def _phi(mm):
        windows = sliding_windows(x, mm)
        k = len(windows)
        counts = np.zeros(k, dtype=np.int64)
        block = max(1, int(2**22 // max(1, k * mm)))  # ~32 MB fp64 working set
        for start in range(0, k, block):
            chunk = windows[start : start + block]
            d = np.abs(chunk[:, None, :] - windows[None, :, :]).max(axis=2)
            counts += (d <= r).sum(axis=0)
        C = counts / k
        return np.sum(np.log(C)) / k

    return np.abs(_phi(m) - _phi(m + 1))


def approximate_entropy_batch(x, param_list):
    """Grid-batched ApEn: the O(n²) Chebyshev distance blocks are computed
    once per window width and thresholded for every r in the grid — counts
    (exact integers) are identical to per-parameter calls."""
    from tsfresh_spark.naming import encode_parameters

    x = np.asarray(x, dtype=float)
    N = x.size
    std = np.std(x)
    names = [encode_parameters(p) for p in param_list]
    ms = sorted({p["m"] for p in param_list})
    if len(ms) != 1:
        # mixed m grids: fall back to per-parameter evaluation
        return [
            (nm, approximate_entropy(x, **p)) for nm, p in zip(names, param_list)
        ]
    m = ms[0]
    if N <= m + 1:
        return [(nm, 0) for nm in names]
    rs = np.array([p["r"] * std for p in param_list])
    if (rs < 0).any():
        raise ValueError("Parameter r must be positive.")

    if N <= _CHEB_DENSE_LIMIT:
        share = N <= _CHEB_SHARE_LIMIT
        mats = (_cheb_matrices_shared if share else _cheb_matrices)(x, (m, m + 1))

        def _phis(mm):
            d = mats[mm]
            k = d.shape[0]
            counts = np.empty((len(rs), k), dtype=np.int64)
            # row-tiled so each ~1 MB contiguous block stays cache-resident
            # across the whole r grid: the matrix is streamed from memory
            # ONCE instead of len(rs) times (the counting pass is
            # bandwidth-bound).  d is symmetric, so the row reduction
            # (contiguous, fast axis) yields the exact same integer counts
            # as the column reduction.
            blk = max(1, (1 << 17) // max(1, k))
            R = rs[:, None, None]
            for c0 in range(0, k, blk):
                chunk = d[c0 : c0 + blk]
                counts[:, c0 : c0 + blk] = (chunk[None, :, :] <= R).sum(
                    axis=2
                )
            out = np.empty(len(rs))
            for j in range(len(rs)):
                C = counts[j] / k
                out[j] = np.sum(np.log(C)) / k
            return out

    else:

        def _phis(mm):
            windows = sliding_windows(x, mm)
            k = len(windows)
            counts = np.zeros((len(rs), k), dtype=np.int64)
            block = max(1, int(2**22 // max(1, k * mm)))
            for start in range(0, k, block):
                chunk = windows[start : start + block]
                d = np.abs(chunk[:, None, :] - windows[None, :, :]).max(axis=2)
                for j, r in enumerate(rs):
                    counts[j] += (d <= r).sum(axis=0)
            C = counts / k
            return np.sum(np.log(C), axis=1) / k

    phi_m = _phis(m)
    phi_m1 = _phis(m + 1)
    values = np.abs(phi_m - phi_m1)
    return list(zip(names, values))


@kernel("permutation_entropy", "simple")
def permutation_entropy(x, tau, dimension):
    """Entropy of ordinal patterns over windows of ``dimension`` starting
    every ``tau`` (feature_calculators.py:1866-1915)."""
    X = sliding_windows(np.asarray(x), dimension, tau) if len(x) >= dimension else np.empty((0, dimension))
    if len(X) == 0:
        return np.nan
    # double argsort = inverse of the sort permutation; build the inverse by
    # scatter-assignment instead of a second argsort (identical rank
    # vectors — an inverse permutation is unique — at half the sort cost)
    order = np.argsort(X)
    permutations = np.empty_like(order)
    np.put_along_axis(
        permutations,
        order,
        np.broadcast_to(np.arange(dimension), order.shape),
        axis=1,
    )
    # encode each ordinal pattern as one base-d integer (injective since all
    # entries < dimension) — 1-D unique is ~5x faster than unique(axis=0)
    codes = permutations @ (dimension ** np.arange(dimension, dtype=np.int64))
    _, counts = np.unique(codes, return_counts=True)
    probs = counts / len(permutations)
    return -np.sum(probs * np.log(probs))


@kernel("lempel_ziv_complexity", "simple")
def lempel_ziv_complexity(x, bins):
    """Number of LZ sub-words over the binned sequence, divided by n
    (feature_calculators.py:1825-1862).  Inherently sequential scan.

    The sub-word set lives in a trie of dicts keyed by bin token: the scan
    only ever extends through words that are already members, so every
    node is terminal and membership == node existence — each step is one
    dict lookup instead of re-hashing the growing byte slice (the previous
    set-of-slices form re-copied O(word length) bytes per step; A/B-tested
    equal in tests/test_kernels.py::test_lempel_ziv_trie_equals_slice_set).
    """
    x = np.asarray(x)
    edges = np.linspace(np.min(x), np.max(x), bins + 1)[1:]
    sequence = np.searchsorted(edges, x, side="left").tolist()
    n = len(sequence)
    root: dict = {}
    count = 0
    ind = 0
    while ind < n:
        node = root
        i = ind
        while i < n:
            child = node.get(sequence[i])
            if child is None:
                node[sequence[i]] = {}
                count += 1
                ind = i + 1
                break
            node = child
            i += 1
        else:
            # the trailing word is already a member — the reference's loop
            # exits without counting it
            break
    return count / n


@kernel("fourier_entropy", "simple")
def fourier_entropy(x, bins):
    """Binned entropy of the max-normalized Welch PSD
    (feature_calculators.py:1809-1821)."""
    pxx = welch_psd(np.asarray(x, dtype=float))
    if pxx.size == 0:
        return np.nan
    return binned_entropy(pxx / np.max(pxx), bins)


def fourier_entropy_batch(x, param_list):
    """Grid-batched fourier_entropy: one Welch PSD shared across the bins
    grid (value-identical to per-parameter calls)."""
    pxx = welch_psd(np.asarray(x, dtype=float))
    if pxx.size == 0:
        return [(f"bins_{p['bins']}", np.nan) for p in param_list]
    normalized = pxx / np.max(pxx)
    return [
        (f"bins_{p['bins']}", binned_entropy(normalized, p["bins"]))
        for p in param_list
    ]
