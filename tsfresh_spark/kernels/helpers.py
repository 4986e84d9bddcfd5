"""Shared numeric primitives for the kernel library.

Pure numpy, deterministic, no scientific-stack dependencies: the sandbox (and
a lean executor image) has no scipy/statsmodels/pywt, so the handful of
primitives the reference pulls from those packages are re-derived here from
their published definitions (Welch PSD, least-squares trend with t-test
p-value, Ricker wavelet CWT, Levinson-Durbin PACF).  Each function documents
the reference call it mirrors.
"""

from __future__ import annotations

import functools
import math
from typing import NamedTuple

import numpy as np

from tsfresh_spark.kernels.registry import per_series


def circular_shift(a: np.ndarray, shift: int) -> np.ndarray:
    """Circularly shift a 1-D array (semantics of numpy.roll for 1-D).

    Mirrors the reference helper at
    /root/reference/tsfresh/feature_extraction/feature_calculators.py:56-99.
    """
    a = np.asarray(a)
    idx = shift % len(a)
    return np.concatenate([a[-idx:], a[:-idx]])


def run_lengths_where(mask) -> np.ndarray:
    """Lengths of consecutive True runs; ``[0]`` if no True present.

    Vectorized equivalent of the itertools.groupby loop at
    feature_calculators.py:102-128.
    """
    m = np.asarray(mask, dtype=bool)
    if m.size == 0 or not m.any():
        return np.array([0])
    padded = np.concatenate([[False], m, [False]]).astype(np.int8)
    edges = np.diff(padded)
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)
    return ends - starts


def sliding_windows(x: np.ndarray, width: int, step: int = 1) -> np.ndarray:
    """Matrix of sliding windows of ``width`` starting every ``step``.

    Equivalent of ``_into_subchunks`` (feature_calculators.py:196-219).
    """
    x = np.asarray(x)
    n_shifts = (len(x) - width) // step + 1
    starts = step * np.arange(n_shifts)
    return x[starts[:, None] + np.arange(width)[None, :]]


def chunked_aggregate(x, f_agg: str, chunk_len: int):
    """Downsample by aggregating consecutive chunks.

    Equivalent of ``_aggregate_on_chunks`` (feature_calculators.py:176-193):
    the aggregation is looked up as a *method of the chunk of the original
    container*.  For ndarray input that means numpy ddof=0 "var"/"std" and
    AttributeError for "median" (no ndarray method) — exactly what the
    reference's extraction pipeline does, since agg_linear_trend is not
    marked input="pd.Series".  For pd.Series input (the reference's own
    test-suite path) pandas semantics apply: skipna reductions, ddof=1
    "var", "median" available.
    """
    import pandas as pd

    if isinstance(x, pd.Series):
        n = len(x)
        return [
            getattr(x.iloc[i * chunk_len : (i + 1) * chunk_len], f_agg)()
            for i in range(int(np.ceil(n / chunk_len)))
        ]
    x = np.asarray(x)
    n = len(x)
    n_full = n // chunk_len
    # returned as an ndarray (same scalar values as the historical list —
    # the sole ndarray-input consumer, agg_linear_trend, re-arrayed the
    # list anyway and the list round-trip cost ~10 µs per fit)
    if n_full:
        head = x[: n_full * chunk_len].reshape(n_full, chunk_len)
        # row-wise ndarray reductions are element-identical to reducing each
        # chunk separately (same contiguous 1-D reduction per row)
        out = getattr(head, f_agg)(axis=1)
    else:
        out = x[:0]
    if n_full * chunk_len < n:
        out = np.concatenate([out, [getattr(x[n_full * chunk_len :], f_agg)()]])
    return out


@functools.lru_cache(maxsize=256)
def ricker_wavelet(points: int, a: float) -> np.ndarray:
    """Ricker ("mexican hat") wavelet, the classic normalized form.

    Same closed form as feature_calculators.py:1307-1316.  Deterministic in
    (points, a), so the vector is memoized per worker — the CWT kernels
    rebuild identical wavelets for every series (the cache is tiny: one
    ≤10·width float vector per distinct (points, width)).  Read-only, as
    every caller shares it."""
    A = 2 / (np.sqrt(3 * a) * (np.pi**0.25))
    vec = np.arange(0, points) - (points - 1.0) / 2
    xsq = vec**2
    wsq = a**2
    w = A * (1 - xsq / wsq) * np.exp(-xsq / (2 * wsq))
    w.setflags(write=False)
    return w


def cwt_ricker(x: np.ndarray, widths) -> np.ndarray:
    """Continuous wavelet transform with the Ricker wavelet.

    Classic scipy-style CWT: row ``i`` is the full ("same"-mode) convolution
    of the signal with a Ricker wavelet of width ``widths[i]`` truncated at
    ``min(10*width, len(x))`` points.  This is the transform underlying the
    reference's ``cwt_coefficients`` / ``number_cwt_peaks``
    (feature_calculators.py:1370-1414, which calls pywt's mexh CWT — the
    same wavelet family evaluated by direct convolution here).
    """
    x = np.asarray(x, dtype=float)
    out = np.empty((len(widths), len(x)))
    for i, w in enumerate(widths):
        n_points = min(10 * int(w), len(x))
        wavelet = ricker_wavelet(n_points, w)
        out[i] = np.convolve(x, wavelet, mode="same")
    return out


# --------------------------------------------------------------------------
# Student-t survival function via the regularized incomplete beta function,
# for linregress/kendall p-values (scipy is unavailable on lean executors).
# Continued-fraction evaluation, double precision, deterministic.
# --------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta function (Lentz's method)."""
    MAXIT, EPS, FPMIN = 200, 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log1p(-x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def student_t_sf(t: float, df: float) -> float:
    """Survival function P(T > t) of Student's t with ``df`` dof."""
    if math.isnan(t):
        return math.nan
    p = 0.5 * betainc_reg(df / 2.0, 0.5, df / (df + t * t))
    return p if t >= 0 else 1.0 - p


def normal_sf(z: float) -> float:
    """Survival function of the standard normal."""
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def nr_erfc(x: float) -> float:
    """Complementary error function via the classic rational Chebyshev
    approximation (the Numerical Recipes §6.2 form; FRACTIONAL error
    < 1.2e-7 everywhere, including the deep tail).

    Used instead of ``math.erfc`` wherever a DuckDB correctness oracle
    must evaluate the IDENTICAL expression (plain +,-,*,/ and one exp):
    the selection-plane p-values and the ADF MacKinnon tail."""
    z = abs(x)
    t = 1.0 / (1.0 + 0.5 * z)
    ans = t * math.exp(
        -z * z - 1.26551223 + t * (1.00002368 + t * (0.37409196 + t * (0.09678418
        + t * (-0.18628806 + t * (0.27886807 + t * (-1.13520398 + t * (1.48851587
        + t * (-0.82215223 + t * 0.17087277))))))))
    )
    return ans if x >= 0 else 2.0 - ans


def normal_sf_portable(z: float) -> float:
    """Standard-normal survival function on the portable erfc — the one
    normal tail used by every oracle-replicated statistic."""
    return 0.5 * nr_erfc(z / math.sqrt(2.0))


class LinregressResult(NamedTuple):
    slope: float
    intercept: float
    rvalue: float
    pvalue: float
    stderr: float


def linregress_arange(y, *, with_pvalue: bool = True) -> LinregressResult:
    """:func:`linregress_np` specialized to ``x = arange(len(y))`` — the
    shape every trend kernel uses.  The x-side moments have exact closed
    forms that are bit-equal to the computed ones for any realistic n
    (all intermediate sums are exactly representable: pairwise summation
    of 0..n−1 is exact below 2^53, and both ``mean((x−xm)²)`` and
    ``(n²−1)/12`` are single roundings of the same exact rational), so
    only the y-side reductions remain per call.  Bit-equality with
    :func:`linregress_np` is asserted in tests/test_numeric_helpers.py
    across lengths and dtypes."""
    n = len(y)
    if n < 2:
        return LinregressResult(np.nan, np.nan, np.nan, np.nan, np.nan)
    if n > (1 << 20):
        # beyond ~2^20 points the exactness argument for the closed forms
        # needs re-derivation — delegate to the general path
        return linregress_np(np.arange(n), y, with_pvalue=with_pvalue)
    y = np.asarray(y, dtype=float)
    xm = (n - 1) / 2.0
    ssxm = (n * n - 1) / 12.0
    if ssxm == 0.0:
        return LinregressResult(np.nan, np.nan, np.nan, np.nan, np.nan)
    xc = np.arange(n, dtype=float)
    xc -= xm
    ym = y.mean()
    yc = y - ym
    ssym = np.mean(yc**2)
    ssxym = np.mean(xc * yc)
    slope = ssxym / ssxm
    intercept = ym - slope * xm
    if ssxm == 0.0 or ssym == 0.0:
        r = 0.0
    else:
        r = ssxym / np.sqrt(ssxm * ssym)
        r = max(-1.0, min(1.0, r))
    df = n - 2
    if n == 2:
        pvalue = 1.0
        stderr = 0.0
    else:
        if with_pvalue:
            TINY = 1e-20
            t = r * np.sqrt(df / ((1.0 - r + TINY) * (1.0 + r + TINY)))
            pvalue = 2.0 * student_t_sf(abs(float(t)), df)
        else:
            pvalue = np.nan
        stderr = np.sqrt((1.0 - r**2) * ssym / ssxm / df)
    return LinregressResult(
        float(slope), float(intercept), float(r), float(pvalue), float(stderr)
    )


def linregress_np(x, y, *, with_pvalue: bool = True) -> LinregressResult:
    """Least-squares line fit with the classic two-sided t-test p-value.

    Numpy re-derivation of the textbook formulas used by
    ``scipy.stats.linregress`` (called by the reference at
    feature_calculators.py:1361, :2208, :2300): slope/intercept from centered
    moments, r from the normalized covariance, p from the t statistic
    ``r*sqrt(df/(1-r^2))`` against a t(df) null, stderr from residual
    variance.

    ``with_pvalue=False`` skips the incomplete-beta continued fraction (the
    expensive part) and returns NaN for pvalue — callers whose attr grid
    never asks for it (the default linear_trend/agg_linear_trend grids)
    pass False; every other attribute is unchanged.
    """
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    n = len(x)
    if n < 2:
        return LinregressResult(np.nan, np.nan, np.nan, np.nan, np.nan)
    xm, ym = x.mean(), y.mean()
    ssxm = np.mean((x - xm) ** 2)
    ssym = np.mean((y - ym) ** 2)
    ssxym = np.mean((x - xm) * (y - ym))
    if ssxm == 0.0:
        return LinregressResult(np.nan, np.nan, np.nan, np.nan, np.nan)
    slope = ssxym / ssxm
    intercept = ym - slope * xm
    if ssxm == 0.0 or ssym == 0.0:
        r = 0.0
    else:
        r = ssxym / np.sqrt(ssxm * ssym)
        r = max(-1.0, min(1.0, r))
    df = n - 2
    if n == 2:
        pvalue = 1.0
        stderr = 0.0
    else:
        if with_pvalue:
            TINY = 1e-20
            t = r * np.sqrt(df / ((1.0 - r + TINY) * (1.0 + r + TINY)))
            pvalue = 2.0 * student_t_sf(abs(float(t)), df)
        else:
            pvalue = np.nan
        stderr = np.sqrt((1.0 - r**2) * ssym / ssxm / df)
    return LinregressResult(
        float(slope), float(intercept), float(r), float(pvalue), float(stderr)
    )


@functools.lru_cache(maxsize=64)
def hann_periodic(n: int) -> np.ndarray:
    """Periodic Hann window (the spectral-analysis form).  Deterministic in
    ``n`` — memoized per worker (Welch rebuilds the same ≤256-point window
    for every series); read-only, as every caller shares it."""
    if n == 1:
        w = np.ones(1)
    else:
        w = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n) / n)
    w.setflags(write=False)
    return w


def welch_psd(x: np.ndarray, nperseg: int | None = None) -> np.ndarray:
    """One-sided Welch power spectral density, fs=1.

    Standard Welch estimator with the conventional defaults the reference
    relies on via ``scipy.signal.welch`` (feature_calculators.py:1433-1435,
    :1818-1821): periodic Hann window, 50% overlap, per-segment constant
    detrend, density scaling, mean average over segments, segment length
    ``min(len(x), 256)``.

    Default-parameter calls (``nperseg=None`` — the only form the kernels
    use) go through the ``@per_series`` memo, so fourier_entropy and
    spkt_welch_density share one read-only PSD per series; consumers never
    mutate it (they allocate — ``pxx / max`` — or only index).  An explicit
    ``nperseg`` always computes afresh.
    """
    x = np.asarray(x, dtype=float)
    if len(x) == 0:
        return np.array([])
    if nperseg is None:
        return _welch_psd_default(x)
    return _welch_psd_impl(x, nperseg)


@per_series
def _welch_psd_default(x: np.ndarray) -> np.ndarray:
    return _welch_psd_impl(x, min(len(x), 256))


def _welch_psd_impl(x: np.ndarray, nperseg: int) -> np.ndarray:
    n = len(x)
    nperseg = min(nperseg, n)
    noverlap = nperseg // 2
    step = nperseg - noverlap
    win = hann_periodic(nperseg)
    scale = 1.0 / (win * win).sum()  # fs = 1
    n_freqs = nperseg // 2 + 1
    count = (n - nperseg) // step + 1
    # all segments at once: windows are a strided view, the per-row mean /
    # detrend / window-multiply are the same elementwise ops as the
    # per-segment loop, and pocketfft's batched rfft along the last axis
    # transforms each row independently with the identical plan — per-row
    # results are bit-equal to per-segment 1-D rfft calls (A/B-asserted in
    # tests/test_numeric_helpers.py).  The accumulation stays an explicit
    # in-order loop over rows so the float summation order of the original
    # segment loop is preserved exactly.
    segs = np.lib.stride_tricks.sliding_window_view(x, nperseg)[::step][:count]
    segs = (segs - segs.mean(axis=1, keepdims=True)) * win
    spec = np.fft.rfft(segs, axis=1)
    p = (spec.real**2 + spec.imag**2) * scale
    # one-sided: double all bins except DC (and Nyquist when nperseg even)
    if nperseg % 2 == 0:
        p[:, 1:-1] *= 2.0
    else:
        p[:, 1:] *= 2.0
    acc = np.zeros(n_freqs)
    for row in p:
        acc += row
    return acc / max(count, 1)


def levinson_durbin_pacf(x: np.ndarray, nlags: int) -> np.ndarray:
    """Partial autocorrelation via the Levinson-Durbin recursion.

    Recursion on the *adjusted* sample autocovariance (divide by n - k) of
    the demeaned series — statsmodels ``pacf(x, method="ld")`` routes
    through ``acovf(x, adjusted=True)`` before ``levinson_durbin``; the
    reference calls exactly that (feature_calculators.py:490).  Returns
    ``nlags + 1`` values with pacf[0] == 1.
    """
    x = np.asarray(x, dtype=float)
    n = len(x)
    s = x - x.mean()
    acov = np.array(
        [np.dot(s[: n - k], s[k:]) / (n - k) for k in range(nlags + 1)],
        dtype=float,
    )
    if acov[0] == 0:
        # constant series: statsmodels levinson_durbin still pins
        # pacf[0] = 1.0; the 0/0 recursion makes every later lag NaN (the
        # reference's zeros(100) test case asserts exactly this split)
        out = np.full(nlags + 1, np.nan)
        out[0] = 1.0
        return out
    phi = np.zeros((nlags + 1, nlags + 1))
    sig = np.zeros(nlags + 1)
    with np.errstate(all="ignore"):
        phi[1, 1] = acov[1] / acov[0]
        sig[1] = acov[0] - phi[1, 1] * acov[1]
        for k in range(2, nlags + 1):
            phi[k, k] = (
                acov[k] - np.dot(phi[1:k, k - 1], acov[1:k][::-1])
            ) / sig[k - 1]
            for j in range(1, k):
                phi[j, k] = phi[j, k - 1] - phi[k, k] * phi[k - j, k - 1]
            sig[k] = sig[k - 1] * (1 - phi[k, k] ** 2)
    pacf = np.empty(nlags + 1)
    pacf[0] = 1.0
    for k in range(1, nlags + 1):
        pacf[k] = phi[k, k]
    return pacf


def acf_adjusted(x: np.ndarray, nlags: int, use_fft: bool) -> np.ndarray:
    """Autocorrelation function with the (n - k)-adjusted denominator.

    Mirrors the estimator behind the reference's
    ``acf(x, adjusted=True, fft=n > 1250, nlags=...)`` call
    (feature_calculators.py:429): biased-mean-centered autocovariance,
    divided by (n - k), normalized by acov[0]; FFT path for long series.
    """
    x = np.asarray(x, dtype=float)
    n = len(x)
    s = x - x.mean()
    nlags = min(nlags, n - 1)
    if use_fft:
        nfft = 1
        while nfft < 2 * n:
            nfft <<= 1
        fx = np.fft.rfft(s, nfft)
        acov_full = np.fft.irfft(fx * np.conjugate(fx), nfft)[: nlags + 1]
    else:
        acov_full = np.array(
            [np.dot(s[: n - k], s[k:]) for k in range(nlags + 1)], dtype=float
        )
    denom = n - np.arange(nlags + 1)
    acov = acov_full / denom
    if acov[0] == 0:
        return np.full(nlags + 1, np.nan)
    return acov / acov[0]


def ols_lstsq(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Least-squares coefficients via numpy lstsq (rcond=None)."""
    params, *_ = np.linalg.lstsq(X, y, rcond=None)
    return params
