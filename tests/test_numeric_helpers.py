"""Hardening tests for the numpy re-derivations of the scientific-stack
primitives (helpers.py): internal consistency, known analytic values, and
the FFT/direct path equivalence the reference relies on."""

import math

import numpy as np
import pytest

from tsfresh_spark.kernels import entropy, model, spectral
from tsfresh_spark.kernels.helpers import (
    _welch_psd_default,
    _welch_psd_impl,
    acf_adjusted,
    betainc_reg,
    cwt_ricker,
    levinson_durbin_pacf,
    linregress_np,
    normal_sf,
    ricker_wavelet,
    student_t_sf,
    welch_psd,
)
from tsfresh_spark.kernels.registry import _SERIES_SLOTS, clear_series_memo


def test_acf_fft_equals_direct():
    rng = np.random.RandomState(3)
    x = rng.randn(2000).cumsum()
    direct = acf_adjusted(x, nlags=40, use_fft=False)
    fft = acf_adjusted(x, nlags=40, use_fft=True)
    assert np.allclose(direct, fft, atol=1e-9)
    assert direct[0] == pytest.approx(1.0)


def test_acf_known_values():
    # perfectly alternating series: acf(1) == -1 - 1/(n-1) scaled by the
    # adjusted denominator; sanity: negative at lag 1, positive at lag 2
    x = np.array([1.0, -1.0] * 50)
    a = acf_adjusted(x, nlags=4, use_fft=False)
    assert a[1] < -0.9
    assert a[2] > 0.9


def test_levinson_durbin_ar2():
    rng = np.random.RandomState(11)
    x = np.zeros(3000)
    for i in range(2, 3000):
        x[i] = 0.5 * x[i - 1] - 0.3 * x[i - 2] + rng.randn()
    p = levinson_durbin_pacf(x, 5)
    assert p[0] == 1.0
    assert p[2] == pytest.approx(-0.3, abs=0.06)  # pacf(2) ≈ phi2
    assert abs(p[4]) < 0.08  # beyond the AR order → ~0


def test_betainc_identities():
    for a, b, x in [(2.0, 3.0, 0.4), (0.5, 0.5, 0.3), (5.0, 1.0, 0.9)]:
        assert betainc_reg(a, b, x) + betainc_reg(b, a, 1 - x) == pytest.approx(
            1.0, abs=1e-12
        )
    # I_x(1,1) = x (uniform)
    assert betainc_reg(1.0, 1.0, 0.25) == pytest.approx(0.25, abs=1e-12)


def test_student_t_sf():
    assert student_t_sf(0.0, 10) == pytest.approx(0.5)
    # known: t=2.228, df=10 → two-sided 0.05
    assert 2 * student_t_sf(2.228, 10) == pytest.approx(0.05, abs=2e-4)
    assert student_t_sf(-2.228, 10) == pytest.approx(1 - 0.025, abs=1e-4)


def test_normal_sf():
    assert normal_sf(0.0) == pytest.approx(0.5)
    assert normal_sf(1.959963985) == pytest.approx(0.025, abs=1e-9)


def test_linregress_textbook():
    # y = 2x + 1 with one outlier-free noise-free fit
    fit = linregress_np([0, 1, 2, 3], [1.0, 3.0, 5.0, 7.0])
    assert fit.slope == pytest.approx(2.0)
    assert fit.intercept == pytest.approx(1.0)
    assert fit.rvalue == pytest.approx(1.0)
    assert fit.stderr == pytest.approx(0.0)
    # n=2 convention (scipy): pvalue 1, stderr 0
    fit2 = linregress_np([0, 1], [3.0, 9.0])
    assert fit2.pvalue == 1.0 and fit2.stderr == 0.0
    # constant x → NaNs
    fit3 = linregress_np([1, 1, 1], [1.0, 2.0, 3.0])
    assert math.isnan(fit3.slope)


def test_welch_peak_frequency():
    # 1/8-cycle sine sampled at fs=1 → PSD peak at bin f=1/8 of nperseg
    n = 1024
    x = np.sin(2 * np.pi * np.arange(n) / 8)
    pxx = welch_psd(x)  # nperseg=256 → peak at bin 256/8 = 32
    assert np.argmax(pxx) == 32
    # Parseval-ish: total power ≈ signal variance (density × df)
    power = np.sum(pxx) / 256
    assert power == pytest.approx(np.var(x), rel=0.05)


def test_welch_short_series():
    pxx = welch_psd(np.array([1.0, 2.0, 1.0]))
    assert len(pxx) == 2  # nperseg=3 → 2 one-sided bins
    assert np.isfinite(pxx).all()


def test_ricker_shapes():
    w = ricker_wavelet(21, 4.0)
    assert w[10] == max(w)  # peak at center
    assert w[0] < 0 or abs(w[0]) < w[10]  # decays/undershoots at edges
    mat = cwt_ricker(np.sin(np.arange(100) / 5.0), [1, 2, 5])
    assert mat.shape == (3, 100)
    assert np.isfinite(mat).all()


def test_welch_batched_rfft_bitequal_to_segment_loop():
    """Round-6: welch_psd computes all segments with one batched 2-D rfft.
    A/B against the verbatim per-segment loop — bit-equal arrays required
    (the spectral oracles compare rounded values, but kernel bit-equality
    with the scalar form is the pinned invariant)."""
    import numpy as np

    from tsfresh_spark.kernels.helpers import hann_periodic, welch_psd

    def welch_loop(x, nperseg=None):
        x = np.asarray(x, dtype=float)
        n = len(x)
        if n == 0:
            return np.array([])
        if nperseg is None:
            nperseg = min(n, 256)
        nperseg = min(nperseg, n)
        step = nperseg - nperseg // 2
        win = hann_periodic(nperseg)
        scale = 1.0 / (win * win).sum()
        acc = np.zeros(nperseg // 2 + 1)
        count = 0
        start = 0
        while start + nperseg <= n:
            seg = x[start : start + nperseg]
            seg = seg - seg.mean()
            spec = np.fft.rfft(seg * win)
            p = (spec.real**2 + spec.imag**2) * scale
            if nperseg % 2 == 0:
                p[1:-1] *= 2.0
            else:
                p[1:] *= 2.0
            acc += p
            count += 1
            start += step
        return acc / max(count, 1)

    rng = np.random.RandomState(99)
    for n in (1, 2, 3, 5, 17, 255, 256, 257, 300, 511, 512, 1000, 2048):
        for x in (rng.randn(n) * 1e3, rng.randint(0, 97, n).astype(float)):
            a, b = welch_psd(x), welch_loop(x)
            assert np.array_equal(a, b), n
        odd = rng.randn(n)
        assert np.array_equal(welch_psd(odd, nperseg=31), welch_loop(odd, nperseg=31)), n


# the four @per_series builders, each as (memoized, fresh)
_MEMO_BUILDERS = {
    "rfft": (spectral._rfft_cached, np.fft.rfft),
    "welch_psd": (
        _welch_psd_default,
        lambda x: _welch_psd_impl(x, min(len(x), 256)),
    ),
    "chebyshev": (
        lambda x: entropy._cheb_matrices_shared(x, (2, 3)),
        lambda x: entropy._cheb_matrices(x, (2, 3)),
    ),
    "friedrich": (
        lambda x: model._friedrich_shared(x, 3, 30),
        lambda x: model._friedrich_coefficients(x, 3, 30),
    ),
}


def _assert_same_values(got, want):
    if isinstance(want, dict):
        assert got.keys() == want.keys()
        for k in want:
            np.testing.assert_array_equal(got[k], want[k])
    else:
        np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("builder", list(_MEMO_BUILDERS))
def test_per_series_memo_semantics(builder):
    """fft_coefficient/fft_aggregated (rfft), fourier_entropy/
    spkt_welch_density (Welch PSD), sample_entropy/approximate_entropy
    (Chebyshev matrices) and friedrich_coefficients/max_langevin_fixed_point
    (drift fit) share one result per series through ``@per_series``.  A hit
    returns the identical object; interleaved series never cross-contaminate;
    NaN and int series hit on equal bytes; same bytes under another dtype
    miss; results are read-only, so an accidental in-place consumer raises
    instead of corrupting the slot."""
    memo, fresh = _MEMO_BUILDERS[builder]
    rng = np.random.RandomState(7)
    clear_series_memo()
    try:
        a = rng.randn(300)
        b = rng.randn(300)
        ra = memo(a)
        assert memo(a) is ra and memo(a.copy()) is ra  # hit: identical object
        _assert_same_values(ra, fresh(a))
        rb = memo(b)  # a different series evicts, no contamination
        assert rb is not ra
        _assert_same_values(rb, fresh(b))
        _assert_same_values(memo(a), fresh(a))
        # NaN series: NaN != NaN as floats, but the key is a memcmp of bytes
        c = a.copy()
        c[5] = np.nan
        rc = memo(c)
        assert memo(c.copy()) is rc
        # int series (tokens regime) hit on identical bytes too
        t = rng.randint(0, 97, 50)
        rt = memo(t)
        assert memo(t.copy()) is rt
        _assert_same_values(rt, fresh(t))
        # same bytes, different dtype: a miss, never the other dtype's result
        f = np.arange(1.0, 65.0)
        i = f.view(np.int64)
        rf = memo(f)
        ri = memo(i)
        assert ri is not rf
        _assert_same_values(ri, fresh(i))
        # results are read-only
        for arr in ra.values() if isinstance(ra, dict) else (ra,):
            with pytest.raises(ValueError):
                arr[0] = 1.0
        if builder == "welch_psd":
            # explicit nperseg bypasses the memo and leaves it untouched
            pa = welch_psd(a)
            assert welch_psd(a) is pa
            np.testing.assert_array_equal(
                welch_psd(a, nperseg=31), _welch_psd_impl(a, 31)
            )
            assert welch_psd(a) is pa
        if builder == "friedrich":
            # the builder's extra arguments are part of the key
            r3 = model._friedrich_shared(a, 3, 30)
            np.testing.assert_array_equal(
                model._friedrich_shared(a, 2, 30),
                model._friedrich_coefficients(a, 2, 30),
            )
            assert model._friedrich_shared(a, 3, 30) is not r3
        if builder == "chebyshev":
            # the share is skipped above 2048 points (n=4096 would pin
            # ~270 MB per worker); at 2048 it is taken
            clear_series_memo()
            entropy.sample_entropy(rng.randn(2049))
            assert all(slot[0] is None for slot in _SERIES_SLOTS)
            entropy.sample_entropy(rng.randn(2048))
            assert any(slot[0] is not None for slot in _SERIES_SLOTS)
    finally:
        clear_series_memo()


def test_linregress_arange_bitequal_to_general():
    """Round-6: linregress_arange uses exact closed forms for the x-side
    moments of x = arange(n).  Must be BIT-equal to linregress_np on the
    same inputs — slope/intercept/r/p/stderr all compared exactly, across
    lengths, NaN-bearing and constant series, int and float dtypes, and
    both with_pvalue settings."""
    import numpy as np

    from tsfresh_spark.kernels.helpers import linregress_arange, linregress_np

    rng = np.random.RandomState(17)
    cases = []
    for n in (0, 1, 2, 3, 5, 29, 100, 409, 1024, 2048):
        cases.append(rng.randn(n) * 1e3)
        cases.append(rng.randint(-1000, 1000, n).astype(np.int64))
        cases.append(np.full(n, 7.0))
        if n >= 3:
            v = rng.randn(n)
            v[rng.randint(0, n, max(1, n // 5))] = np.nan
            cases.append(v)
    for y in cases:
        for wp in (True, False):
            a = linregress_arange(y, with_pvalue=wp)
            b = linregress_np(np.arange(len(y)), y, with_pvalue=wp)
            for fa, fb in zip(a, b):
                assert (np.isnan(fa) and np.isnan(fb)) or fa == fb, (len(y), wp)
