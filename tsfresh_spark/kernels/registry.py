"""Kernel registry.

Every feature calculator registers itself here with its metadata:

* ``fctype`` — "simple" (scalar per parameter set) or "combiner" (evaluates a
  whole parameter list in one pass to share expensive intermediates, e.g. one
  FFT for 400 coefficients).  Same two-type architecture as the reference
  (/root/reference/tsfresh/feature_extraction/feature_calculators.py:4-17,
  :222-235) — it is the reference's single biggest perf idea and we keep it.
* ``minimal`` / ``high_comp_cost`` — drive the settings cost classes.
* ``input`` — "series" when the kernel needs a pandas Series with the sort
  index attached (pandas-specific semantics or timestamp access); plain
  numpy otherwise.
* ``requires_timestamps`` — kernel is only defined for datetime-indexed data.

Expensive intermediates that several kernels need for the same series (one
rfft, one Welch PSD, ...) are shared through :func:`per_series`, never
through module-level state of their own.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

import numpy as np


@dataclass(frozen=True)
class KernelInfo:
    func: Callable
    fctype: str  # "simple" | "combiner"
    minimal: bool = False
    high_comp_cost: bool = False
    input: str = "numpy"  # "numpy" | "series"
    requires_timestamps: bool = False
    available: bool = True


KERNELS: dict[str, KernelInfo] = {}


def kernel(
    name: str,
    fctype: str,
    *,
    minimal: bool = False,
    high_comp_cost: bool = False,
    input: str = "numpy",
    requires_timestamps: bool = False,
    available: bool = True,
):
    """Decorator registering a feature kernel under ``name``."""

    def wrap(func: Callable) -> Callable:
        KERNELS[name] = KernelInfo(
            func=func,
            fctype=fctype,
            minimal=minimal,
            high_comp_cost=high_comp_cost,
            input=input,
            requires_timestamps=requires_timestamps,
            available=available,
        )
        return func

    return wrap


def get_kernel(name: str) -> KernelInfo:
    try:
        return KERNELS[name]
    except KeyError:
        raise ValueError(f"unknown feature calculator {name!r}") from None


_SERIES_SLOTS: list[list] = []  # one [((dtype, bytes, args), result)] per @per_series


def per_series(func: Callable) -> Callable:
    """Memoize ``func(x, *args)`` for the most recent series.

    Kernels evaluated back-to-back on one series call the decorated builder
    with the same array and get the identical result object back, so the
    share is bit-exact by construction.  The one-entry slot is keyed by
    ``(x.dtype.str, x.tobytes(), args)`` — an exact memcmp of the series, so
    a stale hit is impossible even when kernels are called directly or two
    extractions interleave.  ndarray results (and the ndarray values of a
    dict result) are made read-only.  :func:`clear_series_memo` empties
    every slot; ``compute_series_features`` calls it after each series."""
    slot = [None]
    _SERIES_SLOTS.append(slot)

    @functools.wraps(func)
    def memo(x, *args):
        x = np.asarray(x)
        key = (x.dtype.str, x.tobytes(), args)
        hit = slot[0]
        if hit is not None and hit[0] == key:
            return hit[1]
        out = func(x, *args)
        for a in out.values() if isinstance(out, dict) else (out,):
            if isinstance(a, np.ndarray):
                a.setflags(write=False)
        slot[0] = (key, out)
        return out

    return memo


def clear_series_memo() -> None:
    """Empty every :func:`per_series` slot, so a reused python worker pins
    nothing of the last series (its bytes, spectra or matrices)."""
    for slot in _SERIES_SLOTS:
        slot[0] = None
