#!/usr/bin/env python
"""Bit-level fingerprint of the per-series kernel engine — no Spark.

Runs `extract.compute_series_features` over a fixed population (int64,
float64 and NaN-bearing float64 series at lengths 1..2100, straddling the
Welch 256-point segment and the 2048-point Chebyshev share limit) for the
comprehensive and efficient settings, and prints one SHA-256 over every
``(name, float64 bytes)`` pair in emission order.  A series whose
extraction raises contributes the pairs emitted before the error plus the
exception type, so error behaviour is fingerprinted too.  Two checkouts
that print the same digest produce bit-identical features on this
population.

Usage:  python scripts/feature_hash.py
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

LENGTHS = (*range(1, 65), 100, 255, 256, 257, 511, 1000, 2048, 2049, 2100)


def population(seed: int = 5):
    rng = np.random.RandomState(seed)
    for n in LENGTHS:
        yield f"int{n}", rng.randint(0, 97, size=n).astype(np.int64)
        yield f"float{n}", rng.randn(n) * 100
        x = rng.randn(n)
        x[:: max(1, n // 7)] = np.nan
        yield f"nan{n}", x


def main() -> None:
    from tsfresh_spark import settings as S
    from tsfresh_spark.extract import compute_series_features

    h = hashlib.sha256()
    n_feat = n_err = 0
    for family in ("comprehensive", "efficient"):
        fc = getattr(S, f"{family}_settings")()
        for label, x in population():
            try:
                for name, value in compute_series_features(x, label, fc):
                    h.update(name.encode())
                    h.update(np.float64(value).tobytes())
                    n_feat += 1
            except Exception as e:  # noqa: BLE001 — fingerprinted, not hidden
                h.update(f"{label}: {type(e).__name__}".encode())
                n_err += 1
    print(f"{n_feat} features, {n_err} raising series  sha256 {h.hexdigest()}")


if __name__ == "__main__":
    main()
