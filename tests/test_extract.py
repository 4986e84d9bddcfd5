"""End-to-end extraction tests: tokens path (mapInPandas, shuffle-free) and
long path (applyInPandas), pivot round-trips, settings replay, and the
order-invariance contract from the reference's orchestration suite
(/root/reference/tests/units/feature_extraction/test_extraction.py:207,292).
"""

import itertools

import numpy as np
import pandas as pd
import pytest

from tsfresh_spark.extract import (
    extract_features_long,
    extract_features_tokens,
    melt_wide,
    pivot_features,
    pivot_features_map,
)
from tsfresh_spark.settings import (
    comprehensive_settings,
    minimal_settings,
    settings_from_feature_names,
    expand_feature_names,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    rows = [
        ("doc1", [1, 2, 3, 5, 2], "web"),
        ("doc2", [7, 1, 1, 4, 4, 9, 0], "web"),
        ("doc3", [2, 2, 2, 2], "code"),
        ("doc4", [10, 20, 30], "code"),
    ]
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


def test_tokens_minimal_long(spark, tokens_df):
    out = extract_features_tokens(tokens_df, minimal_settings()).toPandas()
    assert set(out.columns) == {"doc_id", "source", "variable", "value"}
    # 4 docs × 10 minimal features
    assert len(out) == 40
    got = out[(out.doc_id == "doc1") & (out.variable == "web__mean")].value.iloc[0]
    assert got == pytest.approx(np.mean([1, 2, 3, 5, 2]))
    got = out[(out.doc_id == "doc3") & (out.variable == "code__variance")].value.iloc[0]
    assert got == 0.0


def test_tokens_map_output(spark, tokens_df):
    out = extract_features_tokens(tokens_df, minimal_settings(), output="map").toPandas()
    assert len(out) == 4
    feats = dict(out[out.doc_id == "doc4"].features.iloc[0])
    assert feats["code__maximum"] == 30.0
    assert feats["code__length"] == 3.0


def test_tokens_plan_is_shuffle_free(spark, tokens_df):
    plan = extract_features_tokens(tokens_df, minimal_settings())._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow map only — the 100-TB property


def test_long_format_extraction(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 1, 1, 2, 2, 2],
            "kind": ["a"] * 6,
            "time": [2, 0, 1, 0, 1, 2],  # shuffled sort within group
            "value": [3.0, 1.0, 2.0, 5.0, 5.0, 5.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = extract_features_long(df, minimal_settings()).toPandas()
    assert len(out) == 20
    m = out[(out.id == 1) & (out.variable == "a__mean")].value.iloc[0]
    assert m == pytest.approx(2.0)


def test_long_sort_respected(spark):
    # an ordered feature must see time-sorted values regardless of row order
    pdf = pd.DataFrame(
        {
            "id": [1] * 4,
            "kind": ["a"] * 4,
            "time": [3, 0, 1, 2],
            "value": [40.0, 10.0, 20.0, 30.0],
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    out = extract_features_long(df, {"mean_change": None}).toPandas()
    assert out.value.iloc[0] == pytest.approx(10.0)  # (40-10)/3 on sorted series


def test_order_invariance_tokens(spark, tokens_df):
    """Shuffling input rows / changing partitioning must not change results
    (reference test_extraction.py:207)."""
    settings = {"mean": None, "abs_energy": None, "autocorrelation": [{"lag": 1}]}
    a = (
        extract_features_tokens(tokens_df.repartition(7), settings)
        .toPandas()
        .sort_values(["doc_id", "variable"])
        .reset_index(drop=True)
    )
    b = (
        extract_features_tokens(tokens_df.coalesce(1), settings)
        .toPandas()
        .sort_values(["doc_id", "variable"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_pivot_features(spark, tokens_df):
    long_df = extract_features_tokens(tokens_df, minimal_settings())
    names = expand_feature_names(minimal_settings(), "web") + expand_feature_names(
        minimal_settings(), "code"
    )
    wide = pivot_features(long_df, id_cols="doc_id", feature_names=names).toPandas()
    assert len(wide) == 4
    assert list(wide.columns[1:]) == sorted(names)
    row = wide[wide.doc_id == "doc1"]
    assert row["web__sum_values"].iloc[0] == 13.0
    # docs of the other kind have NaN in this kind's columns
    assert np.isnan(row["code__sum_values"].iloc[0])


def test_pivot_features_map(spark, tokens_df):
    long_df = extract_features_tokens(tokens_df, minimal_settings())
    wide = pivot_features_map(long_df, id_cols="doc_id").toPandas()
    assert len(wide) == 4
    feats = dict(wide[wide.doc_id == "doc2"].features.iloc[0])
    assert feats["web__length"] == 7.0


def test_settings_roundtrip():
    settings = comprehensive_settings()
    names = expand_feature_names(settings, "web")
    rebuilt = settings_from_feature_names(names)
    assert set(rebuilt) == {"web"}
    assert set(rebuilt["web"]) == set(settings)
    # parameterized grids survive the round trip
    assert rebuilt["web"]["autocorrelation"] == settings["autocorrelation"]
    assert rebuilt["web"]["fft_coefficient"] == settings["fft_coefficient"]


def test_melt_wide(spark):
    pdf = pd.DataFrame(
        {"id": [1, 1], "time": [0, 1], "F_x": [1.0, 2.0], "F_y": [3.0, 4.0]}
    )
    long_df = melt_wide(
        spark.createDataFrame(pdf), column_id="id", column_sort="time"
    ).toPandas()
    assert len(long_df) == 4
    assert set(long_df["kind"]) == {"F_x", "F_y"}


def test_kind_to_settings_routing(spark, tokens_df):
    out = extract_features_tokens(
        tokens_df,
        {"mean": None},
        kind_to_settings={"code": {"maximum": None}},
    ).toPandas()
    web = out[out.source == "web"]
    code = out[out.source == "code"]
    assert set(web.variable.str.split("__").str[1]) == {"mean"}
    assert set(code.variable.str.split("__").str[1]) == {"maximum"}


def test_no_per_series_state_survives_extraction():
    """Per-series work is shared only through ``@per_series``: exactly four
    memo slots are registered (rfft, Welch PSD, Chebyshev, Friedrich), the
    comprehensive set fills all four, and all are empty once
    ``compute_series_features`` has finished the series, so a reused python
    worker pins nothing of the last series between jobs.  No kernel module
    keeps a hand-rolled one-slot ``_*_CACHE = [None]`` global either."""
    import importlib
    import pkgutil

    import tsfresh_spark.kernels as kernels_pkg
    from tsfresh_spark.extract import compute_series_features
    from tsfresh_spark.kernels.registry import _SERIES_SLOTS

    one_slot_globals = []
    for mod_info in pkgutil.iter_modules(kernels_pkg.__path__):
        mod = importlib.import_module(f"{kernels_pkg.__name__}.{mod_info.name}")
        for name, value in vars(mod).items():
            if name.endswith("_CACHE") and isinstance(value, list) and len(value) == 1:
                one_slot_globals.append(f"{mod_info.name}.{name}")
    assert one_slot_globals == []
    assert len(_SERIES_SLOTS) == 4

    x = np.random.RandomState(3).normal(size=300)
    filled = 0
    for _ in compute_series_features(x, "web", comprehensive_settings()):
        filled = sum(slot[0] is not None for slot in _SERIES_SLOTS)
    assert filled == 4  # every share was taken by the last feature
    assert [slot[0] for slot in _SERIES_SLOTS] == [None] * 4


def test_interleaved_extractions_match_sequential():
    """compute_series_features is a generator, so two extractions can
    interleave (and one can clear the memo mid-way through the other): each
    must still yield exactly the features of running it alone."""
    from tsfresh_spark.extract import compute_series_features

    rng = np.random.RandomState(5)
    a, b = rng.normal(size=(2, 300))
    fc = comprehensive_settings()

    def bits(pairs):
        return [(name, np.float64(v).tobytes()) for name, v in pairs]

    want = [bits(compute_series_features(x, "web", fc)) for x in (a, b)]
    ga = compute_series_features(a, "web", fc)
    gb = compute_series_features(b, "web", fc)
    got_a = [next(ga) for _ in range(50)]  # a runs ahead and finishes first
    got_b = []
    for pa, pb in itertools.zip_longest(ga, gb):
        if pa is not None:
            got_a.append(pa)
        if pb is not None:
            got_b.append(pb)
    assert [bits(got_a), bits(got_b)] == want
