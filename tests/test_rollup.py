"""Rollup engine: tier cascade, payload fidelity (token-array equality
invariant), cascade==direct feature equality, and manifest-based resume."""

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.functions.codec import decode_series
from tsfresh_spark.operators.rollup import DAY, RollupEngine, TierSpec
from tsfresh_spark.settings import minimal_settings


@pytest.fixture(scope="module")
def raw_points(spark):
    rows = []
    rng = np.random.RandomState(7)
    for doc, source in [("d1", "web"), ("d2", "code")]:
        t = 0
        for _ in range(300):
            t += int(rng.randint(30, 600))  # irregular 30s..10min gaps
            rows.append((doc, source, t, float(rng.randint(0, 1000))))
    return spark.createDataFrame(
        rows, "doc_id string, source string, ts long, value double"
    )


@pytest.fixture(scope="module")
def engine(spark, raw_points, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rollup"))
    eng = RollupEngine(
        spark,
        base,
        settings=minimal_settings(),
        base_step_seconds=60,
        tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
        range_partitions=4,
    )
    eng.paths = eng.run(raw_points, job_id="job-A")
    return eng


def test_all_tiers_written_and_committed(engine):
    assert set(engine.paths) == {"raw", "base", "1h", "1d"}
    for path in engine.paths.values():
        assert os.path.isdir(path)
    assert engine.manifest.committed_tiers("job-A") == {"raw", "base", "1h", "1d"}


def test_manifest_metrics_match_data(spark, engine):
    for tier in ["raw", "base", "1h", "1d"]:
        metrics = engine.manifest.tier_metrics("job-A", tier)
        assert metrics, tier
        total = sum(m["row_count"] for m in metrics)
        actual = spark.read.parquet(engine.paths[tier]).count()
        assert total == actual, tier
        assert all(m["byte_count"] > 0 for m in metrics)
        assert all(tier in m["lineage"] for m in metrics)


def test_raw_tier_preserves_points_bitexact(spark, engine, raw_points):
    """Token-array equality invariant end-to-end through the codec."""
    stored = spark.read.parquet(engine.paths["raw"]).toPandas()
    want = raw_points.toPandas()
    for (doc, source), group in want.groupby(["doc_id", "source"]):
        group = group.sort_values("ts")
        got_ts, got_vals = [], []
        sub = stored[(stored.doc_id == doc) & (stored.source == source)].sort_values(
            "window_start"
        )
        for payload in sub.payload:
            ts, vals = decode_series(bytes(payload))
            got_ts.extend(ts.tolist())
            got_vals.extend(vals.tolist())
        assert got_ts == group.ts.tolist()
        assert got_vals == group.value.tolist()


def test_base_tier_regular_grid(spark, engine):
    stored = spark.read.parquet(engine.paths["base"]).toPandas()
    for payload in stored.payload:
        ts, vals = decode_series(bytes(payload))
        assert np.all(np.diff(ts) == 60)  # regular 1-minute grid
        assert not np.isnan(vals).any()  # ffill leaves no interior holes


def test_cascade_equals_direct(spark, engine):
    """1d features (computed from 1h payloads) must equal features computed
    directly from the base grid — bit-for-bit."""
    base_pts = {}
    for _, row in spark.read.parquet(engine.paths["base"]).toPandas().iterrows():
        ts, vals = decode_series(bytes(row.payload))
        key = (row.doc_id, row.source)
        base_pts.setdefault(key, []).append((ts, vals))
    day = spark.read.parquet(engine.paths["1d"]).toPandas()
    checked = 0
    for _, row in day.iterrows():
        ts_all = np.concatenate(
            [t for t, _ in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        val_all = np.concatenate(
            [v for _, v in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        mask = (ts_all >= row.window_start) & (ts_all < row.window_start + DAY)
        direct = dict(
            compute_series_features(val_all[mask], row.source, minimal_settings())
        )
        got = dict(row.features)
        assert got.keys() == direct.keys()
        for k in direct:
            assert got[k] == direct[k] or (
                np.isnan(got[k]) and np.isnan(direct[k])
            ), (k, got[k], direct[k])
        checked += 1
    assert checked >= 2


def test_resume_skips_committed_tiers(spark, engine, raw_points):
    mtimes = {
        tier: os.path.getmtime(path) for tier, path in engine.paths.items()
    }
    eng2 = RollupEngine(
        spark,
        engine.base_path,
        settings=minimal_settings(),
        base_step_seconds=60,
        tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
        range_partitions=4,
    )
    paths2 = eng2.run(raw_points, job_id="job-A")
    assert paths2 == engine.paths
    for tier, path in paths2.items():
        assert os.path.getmtime(path) == mtimes[tier], f"{tier} was rewritten"


def test_fresh_job_id_recomputes(spark, engine, raw_points):
    assert engine.manifest.committed_tiers("job-B") == set()


def test_wider_than_day_tier_uses_regroup_path(spark, raw_points, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rollup7d"))
    eng = RollupEngine(
        spark,
        base,
        settings=minimal_settings(),
        base_step_seconds=3600,
        tiers=[TierSpec("7d", 7 * DAY)],
        range_partitions=2,
    )
    paths = eng.run(raw_points, job_id="job-7d")
    week = spark.read.parquet(paths["7d"]).toPandas()
    assert len(week) >= 2  # both series produce at least one weekly window
    assert (week.window_start % (7 * DAY) == 0).all()
    # weekly features equal direct computation over the base grid
    base_pts = {}
    for _, row in spark.read.parquet(paths["base"]).toPandas().iterrows():
        ts, vals = decode_series(bytes(row.payload))
        key = (row.doc_id, row.source)
        base_pts.setdefault(key, []).append((ts, vals))
    for _, row in week.iterrows():
        ts_all = np.concatenate(
            [t for t, _ in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        val_all = np.concatenate(
            [v for _, v in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        mask = (ts_all >= row.window_start) & (ts_all < row.window_start + 7 * DAY)
        direct = dict(
            compute_series_features(val_all[mask], row.source, minimal_settings())
        )
        got = dict(row.features)
        for k in direct:
            assert got[k] == direct[k] or (
                np.isnan(got[k]) and np.isnan(direct[k])
            ), (k, got[k], direct[k])


@pytest.mark.parametrize("method", ["ffill", "linear"])
def test_compact_base_tier_bitexact(spark, raw_points, tmp_path_factory, method):
    """The one-shuffle compact base tier must reproduce the window-function
    path byte-for-byte (payloads included)."""
    eng_kwargs = dict(
        settings=minimal_settings(), base_step_seconds=300, gap_method=method,
        range_partitions=2,
    )
    a = RollupEngine(spark, str(tmp_path_factory.mktemp("bw")), **eng_kwargs)
    b = RollupEngine(
        spark, str(tmp_path_factory.mktemp("bc")), base_impl="compact", **eng_kwargs
    )
    pa = a._base_tier(raw_points).toPandas()
    pb = b._base_tier_compact(raw_points).toPandas()
    key = ["doc_id", "source", "window_start"]
    pa = pa.sort_values(key).reset_index(drop=True)
    pb = pb.sort_values(key).reset_index(drop=True)
    assert len(pa) == len(pb)
    for ra, rb in zip(pa.itertuples(), pb.itertuples()):
        assert (ra.doc_id, ra.source, ra.window_start) == (
            rb.doc_id, rb.source, rb.window_start,
        )
        assert ra.n_points == rb.n_points
        assert bytes(ra.payload) == bytes(rb.payload), (
            ra.doc_id, ra.window_start, method,
        )
    # and the compact plan has exactly one exchange
    plan = (
        b._base_tier_compact(raw_points)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_retention_ages_out_old_windows(spark, raw_points, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rollup_ret"))
    eng = RollupEngine(
        spark, base, settings=minimal_settings(), base_step_seconds=3600,
        tiers=[TierSpec("1h", 3600)], range_partitions=2,
    )
    eng.run(raw_points, job_id="job-ret")
    tier_df = spark.read.parquet(eng.tier_path("1h")).toPandas()
    cutoff_candidates = sorted(tier_df.window_start.unique())
    # keep only the newest half of the windows
    mid = cutoff_candidates[len(cutoff_candidates) // 2]
    max_ts = int(tier_df.window_start.max()) + 3600
    result = eng.apply_retention(
        "1h", keep_seconds=max_ts - mid, now_ts=max_ts, job_id="job-ret"
    )
    assert result["after"] < result["before"]
    remaining = spark.read.parquet(eng.tier_path("1h")).toPandas()
    assert (remaining.window_start >= mid).all()
    assert result["after"] == len(remaining)
    # the manifest carries the retention lineage with before->after counts
    metrics = eng.manifest.tier_metrics("job-ret", "1h")
    assert any("retention(cutoff=" in m["lineage"] for m in metrics)
    # untouched windows are byte-identical (payloads survive the rewrite)
    old_rows = tier_df[tier_df.window_start >= mid].sort_values(
        ["doc_id", "source", "window_start"]
    )
    new_rows = remaining.sort_values(["doc_id", "source", "window_start"])
    assert [bytes(p) for p in old_rows.payload] == [bytes(p) for p in new_rows.payload]


def test_tier_without_payload_matches_with_payload(spark, raw_points):
    """Round-6: compute_tier(with_payload=False) must be identical to the
    payload-bearing form in every column except payload (which comes back
    NULL) — the flag only skips the Gorilla re-encode of bytes the caller
    discards."""
    eng = RollupEngine(
        spark,
        "/tmp/rollup_nopayload_unused",
        settings=minimal_settings(),
        id_cols=("doc_id", "source"),
        base_step_seconds=60,
        base_impl="compact",
    )
    base = eng.compute_base(raw_points)
    with_p = eng.compute_tier(base, 3600).toPandas()
    without_p = eng.compute_tier(base, 3600, with_payload=False).toPandas()
    key = ["doc_id", "source", "window_start"]
    a = with_p.sort_values(key).reset_index(drop=True)
    b = without_p.sort_values(key).reset_index(drop=True)
    assert b.payload.isna().all()
    pd.testing.assert_frame_equal(
        a.drop(columns=["payload"]), b.drop(columns=["payload"]),
        check_exact=True,
    )


def _tier_rows(spark, path):
    """Every stored row of a tier with features as exact float bytes, so
    NaN and -0.0 compare bit for bit."""
    rows = []
    for r in spark.read.parquet(path).collect():
        feats = None if r.features is None else sorted(
            (k, None if v is None else np.float64(v).tobytes())
            for k, v in r.features.items()
        )
        payload = None if r.payload is None else bytes(r.payload)
        rows.append((r.doc_id, r.source, r.window_start, r.n_points, feats, payload))
    return sorted(rows, key=lambda row: row[:3])


def test_crash_windows_resume_equals_clean_run(
    spark, engine, raw_points, tmp_path_factory, monkeypatch
):
    """A job that dies after a tier's data write but before its COMMIT
    record, or between two tier commits, resumes under the same job_id:
    committed tiers are skipped, the uncommitted tier is recomputed, and
    every tier ends byte-equal to a clean run."""
    from tsfresh_spark.plans.manifest import Manifest

    class Crash(RuntimeError):
        pass

    base = str(tmp_path_factory.mktemp("rollup_crash"))

    def make():
        return RollupEngine(
            spark,
            base,
            settings=minimal_settings(),
            base_step_seconds=60,
            tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
            range_partitions=4,
        )

    record = Manifest.record_tier
    write = RollupEngine._write
    written = []

    def record_crashing_on_base(self, job_id, tier, *args):
        if tier == "base":
            raise Crash("before the base COMMIT")
        return record(self, job_id, tier, *args)

    def write_crashing_on_1d(self, df, tier):
        if tier == "1d":
            raise Crash("between the 1h and 1d commits")
        written.append(tier)
        return write(self, df, tier)

    def write_spy(self, df, tier):
        written.append(tier)
        return write(self, df, tier)

    # crash 1: the base tier's data is on storage, its COMMIT is not
    with monkeypatch.context() as m:
        m.setattr(Manifest, "record_tier", record_crashing_on_base)
        with pytest.raises(Crash):
            make().run(raw_points, job_id="job-crash")
    assert make().manifest.committed_tiers("job-crash") == {"raw"}
    assert os.path.isdir(make().tier_path("base"))

    # crash 2: resume recomputes the uncommitted base, commits 1h, then dies
    with monkeypatch.context() as m:
        m.setattr(RollupEngine, "_write", write_crashing_on_1d)
        with pytest.raises(Crash):
            make().run(raw_points, job_id="job-crash")
    assert written == ["base", "1h"]
    assert make().manifest.committed_tiers("job-crash") == {"raw", "base", "1h"}

    # the final resume writes only the one tier still uncommitted
    written.clear()
    with monkeypatch.context() as m:
        m.setattr(RollupEngine, "_write", write_spy)
        paths = make().run(raw_points, job_id="job-crash")
    assert written == ["1d"]
    assert make().manifest.committed_tiers("job-crash") == {"raw", "base", "1h", "1d"}

    for tier in ["raw", "base", "1h", "1d"]:
        assert _tier_rows(spark, paths[tier]) == _tier_rows(
            spark, engine.paths[tier]
        ), tier
