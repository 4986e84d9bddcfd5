"""Per-layer measurements of a traced run.

Layer names follow the engine's modules: ``kernels`` (one driver core, no
Spark), ``extract`` (stage and task times of the extraction stage),
``functions.codec``, ``operators.gapfill``/``rollup`` and ``plans``
(manifest).  A workload that does not exercise a layer reports 0 for it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from pyspark.sql import functions as F

from obs import stage_layer
from workloads import JOB_ID, T0, row_hash, start_id

FAMILIES = ("statistics", "ordered", "spectral", "entropy", "model")
BUCKETS = {
    "len_le64": (16, 64),
    "len_65_256": (65, 256),
    "len_257_1024": (257, 1024),
    "len_gt1024": (1025, 2048),
}
PROBES_PER_BUCKET = 8
MB = float(1 << 20)

ROLLUP_ONLY = (
    "rollup.base_s", "rollup.tier_1h_s", "rollup.tier_1d_s",
    "rollup.tier_1h.tasks", "rollup.tier_1h.task_skew",
    "rollup.shuffle_write_mb", "rollup.spill_mb", "rollup.recompute_ratio",
    "gapfill.rows_out_per_in", "manifest.committed_tiers_ms",
    "resume_s", "read_s_p50", "bytes_per_point",
)


def _median(values) -> float:
    return float(statistics.median(values))


def ms_per_series(series, settings: dict, passes: int = 3) -> float:
    """Wall ms per series of ``compute_series_features`` over ``series``:
    the fastest of ``passes`` passes, so a pass that shares the core with
    the JVM's clean-up after the jobs does not count."""
    from tsfresh_spark.extract import compute_series_features

    kind, x = series[0]
    for _ in compute_series_features(x, kind, settings):  # compile the plan
        pass
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        for kind, x in series:
            for _ in compute_series_features(x, kind, settings):
                pass
        best = min(best, time.perf_counter() - t0)
    return 1000.0 * best / len(series)


def kernel_layer(spark, wl, seed: int, tracer) -> dict:
    """``kernels``: the fused per-series loop on the workload's own sample,
    split by kernel family (each family alone through the same public
    loop), plus length buckets on probe series from the same generator."""
    from tsfresh_spark.kernels import KERNELS
    from tsfresh_spark.sources.synthetic import tokens_corpus

    series = wl.sample_series()
    out = {}
    with tracer.span("compute_series_features", "layers"):
        out["kernels.ms_per_series"] = ms_per_series(series, wl.settings)
        for fam in FAMILIES:
            sub = {
                k: v for k, v in wl.settings.items()
                if KERNELS[k].func.__module__.rsplit(".", 1)[-1] == fam
            }
            out[f"kernels.{fam}_ms"] = ms_per_series(series, sub) if sub else 0.0
        for bucket, (lo, hi) in BUCKETS.items():
            probes = tokens_corpus(
                spark, PROBES_PER_BUCKET, min_len=lo, max_len=hi,
                start_id=start_id(seed) + 50_000,
            ).select("source", "tokens").collect()
            probe_series = [
                (r.source, np.asarray(r.tokens, dtype=np.int64)) for r in probes
            ]
            out[f"kernels.ms_per_series.{bucket}"] = ms_per_series(
                probe_series, wl.settings
            )
    return out


def codec_layer(chunks, tracer, min_seconds: float = 0.3) -> dict:
    """``functions.codec``: encode/decode µs per point over ``chunks`` of
    (timestamps, values); every payload must decode to its input."""
    from tsfresh_spark.functions.codec import decode_series, encode_series

    points = sum(len(ts) for ts, _ in chunks)

    def per_point_us(fn, items) -> float:
        passes, t0 = 0, time.perf_counter()
        while True:
            for item in items:
                fn(*item)
            passes += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= min_seconds:
                return 1e6 * elapsed / (passes * points)

    with tracer.span("encode_series", "layers"):
        payloads = [encode_series(ts, v) for ts, v in chunks]
        enc = per_point_us(encode_series, chunks)
    with tracer.span("decode_series", "layers"):
        dec = per_point_us(decode_series, [(p,) for p in payloads])
    for (ts, v), p in zip(chunks, payloads):
        dts, dv = decode_series(p)
        if not (np.array_equal(dts, ts) and dv.tobytes() == v.tobytes()):
            raise RuntimeError("codec round trip is not bit-exact")
    return {
        "codec.encode_us_per_point": enc,
        "codec.decode_us_per_point": dec,
        "codec.bytes_per_point": sum(len(p) for p in payloads) / points,
    }


def extract_layer(layers: list[dict], counts: dict, kernel_ms: float) -> dict:
    """``extract``: stage times of the extraction stage; kernel share is
    the driver's kernel time for the same series over executor run time."""
    run_ms = _median(l["run_ms"] for l in layers)
    cpu_ms = _median(l["cpu_ms"] for l in layers)
    return {
        "extract.task_run_ms": run_ms,
        "extract.jvm_cpu_ms": cpu_ms,
        "extract.python_ms": run_ms - cpu_ms,
        "extract.kernel_share": kernel_ms * counts["series"] / run_ms if run_ms else 0.0,
        "extract.tasks": _median(l["tasks"] for l in layers),
        "extract.task_skew": _median(l["task_skew"] for l in layers),
        "extract.features_per_series": counts["features_per_series"],
        "extract.nan_frac": counts["nan_frac"],
    }


def _profiled(spark, tracer, name: str, fn) -> tuple[float, dict, object]:
    from tsfresh_spark.plans.profiling import StageProfiler

    with tracer.span(name, "layers"), StageProfiler(spark) as prof:
        t0 = time.perf_counter()
        out = fn()
        seconds = time.perf_counter() - t0
    return seconds, stage_layer(spark, prof), out


def tokens_layers(spark, wl, seed, tracer, traced_jobs) -> dict:
    out = {k: 0.0 for k in ROLLUP_ONLY}
    out.update(kernel_layer(spark, wl, seed, tracer))
    out.update(extract_layer(
        [j.ops[0].layer for j in traced_jobs], traced_jobs[0].counts,
        out["kernels.ms_per_series"],
    ))
    grid = [
        (T0 + 60 * np.arange(len(x), dtype=np.int64), x.astype(np.float64))
        for _, x in wl.sample_series()
    ]
    out.update(codec_layer(grid, tracer))
    return out


def rollup_layers(spark, wl, seed, tracer, traced_jobs, untraced_jobs) -> dict:
    """Each cascade step run singly into a sink, against the traced jobs'
    ``run()``; the codec on the sampled docs' base-tier day chunks."""
    from tsfresh_spark.functions.codec import decode_series

    eng = wl.last_clean
    out = kernel_layer(spark, wl, seed, tracer)
    is_bad = lambda v: v.isNull() | F.isnan(v)  # noqa: E731

    def tier_sink(df):
        return df.agg(
            F.count("*").alias("windows"),
            F.sum(F.size("features")).alias("features"),
            F.sum(F.size(F.filter(F.map_values("features"), is_bad))).alias("nan"),
            F.bit_xor(row_hash("doc_id", "window_start", "payload")).alias("h"),
        ).first()

    base_s, base_l, _ = _profiled(
        spark, tracer, "compute_base",
        lambda: eng.compute_base(wl.points).agg(F.sum("n_points")).first(),
    )
    stored = spark.read.parquet(eng.tier_path("base"))
    h1_s, h1_l, h1 = _profiled(
        spark, tracer, "compute_tier[1h]",
        lambda: tier_sink(eng.compute_tier(stored, 3600)),
    )
    d1_s, d1_l, _ = _profiled(
        spark, tracer, "compute_tier[1d]",
        lambda: tier_sink(eng.compute_tier(stored, 86400)),
    )
    run_layers = [j.ops[0].layer for j in traced_jobs]
    run_ms = _median(l["run_ms"] for l in run_layers)
    steps_ms = base_l["run_ms"] + h1_l["run_ms"] + d1_l["run_ms"]
    counts = {
        "series": h1.windows,
        "features_per_series": h1.features / h1.windows,
        "nan_frac": h1.nan / h1.features,
    }
    out.update(extract_layer([h1_l], counts, out["kernels.ms_per_series"]))
    commit_ms = []
    with tracer.span("Manifest.committed_tiers", "layers"):
        for _ in range(3):
            t0 = time.perf_counter()
            eng.manifest.committed_tiers(JOB_ID)
            commit_ms.append(1000.0 * (time.perf_counter() - t0))
    base_rows = (
        spark.read.parquet(eng.tier_path("base"))
        .filter(F.col("doc_id").isin(wl.sample_docs))
        .select("doc_id", "window_start", "payload").collect()
    )
    base_rows.sort(key=lambda r: (r.doc_id, r.window_start))
    out.update(codec_layer(
        [decode_series(bytes(r.payload)) for r in base_rows], tracer
    ))
    out.update({
        "rollup.base_s": base_s,
        "rollup.tier_1h_s": h1_s,
        "rollup.tier_1d_s": d1_s,
        "rollup.tier_1h.tasks": h1_l["tasks"],
        "rollup.tier_1h.task_skew": h1_l["task_skew"],
        "rollup.shuffle_write_mb": _median(
            l["shuffle_write_bytes"] for l in run_layers) / MB,
        "rollup.spill_mb": _median(l["spill_bytes"] for l in run_layers) / MB,
        "rollup.recompute_ratio": run_ms / steps_ms if steps_ms else 0.0,
        "gapfill.rows_out_per_in": traced_jobs[0].counts["rows_out_per_in"],
        "manifest.committed_tiers_ms": _median(commit_ms),
        "resume_s": _median(j.ops[1].seconds for j in untraced_jobs),
        "read_s_p50": _median(j.ops[2].seconds for j in untraced_jobs),
        "bytes_per_point": traced_jobs[0].counts["bytes_per_point"],
    })
    return out
