"""The rollup / downsample / retention engine (BASELINE.json north rule).

Tier cascade over a corpus of (doc_id, source) series:

    raw   — archival of the original irregular points, Gorilla-compressed in
            per-day chunks (no features);
    base  — ("1m") gap-filled regular grid at ``base_step``: the canonical
            series every higher tier aggregates; stored compressed per day;
    1h/1d — continuous aggregates: per (doc_id, source, window) the feature
            vector (tsfresh calculator family via the kernel library) over
            the base-grid points inside the window, plus the compressed
            point payload.

Feature tiers read the BASE tier's compressed day-chunks, never the raw
input: day-aligned windows split each payload inside a narrow ``mapInPandas``
(zero shuffle); wider windows decode + regroup (one shuffle).  The codec is
bit-exact, so "cascade" and "direct" produce identical features (asserted in
tests).  Every tier write is range-laid-out on doc_id and sorted within
partitions.  ``run()`` applies the range partitioning to the INPUT of each
tier's Python UDF stage (the raw points, the filled base grid, or the stored
base scan), where it satisfies the tier's grouping and is the only exchange
after it: the range sampler reads cheap JVM-side input, so each tier's UDF
runs once per commit.  Each tier is then recorded in the manifest with
per-file row/byte metrics and a COMMIT record; a re-run of the same job_id
skips committed tiers (resume from checkpoint).

Timestamps are epoch seconds (int64) throughout the engine — integer window
arithmetic (``ts - ts % step``) is exact, codegen-friendly, and avoids
timezone semantics entirely.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.functions.codec import encode_series
from tsfresh_spark.plans.manifest import Manifest
from tsfresh_spark.plans.partitioning import (
    group_partition_count,
    pin_group_partitions,
)

DAY = 86400


@dataclass
class TierSpec:
    name: str
    window_seconds: int
    compute_features: bool = True


DEFAULT_TIERS = [
    TierSpec("1h", 3600),
    TierSpec("1d", DAY),
]


@dataclass
class RollupEngine:
    spark: SparkSession
    base_path: str
    settings: dict
    id_cols: tuple[str, str] = ("doc_id", "source")
    base_step_seconds: int = 60
    gap_method: str = "ffill"
    tiers: list[TierSpec] = field(default_factory=lambda: list(DEFAULT_TIERS))
    range_partitions: int | None = None
    base_impl: str = "windows"  # "windows" (documented op) | "compact" (1 shuffle)

    def __post_init__(self):
        self.manifest = Manifest(self.spark, self.base_path)

    # ------------------------------------------------------------------ io

    def tier_path(self, tier: str) -> str:
        return f"{self.base_path.rstrip('/')}/tier={tier}"

    def _range_layout(self, df: DataFrame, num_partitions: int | None = None) -> DataFrame:
        """Range-partition a tier's input on doc_id.  The tier's grouping
        and its Python UDF cluster on ``id_cols``, which this satisfies, so
        it adds no exchange above the UDF and is also the stored layout; its
        sampling job reads the cheap JVM-side input instead of re-running
        the UDF.  ``None`` lets AQE coalesce the partitions."""
        doc_col = self.id_cols[0]
        n = num_partitions or self.range_partitions
        return df.repartitionByRange(n, doc_col) if n else df.repartitionByRange(doc_col)

    def _write(self, df: DataFrame, tier: str) -> str:
        """Persist a tier frame that is already range-laid-out on doc_id
        (:meth:`_range_layout` on its input); sorting within partitions adds
        no exchange."""
        path = self.tier_path(tier)
        out = df.sortWithinPartitions(self.id_cols[0], "window_start")
        out.write.mode("overwrite").parquet(path)
        return path

    def _tier_schema(self, source: DataFrame) -> str:
        """DDL of every tier frame: the id columns typed as in ``source``,
        then the window, feature and payload columns."""
        id_field_types = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in source.schema.fields
            if f.name in self.id_cols
        )
        return (
            f"{id_field_types}, window_start long, n_points long, "
            "features map<string,double>, payload binary"
        )

    def _read_tier(self, tier: str, schema: str) -> DataFrame:
        """A stored tier with its known schema: no schema-inference job."""
        return self.spark.read.schema(schema).parquet(self.tier_path(tier))

    # ------------------------------------------------------- point shuttling

    def _chunk_points(self, points: DataFrame, window_seconds: int) -> DataFrame:
        """points (id..., ts long, value double) → one row per window with
        sorted ts/value arrays (exact order by ts)."""
        idc = list(self.id_cols)
        bucketed = points.withColumn(
            "window_start", (F.col("ts") - F.pmod("ts", F.lit(window_seconds))).cast("long")
        )
        return bucketed.groupBy(*idc, "window_start").agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("pts")
        )

    def decode_points(self, stored: DataFrame) -> DataFrame:
        """Decode a tier frame's payload column back to (id..., ts, value)."""
        from tsfresh_spark.functions.codec import (
            decompress_timestamps_udf,
            decompress_values_udf,
        )

        idc = list(self.id_cols)
        arrays = stored.select(
            *idc,
            decompress_timestamps_udf()(F.col("payload")).alias("ts_arr"),
            decompress_values_udf()(F.col("payload")).alias("val_arr"),
        )
        return arrays.select(
            *idc,
            F.explode(F.arrays_zip("ts_arr", "val_arr")).alias("p"),
        ).select(*idc, F.col("p.ts_arr").alias("ts"), F.col("p.val_arr").alias("value"))

    # ------------------------------------------------------- tier computation

    def _archive_tier(self, points: DataFrame) -> DataFrame:
        """raw archival: per-day compressed chunks, no features."""
        chunks = self._chunk_points(points, DAY)
        return self._apply_chunks(chunks, with_features=False)

    def _base_tier(self, points: DataFrame, *, layout: bool = False) -> DataFrame:
        """gap-filled regular grid at base_step, stored per-day.

        ``layout=True`` range-partitions the filled grid, not the raw
        points: the grid's left join would re-shuffle a range-partitioned
        input (Spark never treats two range partitionings as co-partitioned).
        """
        from tsfresh_spark.operators.gapfill import fill_forward, fill_linear, regularize

        idc = list(self.id_cols)
        step = self.base_step_seconds
        bucketed = points.withColumn(
            "bucket", (F.col("ts") - F.pmod("ts", F.lit(step))).cast("long")
        )
        observed = bucketed.groupBy(*idc, "bucket").agg(
            F.max_by("value", "ts").alias("value")
        )
        bounds = observed.groupBy(*idc).agg(
            F.min("bucket").alias("_a"), F.max("bucket").alias("_b")
        )
        grid = bounds.select(
            *idc,
            F.explode(F.sequence("_a", "_b", F.lit(step))).alias("bucket"),
        ).join(observed, [*idc, "bucket"], "left")
        if self.gap_method == "ffill":
            filled = fill_forward(
                grid, id_cols=idc, order_col="bucket", value_col="value"
            )
        elif self.gap_method == "linear":
            filled = fill_linear(
                grid, id_cols=idc, order_col="bucket", value_col="value"
            )
        else:
            raise ValueError(f"unsupported gap_method {self.gap_method!r}")
        pts = filled.filter(F.col("value").isNotNull()).select(
            *idc, F.col("bucket").alias("ts"), "value"
        )
        if layout:
            pts = self._range_layout(pts)
        chunks = self._chunk_points(pts, DAY)
        return self._apply_chunks(chunks, with_features=False)

    def _base_tier_compact(self, points: DataFrame, *, layout: bool = False) -> DataFrame:
        """Single-shuffle base tier: one ``applyInPandas`` per series does
        bucket → grid → fill → day-chunk → encode in numpy.

        Bit-equal to :meth:`_base_tier` (asserted in tests): the grid spans
        first..last observed bucket, so linear fill is interior-only
        (np.interp) and ffill is a forward index scan.  The window-function
        path remains the default/documented operator; this is the
        one-exchange physical alternative for very large fleets.

        The grouping shuffle is pinned to a fixed partition count: by hash,
        or with ``layout=True`` by range on doc_id (``range_partitions``
        when set), so that it is also the stored layout.
        """
        idc = list(self.id_cols)
        step = self.base_step_seconds
        method = self.gap_method
        if method not in ("ffill", "linear"):
            raise ValueError(f"unsupported gap_method {method!r}")
        schema = self._tier_schema(points)

        def per_series(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            order = np.argsort(pdf["ts"].values, kind="mergesort")
            ts = pdf["ts"].values[order].astype(np.int64)
            vals = pdf["value"].values[order].astype(np.float64)
            bucket = ts - ts % step
            # last observation per bucket (by ts): in ts order the last
            # index of each bucket run wins
            change = np.concatenate([bucket[1:] != bucket[:-1], [True]])
            ub = bucket[change]
            uv = vals[change]
            grid = np.arange(ub[0], ub[-1] + step, step, dtype=np.int64)
            pos = (ub - ub[0]) // step
            filled = np.full(len(grid), np.nan)
            filled[pos] = uv
            if method == "ffill":
                idx = np.where(~np.isnan(filled), np.arange(len(filled)), 0)
                np.maximum.accumulate(idx, out=idx)
                filled = filled[idx]
            else:
                # linear, interior-only by construction; op-for-op identical
                # to fill_linear's prev + (next-prev)*(pos-pt)/(nt-pt)
                j = np.searchsorted(ub, grid, side="right") - 1
                prev_t, prev_v = ub[j], uv[j]
                nxt = np.minimum(j + 1, len(ub) - 1)
                next_t, next_v = ub[nxt], uv[nxt]
                observed = grid == prev_t
                with np.errstate(all="ignore"):
                    interp = prev_v + (next_v - prev_v) * (
                        grid - prev_t
                    ).astype(np.float64) / (next_t - prev_t).astype(np.float64)
                filled = np.where(observed, prev_v, interp)
            day_start = grid - grid % DAY
            cuts = np.flatnonzero(np.diff(day_start)) + 1
            starts = np.concatenate([[0], cuts])
            ends = np.concatenate([cuts, [len(grid)]])
            id_map = dict(zip(idc, key))
            rows = [
                {
                    **id_map,
                    "window_start": int(day_start[s]),
                    "n_points": int(e - s),
                    "features": None,
                    "payload": encode_series(grid[s:e], filled[s:e]),
                }
                for s, e in zip(starts, ends)
            ]
            return pd.DataFrame(rows)

        # pin the grouping shuffle: AQE byte-coalescing would run this
        # compute-bound stage on 1-2 cores for small-byte inputs
        if layout:
            n = self.range_partitions or group_partition_count(self.spark)
            pinned = self._range_layout(points, n)
        else:
            pinned = pin_group_partitions(points, *idc)
        return pinned.groupBy(*idc).applyInPandas(per_series, schema=schema)

    def _feature_tier(self, points: DataFrame, window_seconds: int) -> DataFrame:
        chunks = self._chunk_points(points, window_seconds)
        return self._apply_chunks(chunks, with_features=True)

    def _cascade_tier(
        self,
        stored: DataFrame,
        window_seconds: int,
        *,
        with_payload: bool = True,
    ) -> DataFrame:
        """Feature tier as a NARROW map over a stored tier whose storage
        chunks (per-day payloads) are window-aligned: each payload is
        decoded and split at window boundaries inside the UDF — no explode,
        no shuffle, no regroup.  Valid when DAY % window_seconds == 0 (every
        window then lives inside exactly one day chunk).

        ``with_payload=False`` skips re-encoding the per-window Gorilla
        payloads (the column comes back NULL): a consumer that only reads
        ``features``/``n_points`` — e.g. a report query — should not pay the
        bit-packing cost for bytes it immediately discards (guide §1.2:
        don't compute what you throw away).  Features and every other
        column are identical either way (tests/test_rollup.py)."""
        if DAY % window_seconds != 0:
            raise ValueError("narrow cascade needs DAY-aligned windows")
        from tsfresh_spark.functions.codec import decode_series

        idc = list(self.id_cols)
        kind_col = self.id_cols[1]
        settings = self.settings
        schema = self._tier_schema(stored)

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                rows = []
                id_arrays = [pdf[c].values for c in idc]
                for payload, kind, *ids in zip(
                    pdf["payload"].values, pdf[kind_col].values, *id_arrays
                ):
                    ts, vals = decode_series(bytes(payload))
                    if len(ts) == 0:
                        continue
                    w = ts - ts % window_seconds
                    cuts = np.flatnonzero(np.diff(w)) + 1
                    starts = np.concatenate([[0], cuts])
                    ends = np.concatenate([cuts, [len(ts)]])
                    id_map = dict(zip(idc, ids))
                    for s, e in zip(starts, ends):
                        sub_ts, sub_v = ts[s:e], vals[s:e]
                        rows.append(
                            {
                                **id_map,
                                "window_start": int(w[s]),
                                "n_points": int(e - s),
                                "features": dict(
                                    compute_series_features(
                                        sub_v, str(kind), settings
                                    )
                                ),
                                "payload": (
                                    encode_series(sub_ts, sub_v)
                                    if with_payload
                                    else None
                                ),
                            }
                        )
                yield pd.DataFrame(rows)

        return stored.select(*idc, "payload").mapInPandas(run, schema)

    # ------------------------------------------------- public tier entrypoints

    def compute_base(self, points: DataFrame) -> DataFrame:
        """Public: the gap-filled, payload-encoded base tier for raw
        ``points`` (id_cols + ts:long epoch-seconds + value:double), using
        the engine's configured physical strategy (``base_impl``) without
        touching tier storage — the building block ``run()`` persists."""
        fn = self._base_tier_compact if self.base_impl == "compact" else self._base_tier
        return fn(points)

    def compute_tier(
        self,
        base: DataFrame,
        window_seconds: int,
        *,
        with_payload: bool = True,
    ) -> DataFrame:
        """Public: one feature tier at ``window_seconds`` from a base-tier
        frame (as returned by :meth:`compute_base` or read back from tier
        storage).  Picks the same physical strategy as ``run()``: the
        zero-shuffle narrow payload split when windows are day-aligned,
        otherwise decode + regroup (one shuffle).  ``with_payload=False``
        (day-aligned path) skips the per-window payload re-encode for
        consumers that discard the payload column — see
        :meth:`_cascade_tier`."""
        if DAY % window_seconds == 0:
            return self._cascade_tier(
                base, window_seconds, with_payload=with_payload
            )
        return self._feature_tier(self.decode_points(base), window_seconds)

    def _apply_chunks(self, chunks: DataFrame, *, with_features: bool) -> DataFrame:
        idc = list(self.id_cols)
        settings = self.settings
        kind_col = self.id_cols[1]
        schema = self._tier_schema(chunks)

        def run_batch(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                rows = []
                id_arrays = [pdf[c].values for c in idc]
                kinds = pdf[kind_col].values
                for pts, window_start, kind, *ids in zip(
                    pdf["pts"].values,
                    pdf["window_start"].values,
                    kinds,
                    *id_arrays,
                ):
                    ts = np.array([p["ts"] for p in pts], dtype=np.int64)
                    values = np.array([p["value"] for p in pts], dtype=np.float64)
                    feats = (
                        dict(compute_series_features(values, str(kind), settings))
                        if with_features
                        else None
                    )
                    rows.append(
                        {
                            **dict(zip(idc, ids)),
                            "window_start": window_start,
                            "n_points": len(ts),
                            "features": feats,
                            "payload": encode_series(ts, values),
                        }
                    )
                yield pd.DataFrame(rows)

        return chunks.mapInPandas(run_batch, schema=schema)

    # ------------------------------------------------------------- retention

    def apply_retention(
        self, tier: str, *, keep_seconds: int, now_ts: int, job_id: str
    ) -> dict:
        """Drop windows older than ``now_ts - keep_seconds`` from a tier.

        Classic retention ladder: raw keeps days, base weeks, 1h months, 1d
        forever.  Parquet backend rewrites the filtered tier (atomic via
        staging path + rename); on Iceberg this maps to a metadata-only
        ``DELETE WHERE window_start < cutoff``.  The manifest records the
        cut with row counts before/after, so lineage shows what was aged
        out and when.
        """
        cutoff = now_ts - keep_seconds
        path = self.tier_path(tier)
        current = self.spark.read.parquet(path)
        before = current.count()
        kept = current.filter(F.col("window_start") >= F.lit(cutoff))
        staging = f"{path}.retention-staging"
        kept.write.mode("overwrite").parquet(staging)

        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(conf)
        fs.delete(hpath, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(staging), hpath)

        after = self.spark.read.schema(current.schema).parquet(path).count()
        self.manifest.record_tier(
            job_id,
            tier,
            path,
            f"retention(cutoff={cutoff}) {before}->{after}",
            current.schema,
        )
        return {"tier": tier, "cutoff": cutoff, "before": before, "after": after}

    # -------------------------------------------------------------- pipeline

    def run(self, raw_points: DataFrame, job_id: str) -> dict[str, str]:
        """Run the cascade; returns {tier_name: path}.  ``raw_points`` must
        have columns id_cols + (ts: long epoch seconds, value: double).

        Resume: tiers already holding a COMMIT record for this job_id are
        skipped; downstream tiers read their stored payloads.
        """
        committed = self.manifest.committed_tiers(job_id)
        out: dict[str, str] = {}
        tier_schema = self._tier_schema(raw_points)

        from tsfresh_spark.plans.profiling import StageProfiler

        def do_tier(name: str, compute, lineage: str):
            if name in committed:
                out[name] = self.tier_path(name)
                return False
            # profile the tier's stages (status-store snapshot, driver-side)
            # and persist the summary with the COMMIT lineage — the per-tier
            # compute/shuffle/spill record the 100-TB tuning loop reads.
            # The profiler reaches private status-store accessors via py4j;
            # it must NEVER gate the manifest COMMIT — if the snapshot API
            # differs on some Spark build, commit with the plain lineage
            # (a recomputed-on-resume tier would be silent, a missing
            # profile string is just informational).
            try:
                prof = StageProfiler(self.spark)
                prof.__enter__()
            except Exception:
                prof = None
            df = compute()
            self._write(df, name)
            if prof is not None:
                try:
                    prof.__exit__(None, None, None)
                    s = prof.summary()
                    lineage = (
                        f"{lineage} profile(run_ms={s['executor_run_time_ms']},"
                        f"cpu_ms={s['executor_cpu_time_ms']},"
                        f"shuffle_w={s['shuffle_write_bytes']},"
                        f"shuffle_r={s['shuffle_read_bytes']},"
                        f"spill={s['memory_spilled_bytes'] + s['disk_spilled_bytes']},"
                        f"stages={s['num_stages']},tasks={s['num_tasks']})"
                    )
                except Exception:
                    pass
            self.manifest.record_tier(
                job_id, name, self.tier_path(name), lineage, tier_schema
            )
            out[name] = self.tier_path(name)
            return True

        # Each tier is range-laid-out on the input of its Python UDF stage,
        # so the stored layout adds no exchange above the UDF and the range
        # sampler never re-runs it: one UDF pass per commit.
        do_tier(
            "raw",
            lambda: self._archive_tier(self._range_layout(raw_points)),
            "raw<-input",
        )
        base_fn = (
            self._base_tier_compact if self.base_impl == "compact" else self._base_tier
        )
        do_tier(
            "base",
            lambda: base_fn(raw_points, layout=True),
            f"base<-input(gapfill:{self.base_impl})",
        )

        for spec in self.tiers:
            if DAY % spec.window_seconds == 0:
                # day-aligned windows: narrow payload split of the
                # range-laid-out base scan
                def compute(spec=spec):
                    stored = self._range_layout(self._read_tier("base", tier_schema))
                    return self._cascade_tier(stored, spec.window_seconds)

                lineage = f"{spec.name}<-base(narrow-split)"
            else:
                # wider-than-a-day windows: decode + regroup
                def compute(spec=spec):
                    pts = self.decode_points(self._read_tier("base", tier_schema))
                    return self._feature_tier(
                        self._range_layout(pts), spec.window_seconds
                    )

                lineage = f"{spec.name}<-base(decode+window)"
            do_tier(spec.name, compute, lineage)
        return out
