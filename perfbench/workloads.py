"""The benchmark's workloads: seeded inputs, one closed-loop job, checks.

Each workload generates its input from the seed (a fresh window of the
deterministic ``tokens_corpus``), caches it, and runs one job at a time.
A job is a list of timed ops; every op is checked, and an op that raises
or fails a check counts as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import struct
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import functions as F

from obs import stage_layer

# Epoch of position 0 on the rollup time axis: 22:13:20 UTC, so a
# 10-hour document crosses midnight and its 1d tier holds two windows.
T0 = 1_700_000_000
SPACING_S = 37  # seconds between points: the 60 s base grid has gaps
BASE_STEP_S = 60
JOB_ID = "perfbench"
SAMPLE = 32  # series recomputed on the driver per job
CANDIDATES_PER_DOC = 4  # the seed's window holds this many docs per pick
MIN_CANDIDATES = 256  # ...and at least this many
CLOSED_FORMS = {
    "length": lambda x: float(len(x)),
    "sum_values": lambda x: float(x.sum()),
    "maximum": lambda x: float(x.max()),
    "minimum": lambda x: float(x.min()),
    "abs_energy": lambda x: float((x * x).sum()),
}


def start_id(seed: int) -> int:
    """First doc id of the seed's window; windows of distinct seeds are
    disjoint for every workload size used here."""
    return (seed % 1_000_000) * 100_000


def even_length_docs(spark, n_docs: int, lo: int, hi: int, seed: int):
    """``n_docs`` docs of the seed's corpus window with evenly spaced
    lengths over [lo, hi]: for each target length, the first doc of that
    length (or the nearest length).  Every seed gets the same length mix,
    so input size, and with it the work per job, does not vary by seed.

    ``tokens_corpus`` gives each partition a contiguous slice of the window;
    target k is taken from partition k mod P, so every partition gets the
    same number of docs and the same spread of lengths.  Returns the window
    frame filtered to the chosen docs, and their (doc_id, n_tok) rows."""
    from tsfresh_spark.sources.synthetic import tokens_corpus

    first = start_id(seed)
    n_cands = max(CANDIDATES_PER_DOC * n_docs, MIN_CANDIDATES)
    parts = spark.sparkContext.defaultParallelism
    window = tokens_corpus(spark, n_cands, min_len=lo, max_len=hi, start_id=first)
    pools: list[dict[int, list]] = [{} for _ in range(parts)]
    for r in sorted(window.select("doc_id", "n_tok").collect()):
        part = (int(r.doc_id[3:]) - first) * parts // n_cands
        pools[part].setdefault(r.n_tok, []).append(r)
    chosen = []
    for k in range(n_docs):
        target = lo + k * (hi - lo + 1) // n_docs
        pool = pools[k % parts]
        length = min(
            (n for n, docs in pool.items() if docs),
            key=lambda n: (abs(n - target), n),
        )
        chosen.append(pool[length].pop(0))
    ids = [r.doc_id for r in chosen]
    return window.filter(F.col("doc_id").isin(ids)), chosen


def same_bits(got, want: float) -> bool:
    """Bit equality; NaN matches NaN, and NULL (how NaN crosses Arrow)."""
    if math.isnan(want):
        return got is None or math.isnan(got)
    return got is not None and struct.pack("<d", got) == struct.pack("<d", want)


def diff_features(got: dict, want: dict) -> str | None:
    if set(got) != set(want):
        return f"feature keys differ ({len(got)} vs {len(want)})"
    bad = [k for k in want if not same_bits(got[k], want[k])]
    return f"{len(bad)} feature values differ, e.g. {bad[0]}" if bad else None


def feature_vector(values: np.ndarray, kind: str, settings: dict) -> dict:
    from tsfresh_spark.extract import compute_series_features

    return dict(compute_series_features(values, kind, settings))


def row_hash(*cols):
    """Order-free row hash; the feature map is hashed as its sorted entries
    (Spark does not hash maps)."""
    return F.xxhash64(
        *[
            F.array_sort(F.map_entries(c)) if c == "features" else F.col(c)
            for c in cols
        ]
    )


@dataclass
class Op:
    name: str
    seconds: float = 0.0
    error: str | None = None
    layer: dict | None = None  # stage summary, traced ops only


@dataclass
class Job:
    ops: list[Op]
    checksum: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops)

    @property
    def errors(self) -> list[str]:
        return [f"{op.name}: {op.error}" for op in self.ops if op.error]


def fail(job: Job, exc: Exception) -> None:
    """Mark every op of ``job`` not yet failed as failed by ``exc``."""
    traceback.print_exc()
    for op in job.ops:
        op.error = op.error or f"raised {exc!r}"[:300]


def timed(spark, tracer, op: Op, name: str, op_id: str, fn):
    """Run ``fn`` as (part of) ``op``: wall time accumulates into the op;
    a traced op also records a span and the stages of its last call."""
    from tsfresh_spark.plans.profiling import StageProfiler

    t0 = time.perf_counter()
    with tracer.span(name, op_id):
        if tracer.enabled:
            with StageProfiler(spark) as prof:
                out = fn()
            op.layer = stage_layer(spark, prof)
        else:
            out = fn()
    op.seconds += time.perf_counter() - t0
    return out


class TokensWorkload:
    """``extract_features_tokens(output="map")`` over a tokens corpus."""

    unit_name = "tokens"

    def __init__(self, name, n_docs, min_len, max_len, settings_fn):
        self.name = name
        self.n_docs = n_docs
        self.min_len, self.max_len = min_len, max_len
        self.settings = settings_fn()  # one dict: plans are cached per dict
        self.df = None

    # ----------------------------------------------------------- input
    def make_input(self, spark, seed: int, work: str) -> None:
        docs, chosen = even_length_docs(
            spark, self.n_docs, self.min_len, self.max_len, seed
        )
        self.df = docs.cache()
        self.units = int(self.df.agg(F.sum("n_tok")).first()[0])
        ids = [r.doc_id for r in chosen[:: self.n_docs // SAMPLE]]
        rows = self.df.filter(F.col("doc_id").isin(ids)).collect()
        self.sample = {
            r.doc_id: (r.source, np.asarray(r.tokens, dtype=np.int64))
            for r in rows
        }

    def release(self) -> None:
        self.df.unpersist()

    def prepare_checks(self) -> None:
        """Driver-side expectations for the sampled series, computed once."""
        self.expected = {
            doc: feature_vector(x, kind, self.settings)
            for doc, (kind, x) in self.sample.items()
        }
        for doc, (kind, x) in self.sample.items():
            for feat, fn in CLOSED_FORMS.items():
                if fn(x) != self.expected[doc][f"{kind}__{feat}"]:
                    raise RuntimeError(f"{doc}: driver {feat} != closed form")

    def sample_series(self) -> list[tuple[str, np.ndarray]]:
        return [self.sample[d] for d in sorted(self.sample)]

    def warm_up(self, spark) -> list[str]:
        """The job on an eighth of the docs: spawns and warms every Python
        worker.  The first timed job still runs ~15 % slow; the median of
        the loop's jobs absorbs it."""
        from tsfresh_spark import extract_features_tokens

        part = self.df.filter(F.abs(F.xxhash64("doc_id")) % 8 == 0)
        out = extract_features_tokens(part, self.settings, output="map")
        out.agg(F.sum(F.size("features"))).first()
        return []

    # ------------------------------------------------------------- job
    def job(self, spark, tracer, op_id: str) -> Job:
        from tsfresh_spark import extract_features_tokens

        op = Op("extract")
        job = Job([op])
        feats = F.col("features")
        is_bad = lambda v: v.isNull() | F.isnan(v)  # noqa: E731

        def run():
            out = extract_features_tokens(self.df, self.settings, output="map")
            return out.select(
                "doc_id",
                row_hash("doc_id", "source", "features").alias("h"),
                F.size(feats).alias("n"),
                F.size(F.filter(F.map_values(feats), is_bad)).alias("nan"),
                F.when(F.col("doc_id").isin(list(self.sample)), feats).alias("f"),
            ).collect()

        try:
            rows = timed(spark, tracer, op, "extract_features_tokens", op_id, run)
            job.checksum = hashlib.sha256(
                repr(sorted((r.doc_id, r.h) for r in rows)).encode()
            ).hexdigest()
            n_feat = sum(r.n for r in rows)
            job.counts = {
                "series": len(rows),
                "features_per_series": n_feat / max(len(rows), 1),
                "nan_frac": sum(r.nan for r in rows) / max(n_feat, 1),
            }
            op.error = self._check(rows)
        except Exception as exc:  # an op that raises is a failed op
            fail(job, exc)
        return job

    def _check(self, rows) -> str | None:
        if len(rows) != self.n_docs:
            return f"{len(rows)} output rows, expected {self.n_docs}"
        got = {r.doc_id: r.f for r in rows if r.f is not None}
        if set(got) != set(self.expected):
            return "sampled series missing from the output"
        for doc, want in self.expected.items():
            err = diff_features(got[doc], want)
            if err:
                return f"{doc}: {err}"
            kind, x = self.sample[doc]
            for feat, fn in CLOSED_FORMS.items():
                if got[doc][f"{kind}__{feat}"] != fn(x):
                    return f"{doc}: {feat} differs from its closed form"
        return None


class RollupWorkload:
    """``RollupEngine`` defaults over points: a fresh run, a resume and a
    read of the committed 1h tier per job."""

    name = "rollup_cascade"
    unit_name = "points"

    def __init__(self, n_docs: int):
        from tsfresh_spark import efficient_settings

        self.n_docs = n_docs
        self.settings = efficient_settings()
        self.points = None

    # ----------------------------------------------------------- input
    def make_input(self, spark, seed: int, work: str) -> None:
        self.work = work
        docs, chosen = even_length_docs(spark, self.n_docs, 256, 1024, seed)
        self.points = docs.select(
            "doc_id", "source", F.posexplode("tokens").alias("pos", "tok")
        ).select(
            "doc_id",
            "source",
            (F.lit(T0) + F.col("pos") * SPACING_S).cast("long").alias("ts"),
            F.col("tok").cast("double").alias("value"),
        ).cache()
        self.units = self.points.count()

        def grid(n: int) -> int:  # ffill grid: first..last observed bucket
            last = T0 + (n - 1) * SPACING_S
            first = T0 - T0 % BASE_STEP_S
            return (last - last % BASE_STEP_S - first) // BASE_STEP_S + 1

        self.expected_grid = sum(grid(r.n_tok) for r in chosen)
        self.sample_docs = sorted(r.doc_id for r in chosen)

    def release(self) -> None:
        self.points.unpersist()

    def prepare_checks(self) -> None:
        pass  # the sampled 1h windows are recomputed from each job's output

    def warm_up(self, spark) -> list[str]:
        """The base step into a sink, without storage: spawns every Python
        worker and imports the engine there (gap-fill, codec, kernels) for
        a fraction of a job's cost."""
        eng = self.engine(spark, os.path.join(self.work, "rollup", "warm-up"))
        eng.compute_base(self.points).agg(F.sum("n_points")).first()
        return []

    def engine(self, spark, path: str, **kw):
        from tsfresh_spark.operators.rollup import RollupEngine

        return RollupEngine(spark, path, self.settings, **kw)

    # ------------------------------------------------------------- job
    def job(self, spark, tracer, op_id: str) -> Job:
        job = Job([Op("run"), Op("resume"), Op("read")])
        root = os.path.join(self.work, "rollup", op_id)
        keep = tracer.enabled  # traced runs measure layers on the output
        try:
            clean, read = self._ops(spark, tracer, op_id, job, root)
            self._check(spark, job, clean, f"{root}/resumed", read)
            if keep:
                self.last_clean = clean
        except Exception as exc:  # the ops form one chain: all fail
            fail(job, exc)
        if not keep:
            shutil.rmtree(root, ignore_errors=True)
        return job

    def _ops(self, spark, tracer, op_id, job, root):
        run_op, resume_op, read_op = job.ops
        clean = self.engine(spark, f"{root}/clean")
        resumed = f"{root}/resumed"
        timed(spark, tracer, run_op, "RollupEngine.run", op_id,
              lambda: clean.run(self.points, job_id=JOB_ID))
        timed(spark, tracer, resume_op, "RollupEngine.run[tiers=()]", op_id,
              lambda: self.engine(spark, resumed, tiers=[]).run(
                  self.points, job_id=JOB_ID))
        timed(spark, tracer, resume_op, "RollupEngine.run[resume]", op_id,
              lambda: self.engine(spark, resumed).run(self.points, job_id=JOB_ID))
        read = timed(spark, tracer, read_op, "decode_points", op_id,
                     lambda: self.read_1h(spark, clean))
        return clean, read

    def _check(self, spark, job, clean, resumed: str, read) -> None:
        run_op, resume_op, read_op = job.ops
        digests = self.tier_digests(spark, clean=clean.base_path, resumed=resumed)
        if digests["resumed"] != digests["clean"]:
            resume_op.error = "resumed tiers differ from the clean run"
        n_read, h_read = read
        if n_read != self.expected_grid:
            read_op.error = f"decoded {n_read} 1h points, expected {self.expected_grid}"
        n_base = digests["clean"]["base"][2]
        if n_base != self.expected_grid:
            run_op.error = f"{n_base} base-tier points, expected {self.expected_grid}"
        self.last_windows = self.sample_windows(spark, clean)
        for doc, kind, start, feats, (_, vals) in self.last_windows:
            err = diff_features(feats, feature_vector(vals, kind, self.settings))
            if err:
                run_op.error = f"1h window {doc}@{start}: {err}"
                break
        job.checksum = hashlib.sha256(
            repr((sorted(digests["clean"].items()), n_read, h_read)).encode()
        ).hexdigest()
        job.counts = {
            "bytes_per_point": self.tier_bytes(clean.base_path) / self.units,
            "rows_out_per_in": n_base / self.units,
        }

    # ------------------------------------------------------- sinks/checks
    @staticmethod
    def read_1h(spark, eng) -> tuple[int, int]:
        points = eng.decode_points(spark.read.parquet(eng.tier_path("1h")))
        row = points.agg(
            F.count("*").alias("n"),
            F.bit_xor(row_hash("doc_id", "source", "ts", "value")).alias("h"),
        ).first()
        return int(row.n), int(row.h or 0)

    @staticmethod
    def tier_digests(spark, **base_paths: str) -> dict:
        """Per named engine path, per tier: (rows, XOR of row hashes,
        points) — one Spark job for all of them."""
        frames = [
            spark.read.option("basePath", path)
            .parquet(*[f"{path}/tier={t}" for t in ("raw", "base", "1h", "1d")])
            .withColumn("engine", F.lit(name))
            for name, path in base_paths.items()
        ]
        df = frames[0]
        for other in frames[1:]:
            df = df.unionByName(other)
        rows = df.groupBy("engine", "tier").agg(
            F.count("*").alias("n"),
            F.bit_xor(
                row_hash("doc_id", "source", "window_start", "n_points",
                         "features", "payload")
            ).alias("h"),
            F.sum("n_points").alias("points"),
        ).collect()
        out: dict = {name: {} for name in base_paths}
        for r in rows:
            out[r.engine][str(r.tier)] = (int(r.n), int(r.h), int(r.points))
        return out

    @staticmethod
    def tier_bytes(base_path: str) -> int:
        total = 0
        for tier in os.listdir(base_path):
            if tier.startswith("tier="):
                d = os.path.join(base_path, tier)
                total += sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d) if f.startswith("part-")
                )
        return total

    def sample_windows(self, spark, eng) -> list:
        """The sampled docs' 1h windows: (doc, kind, start, features,
        decoded (ts, values)), at most ``SAMPLE`` of them."""
        from tsfresh_spark.functions.codec import decode_series

        rows = (
            spark.read.parquet(eng.tier_path("1h"))
            .filter(F.col("doc_id").isin(self.sample_docs))
            .select("doc_id", "source", "window_start", "features", "payload")
            .collect()
        )
        rows.sort(key=lambda r: (r.doc_id, r.window_start))
        return [
            (r.doc_id, r.source, r.window_start, r.features,
             decode_series(bytes(r.payload)))
            for r in rows[:SAMPLE]
        ]

    def sample_series(self) -> list[tuple[str, np.ndarray]]:
        return [(kind, vals) for _, kind, _, _, (_, vals) in self.last_windows]


def make(name: str):
    from tsfresh_spark import comprehensive_settings, efficient_settings

    if name == "tokens_short":
        return TokensWorkload(name, 384, 16, 128, efficient_settings)
    if name == "tokens_long":
        return TokensWorkload(name, 64, 1024, 2048, comprehensive_settings)
    if name == "rollup_cascade":
        return RollupWorkload(4)
    raise SystemExit(f"unknown workload {name!r}")
