"""Manifest commit round trip: the rows ``record_tier`` appends read back
with the declared schema, one file per call, a COMMIT row that totals the
per-file rows, and a UTC ``committed_at`` — with and without Arrow."""

import math
import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from tsfresh_spark.plans.manifest import (
    COMMIT_PARTITION_ID,
    MANIFEST_SCHEMA,
    Manifest,
)

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
FALLBACK = "spark.sql.execution.arrow.pyspark.fallback.enabled"


def _manifest_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.startswith("part-"))


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_record_tier_round_trip(spark, tmp_path, arrow):
    base = str(tmp_path)
    data = spark.createDataFrame(
        [(f"d{i}", i % 3, float(i)) for i in range(40)],
        "doc_id string, window_start long, value double",
    )
    data.repartition(3).write.parquet(f"{base}/tier=t")
    manifest = Manifest(spark, base)
    # with Arrow on, a failed Arrow conversion must raise, not fall back
    conf = {ARROW: arrow, FALLBACK: "false"}
    previous = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        windows = []
        for job in ("job-1", "job-2"):
            t0 = math.floor(time.time() * 1e6) / 1e6
            manifest.record_tier(job, "t", f"{base}/tier=t", "t<-test", data.schema)
            windows.append((t0, time.time()))
            assert len(_manifest_files(manifest.path)) == len(windows)
    finally:
        for k, v in previous.items():
            spark.conf.set(k, v)

    stored = spark.read.parquet(manifest.path)
    assert stored.schema.simpleString() == _parse_datatype_string(
        MANIFEST_SCHEMA
    ).simpleString()
    for job, (t0, t1) in zip(("job-1", "job-2"), windows):
        rows = (
            stored.filter(F.col("job_id") == job)
            .withColumn("epoch", F.col("committed_at").cast("double"))
            .collect()
        )
        per_file = [r for r in rows if r.partition_id != COMMIT_PARTITION_ID]
        (commit,) = [r for r in rows if r.partition_id == COMMIT_PARTITION_ID]
        assert sorted(r.partition_id for r in per_file) == list(range(len(per_file)))
        assert commit.row_count == sum(r.row_count for r in per_file) == 40
        assert commit.byte_count == sum(r.byte_count for r in per_file) > 0
        assert all(r.tier == "t" and "t<-test" in r.lineage for r in rows)
        assert all(t0 <= r.epoch <= t1 for r in rows), (t0, t1, rows[0].epoch)
