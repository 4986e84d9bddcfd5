"""Manifest / checkpoint table: per-partition lineage + row/byte metrics with
a commit protocol, so a killed rollup job resumes from the last committed
tier (BASELINE.json north_rule; no analog in the reference).

Layout under a base path (any Hadoop-visible filesystem):

    {base}/manifest/part-*.parquet      — append-only manifest rows
    {base}/tier=<name>/...              — tier data

Manifest row schema (FIXTURES.md F6):

    job_id string, tier string, partition_id int, row_count long,
    byte_count long, committed_at timestamp, lineage string

``partition_id == -1`` is the tier-level COMMIT record; its presence is the
resume criterion.  Data is written before its commit record (write-ahead on
data), so a crash between the two leaves a re-runnable, never a corrupt,
tier.

A commit appends one file: the rows are built as a pandas frame and handed
to the JVM through Arrow (no pickled-RDD round trip through a Python
worker), and the tier is read back with its known schema (no
schema-inference job).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_SCHEMA = (
    "job_id string, tier string, partition_id int, row_count long, "
    "byte_count long, committed_at timestamp, lineage string"
)

MANIFEST_COLUMNS = [c.split()[0] for c in MANIFEST_SCHEMA.split(", ")]

COMMIT_PARTITION_ID = -1


class Manifest:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.path = f"{self.base_path}/manifest"

    # -- read side ---------------------------------------------------------

    def _read(self) -> DataFrame | None:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except Exception:
            return None

    def committed_tiers(self, job_id: str) -> set[str]:
        df = self._read()
        if df is None:
            return set()
        rows = (
            df.filter(
                (F.col("job_id") == job_id)
                & (F.col("partition_id") == COMMIT_PARTITION_ID)
            )
            .select("tier")
            .distinct()
            .collect()
        )
        return {r["tier"] for r in rows}

    def tier_metrics(self, job_id: str, tier: str) -> list[dict]:
        df = self._read()
        if df is None:
            return []
        return [
            r.asDict()
            for r in df.filter(
                (F.col("job_id") == job_id)
                & (F.col("tier") == tier)
                & (F.col("partition_id") != COMMIT_PARTITION_ID)
            ).collect()
        ]

    # -- write side --------------------------------------------------------

    def _file_stats(self, data_path: str) -> list[tuple[str, int]]:
        """(file, bytes) via the Hadoop FS API — works for any scheme."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(data_path)
        fs = p.getFileSystem(conf)
        out = []
        if not fs.exists(p):
            return out
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if status.isFile() and name.startswith("part-"):
                # key by basename: input_file_name() and the FS API render
                # the scheme differently (file:/// vs file:/)
                out.append((name, int(status.getLen())))
        return out

    def record_tier(
        self,
        job_id: str,
        tier: str,
        data_path: str,
        lineage: str,
        schema: StructType | str,
    ) -> None:
        """Append per-file partition metrics + the tier COMMIT record.

        Reads the written tier back (metadata-only count per file, with the
        tier's ``schema``) so the recorded row counts are what is actually
        on storage, not what the writing job believed.
        """
        written = self.spark.read.schema(schema).parquet(data_path)
        per_file = (
            written.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        sizes = dict(self._file_stats(data_path))
        now = pd.Timestamp.now(tz="UTC")
        rows = [
            (
                job_id,
                tier,
                idx,
                int(r["count"]),
                int(sizes.get(r["file"].rsplit("/", 1)[-1], 0)),
                now,
                f"{lineage} file={r['file'].rsplit('/', 1)[-1]}",
            )
            for idx, r in enumerate(per_file)
        ]
        total_rows = sum(r[3] for r in rows)
        total_bytes = sum(r[4] for r in rows)
        rows.append(
            (
                job_id,
                tier,
                COMMIT_PARTITION_ID,
                total_rows,
                total_bytes,
                now,
                f"{lineage} COMMIT files={len(per_file)}",
            )
        )
        (
            self.spark.createDataFrame(
                pd.DataFrame(rows, columns=MANIFEST_COLUMNS), MANIFEST_SCHEMA
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )
