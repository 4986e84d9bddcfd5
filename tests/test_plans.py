"""Physical-plan contracts: pushdown, broadcast, and shuffle discipline —
the properties that make the operators survive a 100x scale-up."""

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.filter(F.col("user_id") == 7).select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.select("user_id", "value")
    plan = _plan(q)
    assert "ReadSchema: struct<user_id:bigint,value:double>" in plan


def test_extraction_prunes_unused_columns(spark, sf_dir):
    """The tokens extraction must not drag props/event_id into the scan."""
    from tsfresh_spark.extract import extract_features_tokens
    from tsfresh_spark.sources.tables import events_tokens
    from tsfresh_spark.settings import minimal_settings

    toks = events_tokens(spark, sf_dir)
    out = extract_features_tokens(toks, minimal_settings())
    plan = _plan(out)
    assert "props" not in plan  # the json blob column never leaves the scan


def test_similarity_broadcasts_queries(spark):
    from tsfresh_spark.operators.similarity import cosine_topk_bruteforce

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(8)]).alias("embedding"),
    )
    out = cosine_topk_bruteforce(df, df.limit(4), k=2)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_grouped_extraction_single_shuffle(spark, sf_dir):
    from tsfresh_spark.extract import extract_features_long
    from tsfresh_spark.settings import minimal_settings

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("id"),
        F.col("event_type").alias("kind"),
        F.col("ts").alias("time"),
        F.col("value"),
    )
    out = extract_features_long(ev, minimal_settings())
    plan = _plan(out)
    assert plan.count("Exchange") == 1  # exactly the groupBy co-location


def test_stage_profiler_captures_section_stages(spark):
    from pyspark.sql import functions as F

    from tsfresh_spark.plans.profiling import StageProfiler

    # outside-the-block job must not be attributed to the section
    spark.range(10000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    with StageProfiler(spark) as prof:
        (
            spark.range(200000)
            .groupBy((F.col("id") % 13).alias("k"))
            .agg(F.sum("id").alias("s"))
            .collect()
        )
    s = prof.summary()
    assert s["num_stages"] >= 2  # map + reduce side of the groupBy
    assert s["executor_run_time_ms"] >= 0
    assert s["shuffle_write_bytes"] > 0
    assert s["shuffle_read_bytes"] > 0
    assert all(m.stage_id >= 0 for m in prof.stages)
    # a second profiled section sees only its own stages
    with StageProfiler(spark) as prof2:
        spark.range(100).count()
    assert {m.stage_id for m in prof2.stages}.isdisjoint(
        {m.stage_id for m in prof.stages}
    )


def test_grouped_extraction_pins_partition_count(spark):
    """extract_features_long must carry a user-specified repartition on the
    group keys (REPARTITION_BY_NUM) so AQE cannot byte-coalesce the
    compute-bound pandas stage down to 1-2 partitions (the regression that
    ran the kernel UDF on 2 cores)."""
    import pandas as pd

    from tsfresh_spark.extract import extract_features_long

    pdf = pd.DataFrame(
        {
            "id": [1, 1, 2, 2],
            "kind": ["a"] * 4,
            "time": [0, 1, 0, 1],
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    out = extract_features_long(
        spark.createDataFrame(pdf), {"mean": None}, num_partitions=7
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan[:600]
    assert ", 7)" in plan  # the explicit partition count survives planning
    # and opting out drops the pin
    out2 = extract_features_long(
        spark.createDataFrame(pdf), {"mean": None}, num_partitions=0
    )
    assert "REPARTITION_BY_NUM" not in out2._jdf.queryExecution().executedPlan().toString()


def test_embedding_neardup_plan_is_bucket_join(spark):
    """The semantic-dedup candidate join must be a hash/broadcast join on
    the (table, bucket) key — never a cartesian product — so candidate
    fan-out stays bounded at any corpus size."""
    from tsfresh_spark.operators.dedup import embedding_near_duplicates

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(8)]).alias("embedding"),
    )
    out = embedding_near_duplicates(
        df, dim=8, threshold=0.5, num_planes=2, num_tables=4,
        max_bucket_size=32,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # an equi-join on the exploded key
