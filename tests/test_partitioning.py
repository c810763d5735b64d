"""Partitioning/shuffle behaviours the engine relies on at scale:
bucketed co-located joins (no exchange) and calendar-month tiers."""

import pytest
from pyspark.sql import functions as F

from olympian_spark.datagen import gen_transcripts
from olympian_spark.operators.rollup import rollup_coarser
from olympian_spark.plans.pipeline import QcParams, build_tiers


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """Pre-bucketing both sides of a recurring join key removes the shuffle:
    the physical plan contains a SortMergeJoin with NO Exchange under it.
    This is the storage-layout lever for repeated conv-keyed joins at
    100 TB (bucketBy on conv_id at ingest)."""
    # warehouse dir is a static conf; the default ./spark-warehouse is
    # git-ignored and cleaned by the DROP TABLEs below. A crashed prior run
    # can leave orphan table dirs with no metastore entry, which fails
    # saveAsTable with LOCATION_ALREADY_EXISTS — clear them first.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    df = spark.createDataFrame(
        [(i % 97, i) for i in range(5000)], "k long, v long"
    )
    df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
    df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        assert joined.count() > 5000  # k repeats ~51x: join fans out
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_month_grain_tier(spark):
    """Calendar-month rollup from the day tier (chronoutil RelativeDuration
    parity: month buckets are calendar-aware, not fixed seconds), one row
    per (conv_id, month) even when a month spans several weeks."""
    df = spark.createDataFrame(gen_transcripts(5_000, 20, seed=4).to_pandas())
    tiers = build_tiers(df, QcParams(dip_high=300, dip_max=1200), persist=False)
    rows = rollup_coarser(tiers["tier_1d"], "month").collect()
    tiers["_sorted"].unpersist()
    assert rows
    for r in rows:
        assert r.bucket_start.day == 1  # month buckets anchor at the 1st
    keys = [(r.conv_id, r.bucket_start) for r in rows]
    assert len(set(keys)) == len(keys), "duplicate month rows"
    # totals conserved through the tiers
    assert sum(r.n_turns for r in rows) == 5_000
