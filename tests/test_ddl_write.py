"""DDL surface (D1, reference app/main.py:108-118 CREATE TABLE IF NOT
EXISTS) + the at-scale write paths: date-partitioned parquet (retention =
partition drop) and bucketed tables (co-located joins, no shuffle)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table


def test_ddl_create_insert_select(spark):
    loc = tempfile.mkdtemp(prefix="ddl_")
    spark.sql("DROP TABLE IF EXISTS ingestion_cursors_t")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS ingestion_cursors_t (
          source STRING, station_id STRING, pollutant STRING,
          last_observed_at TIMESTAMP
        ) USING parquet LOCATION '{loc}'
        """
    )
    spark.sql(
        "INSERT INTO ingestion_cursors_t VALUES"
        " ('de', 'DEBB001', 'pm25', TIMESTAMP '2024-01-01 10:00:00')"
    )
    got = spark.sql(
        "SELECT * FROM ingestion_cursors_t WHERE source = 'de'"
    ).collect()
    assert len(got) == 1 and got[0].station_id == "DEBB001"
    # idempotent re-create (IF NOT EXISTS)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS ingestion_cursors_t (x INT) USING parquet LOCATION '{loc}'"
    )
    spark.sql("DROP TABLE ingestion_cursors_t")


def test_partitioned_write_prunes(spark, sf_dir):
    """Date-partitioned curated table: the 100 TB retention answer is a
    partition drop, and a date predicate must prune at the source."""
    out = tempfile.mkdtemp(prefix="curated_")
    ev = table(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).where(F.col("dt") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert back.count() == ev.where(F.col("dt") == "2024-01-05").count()


def test_bucketed_table_join_without_shuffle(spark, sf_dir):
    """bucketBy co-locates both sides of a key join: the joined plan
    must contain no shuffle exchange between scan and join."""
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    table(spark, sf_dir, "orders").write.mode("overwrite").bucketBy(
        4, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("orders_b")
    table(spark, sf_dir, "lineitem").write.mode("overwrite").bucketBy(
        4, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("lineitem_b")
    # disable broadcast so the fixture-sized tables exercise the
    # sort-merge path (at real scale both sides exceed the threshold)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # bucketed: no shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE orders_b")
        spark.sql("DROP TABLE lineitem_b")
