"""Bucketed tables: co-located joins without a shuffle — the storage
lever that turns the catalog's big fact-fact equi-joins (lineitem x
orders) into exchange-free merges at 100 TB. Both sides are written
bucketed on the join key with the same bucket count; the joined plan
must contain ZERO Exchange nodes, and the result must equal the
plain (shuffled) join bit-for-bit."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    with tempfile.TemporaryDirectory() as tmp:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")
        (
            li.write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmp}/li_bucketed")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable("li_bucketed")
        )
        (
            o.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{tmp}/o_bucketed")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable("o_bucketed")
        )
        try:
            lb = spark.table("li_bucketed")
            ob = spark.table("o_bucketed")
            joined = lb.join(
                ob, lb.l_orderkey == ob.o_orderkey
            ).groupBy("o_orderkey").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                )
                .cast("double")
                .alias("rev"),
            )
            # the join itself must not shuffle: disable broadcast so the
            # planner can't sidestep the bucketed SMJ, then count
            # Exchanges in the join subtree (the final groupBy reuses the
            # bucket partitioning too, so the WHOLE plan is exchange-free)
            saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                plan = (
                    joined._jdf.queryExecution().executedPlan().toString()
                )
                assert "Exchange" not in plan, plan[:3000]

                got = {
                    r.o_orderkey: (r.n, r.rev) for r in joined.collect()
                }
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", saved
                )

            plain = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderkey")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                        ).cast("decimal(18,6)")
                    )
                    .cast("double")
                    .alias("rev"),
                )
            )
            expect = {r.o_orderkey: (r.n, r.rev) for r in plain.collect()}
            assert got == expect
        finally:
            spark.sql("DROP TABLE IF EXISTS li_bucketed")
            spark.sql("DROP TABLE IF EXISTS o_bucketed")
