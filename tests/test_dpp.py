"""Dynamic partition pruning: a date-partitioned fact table joined to a
filtered dimension must scan ONLY the partitions the dimension selects —
the partition-elimination lever that makes star joins viable at 100 TB
(the static sibling, filter->PartitionFilters pushdown, is covered in
PLANS.md; this is the runtime variant where the filter arrives through
a join)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    ev = table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    all_dates = [r.event_date for r in ev.select("event_date").distinct().collect()]
    assert len(all_dates) >= 3, "fixture too small for a pruning test"
    keep = sorted(all_dates)[:2]

    with tempfile.TemporaryDirectory() as tmp:
        fact_path = f"{tmp}/events_by_date"
        ev.write.partitionBy("event_date").mode("overwrite").parquet(fact_path)
        fact = spark.read.parquet(fact_path)

        dim = (
            ev.select("event_date")
            .distinct()
            .where(F.col("event_date").isin(keep))
        )
        joined = fact.join(dim.hint("broadcast"), "event_date")

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]

        expected = ev.where(F.col("event_date").isin(keep)).count()
        assert joined.count() == expected
