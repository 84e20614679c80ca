"""PySpark-native analytics engine with the query / data-processing
capabilities of the reference ETL producer (aliaksandrgis/airquality-data-pipeline),
re-expressed Spark-first for 100 TB scale.

Layout:
  session.py    SparkSession factory (AQE, UTC, Arrow)
  io.py         fixture loaders + canonical schemas (SURVEY.md §1)
  queries/      oracle-checked query catalog (driver contract)
  operators/    reusable dataflow operators (dedup, cursor filter, merges,
                similarity, text analysis, as-of/range joins)
  functions/    scalar function library (timezones, strings, expressions)
  sources/      synthetic generator + REST DataSource scaffolding
  plans/        end-to-end pipeline compositions (bronze->silver)
  streaming/    Structured Streaming jobs (watermark dedup, tumbling windows,
                per-key cursor state, commit-after-emit) + cursor/catalog sinks
"""

__version__ = "0.1.0"
