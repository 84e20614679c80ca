"""fan_out (operators/__init__.py): the round-robin fan-out of a
single-split input fires only while Catalyst's size estimate of the
plan is below one filesMaxPartitionBytes split per core, and fails
CLOSED on inputs without statistics. Operators that fan their input out
must follow the same rule, so a large input gets no extra shuffle."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.operators.dedup import word_shingles
from airquality_data_pipeline_spark.operators.similarity import with_norm

SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


def _round_robin(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().toString()


def _size(df) -> int:
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes()


@contextmanager
def _split_bytes(spark, value: int):
    saved = spark.conf.get(SPLIT_KEY, None)
    spark.conf.set(SPLIT_KEY, str(value))
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(SPLIT_KEY)
        else:
            spark.conf.set(SPLIT_KEY, saved)


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fan_out") / "docs.parquet")
    spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma delta ', id) AS text",
        "array(CAST(id AS FLOAT), 1.0F) AS embedding",
    ).coalesce(1).write.parquet(path)
    return path


def test_small_input_fans_out(spark, docs_path):
    df = spark.read.parquet(docs_path)
    out = fan_out(df)
    assert out is not df
    assert _round_robin(out)


def test_large_input_is_noop(spark, docs_path):
    df = spark.read.parquet(docs_path)
    with _split_bytes(spark, 1024):
        assert _size(df) >= spark.sparkContext.defaultParallelism * 1024
        assert fan_out(df) is df


def test_fires_only_below_one_split_per_core(spark, docs_path):
    df = spark.read.parquet(docs_path)
    par, size = spark.sparkContext.defaultParallelism, _size(df)
    with _split_bytes(spark, size // par):  # par x split <= size: no-op
        assert fan_out(df) is df
    with _split_bytes(spark, size // par + 1):  # par x split > size
        assert fan_out(df) is not df


def test_unknown_size_fails_closed_to_noop(spark):
    # an RDD-backed frame has no statistics: Catalyst reports
    # Long.MaxValue, so no repartition is injected
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,), (2,)]), "x long"
    )
    assert fan_out(df) is df


def test_operators_add_no_fan_out_above_threshold(spark, docs_path):
    df = spark.read.parquet(docs_path)
    assert _round_robin(word_shingles(df, "text", "doc_id"))
    emb = df.withColumnRenamed("doc_id", "vec_id")
    assert _round_robin(with_norm(emb))
    with _split_bytes(spark, 1024):
        assert not _round_robin(word_shingles(df, "text", "doc_id"))
        assert not _round_robin(with_norm(emb))
