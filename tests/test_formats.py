"""Source-format coverage beyond parquet: JSON lines, CSV, and ORC
round-trips with explicit schemas (never inferSchema in the engine) must
reproduce the parquet-read frame exactly."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table


def _canonical_events(spark, sf_dir):
    # serialize ts as ISO text so every format round-trips losslessly
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_iso"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


SCHEMA = (
    "event_id long, ts_iso string, user_id long, event_type string, "
    "value double, props string"
)


def _assert_same(expected_rows, got_df):
    got = sorted(
        (r.event_id, r.ts_iso, r.user_id, r.event_type, r.value)
        for r in got_df.collect()
    )
    assert got == expected_rows


def test_json_csv_orc_roundtrip(spark, sf_dir):
    src = _canonical_events(spark, sf_dir)
    expected = sorted(
        (r.event_id, r.ts_iso, r.user_id, r.event_type, r.value)
        for r in src.collect()
    )

    json_dir = tempfile.mkdtemp(prefix="fmt_json_")
    src.write.mode("overwrite").json(json_dir)
    _assert_same(expected, spark.read.schema(SCHEMA).json(json_dir))

    csv_dir = tempfile.mkdtemp(prefix="fmt_csv_")
    # props contains JSON with commas/quotes — exercise quoting
    src.write.mode("overwrite").option("header", True).csv(csv_dir)
    _assert_same(
        expected, spark.read.schema(SCHEMA).option("header", True).csv(csv_dir)
    )

    orc_dir = tempfile.mkdtemp(prefix="fmt_orc_")
    src.write.mode("overwrite").orc(orc_dir)
    _assert_same(expected, spark.read.orc(orc_dir))


def test_binaryfile_and_wholetext_sources(spark, sf_dir):
    """File-per-item ingestion — the multimodal lake layout (one blob
    per object) read through Spark's built-in binaryFile and
    text(wholetext) sources. The binaryFile payload must be
    byte-identical to the UTF-8 text, and feeding it through the
    Arrow-batched feature extractor must produce the SAME features as
    the parquet-sourced synthesize_corpus path (ingest equivalence)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from airquality_data_pipeline_spark.operators import multimodal
    from airquality_data_pipeline_spark.io import table

    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source", "lang")
        .orderBy("doc_id")
        .limit(8)
        .collect()
    )
    blob_dir = tempfile.mkdtemp(prefix="fmt_blob_")
    for r in docs:
        with open(os.path.join(blob_dir, f"{r.doc_id}.txt"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))

    # binaryFile: path + length + raw content
    bf = (
        spark.read.format("binaryFile")
        .load(blob_dir)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            "length",
            "content",
        )
    )
    got = {r.doc_id: r for r in bf.collect()}
    assert set(got) == {r.doc_id for r in docs}
    for r in docs:
        payload = r.text.encode("utf-8")
        assert got[r.doc_id].length == len(payload)
        assert bytes(got[r.doc_id].content) == payload

    # wholetext: one row per file, content as string
    wt = (
        spark.read.option("wholetext", True)
        .text(blob_dir)
        .withColumn(
            "doc_id",
            F.regexp_extract(
                F.input_file_name(), r"(\d+)\.txt$", 1
            ).cast("long"),
        )
    )
    assert {(r.doc_id, r.value) for r in wt.collect()} == {
        (r.doc_id, r.text) for r in docs
    }

    # ingest equivalence: binaryFile -> payload schema -> features
    # must equal the parquet-sourced synthesize_corpus path
    doc_df = spark.createDataFrame(
        [(r.doc_id, r.text, r.source, r.lang) for r in docs],
        "doc_id long, text string, source string, lang string",
    )
    via_parquet = multimodal.extract_features(
        multimodal.synthesize_corpus(doc_df)
    ).select("item_id", "n_bytes", "feature")
    meta = doc_df.select("doc_id", "source", "lang")
    via_files = multimodal.extract_features(
        bf.join(meta, "doc_id").select(
            F.col("doc_id").alias("item_id"),
            F.element_at(
                F.array(*[F.lit(m) for m in multimodal.MODALITIES]),
                (F.col("doc_id") % len(multimodal.MODALITIES) + 1).cast(
                    "int"
                ),
            ).alias("modality"),
            F.col("content").alias("payload"),
            F.create_map(
                F.lit("source"),
                F.col("source"),
                F.lit("lang"),
                F.col("lang"),
            ).alias("meta"),
        )
    ).select("item_id", "n_bytes", "feature")
    a = {r.item_id: (r.n_bytes, tuple(r.feature)) for r in via_parquet.collect()}
    b = {r.item_id: (r.n_bytes, tuple(r.feature)) for r in via_files.collect()}
    assert a == b


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # files written before/after a column was added must read as one
    # unified schema with NULLs for the missing column (mergeSchema),
    # and the default fast path keeps the first file's schema
    d = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(1, "a")], "id bigint, name string"
    ).write.parquet(d + "/p=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(d + "/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
