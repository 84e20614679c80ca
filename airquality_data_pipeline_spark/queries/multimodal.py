"""Multimodal catalog query: drives the REAL binary-column plumbing
(opaque payloads through Arrow-batched mapInPandas) under the driver's
oracle gate. The codec itself stays stubbed (no image/audio libs in
this container — operators/multimodal.py), but everything the oracle
checks here is codec-independent: byte lengths and frame-slice
fingerprints, which any real demuxer swap-in must preserve.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    synthesize_corpus,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q133: multimodal frame pipeline — documents re-shaped into the
# multimodal corpus (UTF-8 payload bytes + modality + typed metadata),
# then BOTH mapInPandas operators run in one plan: extract_features
# contributes the per-item payload byte count, frame_sample splits each
# payload into 4 even byte "frames" (the video-demux stand-in). Output
# per frame: byte length + md5 fingerprint of the frame's hex encoding
# (DuckDB's md5/substring are VARCHAR-only, so both engines fingerprint
# the uppercase hex form — equality is equivalent to byte equality).
# The float feature vector stays out of the oracle on purpose: float32
# Arrow round-trips don't hash-compare against DuckDB doubles; the
# histogram math is pinned by tests/test_operators.py instead.
# Plan shape: two embarrassingly-parallel mapInPandas ops (no shuffle)
# + one item_id equi-join; payloads never leave executor memory.
# --------------------------------------------------------------------------
@register(
    "q133_multimodal_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id AS item_id,
             list_extract(['image','audio','video','text'],
                          CAST(doc_id % 4 + 1 AS INT)) AS modality,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT item_id, modality, n,
             CAST(g.i AS INT) AS frame_idx,
             greatest(n // 4, 1) AS step, h
      FROM p, UNNEST(range(4)) AS g(i)
    )
    SELECT item_id, modality,
           CAST(n AS INT) AS n_bytes,
           frame_idx,
           CAST(least(greatest(n - frame_idx * step, 0), step) AS INT)
             AS n_frame_bytes,
           md5(substring(h, frame_idx * step * 2 + 1, step * 2))
             AS frame_md5
    FROM f
    """,
)
def q133_multimodal_frames(spark, sf_dir):
    # a NULL text synthesizes no payload — there is nothing to demux;
    # excluded on BOTH engines (null_text axis: the Arrow operators
    # drop null payloads while the oracle kept NULL-frame rows)
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    corpus = synthesize_corpus(docs)
    feats = extract_features(corpus).select("item_id", "modality", "n_bytes")
    frames = frame_sample(corpus, n_frames=4).select(
        "item_id",
        "frame_idx",
        F.length("frame_bytes").cast("int").alias("n_frame_bytes"),
        F.md5(F.hex("frame_bytes")).alias("frame_md5"),
    )
    return feats.join(frames, "item_id").select(
        "item_id", "modality", "n_bytes", "frame_idx", "n_frame_bytes",
        "frame_md5",
    )
