"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched Pandas functions
over mapInPandas.

Image/audio codecs (PIL / torchaudio / pyav) are out of scope, so the
*decode* step is stubbed: a deterministic feature from the raw bytes
keeps the whole distributed path — schema, partitioning, batch
iteration, UDF signatures — real and testable.

Scale notes: payloads stay in executor memory only for the life of one
Arrow batch; feature extraction is embarrassingly parallel (no shuffle);
control batch size with spark.sql.execution.arrow.maxRecordsPerBatch
when payloads are large (e.g. 10k x 1 MB images per batch will OOM — set
it to ~64 for MB-scale blobs).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle as _cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Worker-side closures below reference module-level helpers
# (_fake_decode et al.). By default cloudpickle serializes those BY
# REFERENCE (module + qualname), which breaks when the driver process
# runs outside the repo root (executors can't import the package —
# exactly how the external driver invokes __spark_entry__). Registering
# the module for by-value pickling ships the code inside the closure
# itself; the module is self-contained (no package-internal imports),
# so the pickled payload stays small.
_cloudpickle.register_pickle_by_value(sys.modules[__name__])

MODALITIES = ("image", "audio", "video", "text")

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_N_BINS = 8


def synthesize_corpus(docs: DataFrame) -> DataFrame:
    """Build a multimodal-shaped corpus from the documents fixture:
    text bytes as the opaque payload, modality assigned round-robin,
    source/lang carried as typed metadata."""
    return docs.select(
        F.col("doc_id").alias("item_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MODALITIES]),
            (F.col("doc_id") % len(MODALITIES) + 1).cast("int"),
        ).alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a codec: normalized 8-bin byte
    histogram. Stable across runs/partitions — safe for tests."""
    if payload is None or len(payload) == 0:
        return [0.0] * _N_BINS
    counts = [0] * _N_BINS
    for b in payload:
        counts[b >> 5] += 1
    total = float(len(payload))
    return [c / total for c in counts]


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    One Arrow batch in, one out; never materializes the partition. The
    decode call is the per-item stub; everything around it (batching,
    schema, null handling) is the production path.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": pdf["payload"].map(_fake_decode),
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video-style frame sampling stub: split each payload into n_frames
    even chunks ("frames"), explode to one row per frame with its own
    byte slice — the real op swaps the slicer for a container demuxer.
    Output: item_id, frame_idx, frame_bytes."""
    out_schema = T.StructType(
        [
            T.StructField("item_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_bytes", T.BinaryType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"item_id": [], "frame_idx": [], "frame_bytes": []}
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                if payload is None:
                    continue
                step = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    rows["item_id"].append(item_id)
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(bytes(payload[i * step:(i + 1) * step]))
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=out_schema)
