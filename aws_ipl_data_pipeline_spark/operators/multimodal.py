"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side contract is real and tested — schema, partition-aware
batching, UDF signatures — while the codec step itself is stubbed (no
decode library is a dependency; a deterministic fake produces stable
"features" so the distributed plumbing is verifiable end-to-end).

Design for 100 TB of media:
* binary payloads stay opaque until the last possible operator (column
  pruning means metadata-only queries never deserialize payloads);
* decode/feature-extract run inside mapInPandas so the payload
  never crosses the driver and batches amortize Python overhead;
* maxRecordsPerBatch should be lowered for large blobs (Arrow batch
  size is rows, not bytes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder+featurizer.

    Replace with e.g. PIL/torchvision decode in a real deployment:

        raise NotImplementedError("image decode requires pillow")

    The fake folds the payload digest into `dim` floats in [0, 1).
    """
    digest = hashlib.sha256(payload or b"").digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Decode + featurize each media row via Arrow-batched mapInPandas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "content_sha": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "feature": payloads.map(lambda p: _fake_decode_features(p, dim)),
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_fingerprints(
    media: DataFrame,
    frame_bytes: int = 64,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fixed-offset frame fingerprints as PURE column expressions
    (JVM/codegen, zero-Python), for when the fingerprint does not need
    a real codec: the payload's hex encoding is sliced at fixed byte
    offsets (2 hex chars per byte) and each slice is sha256'd. hex()
    and sha256-of-VARCHAR have bit-identical cross-engine semantics,
    which makes downstream overlap joins fully oracle-provable — and at
    100 TB this form scans, explodes, and hashes entirely inside
    whole-stage codegen (no Arrow hop, no Python worker).

    Returns (media_id, frame_no, frame_sha); empty payloads yield no
    frames. The trailing frame is the remainder slice."""
    from pyspark.sql import functions as F

    span = 2 * frame_bytes
    df = media.select(
        F.col(id_col).alias("media_id"),
        F.hex(F.col(payload_col)).alias("_hx"),
    ).where(F.length("_hx") > 0)
    # (len + span - 1) div span frames; sequence guard: len > 0 => n >= 1
    df = df.select(
        "media_id",
        "_hx",
        F.explode(
            F.sequence(
                F.lit(0), F.expr(f"(length(_hx) + {span - 1}) div {span}") - 1
            )
        ).alias("frame_no"),
    )
    return df.select(
        "media_id",
        F.col("frame_no").cast("long"),
        F.sha2(
            F.expr(f"substring(_hx, frame_no * {span} + 1, {span})"), 256
        ).alias("frame_sha"),
    )


def frame_overlap_pairs(
    frames: DataFrame, min_containment_pct: int = 50
) -> DataFrame:
    """Media pairs sharing >= ``min_containment_pct`` % of the smaller
    side's DISTINCT frame fingerprints — the fingerprint-containment
    content-match shape (trimmed/extended copies of the same media
    still match, because containment divides by the SMALLER set).

    Inverted-index self-join on the fingerprint (no O(n^2) cross
    join); the threshold gate is pure integer arithmetic
    (100*common >= pct*least(na, nb)) so no float comparison can flip
    a pair cross-engine. Joins on xxhash64(frame_sha): 8-byte keys
    through the shuffle, same accepted collision class as the shingle
    index. Returns (id_a, id_b, n_common, n_a, n_b, containment)."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import pair_common_counts

    f = frames.select(
        "media_id", F.xxhash64("frame_sha").alias("_fh")
    ).dropDuplicates()
    return (
        pair_common_counts(f, "media_id", "_fh")
        .where(
            100 * F.col("_common")
            >= min_containment_pct * F.least("_na", "_nb")
        )
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.col("_common").cast("long").alias("n_common"),
            F.col("_na").cast("long").alias("n_a"),
            F.col("_nb").cast("long").alias("n_b"),
            F.round(
                F.col("_common") / F.least("_na", "_nb"), 4
            ).alias("containment"),
        )
    )
