"""Multimodal column plumbing (SURVEY.md §7 phase 4).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing here — schema, Arrow batch shape, ``mapInPandas``
fan-out, partition sizing — is real and tested; the features are
deterministic payload fingerprints rather than codec output (no image
or audio decoder is a dependency), so a real decoder would replace the
batch function in ``extract_features``, not the plan.

At 100 TB: binary payloads dominate partition size, so operators keep
``spark.sql.files.maxPartitionBytes`` in mind, never collect, and fan
out frames via ``mapInPandas`` (one Arrow batch in, many rows out) —
the idiomatic Spark shape for decode/resize/frame-sample.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.hashing import MERSENNE_31

FEATURE_SEEDS = [(131, 7), (137, 11), (139, 13), (149, 17)]


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Build a binary asset table from the documents fixture: payload =
    UTF-8 bytes of the text (stand-in for image/audio bytes), metadata =
    JSON. Demonstrates the binary column contract end-to-end."""
    return docs.select(
        col("doc_id").alias("asset_id"),
        F.encode(col("text"), "utf-8").alias("content"),
        F.lit("text/plain").alias("media_type"),
        F.to_json(F.struct(col("n_chars"), col("lang"), col("source"))).alias("metadata"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (``mapInPandas``: one pandas batch in, one out — never per-row
    Python). Feature ``f{i}`` is a deterministic payload fingerprint:
    the polynomial fold ``acc = (acc * a + byte) mod 2^31-1`` from
    ``acc = b`` for the i-th ``(a, b)`` of ``FEATURE_SEEDS``, scaled to
    [0, 1) and rounded to 9 places. For ASCII payloads this equals the
    char-code fold in functions/hashing.py — which is what makes the
    DuckDB oracle for this path possible."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(assets.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The whole batch's payloads become ONE flat uint8 buffer, and
        # each seed's fold runs as ragged int64 arithmetic across all
        # payloads at once (identical congruence and step order — same
        # discipline as functions/arrow_text.py, ~20M/s-per-core Python
        # loops avoided).
        import numpy as np

        for pdf in it:
            payloads = pdf["content"].to_list()
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=len(payloads))
            starts = np.zeros(len(payloads), dtype=np.int64)
            if len(payloads) > 1:
                np.cumsum(lens[:-1], out=starts[1:])
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            maxlen = int(lens.max()) if len(payloads) else 0
            out = {"asset_id": pdf["asset_id"], "n_bytes": lens.astype("int32")}
            for fi, (a, b) in enumerate(FEATURE_SEEDS):
                acc = np.full(len(payloads), b, dtype=np.int64)
                for j in range(maxlen):
                    m = lens > j
                    acc[m] = (acc[m] * a + flat[starts[m] + j]) % MERSENNE_31
                out[f"f{fi}"] = np.round(acc / MERSENNE_31, 9)
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        batches,
        schema="asset_id long, n_bytes int, f0 double, f1 double, f2 double, f3 double",
    )


def sample_chunks(assets: DataFrame, chunk_bytes: int = 64) -> DataFrame:
    """Frame/segment sampling fan-out: one input asset → N chunk rows
    (the video-frame / audio-segment shape). ``mapInPandas`` so the
    fan-out happens inside the Arrow batch, not via explode of a
    driver-built array."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(assets.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_chunk = [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["content"]):
                for i in range(0, len(payload), chunk_bytes):
                    out_ids.append(asset_id)
                    out_idx.append(i // chunk_bytes)
                    out_chunk.append(payload[i : i + chunk_bytes])
            yield pd.DataFrame(
                {"asset_id": out_ids, "chunk_idx": out_idx, "chunk": out_chunk}
            )

    return assets.mapInPandas(batches, schema="asset_id long, chunk_idx int, chunk binary")


def sample_frames(
    assets: DataFrame,
    frame_bytes: int = 32,
    every_k: int = 4,
    max_frames: int = 8,
) -> DataFrame:
    """TRUE frame SAMPLING (vs ``sample_chunks``' contiguous
    segmentation): treat the payload as fixed-``frame_bytes`` frames
    and emit every ``every_k``-th frame, capped at ``max_frames`` per
    asset — the video-decode shape (a 2-hour clip yields a bounded,
    stride-spread sample, not 200k contiguous frames). ``mapInPandas``
    fan-out emits ONLY the sampled frames — at 100 TB the unsampled
    payload bytes never leave the scan task, which is the point:
    output volume is capped per asset, independent of payload size. A
    production deployment swaps the byte-slicing for the real codec's
    keyframe seek (same batch iteration, schema, and cap contract)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(assets.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_frame = [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["content"]):
                n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
                for taken, fi in enumerate(range(0, n_frames, every_k)):
                    if taken >= max_frames:
                        break
                    out_ids.append(asset_id)
                    out_idx.append(fi)
                    out_frame.append(
                        payload[fi * frame_bytes : (fi + 1) * frame_bytes]
                    )
            yield pd.DataFrame(
                {"asset_id": out_ids, "frame_idx": out_idx, "frame": out_frame}
            )

    return assets.mapInPandas(
        batches, schema="asset_id long, frame_idx int, frame binary"
    )


def resize_assets(assets: DataFrame, stride: int = 4) -> DataFrame:
    """The image-resize shape: payload in → smaller payload + new dims
    out, Arrow-batched. The "codec" is a deterministic nearest-neighbor
    downsample of the byte stream (every ``stride``-th byte) — a real
    resample, honestly computable in the DuckDB oracle for ASCII
    payloads, while a production deployment swaps ONLY the per-batch
    transform for PIL/ffmpeg (same batch iteration, same schema, same
    binary column contract — the Spark-side plumbing is the tested
    part, per the environment's codec stub policy)."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(assets.sparkSession)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["content"].to_list()
            resized = [bytes(p[::stride]) for p in payloads]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "n_resized": [len(r) for r in resized],
                    "resized": resized,
                }
            )

    return assets.mapInPandas(
        batches,
        schema="asset_id long, n_bytes int, n_resized int, resized binary",
    )
