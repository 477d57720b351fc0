"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with
metadata columns alongside (the lakehouse-standard pattern). The Spark-side
plumbing — schema, batch iteration, partition-sized Arrow transfer — is
real and tested; the actual media decode is stubbed because no codec
libraries exist in this environment (clearly marked below).

At 100 TB the decode path is the expensive stage: it runs as
``mapInPandas`` so each task streams Arrow batches through one Python
worker (no per-row serde), and upstream filters/column pruning still push
into the parquet scan because the decode is the LAST stage of the plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, format string, width int, height int, ok boolean"
)


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Demo payload: utf-8 bytes of the ``text`` column standing in for
    media bytes; real pipelines read the bytes from parquet/object storage."""
    return df.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def payload_metadata(df: DataFrame) -> DataFrame:
    """Typed metadata derived JVM-side (no Python) from ``payload``: size +
    a deterministic pseudo-format tag — the cheap columns you filter on
    BEFORE decoding."""
    size = F.octet_length(F.col("payload"))
    return df.withColumns(
        {
            "n_bytes": size.cast("long"),
            "media_format": F.when(size % 3 == 0, F.lit("png"))
            .when(size % 3 == 1, F.lit("jpeg"))
            .otherwise(F.lit("webp")),
        }
    )


def decode_images(df: DataFrame) -> DataFrame:
    """Batch 'decode' via mapInPandas: Arrow-batched, partition-parallel.

    The iterator-of-batches shape is the real contract a codec UDF needs;
    swap ``fake_decode`` for a real decoder and nothing else changes.

    IMPORTANT: the closure is fully self-contained (the decode helper is
    nested, not a module global) so cloudpickle ships it by value —
    executor Python workers do NOT have this package importable.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fake_decode(payload: bytes) -> tuple[int, int]:
            # STUB: a real implementation would be e.g.
            # PIL.Image.open(BytesIO(payload)) — image/audio libraries are
            # not available in this container. The fake derives stable
            # dimensions from the byte length so tests can assert exact
            # values through the full mapInPandas path.
            n = len(payload)
            return (64 + n % 640, 64 + (n * 7) % 480)

        for pdf in batches:
            payloads = pdf["payload"]
            dims = [fake_decode(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                    "format": pdf["media_format"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "ok": True,
                }
            )

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, out_width int, out_height int, "
    "scale_pct int"
)


def resize_images(df: DataFrame, max_side: int = 256) -> DataFrame:
    """Aspect-preserving thumbnail 'resize' via mapInPandas.

    Input is the decoded frame table (doc_id, width, height, ...); output
    carries the resized dimensions and the integer percent scale applied.
    The pixel work is STUBBED (no image libraries in this container) — the
    arithmetic (fit the longer side to ``max_side``, never upscale) is the
    real thumbnail contract, exact in integer math so the oracle can
    reproduce it. A real implementation would resize ``payload`` bytes
    with PIL inside the same loop and add the bytes column to the schema.

    Closure is self-contained: executor workers can't import this package.
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            longer = w.where(w >= h, h)
            # percent scale, floored; 100 = no-op (never upscale)
            scale = (100 * max_side // longer).clip(upper=100)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "out_width": w * scale // 100,
                    "out_height": h * scale // 100,
                    "scale_pct": scale,
                }
            )

    return df.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_idx int, n_frames int, frame_tag string"


def sample_frames(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling via mapInPandas — the ROW-EXPANDING batch shape
    (one input row -> one row per sampled frame), which is the contract a
    real video pipeline needs and the one shape decode/resize don't cover.

    Frame count and tags are STUBBED deterministically from payload size
    (a real implementation seeks the container's keyframe index); the
    every-n-th selection arithmetic is the real sampling logic. Output
    rows per input are bounded by n_frames/every_n, so task output size
    stays proportional to input size — no flatMap blow-up.
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def fake_frame_count(n_bytes: int) -> int:
            # STUB: stands in for the container's frame index; 1..24
            # frames derived stably from the payload length.
            return 1 + (n_bytes * 13) % 24

        for pdf in batches:
            ids, idxs, counts, tags = [], [], [], []
            for doc_id, n_bytes in zip(pdf["doc_id"], pdf["n_bytes"]):
                n = fake_frame_count(int(n_bytes))
                for i in range(0, n, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    counts.append(n)
                    tags.append(
                        hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:8]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "n_frames": counts,
                    "frame_tag": tags,
                }
            )

    return df.mapInPandas(frame_batches, schema=FRAMES_SCHEMA)


AHASH_SCHEMA = "doc_id long, n_bytes long, ahash long, mean_px int"


def phash_images(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) 'feature extraction' via mapInPandas
    — the media-dedup feature: near-identical images collide on (or sit a
    small Hamming distance from) the same hash.

    The pixel sampling is STUBBED like ``decode_images``: a deterministic
    7x8 grid of pseudo-pixels derived from the byte length (a real
    implementation decodes the payload, grayscales, downsamples to the
    grid, and the bit/threshold math below is unchanged). 56 bits keeps
    the hash comfortably inside a signed int64. All-integer arithmetic,
    vectorized over the Arrow batch; the closure is self-contained
    (executor workers cannot import this package).
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def grid(n: "np.ndarray") -> "np.ndarray":
            # (batch, 56) pseudo-pixel grid: pixel i of a payload with n
            # bytes = (n * (i + 3) * 2654435761) % 256. Reduce n mod 256
            # FIRST — identical result mod 256, but the unreduced product
            # exceeds int64 for payloads over ~59 MB, where numpy would
            # wrap silently while an oracle's BIGINT raises (divergence,
            # not an error).
            i = np.arange(56, dtype="int64")
            return ((n % 256)[:, None] * (i[None, :] + 3) * 2654435761) % 256

        for pdf in batches:
            n = pdf["n_bytes"].astype("int64").to_numpy()
            px = grid(n)
            mean = px.sum(axis=1) // 56
            bits = (px > mean[:, None]).astype("int64")
            ahash = (bits << np.arange(56, dtype="int64")[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "ahash": ahash,
                    "mean_px": mean.astype("int32"),
                }
            )

    return df.mapInPandas(hash_batches, schema=AHASH_SCHEMA)
