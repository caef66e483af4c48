"""Multimodal column plumbing (north-star extension, BASELINE.json:
"multimodal columns").

Media are opaque ``binary`` payloads + typed metadata (``media_id``,
``kind``, ``payload``, ``mime``), synthesized from the documents table
(FIXTURES.md §2) by ``media_from_documents``.
The Spark-side plumbing — schema, partition-friendly long format,
Arrow-batched ``mapInPandas`` operator shape — is real and tested; the
actual codec work (image decode / resize, audio feature extraction,
video frame sampling) is stubbed behind ``_decode_stub`` because the
media libraries are not in this environment. Swapping the stub for
PIL/librosa/pyav turns these into production operators without touching
the dataflow.

Batch shape: ``mapInPandas`` receives an iterator of Arrow-backed
pandas batches; each batch holds whole payload blobs, so executor
memory bounds batch size via ``spark.sql.execution.arrow.maxRecordsPerBatch``
— set it low (e.g. 64) for large media on a real cluster.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, payload_sha256 string, "
    "feat_0 double, feat_1 double, feat_2 double, feat_3 double"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents (UTF-8 payload blobs) so
    the plumbing is exercisable on the driver's tables. Deterministic."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata pass (no Python): byte length + content hash.
    This is the cheap scan that routes/filters media before any decode."""
    return media.select(
        "media_id",
        "kind",
        "mime",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha256"),
    )


def _decode_stub(kind: str, payload: bytes) -> list[float]:
    """STUB for the real codec: deterministic fake features from the
    payload hash. Replace with PIL/librosa/pyav decode + model feature
    extraction in production (NotImplementedError intentionally *not*
    raised so the dataflow is testable end-to-end)."""
    h = hashlib.sha256(payload if payload is not None else b"").digest()
    return [b / 255.0 for b in h[:4]]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas`` — the real
    operator shape for decode/resize/frame-sample at scale. Python only
    touches the payload bytes; everything before/after stays JVM-side."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_stub(k, p) for k, p in zip(pdf["kind"], pdf["payload"])
            ]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "payload_sha256": [
                        hashlib.sha256(p if p is not None else b"").hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )
            for j in range(4):
                out[f"feat_{j}"] = [f[j] for f in feats]
            yield out

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)

FRAME_SCHEMA = (
    "media_id long, frame_idx int, frame_offset long, "
    "n_frame_bytes long, frame_sha256 string"
)

RESIZE_SCHEMA = (
    "media_id long, kind string, n_bytes_in long, n_bytes_out long, "
    "resized_sha256 string"
)


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Video-frame-sampling operator shape: ``n_frames`` evenly spaced
    fixed-size byte windows per payload, long format (one row per
    frame). The byte-window slice is the STUB for real frame decode
    (pyav keyframe extraction in production); the dataflow — Arrow
    batches in, exploded frame rows out, offsets computed with integer
    arithmetic so they are bit-reproducible cross-engine — is the real
    operator.

    Offsets: ``off_i = i * max(L - frame_bytes, 0) // max(n_frames-1, 1)``
    (first frame at 0, last flush with the payload end). Map-only: no
    exchange; output is frame-sized, never payload-duplicating, which
    is what lets this run over 100 TB of video without amplifying the
    scan."""
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom = max(n_frames - 1, 1)
        for pdf in it:
            ids, idxs, offs, lens, hashes = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = p if p is not None else b""
                span = max(len(p) - frame_bytes, 0)
                for i in range(n_frames):
                    off = i * span // denom
                    frame = p[off : off + frame_bytes]
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(off)
                    lens.append(len(frame))
                    hashes.append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_offset": offs,
                    "n_frame_bytes": lens,
                    "frame_sha256": hashes,
                }
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def resize_media(media: DataFrame, target_bytes: int = 32) -> DataFrame:
    """Resize-to-budget operator shape: payloads above ``target_bytes``
    are truncated (the STUB for a real image down-scale; PIL thumbnail
    in production), smaller payloads pass through unchanged. Emits the
    metadata the downstream pipeline routes on — in/out sizes and the
    content hash of the resized payload — not the blob itself, so the
    checked output stays small. Map-only, no exchange."""
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [
                (p if p is not None else b"") for p in pdf["payload"]
            ]
            resized = [p[:target_bytes] for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes_in": [len(p) for p in payloads],
                    "n_bytes_out": [len(r) for r in resized],
                    "resized_sha256": [
                        hashlib.sha256(r).hexdigest() for r in resized
                    ],
                }
            )

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)
