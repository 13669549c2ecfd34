"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched pandas UDFs (driver-mandated
extension: SURVEY.md §2 "Driver-mandated extensions").

The reference treats non-record payloads exactly this way — opaque bytes
passed through untouched (ByteArrayRecordWriterProvider.java:65-74); this
module adds the decode/feature-extract stage a training-data pipeline bolts
on top.

Design for 100 TB:

* payloads stay in executor-side Arrow batches end-to-end (``mapInPandas``);
  nothing is collected to the driver;
* every transform is narrow — per-row decode, no shuffle; parallelism is the
  scan's split count (``fan_out`` widens small local scans only);
* frame sampling explodes rows inside the UDF (per-batch), so output size is
  bounded by ``maxRecordsPerBatch`` x frames-per-doc, not by the file size.

The codec step is ``fake_decode``, a deterministic md5-based stand-in
(documented per-function) that the DuckDB oracles recompute in SQL: the
synthetic corpus carries text bytes, not media. The Spark-side plumbing —
binary columns, Arrow batch iteration, UDF signatures, exploded-row
schemas — is real and oracle-checked.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_oss_spark.operators.dedup import _fan_out

MODALITIES = ("image", "audio", "video")
FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}

#: video frame sampling: fixed-size pseudo-frames, every ``stride``-th kept
FRAME_BYTES = 64
FRAME_STRIDE = 4

#: image resize target box (fit-within, never upscale)
RESIZE_BOX = 256

#: binary feature-extraction output dimensionality
EMBED_DIMS = 8


def fake_decode(modality: str, payload: bytes) -> dict:
    """Deterministic stand-in for the codec: metadata derived from
    md5(payload), so the DuckDB oracle can recompute it in SQL.

    image: width/height in [16, 2048), channels in [1, 4]
    audio: sample_rate in {8,16,24,32,40,48} kHz, duration = 1 byte/sample
    video: fixed-size pseudo-frames of FRAME_BYTES bytes
    """
    h = hashlib.md5(payload).hexdigest()
    n = len(payload)
    meta = {"byte_len": n, "fmt": FORMATS[modality], "width": None,
            "height": None, "channels": None, "sample_rate": None,
            "duration_ms": None, "n_frames": None}
    if modality == "image":
        meta["width"] = 16 + int(h[0:4], 16) % 2032
        meta["height"] = 16 + int(h[4:8], 16) % 2032
        meta["channels"] = 1 + int(h[8], 16) % 4
    elif modality == "audio":
        sr = 8000 * (1 + int(h[0:2], 16) % 6)
        meta["sample_rate"] = sr
        meta["duration_ms"] = n * 1000 // sr
    else:  # video
        meta["n_frames"] = (n + FRAME_BYTES - 1) // FRAME_BYTES
    return meta


def attach_binary(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """documents -> multimodal catalog rows: opaque binary payload + typed
    metadata struct. Modality is assigned round-robin by id (deterministic
    synthetic corpus — stands in for reading real media files as
    ``binaryFile`` sources)."""
    modality = (F.element_at(F.array(*[F.lit(m) for m in MODALITIES]),
                             (F.col(id_col) % 3 + 1).cast("int")))
    return (docs.select(
        F.col(id_col),
        modality.alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    ).withColumn("meta", F.struct(
        F.length("payload").alias("byte_len"),
        F.col("modality").alias("kind"),
    )))


_CATALOG_SCHEMA = ("doc_id long, modality string, fmt string, byte_len long, "
                   "width int, height int, channels int, sample_rate int, "
                   "duration_ms long, n_frames int")


def decode_metadata(mm: DataFrame) -> DataFrame:
    """Decode typed per-modality metadata from the binary payload
    (fake_decode). One output row per input row; Arrow batches in and out."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [fake_decode(m, bytes(p))
                     for m, p in zip(pdf["modality"], pdf["payload"])]
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "modality": pdf["modality"].values,
                "fmt": [x["fmt"] for x in metas],
                "byte_len": pd.array([x["byte_len"] for x in metas],
                                     dtype="Int64"),
                "width": pd.array([x["width"] for x in metas], dtype="Int32"),
                "height": pd.array([x["height"] for x in metas], dtype="Int32"),
                "channels": pd.array([x["channels"] for x in metas],
                                     dtype="Int32"),
                "sample_rate": pd.array([x["sample_rate"] for x in metas],
                                        dtype="Int32"),
                "duration_ms": pd.array([x["duration_ms"] for x in metas],
                                        dtype="Int64"),
                "n_frames": pd.array([x["n_frames"] for x in metas],
                                     dtype="Int32"),
            })
            yield out

    return _fan_out(mm).mapInPandas(gen, _CATALOG_SCHEMA)


_RESIZE_SCHEMA = "doc_id long, width int, height int, new_w int, new_h int"


def image_resize_plan(mm: DataFrame, box: int = RESIZE_BOX) -> DataFrame:
    """Fit-within-box resize plan for image payloads (aspect-preserving,
    never upscaling). The plan math runs on the fake-decoded dimensions;
    the pixel transform itself is out of scope."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in
                                     ("doc_id", "width", "height", "new_w",
                                      "new_h")}
            for doc_id, m, p in zip(pdf["doc_id"], pdf["modality"],
                                    pdf["payload"]):
                if m != "image":
                    continue
                meta = fake_decode(m, bytes(p))
                w, h = meta["width"], meta["height"]
                scale = min(box / w, box / h, 1.0)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["new_w"].append(max(1, math.floor(w * scale)))
                rows["new_h"].append(max(1, math.floor(h * scale)))
            yield pd.DataFrame(rows)

    return _fan_out(mm).mapInPandas(gen, _RESIZE_SCHEMA)


_FRAME_SCHEMA = "doc_id long, frame_idx int, frame_len int, frame_md5 string"


def video_frame_sample(mm: DataFrame, frame_bytes: int = FRAME_BYTES,
                       stride: int = FRAME_STRIDE) -> DataFrame:
    """Sample every ``stride``-th fixed-size pseudo-frame from video
    payloads, exploding one row per sampled frame inside the UDF. A real
    decoder would swap byte-slicing for keyframe extraction; the
    exploded-schema plumbing would stay the same."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k: [] for k in
                                     ("doc_id", "frame_idx", "frame_len",
                                      "frame_md5")}
            for doc_id, m, p in zip(pdf["doc_id"], pdf["modality"],
                                    pdf["payload"]):
                if m != "video":
                    continue
                data = bytes(p)
                n_frames = (len(data) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, stride):
                    chunk = data[i * frame_bytes:(i + 1) * frame_bytes]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_len"].append(len(chunk))
                    rows["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(rows)

    return _fan_out(mm).mapInPandas(gen, _FRAME_SCHEMA)


_EMBED_SCHEMA = "doc_id long, " + ", ".join(
    f"v{j} double" for j in range(EMBED_DIMS))


def binary_embed(mm: DataFrame, dims: int = EMBED_DIMS) -> DataFrame:
    """Feature-extract an ``dims``-dim vector in [0,1) from each payload —
    the fake stand-in for a real encoder (CLIP/CLAP/etc.).
    v_j = int(md5(payload || str(j))[:8], 16) / 2^32: exactly reproducible
    in SQL, so the Arrow/UDF plumbing is oracle-checked end-to-end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"].values}
            payloads = [bytes(p) for p in pdf["payload"]]
            for j in range(dims):
                suffix = str(j).encode()
                out[f"v{j}"] = [
                    int(hashlib.md5(p + suffix).hexdigest()[:8], 16)
                    / 4294967296.0
                    for p in payloads]
            yield pd.DataFrame(out)

    return _fan_out(mm).mapInPandas(gen, _EMBED_SCHEMA)
