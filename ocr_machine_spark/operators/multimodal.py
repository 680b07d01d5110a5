"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference's raster stage (pdf2image renders, word-crop tensors,
``training_strikethrough/processing_scripts/create_bbox_chunked.py:7-26``,
64×365 grayscale tensors at ``model_training_pipeline.py:18-45``) generalizes
here to lake-native media handling: one row per asset, ``payload: binary``,
typed ``meta`` struct, and every transform an Arrow-batched ``mapInPandas``.

Round 4: the decode is REAL — BMP (24-bit BI_RGB), WAV (RIFF PCM16) and Y4M
(YUV4MPEG2 4:2:0) byte-level codecs in pure stdlib+numpy
(``core/rawmedia.py``). Round 5 adds the two COMPRESSED codecs: PNG (stdlib
zlib + the five scanline filters, grayscale/truecolor 8/16-bit) and JPEG
(T.81 baseline sequential — Huffman + DCT, 4:4:4 gray/color), so both
dominant web image formats decode real pixels. The remaining stub boundary
is non-baseline JPEG profiles (progressive, subsampled) and codecs with no
stdlib entropy layer (WebP/MP3/H.264): an
unrecognized container yields ``ok=false`` per row (non-strict) or raises
``NotImplementedError`` (``strict=True``) at the clearly-marked spot, while
a CORRUPT payload of a recognized container is reported as the data error it
is (plain ValueError in strict mode), never as a missing dependency.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_machine_spark.core import rawmedia as RM
from ocr_machine_spark.core.rawmedia import FEATURE_DIM  # noqa: F401 (public re-export)

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURES_SCHEMA = "media_id long, kind string, ok boolean, features array<double>, n_bytes long"


def generate_media(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic media table with REAL payloads: BMP/PNG/JPEG images
    (PNG cycling gray/truecolor × 8/16-bit, JPEG alternating grayscale and
    3-component flat-block content), WAV audio, Y4M video — content
    closed-form in ``media_id`` (``core/rawmedia.py``), so any row
    regenerates identically on any executor."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                kind = RM.kind_of(i)
                payload = RM.make_payload(i)
                meta = {
                    "width": 64 + (i % 8) * 16 if kind == "image" else None,
                    "height": 64 + (i % 4) * 16 if kind == "image" else None,
                    "sample_rate": RM.AUDIO_RATE if kind == "audio" else None,
                    "n_frames": 24 * (1 + i % 10) if kind == "video" else None,
                }
                rows.append((i, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def decode_media(media: DataFrame, *, strict: bool = False) -> DataFrame:
    """payload → 32-dim feature vector per asset, from REAL decoded content
    (BMP pixels / WAV samples / Y4M luma planes — ``rawmedia.decode_features``).

    Feature math reduces through exact integer sums (deterministic IEEE
    doubles on any platform/partitioning); an unrecognized or corrupt
    container is an ``ok=false`` row in non-strict mode — per-row degradation,
    the same totality contract as ``extract_one`` — and raises
    ``NotImplementedError`` under ``strict=True`` (a compressed codec would be
    required; that dependency is not in this container)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"].tolist(), pdf["kind"].tolist(), pdf["payload"].tolist()
            ):
                if payload is None:
                    rows.append((mid, kind, False, None, 0))
                    continue
                try:
                    _, feats = RM.decode_features(bytes(payload))
                    rows.append((mid, kind, True, feats, len(payload)))
                except RM.UnrecognizedContainerError as exc:
                    # no supported container matched → a compressed codec
                    # would be required; that dependency is not here
                    if strict:
                        raise NotImplementedError(
                            f"media {mid}: {exc} — compressed-codec decode requires "
                            "PIL/libav (not in this container); strict=False degrades "
                            "to ok=false per row"
                        ) from exc
                    rows.append((mid, kind, False, None, len(payload)))
                except ValueError as exc:
                    # RECOGNIZED container, corrupt/degenerate payload — in
                    # strict mode that is data corruption, not a missing
                    # dependency (ADVICE r4 #2): raise it as itself
                    if strict:
                        raise ValueError(f"media {mid}: corrupt payload: {exc}") from exc
                    rows.append((mid, kind, False, None, len(payload)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "ok", "features", "n_bytes"])

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>, "
    "resized boolean"
)


def resize_images(media: DataFrame, *, max_side: int = 64, strict: bool = False) -> DataFrame:
    """image rows → bounded-size variants: aspect-preserving clamp to
    ``max_side`` with a REAL nearest-neighbor resample over decoded BMP/PNG
    pixels (integer index maps — deterministic, no float filter kernels),
    re-encoded in the SAME container and (for PNG) native color type/bit
    depth. Unrecognized image containers pass through unresized (``ok``-style
    degradation) or raise under ``strict=True``. Raster-stage analogue:
    ``training_strikethrough/processing_scripts/create_bbox_chunked.py:7-26``
    (word-crop resamples to fixed tensors)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, meta in zip(
                pdf["media_id"].tolist(), pdf["payload"].tolist(), pdf["meta"].tolist()
            ):
                w = meta.get("width") if isinstance(meta, dict) else meta["width"]
                h = meta.get("height") if isinstance(meta, dict) else meta["height"]
                if w is None or h is None or payload is None:
                    rows.append((mid, payload, meta, False))
                    continue
                scale = min(max_side / max(w, h), 1.0)
                nw, nh = max(int(w * scale), 1), max(int(h * scale), 1)
                if (nw, nh) == (w, h):
                    rows.append((mid, payload, meta, False))
                    continue
                try:
                    raw = bytes(payload)
                    arr, container = RM.decode_image(raw)
                except RM.UnrecognizedContainerError as exc:
                    if strict:
                        raise NotImplementedError(
                            f"media {mid}: {exc} — compressed-image resample requires "
                            "PIL (not in this container)"
                        ) from exc
                    rows.append((mid, payload, meta, False))
                    continue
                except ValueError as exc:
                    if strict:
                        raise ValueError(f"media {mid}: corrupt image payload: {exc}") from exc
                    rows.append((mid, payload, meta, False))
                    continue
                out = RM.encode_image(RM.resize_nearest(arr, nw, nh), container)
                new_meta = dict(meta)
                new_meta["width"], new_meta["height"] = nw, nh
                rows.append((mid, out, new_meta, True))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "meta", "resized"])

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload", "meta")
    return imgs.mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 24) -> DataFrame:
    """video → deterministic frame-sample plan (frame_idx, offset_ms).

    Pure column expressions over the typed metadata — no decode needed to
    PLAN the sampling; ``decode_frames`` executes the plan against the real
    Y4M payload."""
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.n_frames").alias("n_frames")
    )
    idx = F.explode(F.sequence(F.lit(0), ((F.col("n_frames") - 1) / every_n).cast("int"))).alias("k")
    return (
        vids.select("media_id", "n_frames", idx)
        .select(
            "media_id",
            (F.col("k") * every_n).cast("int").alias("frame_idx"),
            (F.col("k") * every_n * 1000 / 24).cast("int").alias("offset_ms"),
        )
    )


SAMPLED_FRAMES_SCHEMA = "media_id long, frame_idx int, luma_mean_e4 long"


def decode_frames(media: DataFrame, every_n: int = 24, *, strict: bool = False) -> DataFrame:
    """Execute the frame-sample plan against the real Y4M payload: decode,
    take every ``every_n``-th luma plane, emit its exact-integer mean as
    fixed-point e4 — the decoded counterpart of ``sample_frames``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out_id, out_idx, out_mean = [], [], []
            for mid, payload in zip(pdf["media_id"].tolist(), pdf["payload"].tolist()):
                if payload is None:
                    continue
                try:
                    _, frames = RM.decode_y4m(bytes(payload))
                except ValueError as exc:
                    if strict:
                        raise NotImplementedError(f"media {mid}: {exc}") from exc
                    continue
                n, h, w = frames.shape
                for fi in range(0, n, every_n):
                    s = int(frames[fi].astype(np.int64).sum())
                    out_id.append(mid)
                    out_idx.append(fi)
                    out_mean.append(int((s * 10000) // (h * w)))
            yield pd.DataFrame(
                {"media_id": out_id, "frame_idx": out_idx, "luma_mean_e4": out_mean}
            )

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(run, schema=SAMPLED_FRAMES_SCHEMA)
