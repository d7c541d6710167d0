"""Multimodal column plumbing: media as opaque binary + typed metadata,
processed by Arrow-batched pandas UDFs over mapInPandas.

Two tiers, both first-class driver-contract ops:

- ``decode_features`` (op `media_decode`): the original PLUMBING
  demonstrator — schema, batching, partition shape, UDF signature — with
  a clearly-marked deterministic stand-in for the codec (the features
  are integer arithmetic of doc_key, so the op oracles exactly).
- ``synth_media`` -> ``decode_media`` (op `media_decode_real`): a REAL
  codec path.  The sandbox has no codec libraries, but PNG and 16-bit
  WAV are fully codable with the stdlib (zlib/struct/wave —
  :mod:`spatialgraft.pipeline.mediacodec`): real bytes are encoded,
  travel through Arrow as a ``binary`` column, and are really decoded
  (inflate + scanline defilter / RIFF parse).  The payload CONTENT is
  deterministic integer arithmetic of doc_key (config.MEDIA_*), so the
  DuckDB oracle predicts the decoded statistics independently — a bug in
  either direction of either codec breaks the bit-exact match.

At 100 TB the shape is unchanged: media bytes arrive as a binary column
(or are fetched inside the same iterator from refs), decode is
embarrassingly parallel per Arrow batch, and no stage shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import config as C

_OUT_SCHEMA = ("doc_key bigint, media_ref string, width int, height int, "
               "mean_px double, n_frames int")
_BLOB_SCHEMA = "doc_key bigint, kind string, blob binary"
_DECODE_SCHEMA = ("doc_key bigint, kind string, width int, height int, "
                  "sample_rate int, n_samples int, mean_val double")


def _fake_decode(doc_key: np.ndarray):
    """Deterministic stand-in for a codec: features from doc_key."""
    width = (16 + doc_key % 16).astype(np.int32)
    height = (16 + (doc_key * 7) % 16).astype(np.int32)
    mean_px = ((doc_key * 2654435761) % 256).astype(np.float64)
    n_frames = (1 + doc_key % 4).astype(np.int32)
    return width, height, mean_px, n_frames


def decode_features(docs_with_media: DataFrame) -> DataFrame:
    """(doc_key, media_ref, width, height, mean_px, n_frames).

    Input needs doc_key + a media_ref column (extracted from the media
    span).  Batched per Arrow chunk; the plumbing demonstrator — for the
    real codec path see :func:`decode_media`."""

    def fn(batches):
        for pdf in batches:
            k = pdf["doc_key"].to_numpy(np.int64)
            w, h, m, f = _fake_decode(k)
            yield pd.DataFrame({
                "doc_key": k, "media_ref": pdf["media_ref"],
                "width": w, "height": h, "mean_px": m, "n_frames": f})

    return (docs_with_media.select("doc_key", "media_ref")
            .mapInPandas(fn, _OUT_SCHEMA))


def synth_media(points: DataFrame) -> DataFrame:
    """(doc_key, kind, blob): REAL encoded media bytes per document —
    PNG for even doc_keys, WAV for odd (content arithmetic in
    config.MEDIA_*).  Stands in for the object-store fetch a production
    pipeline does inside the same iterator."""
    from .mediacodec import png_encode, wav_encode

    def fn(batches):
        for pdf in batches:
            ks = pdf["doc_key"].to_numpy(np.int64)
            kinds, blobs = [], []
            for k in (int(v) for v in ks):
                if k % 2 == 0:
                    w, h = 8 + k % 9, 8 + (k * 3) % 9
                    i = np.arange(w * h, dtype=np.int64)
                    pix = ((k * C.MEDIA_PIX_A + i * C.MEDIA_PIX_B) % 256
                           ).astype(np.uint8).reshape(h, w)
                    kinds.append("image")
                    blobs.append(png_encode(
                        pix, [(k + r) % 5 for r in range(h)]))
                else:
                    sr = 8000 + (k % 4) * 4000
                    i = np.arange(64 + k % 64, dtype=np.int64)
                    smp = ((k * C.MEDIA_AUD_A + i * C.MEDIA_AUD_B)
                           % 65536 - 32768).astype(np.int16)
                    kinds.append("audio")
                    blobs.append(wav_encode(smp, sr))
            yield pd.DataFrame(
                {"doc_key": ks, "kind": kinds, "blob": blobs})

    return points.select("doc_key").mapInPandas(fn, _BLOB_SCHEMA)


def decode_media(blobs: DataFrame) -> DataFrame:
    """(doc_key, kind, width, height, sample_rate, n_samples, mean_val):
    REAL decode of the binary media column — PNG inflate + per-row
    defilter, WAV RIFF parse — entirely stdlib (mediacodec.py).

    Inapplicable fields are 0, not NULL (width/height for audio,
    sample_rate for images; n_samples is the decoded pixel count for
    images).  mean_val = exact int64 sum of decoded values / count, in
    one IEEE double division — bit-identical to the oracle's."""
    from .mediacodec import png_decode, wav_decode

    def fn(batches):
        for pdf in batches:
            out = {"doc_key": [], "kind": [], "width": [], "height": [],
                   "sample_rate": [], "n_samples": [], "mean_val": []}
            for k, kind, blob in zip(pdf["doc_key"], pdf["kind"],
                                     pdf["blob"]):
                if kind == "image":
                    pix = png_decode(bytes(blob))
                    h, w = pix.shape[:2]
                    n = int(pix.size)
                    vals = (w, h, 0, n,
                            float(int(pix.sum(dtype=np.int64)) / n))
                else:
                    sr, nch, smp = wav_decode(bytes(blob))
                    n = len(smp)
                    vals = (0, 0, sr, n,
                            float(int(smp.sum(dtype=np.int64)) / n))
                out["doc_key"].append(int(k))
                out["kind"].append(kind)
                for col, v in zip(
                        ("width", "height", "sample_rate", "n_samples",
                         "mean_val"), vals):
                    out[col].append(v)
            yield pd.DataFrame({
                "doc_key": np.asarray(out["doc_key"], np.int64),
                "kind": out["kind"],
                "width": np.asarray(out["width"], np.int32),
                "height": np.asarray(out["height"], np.int32),
                "sample_rate": np.asarray(out["sample_rate"], np.int32),
                "n_samples": np.asarray(out["n_samples"], np.int32),
                "mean_val": np.asarray(out["mean_val"], np.float64)})

    return blobs.mapInPandas(fn, _DECODE_SCHEMA)


def media_refs(points: DataFrame) -> DataFrame:
    """Pull the media span's ref out of the spans column (Arrow path in
    extract.py keeps spans opaque; here a JVM expression suffices)."""
    return points.selectExpr(
        "doc_key",
        "filter(spans, s -> s.kind = 'media')[0].media_ref AS media_ref")
