"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed through mapInPandas/mapInArrow with real schemas,
partitioning, and batch shapes.

Three codec paths:
- ``codec="ppm"``: a REAL public image format — binary netpbm (P6 RGB / P5
  grayscale), encoded and decoded here in pure numpy (no external libs), so
  at least one genuine standards-compliant decode path runs end-to-end;
- ``codec="fake"``: our deterministic PBM1 container (12-byte h/w/c header +
  raw frames) used for multi-frame video payloads and the oracle gate;
- ``codec="real"`` raises NotImplementedError — the seam where compressed
  codecs (JPEG/PNG via PIL, video via ffmpeg) plug in; those libraries are
  not in this container.

Scale notes: binary payloads make row-group sizing the knob that matters —
``spark.sql.files.maxPartitionBytes`` bounds scan partitions; Arrow batch
size bounds per-UDF-call memory (batch_rows x avg_payload must fit the
executor).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..hashing import splitmix64

MULTIMODAL_SCHEMA = (
    "item_id long, modality string, data binary, width int, height int, "
    "channels int, n_frames int, source string"
)

_HDR_FMT = "<III"  # height, width, channels
_HDR_SIZE = struct.calcsize(_HDR_FMT)


def synth_multimodal(spark: SparkSession, n_rows: int = 200,
                     num_partitions: int | None = None) -> DataFrame:
    """Deterministic fake multimodal table: 'image' rows carry one PBM1
    frame, 'video' rows carry n_frames concatenated frames."""

    def _gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                u = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                modality = ("image", "video", "audio")[u % 3]
                h, w, c = 8 + u % 8, 8 + (u >> 4) % 8, 1 + (u >> 8) % 3
                n_frames = 1 if modality != "video" else 2 + (u >> 12) % 3
                frame_px = h * w * c
                payload = (
                    splitmix64(
                        (np.arange(frame_px * n_frames, dtype=np.uint64)
                         + np.uint64(i * 1_000_003))
                    ) & np.uint64(0xFF)
                ).astype(np.uint8).tobytes()
                data = struct.pack(_HDR_FMT, h, w, c) + payload
                rows.append((int(i), modality, data, w, h, c, n_frames,
                             f"src{u % 4}"))
            yield pd.DataFrame(rows, columns=[
                "item_id", "modality", "data", "width", "height",
                "channels", "n_frames", "source"])

    return spark.range(0, n_rows, numPartitions=num_partitions).mapInPandas(
        _gen, schema=MULTIMODAL_SCHEMA
    )


def _decode_fake(blob: bytes) -> np.ndarray:
    h, w, c = struct.unpack_from(_HDR_FMT, blob, 0)
    n_px = h * w * c
    frames = np.frombuffer(blob, dtype=np.uint8, offset=_HDR_SIZE)
    return frames.reshape(-1, h, w, c)  # (n_frames, h, w, c)


# ---------------------------------------------------------------- netpbm
# Binary netpbm is the one standard raster format decodable with stdlib +
# numpy alone: "P6\n<w> <h>\n<maxval>\n" + raw RGB (P5 = grayscale). Spec:
# https://netpbm.sourceforge.net/doc/ppm.html (public).

def encode_netpbm(frame: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> P6 bytes; (h, w) or (h, w, 1) uint8 -> P5 bytes."""
    frame = np.asarray(frame, dtype=np.uint8)
    if frame.ndim == 3 and frame.shape[2] == 1:
        frame = frame[:, :, 0]
    if frame.ndim == 3:
        if frame.shape[2] != 3:
            raise ValueError("P6 needs 3 channels")
        magic = b"P6"
    elif frame.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError("expected (h, w[, c]) uint8 image")
    h, w = frame.shape[:2]
    return b"%s\n%d %d\n255\n" % (magic, w, h) + frame.tobytes()


def decode_netpbm(blob: bytes) -> np.ndarray:
    """P6/P5 bytes -> (h, w, 3) or (h, w, 1) uint8. Handles whitespace runs
    and '#' comments in the header per the netpbm spec."""
    if blob[:2] not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: {blob[:2]!r}")
    channels = 3 if blob[:2] == b"P6" else 1
    tokens, pos = [], 2
    while len(tokens) < 3:
        while blob[pos:pos + 1].isspace():
            pos += 1
        if blob[pos:pos + 1] == b"#":  # comment runs to end of line
            pos = blob.index(b"\n", pos) + 1
            continue
        end = pos
        while not blob[end:end + 1].isspace():
            end += 1
        tokens.append(int(blob[pos:end]))
        pos = end
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError("only 8-bit netpbm supported")
    pos += 1  # exactly one whitespace byte after maxval, then raster
    px = np.frombuffer(blob, dtype=np.uint8, offset=pos,
                       count=h * w * channels)
    return px.reshape(h, w, channels)


def synth_netpbm_images(spark: SparkSession, n_rows: int = 200,
                        num_partitions: int | None = None) -> DataFrame:
    """Deterministic table of REAL P6 images (noise pixels from splitmix64),
    same schema as ``synth_multimodal`` with modality='image', n_frames=1."""

    def _gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                u = int(splitmix64(np.array([i], dtype=np.uint64))[0])
                h, w = 8 + u % 8, 8 + (u >> 4) % 8
                px = (
                    splitmix64(np.arange(h * w * 3, dtype=np.uint64)
                               + np.uint64(i * 2_000_003))
                    & np.uint64(0xFF)
                ).astype(np.uint8).reshape(h, w, 3)
                rows.append((int(i), "image", encode_netpbm(px), w, h, 3, 1,
                             f"src{u % 4}"))
            yield pd.DataFrame(rows, columns=[
                "item_id", "modality", "data", "width", "height",
                "channels", "n_frames", "source"])

    return spark.range(0, n_rows, numPartitions=num_partitions).mapInPandas(
        _gen, schema=MULTIMODAL_SCHEMA
    )


def decode_image(df: DataFrame, data_col: str = "data",
                 codec: str = "fake") -> DataFrame:
    """Adds decoded stats columns. codec: 'fake' (PBM1 container), 'ppm'
    (real binary netpbm), 'real' (unimplemented compressed-codec seam)."""
    if codec == "real":
        raise NotImplementedError(
            "compressed image decoding (JPEG/PNG) requires PIL/libvips, not "
            "present in this environment; uncompressed standard rasters are "
            "supported via codec='ppm'"
        )
    decode = _decode_fake if codec == "fake" \
        else (lambda blob: decode_netpbm(blob)[None, :, :, :])

    def _stats(batches):
        for pdf in batches:
            outs = []
            for blob in pdf[data_col]:
                arr = decode(bytes(blob))
                outs.append((float(arr.mean()), float(arr.std()), int(arr.shape[0])))
            res = pdf[["item_id"]].copy()
            res[["px_mean", "px_std", "decoded_frames"]] = outs
            yield res

    return (
        df.select("item_id", data_col)
        .mapInPandas(_stats, "item_id long, px_mean double, px_std double, "
                             "decoded_frames int")
        .join(df.drop(data_col), "item_id")
    )


# ------------------------------------------------------------------- WAV
# RIFF/WAVE PCM is the audio twin of binary netpbm: a standard container
# decodable with stdlib + numpy alone (chunk-walked per the public RIFF
# spec: "RIFF" <size> "WAVE" then "fmt "/"data" chunks; 16-bit little-
# endian PCM). This makes the AUDIO modality real end-to-end — synthesis,
# byte-level codec, and feature extraction — with compressed codecs (mp3,
# aac) remaining the documented NotImplementedError seam.

def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(n,) int16 mono PCM -> RIFF/WAVE bytes."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes -> ((n,) int16 mono samples, sample_rate). Walks the
    chunk list (tolerating extra chunks like LIST/INFO); only uncompressed
    16-bit mono PCM is supported — anything else raises."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos:pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        body = blob[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, n_ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or n_ch != 1 or bits != 16:
                raise ValueError(
                    "only uncompressed 16-bit mono PCM supported "
                    f"(fmt={audio_fmt}, channels={n_ch}, bits={bits})")
        elif cid == b"data":
            if len(body) != size:
                raise ValueError("truncated WAV data chunk")
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return samples, int(rate)


def synth_wav_audio(spark: SparkSession, n_rows: int = 200,
                    num_partitions: int | None = None) -> DataFrame:
    """Deterministic table of REAL WAV clips: row i carries a square wave
    with rate/length/amplitude/period pure functions of i — every feature
    the decoder extracts is therefore reproducible in SQL from the id alone
    (the synthesized-input gate pattern).

    Square wave (not sine) on purpose: samples are EXACTLY ±amp, so peak,
    mean-square, and zero-crossing counts are integers with closed forms."""

    def _gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rate = 8000 + (i % 3) * 4000
                n = 800 + (i % 5) * 80
                amp = 1000 + (i % 7) * 500
                period = 2 + (i % 4)
                j = np.arange(n)
                s = np.where((j // period) % 2 == 0, amp, -amp).astype(np.int16)
                rows.append((i, encode_wav(s, rate), rate, n))
            yield pd.DataFrame(rows, columns=["item_id", "data",
                                              "sample_rate", "n_samples"])

    return spark.range(0, n_rows, numPartitions=num_partitions).mapInPandas(
        _gen, schema="item_id long, data binary, sample_rate int, n_samples int"
    )


def audio_features(df: DataFrame, data_col: str = "data") -> DataFrame:
    """(item_id, n_samples, sample_rate, duration_ms, peak, mean_square,
    zero_crossings): decode each clip and extract the integer audio quality
    signals a curation pipeline filters on (clipping via peak, silence via
    mean_square, tonality proxy via crossing rate). duration_ms uses
    integral div; mean_square is the exact integer mean of sample squares
    times n (i.e. the raw energy sum) to stay division-free."""

    def _feat(pdfs):
        for pdf in pdfs:
            out = []
            for item_id, blob in zip(pdf["item_id"], pdf[data_col]):
                s, rate = decode_wav(bytes(blob))
                s64 = s.astype(np.int64)
                out.append((
                    int(item_id), len(s), rate,
                    len(s) * 1000 // rate,
                    int(np.abs(s64).max()) if len(s) else 0,
                    int((s64 * s64).sum()),
                    int(np.count_nonzero(np.signbit(s64[1:])
                                         != np.signbit(s64[:-1]))),
                ))
            yield pd.DataFrame(out, columns=[
                "item_id", "n_samples", "sample_rate", "duration_ms",
                "peak", "energy", "zero_crossings"])

    return df.select("item_id", data_col).mapInPandas(
        _feat, "item_id long, n_samples int, sample_rate int, "
               "duration_ms long, peak int, energy long, zero_crossings int")
