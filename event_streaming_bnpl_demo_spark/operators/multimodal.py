"""Multimodal column support: image/audio/video as opaque ``binary``
payloads with typed metadata, processed through Arrow-batched
``mapInPandas``. All three binary modalities are REAL codec paths —
audio (WAV/PCM16 via stdlib ``wave``), image (binary PPM, pure bytes +
numpy), and video (Y4M/YUV4MPEG2, luma-plane frames demuxed from actual
container bytes) — encode, decode, feature-extract, resample/resize,
and frame-sample all operate on actual container bytes. An MP4/H.264
demux genuinely cannot be done with the libraries in this container;
Y4M is the uncompressed video container the format family (mplayer /
ffmpeg rawvideo interchange) defines for exactly this situation.

Scale notes: payloads ride in parquet as binary columns; metadata
columns (byte_len, sha256, modality) let filters prune *without*
touching payload bytes (column pruning keeps the scan cheap);
``mapInPandas`` streams Arrow batches so a 100 MB image batch never
materializes as Python objects row-by-row. Partition by modality +
size-band for balanced decode tasks.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: Canonical multimodal table schema: one row per asset.
MEDIA_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),   # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("byte_len", T.LongType(), True),
    T.StructField("sha256", T.StringType(), True),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame", T.BinaryType(), True),
    T.StructField("frame_len", T.LongType(), True),
])


def sample_frames(media: DataFrame, every_n: int = 2,
                  max_frames: int = 8) -> DataFrame:
    """Frame sampling (video → every Nth frame) via mapInPandas, one
    OUTPUT ROW PER FRAME — the row-expanding UDF shape. ``video``
    payloads are REALLY demuxed: the Y4M container is parsed, every
    ``every_n``-th frame's luma plane is extracted and re-encoded as a
    standalone, decodable PGM (P5) image — video frames become image
    rows, the cross-modality hand-off a real pipeline needs. Other
    modalities have no frame notion and emit no rows. Scale: expansion
    happens inside the Arrow batch, and ``max_frames`` bounds the
    fan-out so a pathological asset cannot blow up a task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for asset_id, payload, modality in zip(
                    pdf["asset_id"], pdf["payload"], pdf["modality"]):
                if modality != "video":
                    continue
                _, _, _, planes = _decode_y4m(bytes(payload))
                for i in range(0, min(len(planes),
                                      max_frames * every_n), every_n):
                    ids.append(asset_id)
                    idxs.append(i)
                    frames.append(_encode_pgm(planes[i]))
            yield pd.DataFrame({
                "asset_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame": frames,
                "frame_len": pd.Series([len(f) for f in frames],
                                       dtype="int64"),
            })

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------------
# Audio tier — REAL codec path (not a stub): WAV/PCM encode + decode via
# the stdlib ``wave`` module, sample math via numpy. Image (PPM, below)
# and video (Y4M, below) have their own real codec tiers too; only
# formats whose codec libraries genuinely do not exist in this container
# (JPEG/MP4/...) raise NotImplementedError honestly.
# --------------------------------------------------------------------------

AUDIO_SR = 8000          #: synth sample rate (Hz)
AUDIO_PERIOD = 8         #: square-wave period in samples (4 high, 4 low)

AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("sr", T.IntegerType(), False),
    T.StructField("n_channels", T.IntegerType(), False),
    T.StructField("n_samples", T.LongType(), False),
    T.StructField("duration_ms", T.LongType(), False),
    T.StructField("rms", T.DoubleType(), False),
    T.StructField("peak", T.IntegerType(), False),
    T.StructField("zero_crossings", T.LongType(), False),
])


def _encode_wav(samples, sr: int = AUDIO_SR) -> bytes:
    """PCM16 mono WAV encode (stdlib ``wave`` writes the RIFF header)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _decode_wav(payload: bytes):
    """WAV decode -> (sample_rate, n_channels, int16 sample array).
    Real parse of the RIFF/WAVE container — a corrupt header raises."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        nch = w.getnchannels()
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 supported")
        frames = w.readframes(w.getnframes())
    return sr, nch, np.frombuffer(frames, dtype="<i2")


def synth_audio_media(docs: DataFrame) -> DataFrame:
    """Deterministic audio corpus: one PCM16 WAV per document, a square
    wave whose amplitude/length derive from ``doc_id`` alone — so every
    decoded feature has a closed-form value an external oracle can
    compute without touching the bytes (amplitude A = 1000 + id % 9000,
    n_samples = 160 + (id % 64) * 16, period 8 → RMS = A exactly,
    zero-crossings = n/4 - 1).

    Scale: encode runs inside Arrow batches (mapInPandas); payloads are
    a few KB each and never leave the executor as Python rows.
    """
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                amp = 1000 + int(doc_id) % 9000
                n = 160 + (int(doc_id) % 64) * 16
                half = AUDIO_PERIOD // 2
                cycle = np.concatenate([np.full(half, amp, dtype=np.int16),
                                        np.full(half, -amp, dtype=np.int16)])
                samples = np.tile(cycle, n // AUDIO_PERIOD)
                payloads.append(_encode_wav(samples))
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                "modality": "audio",
                "payload": payloads,
                "byte_len": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode WAV payloads and measure them: duration, RMS, peak,
    zero-crossing count — the audio analog of image feature
    extraction, computed from the DECODED samples (the container header
    contributes only sr/channels; every statistic is sample math)."""
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "sr", "n_channels",
                                    "n_samples", "duration_ms", "rms",
                                    "peak", "zero_crossings")}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                sr, nch, s = _decode_wav(bytes(payload))
                x = s.astype(np.float64)
                rows["asset_id"].append(asset_id)
                rows["sr"].append(sr)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(len(s))
                rows["duration_ms"].append(len(s) * 1000 // sr)
                rows["rms"].append(float(np.sqrt(np.mean(np.square(x)))))
                rows["peak"].append(int(np.max(np.abs(s))))
                rows["zero_crossings"].append(
                    int(np.count_nonzero(np.diff(np.signbit(s)))))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


def resample_audio(media: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-factor decimation resample: decode, take every Nth
    sample, re-encode at sr/N — a real (if basic) DSP pass producing a
    valid, re-decodable WAV. Output keeps MEDIA_SCHEMA so resample and
    feature passes compose."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                sr, _, s = _decode_wav(bytes(payload))
                payloads.append(_encode_wav(s[::factor], sr=sr // factor))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "payload": payloads,
                "byte_len": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Image tier — REAL codec path (not a stub): binary PPM (P6) encode +
# decode in pure bytes + numpy, mirroring the WAV approach above. PPM is
# a complete, real-world raster container (netpbm family) whose byte
# layout — ASCII header, then height×width×3 raw RGB bytes — needs no
# codec library, so the image decode / feature-extract / resize
# operators run end-to-end on real bytes. (Video gets the same
# treatment below via the uncompressed Y4M container.)
# --------------------------------------------------------------------------

IMAGE_FEATURE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("n_pixels", T.LongType(), False),
    T.StructField("mean_r", T.DoubleType(), False),
    T.StructField("mean_g", T.DoubleType(), False),
    T.StructField("mean_b", T.DoubleType(), False),
    T.StructField("max_px", T.IntegerType(), False),
])

#: checkerboard levels for the synthetic red channel: even W×H grids
#: hold exactly half of each, so mean_r is exactly (HI+LO)/2.
_IMG_HI, _IMG_LO = 200, 100


def _encode_ppm(arr) -> bytes:
    """Binary PPM (P6) encode: ASCII header + raw RGB24 bytes."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def _decode_ppm(payload: bytes):
    """PPM (P6) decode -> (width, height, uint8 array [H, W, 3]).
    Real parse of the netpbm container — corrupt bytes raise."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated
    # ASCII tokens; pixel data starts after the single whitespace byte
    # following maxval
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    pixels = payload[pos + 1:]
    if len(pixels) != w * h * 3:
        raise ValueError(
            f"pixel payload {len(pixels)} B != {w}x{h}x3")
    import numpy as np
    return w, h, np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)


def synth_image_media(docs: DataFrame) -> DataFrame:
    """Deterministic image corpus: one RGB PPM per document whose
    geometry/colors derive from ``doc_id`` alone, so every decoded
    statistic has a closed-form value an external oracle can compute
    without touching the bytes:

    - W = 8 + (doc_id % 29) * 2, H = 6 + (doc_id % 13) * 2 (both even)
    - R channel: checkerboard HI/LO on (x+y) parity — even dims hold
      exactly half of each, so mean_r = (HI+LO)/2 = 150 exactly
    - G channel: solid (doc_id * 7) % 256 — mean_g = that value
    - B channel: horizontal ramp B(x) = 2x (W ≤ 64 so no wrap) —
      mean_b = W - 1 exactly (sum 2x over x = W(W-1))

    Scale: encode runs inside Arrow batches (mapInPandas); payloads are
    a few KB each and never leave the executor as Python rows.
    """
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 + (d % 29) * 2
                h = 6 + (d % 13) * 2
                y, x = np.mgrid[0:h, 0:w]
                arr = np.empty((h, w, 3), dtype=np.uint8)
                arr[..., 0] = np.where((x + y) % 2 == 0, _IMG_HI, _IMG_LO)
                arr[..., 1] = (d * 7) % 256
                arr[..., 2] = 2 * x
                payloads.append(_encode_ppm(arr))
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                "modality": "image",
                "payload": payloads,
                "byte_len": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)


def image_features(media: DataFrame) -> DataFrame:
    """Decode PPM payloads and measure them: dimensions and per-channel
    means — computed from the DECODED pixel array, not the header (the
    header contributes only W/H; every statistic is pixel math).

    The per-channel means of the synthetic corpus are exact integers
    (see synth_image_media), so the double-typed outputs are
    bit-reproducible across engines — no float-tolerance needed."""
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "width", "height",
                                    "n_pixels", "mean_r", "mean_g",
                                    "mean_b", "max_px")}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                w, h, arr = _decode_ppm(bytes(payload))
                x = arr.astype(np.float64)
                rows["asset_id"].append(asset_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["mean_r"].append(float(x[..., 0].mean()))
                rows["mean_g"].append(float(x[..., 1].mean()))
                rows["mean_b"].append(float(x[..., 2].mean()))
                rows["max_px"].append(int(arr.max()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def resize_image(media: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-factor nearest-neighbor downsample: decode, gather every
    ``factor``-th pixel in each dimension, re-encode a valid,
    re-decodable PPM. Output keeps MEDIA_SCHEMA so resize and feature
    passes compose (exactly like resample_audio)."""

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                w, h, arr = _decode_ppm(bytes(payload))
                payloads.append(_encode_ppm(arr[::factor, ::factor]))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "payload": payloads,
                "byte_len": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Video tier — REAL codec path (not a stub): Y4M (YUV4MPEG2) container
# encode + demux in pure bytes + numpy, completing the WAV / PPM family.
# Y4M is the uncompressed-video interchange format of the mplayer/ffmpeg
# ecosystem: an ASCII stream header (`YUV4MPEG2 W.. H.. F..:.. ... Cmono`)
# followed by `FRAME\n`-delimited raw plane bytes — a real container whose
# byte layout needs no codec library. `Cmono` (luma-only, one H×W plane
# per frame) is part of the Y4M spec and keeps plane math exact. An
# MP4/H.264 demux genuinely cannot be done stdlib-only; Y4M is precisely
# the format that family defines for raw interchange.
# --------------------------------------------------------------------------

VIDEO_FPS = 25           #: synth frame rate (F25:1 header)

VIDEO_FEATURE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("fps", T.IntegerType(), False),
    T.StructField("duration_ms", T.LongType(), False),
    T.StructField("mean_y", T.DoubleType(), False),
    T.StructField("motion", T.DoubleType(), False),
    T.StructField("max_y", T.IntegerType(), False),
])


def _encode_y4m(frames, fps: int = VIDEO_FPS) -> bytes:
    """Y4M (YUV4MPEG2, Cmono) encode: stream header + per-frame
    ``FRAME\\n`` marker + raw H×W luma plane bytes."""
    n, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    out = [b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 Cmono\n" % (w, h, fps)]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(frames[i].astype("uint8").tobytes())
    return b"".join(out)


def _decode_y4m(payload: bytes):
    """Y4M demux -> (width, height, fps, uint8 frames [N, H, W]).
    Real parse of the YUV4MPEG2 container — corrupt bytes raise."""
    import numpy as np

    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = fps = None
    colorspace = "C420jpeg"          # Y4M default when no C tag present
    for token in payload[:nl].split(b" ")[1:]:
        if token.startswith(b"W"):
            w = int(token[1:])
        elif token.startswith(b"H"):
            h = int(token[1:])
        elif token.startswith(b"F"):
            num, den = token[1:].split(b":")
            fps = int(num) // int(den)
        elif token.startswith(b"C"):
            colorspace = token.decode("ascii")
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if colorspace != "Cmono":
        raise NotImplementedError(f"only Cmono supported, got {colorspace}")
    plane = w * h
    frames, pos = [], nl + 1
    while pos < len(payload):
        marker_end = payload.find(b"\n", pos)
        if marker_end < 0 or not payload[pos:marker_end].startswith(b"FRAME"):
            raise ValueError("corrupt FRAME marker")
        start = marker_end + 1
        data = payload[start:start + plane]
        if len(data) != plane:
            raise ValueError(f"truncated frame: {len(data)} B != {plane}")
        frames.append(np.frombuffer(data, dtype=np.uint8).reshape(h, w))
        pos = start + plane
    if not frames:
        raise ValueError("Y4M stream with zero frames")
    return w, h, fps, np.stack(frames)


def _encode_pgm(plane) -> bytes:
    """Binary PGM (P5) encode — the grayscale sibling of PPM, used to
    hand a demuxed video frame off as a standalone decodable image."""
    h, w = plane.shape[0], plane.shape[1]
    return b"P5\n%d %d\n255\n" % (w, h) + plane.astype("uint8").tobytes()


def _decode_pgm(payload: bytes):
    """PGM (P5) decode -> (width, height, uint8 array [H, W])."""
    import numpy as np

    if not payload.startswith(b"P5"):
        raise ValueError("not a P5 PGM payload")
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PGM header")
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    pixels = payload[pos + 1:]
    if len(pixels) != w * h:
        raise ValueError(f"pixel payload {len(pixels)} B != {w}x{h}")
    return w, h, np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)


def synth_video_media(docs: DataFrame) -> DataFrame:
    """Deterministic video corpus: one Cmono Y4M per document whose
    geometry/luma derive from ``doc_id`` alone, so every demuxed
    statistic has a closed-form value an external oracle can compute
    without touching the bytes:

    - W = 8 + (doc_id % 17) * 2, H = 6 + (doc_id % 11) * 2
    - n_frames = 2 + doc_id % 7, step = 4 + (doc_id % 5) * 4
    - frame f: horizontal luma ramp Y(x) = base + f*step + x with
      base = (doc_id * 13) % 64 — max value 63 + 7*20 + 39 = 242 < 256,
      so no wraparound anywhere:
      - mean_y  = base + step*(n_frames-1)/2 + (W-1)/2 exactly
      - motion  = mean |frame_{f+1} - frame_f| = step exactly
      - max_y   = base + step*(n_frames-1) + W - 1 exactly

    Scale: encode runs inside Arrow batches (mapInPandas); payloads are
    a few KB each and never leave the executor as Python rows.
    """
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 + (d % 17) * 2
                h = 6 + (d % 11) * 2
                n = 2 + d % 7
                step = 4 + (d % 5) * 4
                base = (d * 13) % 64
                ramp = np.arange(w, dtype=np.int32)
                frames = (base + step * np.arange(n, dtype=np.int32)
                          [:, None, None]
                          + np.broadcast_to(ramp, (h, w))[None, :, :])
                payloads.append(_encode_y4m(frames.astype(np.uint8)))
            yield pd.DataFrame({
                "asset_id": pdf["doc_id"],
                "modality": "video",
                "payload": payloads,
                "byte_len": [len(p) for p in payloads],
                "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return docs.select("doc_id").mapInPandas(run, schema=MEDIA_SCHEMA)


def _frame_motion(frames) -> float:
    """Mean absolute luma delta between consecutive frames — the
    classic cheap motion statistic; 0.0 for single-frame streams."""
    import numpy as np

    if frames.shape[0] < 2:
        return 0.0
    a = frames.astype(np.int32)
    return float(np.abs(a[1:] - a[:-1]).mean())


def video_features(media: DataFrame) -> DataFrame:
    """Demux Y4M payloads and measure them: geometry, duration, mean
    luma, inter-frame motion — computed from the DEMUXED planes (the
    container header contributes only W/H/fps; every statistic is
    pixel math across frames)."""
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "width", "height",
                                    "n_frames", "fps", "duration_ms",
                                    "mean_y", "motion", "max_y")}
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                w, h, fps, frames = _decode_y4m(bytes(payload))
                rows["asset_id"].append(asset_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(frames.shape[0])
                rows["fps"].append(fps)
                rows["duration_ms"].append(frames.shape[0] * 1000 // fps)
                rows["mean_y"].append(float(frames.astype(np.float64).mean()))
                rows["motion"].append(_frame_motion(frames))
                rows["max_y"].append(int(frames.max()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=VIDEO_FEATURE_SCHEMA)


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_w", T.IntegerType(), False),
    T.StructField("frame_mean", T.DoubleType(), False),
])


def frame_luma_stats(frames: DataFrame) -> DataFrame:
    """Decode sampled PGM frames (the output of :func:`sample_frames`
    on video assets) back into per-frame statistics — proof the
    cross-modality hand-off produced genuinely decodable images."""
    import numpy as np

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "frame_idx", "frame_w",
                                    "frame_mean")}
            for asset_id, idx, frame in zip(
                    pdf["asset_id"], pdf["frame_idx"], pdf["frame"]):
                w, _, plane = _decode_pgm(bytes(frame))
                rows["asset_id"].append(asset_id)
                rows["frame_idx"].append(idx)
                rows["frame_w"].append(w)
                rows["frame_mean"].append(
                    float(plane.astype(np.float64).mean()))
            yield pd.DataFrame(rows)

    return frames.mapInPandas(run, schema=FRAME_STATS_SCHEMA)
