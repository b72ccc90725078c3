"""Multimodal columns (BASELINE north-star 'multimodal columns').

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed with Arrow-batched pandas UDFs over ``mapInPandas``.
The Spark-side plumbing (schema, partitioning, UDF signature, batch
shape) is real and tested, and so are FIVE codecs — all pure
stdlib + numpy (no PIL/ffmpeg in this container): 24-bit BMP (r5),
16-bit PCM WAV (r5), filtered+zlib PNG (r6), baseline + progressive
JPEG (r7/r8, habits_etl_spark/multimodal/jpeg.py), and MJPEG-in-AVI
video (r8, habits_etl_spark/multimodal/avi.py) — so every media kind
flows ACTUAL pixel/sample/frame data through the decode, feature and
frame-sampling stages; no stub path remains. A payload no codec
accepts reports zeros/hash-derived stand-ins rather than fabricated
geometry.

At 100 TB the shape that matters:
- media bytes never pass through Python row-at-a-time — Arrow batches only;
- decode/feature stages are ``mapInPandas`` (pure map; scales with input
  splits, no shuffle);
- metadata filters (kind, size) are ordinary columns, pushed down to the
  scan before any Python runs.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.multimodal.avi import (  # noqa: F401
    decode_mjpeg_avi,
    encode_mjpeg_avi,
    iter_chunks,
)
from habits_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg  # noqa: F401

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "duration_ms long, codec string, checksum string"
)

FEATURE_DIM = 16
FEATURE_SCHEMA = "media_id long, feature array<float>"


def synthetic_media(spark: SparkSession, n: int = 100) -> DataFrame:
    """Deterministic fake media table: payload = repeated md5 bytes keyed by
    media_id, with a 16-byte header encoding fake dimensions."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.to_binary(
            F.concat(
                F.lpad(F.hex((F.col("id") * 7) % 256), 8, "0"),      # "width" byte
                F.lpad(F.hex((F.col("id") * 13) % 256), 8, "0"),     # "height" byte
                F.repeat(F.md5(F.col("id").cast("string")), 4),
            ),
            F.lit("hex"),
        ).alias("content"),
    ).withColumn("n_bytes", F.length("content").cast("long")).withColumn(
        "mime",
        F.concat(F.col("kind"), F.lit("/x-fake")),
    )


# --- real codec: 24-bit uncompressed BMP (pure stdlib + numpy) ---------------


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> Windows BMP (BITMAPINFOHEADER, 24bpp, BI_RGB,
    bottom-up rows, 4-byte row padding). Used by tests and the
    synthetic-media generator so decode exercises real pixel data."""
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) // 4 * 4
    img_size = row_size * h
    off = 14 + 40
    file_hdr = b"BM" + struct.pack("<IHHI", off + img_size, 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (row_size - w * 3)
    rows = [
        arr[y, :, ::-1].tobytes() + pad  # RGB -> BGR, bottom-up
        for y in range(h - 1, -1, -1)
    ]
    return file_hdr + info_hdr + b"".join(rows)


def decode_bmp(data: bytes) -> np.ndarray | None:
    """24bpp BI_RGB BMP -> HxWx3 uint8 RGB array (top row first), or
    None if the payload is not a BMP this parser supports (other
    depths/compressions would be the PIL path in a full container).
    Handles both bottom-up (positive height) and top-down layouts."""
    if len(data) < 54 or data[:2] != b"BM":
        return None
    off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        return None
    w, h_signed = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h_signed == 0:
        return None
    h = abs(h_signed)
    row_size = (w * 3 + 3) // 4 * 4
    if off + row_size * h > len(data):
        return None
    raw = np.frombuffer(data, np.uint8, row_size * h, off)
    arr = raw.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    if h_signed > 0:  # bottom-up: flip to top-row-first
        arr = arr[::-1]
    return np.ascontiguousarray(arr)


def bmp_pixel_feature(arr: np.ndarray) -> list[float]:
    """{FEATURE_DIM}-dim feature from REAL pixels: normalized dims,
    per-channel means, grayscale std, and a 10-bin grayscale histogram
    — deterministic, and exactly what a real embedding model would
    replace."""
    h, w = arr.shape[:2]
    chans = arr.reshape(-1, 3).astype(np.float64)
    gray = chans @ np.array([0.299, 0.587, 0.114])
    hist = np.histogram(gray, bins=10, range=(0.0, 256.0))[0] / gray.shape[0]
    head = [
        w / 1024.0,
        h / 1024.0,
        float(chans[:, 0].mean()) / 255.0,
        float(chans[:, 1].mean()) / 255.0,
        float(chans[:, 2].mean()) / 255.0,
        float(gray.std()) / 255.0,
    ]
    return [float(x) for x in head + hist.tolist()]


def _gen_pixels(media_id: int) -> np.ndarray:
    """Deterministic gradient image for media_id (the synthetic 'real
    pixels' source: size and channel ramps all derive from the id)."""
    w = 8 + media_id % 9
    h = 5 + media_id % 7
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 31 + media_id) % 256
    g = (yy * 57 + 2 * media_id) % 256
    b = (xx + yy + 3 * media_id) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _gen_bmp(media_id: int) -> bytes:
    return encode_bmp(_gen_pixels(media_id))


def _image_container(media_id: int) -> int:
    """Deterministic container rotation for image-kind payloads. Image
    ids arrive as every-third media_id (kind = id % 3), so rotate on
    id // 3: 0 -> BMP, 1 -> PNG, 2 -> baseline JPEG, 3 -> progressive
    JPEG (SOF2, spectral selection + successive approximation)."""
    return (media_id // 3) % 4


def _gen_image(media_id: int) -> bytes:
    c = _image_container(media_id)
    if c == 0:
        return _gen_bmp(media_id)
    if c == 1:
        return _gen_png(media_id)
    if c == 2:
        return _gen_jpeg(media_id)
    return encode_jpeg(_gen_pixels(media_id), 90, progressive=True)


def _image_mime(media_id: int) -> str:
    return ("image/bmp", "image/png", "image/jpeg", "image/jpeg")[
        _image_container(media_id)
    ]


def with_real_images(df: DataFrame) -> DataFrame:
    """Replace image-kind payloads with real generated images — the
    container rotates per image (BMP / filtered+zlib PNG / baseline
    JPEG / progressive JPEG, see _image_container) over the SAME
    deterministic pixel field (_gen_pixels) — Arrow-batched, so the
    synthetic table carries genuinely decodable pixels through every
    real image decode path, including multi-scan SOF2."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            is_img = pdf["kind"] == "image"
            if is_img.any():
                content = pdf["content"].copy()
                content[is_img] = pdf.loc[is_img, "media_id"].map(
                    lambda m: _gen_image(int(m))
                )
                mime = pdf.loc[is_img, "media_id"].map(
                    lambda m: _image_mime(int(m))
                )
                pdf = pdf.assign(
                    content=content,
                    n_bytes=content.map(len).astype("int64"),
                    mime=pdf["mime"].mask(is_img, mime),
                )
            yield pdf

    return df.mapInPandas(batches, df.schema)


# --- real codec: PNG (pure stdlib zlib + numpy) ------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int | None = None) -> bytes:
    """uint8 image -> PNG bytes. Accepts (h, w) grayscale, (h, w, 3) RGB
    or (h, w, 4) RGBA (color types 0 / 2 / 6, bit depth 8, no
    interlace). ``filter_type`` pins one scanline filter 0-4; None
    cycles ``row % 5`` so a round-trip exercises every filter's
    reconstruction path (Sub/Up/Average/Paeth included). Used by tests
    and the synthetic-media generator so decode sees real zlib-
    compressed, filtered scanlines."""
    import zlib

    if arr.ndim == 2:
        arr = arr[..., None]
    h, w, ch = arr.shape
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    a = arr.astype(np.int64)  # filter math is mod-256 on ints
    raw = bytearray()
    prev = np.zeros((w, ch), dtype=np.int64)
    for y in range(h):
        row = a[y]
        ft = (y % 5) if filter_type is None else filter_type
        left = np.vstack([np.zeros((1, ch), dtype=np.int64), row[:-1]])
        upleft = np.vstack([np.zeros((1, ch), dtype=np.int64), prev[:-1]])
        if ft == 0:
            out = row
        elif ft == 1:
            out = row - left
        elif ft == 2:
            out = row - prev
        elif ft == 3:
            out = row - (left + prev) // 2
        else:  # Paeth
            out = row - _paeth(left, prev, upleft)
        raw.append(ft)
        raw += (out % 256).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, upleft: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (RFC 2083 §6.6)."""
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))


def decode_png(data: bytes) -> np.ndarray | None:
    """PNG -> HxWx3 uint8 RGB array, or None if the payload is not a PNG
    this parser supports. Pure-stdlib: zlib inflate + the five scanline
    filters reconstructed per RFC 2083. Supported: bit depth 8, color
    types 0 (gray, replicated to RGB), 2 (RGB) and 6 (RGBA, alpha
    dropped), no interlace, any number of IDAT chunks; chunk CRCs are
    verified so corrupt payloads are rejected rather than mis-parsed.
    Palette/16-bit/interlaced files return None (the PIL path in a full
    container)."""
    import zlib

    if len(data) < len(_PNG_SIG) + 25 or data[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    pos = len(_PNG_SIG)
    w = h = 0
    channels = 0
    idat = bytearray()
    saw_ihdr = False
    while pos + 12 <= len(data):
        (size,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + size]
        # bound BEFORE the CRC read: a corrupt size can leave the body
        # intact but truncate the 4 CRC bytes (found by mutation fuzzing
        # — struct.error escaped the None contract)
        if len(body) != size or pos + 12 + size > len(data):
            return None
        (crc,) = struct.unpack_from(">I", data, pos + 8 + size)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            return None
        if ctype == b"IHDR":
            if len(body) != 13:
                return None
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                depth != 8
                or color_type not in (0, 2, 6)
                or comp != 0
                or filt != 0
                or interlace != 0
                or w <= 0
                or h <= 0
            ):
                return None
            channels = {0: 1, 2: 3, 6: 4}[color_type]
            saw_ihdr = True
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if not saw_ihdr or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    lines = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, w, channels), dtype=np.int64)
    zero_row = np.zeros((w, channels), dtype=np.int64)
    for y in range(h):
        ft = lines[y, 0]
        cur = lines[y, 1:].reshape(w, channels).astype(np.int64)
        prev = out[y - 1] if y > 0 else zero_row
        if ft == 0:
            row = cur
        elif ft == 1:
            row = cur.copy()
            for x in range(1, w):  # sequential: depends on reconstructed left
                row[x] = (row[x] + row[x - 1]) % 256
        elif ft == 2:
            row = (cur + prev) % 256
        elif ft == 3:
            row = cur.copy()
            row[0] = (row[0] + prev[0] // 2) % 256
            for x in range(1, w):
                row[x] = (row[x] + (row[x - 1] + prev[x]) // 2) % 256
        elif ft == 4:
            row = cur.copy()
            row[0] = (row[0] + _paeth(zero_row[:1], prev[:1], zero_row[:1])[0]) % 256
            for x in range(1, w):
                row[x] = (
                    row[x]
                    + _paeth(row[x - 1 : x], prev[x : x + 1], prev[x - 1 : x])[0]
                ) % 256
        else:
            return None
        out[y] = row
    rgb = out.astype(np.uint8)
    if channels == 1:
        rgb = rgb.repeat(3, axis=-1)
    elif channels == 4:
        rgb = rgb[:, :, :3]
    return np.ascontiguousarray(rgb)


def _gen_png(media_id: int) -> bytes:
    """Deterministic gradient image for media_id as a PNG — the same
    pixel field as _gen_bmp (via _gen_pixels), filters cycling per
    scanline, so PNG-rotation image payloads flow real compressed PNG
    data."""
    return encode_png(_gen_pixels(media_id))


def _gen_jpeg(media_id: int) -> bytes:
    """Deterministic gradient image for media_id as a baseline JPEG —
    the same pixel field as _gen_bmp/_gen_png (via _gen_pixels), DCT
    quantized at quality 90, so JPEG-rotation image payloads flow real
    entropy-coded DCT data (lossy: dims exact, pixels approximate)."""
    return encode_jpeg(_gen_pixels(media_id), quality=90)


# --- real codec: 16-bit PCM WAV / RIFF (pure stdlib + numpy) -----------------


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """int16 PCM samples (n,) mono or (n, channels) -> RIFF/WAVE bytes
    (PCM format 1, 16-bit). Used by tests and the synthetic-media
    generator so the audio decode stage exercises real sample data."""
    arr = samples.astype("<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(data: bytes) -> tuple[np.ndarray, int] | None:
    """RIFF/WAVE 16-bit PCM -> ((n, channels) int16 array, sample_rate),
    or None if the payload is not a PCM WAV this parser supports (other
    codecs would be the soundfile/ffmpeg path in a full container).
    Walks the chunk list properly (fmt / data in any order, word-aligned
    chunk sizes), so files with LIST/INFO chunks still decode."""
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, rate, channels, pcm = 12, 0, 0, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1 or bits != 16:
                return None
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if pcm is None or rate <= 0 or channels <= 0:
        return None
    n = len(pcm) // (2 * channels)
    if n == 0:
        return None
    arr = np.frombuffer(pcm, "<i2", n * channels).reshape(n, channels)
    return arr, int(rate)


def wav_audio_feature(arr: np.ndarray, rate: int) -> list[float]:
    """{FEATURE_DIM}-dim feature from REAL samples, every value in
    [0, 1]: duration/rate/channel metadata, global RMS, peak,
    zero-crossing rate, and a 10-segment RMS energy profile over time —
    deterministic, and exactly what a real audio embedding model would
    replace."""
    mono = arr.astype(np.float64).mean(axis=1)
    n = mono.shape[0]
    rms = float(np.sqrt(np.mean(mono * mono)))
    peak = float(np.abs(mono).max())
    zcr = (
        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        if n > 1
        else 0.0
    )
    seg = [
        float(np.sqrt(np.mean(s * s))) / 32768.0
        for s in np.array_split(mono, 10)
    ]
    head = [
        min(n / rate / 10.0, 1.0),  # duration, capped at 10 s
        min(rate / 48000.0, 1.0),
        min(arr.shape[1] / 8.0, 1.0),
        rms / 32768.0,
        peak / 32768.0,
        zcr,
    ]
    return [float(x) for x in head + seg]


def _gen_wav(media_id: int) -> bytes:
    """Deterministic waveform for media_id (the synthetic 'real samples'
    source: length and the two sawtooth periods all derive from the id;
    integer arithmetic only, so bytes are identical on every platform)."""
    rate = 8000
    n = 800 + (media_id % 50) * 40  # 0.1 - 0.35 s
    t_idx = np.arange(n, dtype=np.int64)
    saw1 = ((t_idx * 64 + media_id) % 512 - 256) * 50
    saw2 = ((t_idx * 29 + 3 * media_id) % 256 - 128) * 40
    return encode_wav((saw1 + saw2).astype(np.int16), rate)


def with_real_audio(df: DataFrame) -> DataFrame:
    """Replace audio-kind payloads with real generated 16-bit PCM WAVs
    (deterministic per media_id), Arrow-batched — the synthetic table
    then carries genuinely decodable samples through the pipeline."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            is_aud = pdf["kind"] == "audio"
            if is_aud.any():
                content = pdf["content"].copy()
                content[is_aud] = pdf.loc[is_aud, "media_id"].map(
                    lambda m: _gen_wav(int(m))
                )
                pdf = pdf.assign(
                    content=content,
                    n_bytes=content.map(len).astype("int64"),
                    mime=pdf["mime"].mask(is_aud, "audio/wav"),
                )
            yield pdf

    return df.mapInPandas(batches, df.schema)


def _gen_frames(media_id: int) -> tuple[list[np.ndarray], int]:
    """Deterministic frame stack + fps for media_id: 2-5 frames, each the
    id's gradient pixel field rolled one column per frame (so motion is
    real and per-frame pixels are assertable)."""
    base = _gen_pixels(media_id)
    n = 2 + media_id % 4
    fps = 5 + media_id % 10
    return [np.roll(base, f, axis=1) for f in range(n)], fps


def _gen_video(media_id: int) -> bytes:
    frames, fps = _gen_frames(media_id)
    return encode_mjpeg_avi(frames, fps=fps)


def with_real_video(df: DataFrame) -> DataFrame:
    """Replace video-kind payloads with real generated MJPEG AVIs
    (deterministic per media_id, frames encoded by the baseline JPEG
    codec), Arrow-batched — the synthetic table then carries genuinely
    decodable video frames through decode_media and sample_frames."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            is_vid = pdf["kind"] == "video"
            if is_vid.any():
                content = pdf["content"].copy()
                content[is_vid] = pdf.loc[is_vid, "media_id"].map(
                    lambda m: _gen_video(int(m))
                )
                pdf = pdf.assign(
                    content=content,
                    n_bytes=content.map(len).astype("int64"),
                    mime=pdf["mime"].mask(is_vid, "video/avi"),
                )
            yield pdf

    return df.mapInPandas(batches, df.schema)


def decode_row(
    data: bytes, with_feature: bool = True
) -> tuple[int, int, int, str, list[float] | None]:
    """The ONE row-level decoder dispatch (r14, ADVICE r13): every stage
    — decode_media (metadata), extract_features (feature vector),
    decode_with_features (fused) — projects from this function, so a new
    codec or a fallback change lands in exactly one place. Returns
    (width, height, duration_ms, codec, feature); feature computation is
    skipped (None) when ``with_feature`` is False so the metadata-only
    stage doesn't pay histogram/RMS work it will drop.

    Decode honesty contract unchanged: a payload no codec accepts reports
    codec='none' with (0, 0, 0) geometry — never a fabricated one — and
    its feature (when requested) is the deterministic hash-derived
    stand-in, keeping refusals countable downstream."""
    import hashlib

    for name, dec in (("bmp", decode_bmp), ("png", decode_png), ("jpeg", decode_jpeg)):
        arr = dec(data)
        if arr is not None:  # real decode: true pixel dims
            return (
                arr.shape[1], arr.shape[0], 0, name,
                bmp_pixel_feature(arr) if with_feature else None,
            )
    wav = decode_wav(data)
    if wav is not None:  # real decode: true sample count / rate
        samples, rate = wav
        return (
            rate, samples.shape[1], samples.shape[0] * 1000 // rate, "wav",
            wav_audio_feature(samples, rate) if with_feature else None,
        )
    vid = decode_mjpeg_avi(data)
    if vid is not None:  # real decode: true frame dims / timing
        frames, vrate, vscale = vid
        feature = None
        if with_feature:  # temporal mean-pool over decoded frames
            per_frame = np.array(
                [bmp_pixel_feature(f) for f in frames], dtype=np.float64
            )
            feature = [float(x) for x in per_frame.mean(axis=0)]
        return (
            frames[0].shape[1], frames[0].shape[0],
            len(frames) * 1000 * vscale // vrate, "mjpeg-avi", feature,
        )
    feature = None
    if with_feature:  # undecodable: deterministic hash-derived stand-in
        h = hashlib.sha256(data).digest()
        v = np.frombuffer(h[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
        feature = (v / 65535.0).tolist()
    return 0, 0, 0, "none", feature


def decode_media(df: DataFrame) -> DataFrame:
    """Decode stage: mapInPandas over Arrow batches of binary payloads.
    BMP, PNG and baseline-JPEG payloads decode to REAL pixel dimensions
    (decode_bmp / decode_png / decode_jpeg); PCM WAV payloads decode to
    real sample data (decode_wav — reported as width=sample_rate,
    height=channels, duration_ms from the true sample count); MJPEG AVI
    payloads decode to real frames (decode_mjpeg_avi — first frame's
    dims, duration from the true frame count over rate/scale). The
    ``codec`` column records which parser accepted the payload; a
    payload no codec accepts reports codec='none' with (0, 0, 0) —
    decode honesty, never a fabricated geometry (the r5-r7
    ``_decode_stub`` is gone), and refusals (arithmetic-coded or
    12-bit JPEG, corrupt containers) stay countable downstream instead
    of silently feature-less."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def meta_of(b) -> tuple[int, int, int, str]:
            return decode_row(bytes(b), with_feature=False)[:4]

        for pdf in it:
            meta = pdf["content"].map(meta_of)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "width": meta.map(lambda m: m[0]).astype("int32"),
                    "height": meta.map(lambda m: m[1]).astype("int32"),
                    "duration_ms": meta.map(lambda m: m[2]).astype("int64"),
                    "codec": meta.map(lambda m: m[3]),
                    "checksum": pdf["content"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(batches, DECODED_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction stage: BMP, PNG and JPEG payloads yield a REAL
    pixel feature (bmp_pixel_feature — channel means, grayscale
    histogram — container-agnostic, it takes decoded pixels);
    PCM WAV payloads yield a REAL sample feature (wav_audio_feature —
    RMS/peak/zero-crossings + energy-over-time profile); MJPEG AVI
    payloads yield the MEAN of their frames' pixel features (a real
    temporal pool over decoded frames); undecodable payloads fall back
    to the deterministic hash-derived stand-in. A real embedding model
    swap-in changes ONLY the inner function, never the Arrow-batched
    plumbing."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def feat(b) -> list[float]:
            return decode_row(bytes(b))[4]

        for pdf in it:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": pdf["content"].map(feat)}
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def decode_with_features(df: DataFrame) -> DataFrame:
    """Fused decode + feature stage (r13): ONE decode per payload emits
    both the metadata columns of decode_media and the feature column of
    extract_features. The two-stage form decodes every payload twice
    (metadata pass + feature pass) and pays a join to glue the halves
    back; the fused kernel reuses the SAME pure decoders/feature
    functions, so the outputs are identical by construction —
    tests/test_multimodal.py pins fused == two-stage column-for-column.
    Pure map over Arrow batches, no shuffle; the registered
    ext_multimodal_features id consumes this, while decode_media stays
    the metadata-only stage ext_multimodal_meta shares via its cache."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            rows = pdf["content"].map(lambda b: decode_row(bytes(b)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "width": rows.map(lambda m: m[0]).astype("int32"),
                    "height": rows.map(lambda m: m[1]).astype("int32"),
                    "duration_ms": rows.map(lambda m: m[2]).astype("int64"),
                    "codec": rows.map(lambda m: m[3]),
                    "checksum": pdf["content"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "feature": rows.map(lambda m: m[4]),
                }
            )

    return df.mapInPandas(batches, DECODED_SCHEMA + ", feature array<float>")


def sample_frames(df: DataFrame, every_n_bytes: int = 32) -> DataFrame:
    """Frame-sampling stage for 'video' payloads. MJPEG AVI payloads
    yield their REAL frames: one row per movi video chunk, frame_bytes =
    that frame's JFIF bytes (each independently decodable with
    decode_jpeg — no ffmpeg, the container walk is stdlib struct over
    Arrow batches). Payloads no video codec accepts fall back to byte
    CHUNKING: ceil(len/n) fixed-stride slices of ``every_n_bytes``
    INCLUDING the short tail slice — deliberately not the pre-r8 stub's
    floor(len/n) chunking, which silently dropped the tail bytes — so
    the stage never drops a row, or a byte, silently.

    Scale shape: the kind filter is an ordinary pushed-down column ahead
    of any Python; the stage itself is a pure flatMap (mapInPandas, no
    shuffle), and output rows are frame-sized, so downstream per-frame
    decode parallelizes by repartitioning frames, not videos."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frames_of(b) -> list[bytes]:
            data = bytes(b)
            if (
                len(data) >= 12
                and data[0:4] == b"RIFF"
                and data[8:12] == b"AVI "
            ):
                end = min(8 + struct.unpack_from("<I", data, 4)[0], len(data))
                out = []
                for ckid, body, size in iter_chunks(data, 12, end):
                    if ckid == b"LIST" and size >= 4 and data[body : body + 4] == b"movi":
                        for sub, sb, ss in iter_chunks(
                            data, body + 4, body + size
                        ):
                            if sub[2:4] in (b"dc", b"db"):
                                out.append(data[sb : sb + ss])
                if out:
                    return out
            return [
                data[i : i + every_n_bytes]
                for i in range(0, max(len(data), 1), every_n_bytes)
            ]

        for pdf in it:
            rows = {"media_id": [], "frame_no": [], "frame_bytes": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for no, fb in enumerate(frames_of(content)):
                    rows["media_id"].append(mid)
                    rows["frame_no"].append(no)
                    rows["frame_bytes"].append(fb)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(rows["media_id"], dtype="int64"),
                    "frame_no": pd.Series(rows["frame_no"], dtype="int32"),
                    "frame_bytes": pd.Series(rows["frame_bytes"], dtype=object),
                }
            )

    return df.filter(F.col("kind") == "video").mapInPandas(
        batches, "media_id long, frame_no int, frame_bytes binary"
    )


# Magic-byte signatures at offset 0 (hex, uppercase) -> MIME type. The
# container-format cases (RIFF, ISO-BMFF) need a second probe at a fixed
# offset and are handled explicitly in sniff_mime.
_MAGIC_PREFIX = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("474946383761", "image/gif"),
    ("474946383961", "image/gif"),
    ("25504446", "application/pdf"),
    ("494433", "audio/mpeg"),  # ID3-tagged MP3
    ("4F676753", "audio/ogg"),
    ("664C6143", "audio/flac"),
    ("1A45DFA3", "video/webm"),  # EBML (webm/mkv)
]


def sniff_mime(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Content-sniffed MIME type from magic bytes — metadata WITHOUT a
    decode: pure JVM-side hex/substring expressions inside whole-stage
    codegen, so classifying 100 TB of payloads costs one scan and zero
    Python. The declared ``mime`` column (untrusted, upload-supplied in
    real pipelines) can then be cross-checked against ``sniffed_mime``.

    Handles prefix signatures plus the two probe-at-offset container
    formats: RIFF (bytes 8-11 distinguish WAVE vs AVI) and ISO-BMFF
    (bytes 4-7 'ftyp' => MP4 family). Unknown payloads fall back to
    application/octet-stream."""
    h = F.hex(F.col(content_col))
    expr = None
    riff = F.substring(h, 1, 8) == "52494646"
    cases = [
        (riff & (F.substring(h, 17, 8) == "57415645"), "audio/wav"),
        (riff & (F.substring(h, 17, 8) == "41564920"), "video/avi"),
        (F.substring(h, 9, 8) == "66747970", "video/mp4"),
    ] + [
        (F.substring(h, 1, len(sig)) == sig, mime) for sig, mime in _MAGIC_PREFIX
    ]
    for cond, mime in cases:
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    return df.withColumn(
        "sniffed_mime", expr.otherwise("application/octet-stream")
    )
