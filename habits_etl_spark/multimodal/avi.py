"""MJPEG-in-AVI codec — pure stdlib + numpy, no ffmpeg.

Retires the last multimodal stub (the r7 video-only ``_decode_stub``):
video payloads are Motion-JPEG AVI files whose frames are baseline JFIF
images encoded/decoded by :mod:`habits_etl_spark.multimodal.jpeg`, so
frame bytes flowing out of ``sample_frames`` are REAL decodable images.

Container layout follows the public AVI RIFF form (Microsoft "AVI RIFF
File Reference"; OpenDML extensions not used)::

    RIFF('AVI '
      LIST('hdrl'
        avih(<MainAVIHeader>)
        LIST('strl' strh(<AVIStreamHeader fccType='vids'>)
                    strf(<BITMAPINFOHEADER biCompression='MJPG'>)))
      LIST('movi' '00dc'(<JFIF bytes>) ...)
      idx1(<AVIOLDINDEX>))

The decoder is strict on untrusted bytes: anything that is not a
well-formed MJPEG AVI whose every frame baseline-decodes returns None
rather than mis-parse (the same contract as decode_bmp/png/jpeg/wav).
Reference parity: the aaronmeza/habits-etl reference (etl/transform.py)
has no media path at all — this module exists for the 100 TB
training-data north star, where video columns ride the same opaque
``binary`` + Arrow-batch plumbing as images and audio.
"""

from __future__ import annotations

import struct

import numpy as np

from habits_etl_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

# Untrusted-payload guard: header-declared frame counts never drive an
# allocation (frames come from walking actual movi bytes), but bound the
# walk so a forged index can't spin a pathological chunk loop.
_MAX_FRAMES = 100_000


def _chunk(ckid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""  # RIFF word alignment
    return ckid + struct.pack("<I", len(body)) + body + pad


def _list(listtype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", listtype + body)


def encode_mjpeg_avi(
    frames: list[np.ndarray], fps: int = 10, quality: int = 85
) -> bytes:
    """HxWx3 uint8 RGB frames -> MJPEG AVI bytes (one '00dc' chunk per
    frame, each a baseline JFIF from encode_jpeg; fps becomes the
    'vids' stream's dwRate over dwScale=1). Deterministic for
    deterministic inputs — used by tests and the synthetic-media
    generator so video payloads carry genuinely decodable frames."""
    if not frames:
        raise ValueError("encode_mjpeg_avi needs at least one frame")
    h, w = frames[0].shape[:2]
    jfifs = [encode_jpeg(f, quality) for f in frames]
    max_buf = max(len(j) for j in jfifs)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_buf * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_buf,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids",
        b"MJPG",
        0,  # dwFlags
        0,  # wPriority
        0,  # wLanguage
        0,  # dwInitialFrames
        1,  # dwScale
        fps,  # dwRate (fps = rate/scale)
        0,  # dwStart
        len(frames),  # dwLength (frames)
        max_buf,  # dwSuggestedBufferSize
        0xFFFFFFFF & -1,  # dwQuality: default
        0,  # dwSampleSize (0: varies)
        0, 0, w, h,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_chunks = [_chunk(b"00dc", j) for j in jfifs]
    movi = _list(b"movi", b"".join(movi_chunks))
    # idx1 offsets are relative to the start of the 'movi' list type fourcc
    idx_entries = []
    off = 4  # past the 'movi' fourcc
    for j in jfifs:
        idx_entries.append(
            struct.pack("<4sIII", b"00dc", 0x10, off, len(j))  # AVIIF_KEYFRAME
        )
        off += 8 + len(j) + (len(j) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def iter_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) walking RIFF subchunks in
    data[pos:end]; stops (rather than raises) at any malformed size."""
    n = 0
    while pos + 8 <= end and n < _MAX_FRAMES:
        ckid = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            return  # truncated chunk: caller treats as malformed tail
        yield ckid, body, size
        pos = body + size + (size % 2)
        n += 1


def decode_mjpeg_avi(
    data: bytes,
) -> tuple[list[np.ndarray], int, int] | None:
    """MJPEG AVI -> (frames as HxWx3 uint8 RGB, rate, scale), or None if
    the payload is not an MJPEG AVI this parser supports. fps =
    rate/scale. Strict: every movi video chunk must decode via
    decode_jpeg, else the whole payload is rejected — a half-parsed
    video must not flow partial frames downstream. Like the image/audio
    decoders, any parse failure on untrusted bytes returns None rather
    than crash the Arrow UDF task."""
    try:
        return _decode_mjpeg_avi(data)
    except (struct.error, IndexError, ValueError, MemoryError, OverflowError):
        return None


def _decode_mjpeg_avi(
    data: bytes,
) -> tuple[list[np.ndarray], int, int] | None:
    if len(data) < 12 or data[0:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(8 + riff_size, len(data))
    rate = scale = 0
    frames: list[np.ndarray] = []
    saw_movi = False
    for ckid, body, size in iter_chunks(data, 12, end):
        if ckid == b"LIST" and size >= 4:
            listtype = data[body : body + 4]
            if listtype == b"hdrl":
                for sub, sb, ss in iter_chunks(data, body + 4, body + size):
                    if sub == b"LIST" and ss >= 4 and data[sb : sb + 4] == b"strl":
                        for s2, b2, s2len in iter_chunks(data, sb + 4, sb + ss):
                            if s2 == b"strh" and s2len >= 32:
                                fcc = data[b2 : b2 + 4]
                                if fcc == b"vids":
                                    scale, rate = struct.unpack_from(
                                        "<II", data, b2 + 20
                                    )
            elif listtype == b"movi":
                saw_movi = True
                for sub, sb, ss in iter_chunks(data, body + 4, body + size):
                    # ##dc (compressed video) / ##db (uncompressed) of
                    # the first stream; MJPEG uses dc chunks
                    if sub[2:4] in (b"dc", b"db"):
                        frame = decode_jpeg(data[sb : sb + ss])
                        if frame is None:
                            return None
                        frames.append(frame)
    if not saw_movi or not frames or rate <= 0 or scale <= 0:
        return None
    return frames, rate, scale
