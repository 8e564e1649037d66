"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a typed metadata
struct, processed by Arrow-batched ``mapInPandas`` pipelines. Five
formats are decoded for real with dependency-free parsers — WAV
(RIFF/PCM16: genuine sample rate, channels, duration, amplitude
features), PPM (P6: genuine width/height, pixel features), GIF
(87a/89a: a real LZW decompressor with variable-width codes,
clear/end handling, deinterlacing, and palette mapping), and PNG
(chunk walking + stdlib-zlib DEFLATE + all five scanline unfilters,
color types 0/2/3/4/6 at every spec bit depth 1/2/4/8/16 normalized
to RGB, plain and Adam7), and
baseline JPEG (operators/jpeg.py: Huffman + IDCT from the spec) —
three genuinely COMPRESSED formats — with malformed payloads routed to
quarantine rows (``decode_with_quarantine``), never executor crashes.
Formats that need heavyweight codecs (MP3/MP4…) raise
``DecodeNotAvailable``; the
deterministic fake decoder remains for driver-scaled oracle entries
(the synthetic corpus has no real media column). Everything
Spark-side — schema, batch iteration, UDF signatures,
partition-preserving flow, metadata pushdown — is real and tested.

At 100 TB: binary payloads dominate bytes, so the design rule is
*metadata-first* — filter/route on the typed metadata columns (pushed to
the parquet scan) and only stream the binary column through Python for
rows that survive. ``mapInPandas`` keeps Arrow batches bounded
(spark.sql.execution.arrow.maxRecordsPerBatch), so executor memory is
independent of file sizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


class DecodeNotAvailable(NotImplementedError):
    """Raised by the real-decoder path for formats (or format variants)
    this module doesn't implement — MP3/MP4 (and jpeg.py's progressive/
    arithmetic gates). WAV, PPM, GIF, and PNG at every spec bit depth
    (1/2/4/8/16, all color types, plain and Adam7) ARE decoded for real
    below; baseline JPEG in jpeg.py."""


class MalformedMedia(ValueError):
    """A payload that claims a supported container but violates it —
    routed to quarantine rows by the decode pipeline, never an executor
    crash."""


def parse_wav(payload: bytes) -> dict:
    """Dependency-free RIFF/WAVE parser (PCM16): real sample_rate,
    channel count, and duration from real bytes. Raises MalformedMedia
    on violations (bad magic, truncated/overrunning chunks, missing
    fmt/data, non-PCM16)."""
    if payload is None or len(payload) < 12:
        raise MalformedMedia("too short for a RIFF header")
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise MalformedMedia("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise MalformedMedia(f"chunk {cid!r} truncated")
        if cid == b"fmt ":
            if size < 16:
                raise MalformedMedia("fmt chunk too short")
            fmt = {
                "audio_format": int.from_bytes(body[0:2], "little"),
                "n_channels": int.from_bytes(body[2:4], "little"),
                "sample_rate": int.from_bytes(body[4:8], "little"),
                "byte_rate": int.from_bytes(body[8:12], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
            }
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise MalformedMedia("missing fmt or data chunk")
    if fmt["n_channels"] < 1 or fmt["sample_rate"] < 1 or fmt["byte_rate"] < 1:
        raise MalformedMedia("nonsensical fmt fields")
    if fmt["audio_format"] == 7:  # G.711 μ-law (8-bit companded)
        if fmt["bits"] != 8:
            raise MalformedMedia("mu-law WAV must be 8 bits per sample")
        data = _ulaw_decode_bytes(data)
    elif fmt["audio_format"] != 1 or fmt["bits"] != 16:
        raise MalformedMedia("only uncompressed PCM16 or mu-law is supported")
    return {
        "sample_rate": fmt["sample_rate"],
        "n_channels": fmt["n_channels"],
        "duration_ms": int(round(len(data) / fmt["byte_rate"] * 1000))
        if fmt["audio_format"] == 1
        else int(round(len(data) // 2 / fmt["byte_rate"] * 1000)),
        "format": "wav",
        "pcm": data,
    }


def ulaw_decode_value(b: int) -> int:
    """G.711 μ-law expansion of one transmitted code byte to 16-bit
    linear PCM — the classic 4-line closed form (ITU-T G.711 / the
    public-domain Sun g711.c ulaw2linear): complement, then
    sign/segment/mantissa fields reconstruct ((m·8+132) << e) − 132.
    Range ±32124; both zero codes (0x7F, 0xFF) decode to 0.  This is a
    tiny ALGORITHM, not a transcribed constant table, so — unlike the
    arithmetic-JPEG/MP3 gates (COVERAGE.md) — it is verifiable from
    first principles: the pytest pins segment spacing (8 << e), code↔
    value monotonicity, and encode-by-nearest-search roundtrip."""
    u = ~b & 0xFF
    mag = ((u & 0x0F) * 8 + 0x84) << ((u >> 4) & 0x07)
    val = mag - 0x84
    return -val if u & 0x80 else val


_ULAW_TABLE = None


def _ulaw_decode_bytes(data: bytes) -> bytes:
    """Vectorized μ-law → little-endian PCM16 via the 256-entry lookup
    DERIVED from ulaw_decode_value (computed, not transcribed)."""
    import numpy as np

    global _ULAW_TABLE
    if _ULAW_TABLE is None:
        _ULAW_TABLE = np.array(
            [ulaw_decode_value(b) for b in range(256)], dtype="<i2"
        )
    return _ULAW_TABLE[np.frombuffer(data, dtype=np.uint8)].tobytes()


def parse_ppm(payload: bytes) -> dict:
    """Dependency-free binary-PPM (P6) parser: real width/height from
    real bytes, comment-aware header tokenizing, pixel-plane length
    check. Raises MalformedMedia on violations."""
    if payload is None or not payload.startswith(b"P6"):
        raise MalformedMedia("not a P6 PPM")
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(payload[start:pos])
    if len(tokens) < 3:
        raise MalformedMedia("truncated PPM header")
    try:
        width, height, maxval = (int(t) for t in tokens)
    except ValueError as e:
        raise MalformedMedia(f"non-numeric PPM header token: {e}") from e
    if width < 1 or height < 1 or not (0 < maxval < 65536):
        raise MalformedMedia("nonsensical PPM dimensions")
    if maxval > 255:
        raise MalformedMedia("2-byte-per-sample PPM not supported")
    pos += 1  # the single whitespace after maxval
    pixels = payload[pos : pos + width * height * 3]
    if len(pixels) < width * height * 3:
        raise MalformedMedia("pixel plane shorter than width*height*3")
    return {"width": width, "height": height, "format": "ppm", "pixels": pixels}


# GIF decode guard: frames larger than this are rejected before the LZW
# loop runs (a 6-byte header can claim 65535×65535 — never let a
# malformed payload allocate that).
GIF_MAX_PIXELS = 1 << 22
# Bound on TOTAL materialized animation pixels (canvas x decoded
# frames): max_frames alone still allows 64 x 4M px x 3 B ~ 770 MB of
# composited RGB per adversarial payload.  16M px -> <= 48 MB resident.
GIF_MAX_TOTAL_PIXELS = 1 << 24


def _gif_lzw_decode(min_code_size: int, data: bytes, max_out: int) -> bytearray:
    """GIF-variant LZW: variable code width starting at min_code_size+1,
    LSB-first bit packing, clear/end codes, dictionary capped at 12 bits.
    Raises MalformedMedia on any protocol violation."""
    # GIF palette indices are single bytes, so the spec bound is <= 8
    # (root codes 0..255).  Sizes 9-11 would build a >256-entry root
    # table of bytes([i]) and crash with ValueError instead of routing
    # to quarantine; reject them here as malformed.
    if not (2 <= min_code_size <= 8):
        raise MalformedMedia(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    # root table built ONCE; every CLEAR re-copies it (bytes are
    # immutable, sharing is safe) — rebuilding it per CLEAR was the
    # decode hot spot on clear-dense streams
    root: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = root.copy()
    out = bytearray()
    prev: bytes | None = None
    total_bits = len(data) * 8
    data = data + b"\x00\x00"  # 3-byte read window never indexes past the end
    bitpos = 0
    while True:
        if bitpos + code_size > total_bits:
            raise MalformedMedia("LZW stream ended without an end code")
        # LSB-first codes span <= 3 bytes at <= 12-bit width: one windowed
        # read replaces the former per-bit loop (the decode hot spot)
        bp = bitpos >> 3
        window = data[bp] | (data[bp + 1] << 8) | (data[bp + 2] << 16)
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = root.copy()
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= len(table):
                raise MalformedMedia("LZW code before any literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise MalformedMedia("LZW code beyond dictionary")
        out += entry
        if len(out) > max_out:
            raise MalformedMedia("LZW output exceeds frame size")
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def _deinterlace(rows: list[bytes], height: int) -> list[bytes]:
    """Invert GIF's 4-pass interlace row order."""
    order = (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    )
    out: list[bytes | None] = [None] * height
    for src, dst in enumerate(order):
        out[dst] = rows[src]
    return out  # type: ignore[return-value]


def parse_gif(payload: bytes) -> dict:
    """Dependency-free GIF87a/89a decoder — the first COMPRESSED format
    this module decodes for real: header + color tables parsed, the
    first image frame LZW-decompressed (variable-width codes, clear/end
    handling, 12-bit dictionary cap), deinterlaced if flagged, and
    palette-mapped to the same {width, height, pixels(RGB)} shape as
    parse_ppm, so every downstream pixel kernel (features, aHash,
    perceptual near-dup) works on GIFs unchanged. Raises MalformedMedia
    on violations; animations decode as their first frame."""
    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise MalformedMedia("not a GIF87a/89a payload")
    if len(payload) < 13:
        raise MalformedMedia("truncated logical screen descriptor")
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise MalformedMedia("truncated global color table")
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise MalformedMedia(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(payload):
            raise MalformedMedia("truncated image descriptor")
        iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        iflags = payload[pos + 9]
        pos += 10
        palette = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            palette = payload[pos : pos + 3 * n]
            if len(palette) < 3 * n:
                raise MalformedMedia("truncated local color table")
            pos += 3 * n
        if palette is None:
            raise MalformedMedia("no color table for image frame")
        if iw < 1 or ih < 1 or iw * ih > GIF_MAX_PIXELS:
            raise MalformedMedia("nonsensical GIF frame dimensions")
        if pos >= len(payload):
            raise MalformedMedia("missing LZW min code size")
        min_code_size = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise MalformedMedia("unterminated LZW sub-blocks")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            chunk = payload[pos : pos + n]
            if len(chunk) < n:
                raise MalformedMedia("truncated LZW sub-block")
            data += chunk
            pos += n
        idx = _gif_lzw_decode(min_code_size, bytes(data), iw * ih)
        if len(idx) < iw * ih:
            raise MalformedMedia("LZW output shorter than frame")
        idx = idx[: iw * ih]
        n_colors = len(palette) // 3
        import numpy as np

        if int(np.frombuffer(bytes(idx), dtype=np.uint8).max()) >= n_colors:
            raise MalformedMedia("palette index out of range")
        if iflags & 0x40:  # interlaced
            rows = [bytes(idx[r * iw : (r + 1) * iw]) for r in range(ih)]
            idx = bytearray(b"".join(_deinterlace(rows, ih)))
        import numpy as np

        pal = np.frombuffer(bytes(palette), dtype=np.uint8).reshape(-1, 3)
        iv = np.frombuffer(bytes(idx), dtype=np.uint8)
        pixels = pal[iv].tobytes()  # vectorized palette gather
        return {"width": iw, "height": ih, "format": "gif", "pixels": pixels}
    raise MalformedMedia("GIF contains no image frame")


def parse_gif_frames(payload: bytes, max_frames: int = 64) -> dict:
    """Animated-GIF decode (GIF89a): every frame composited onto the
    logical-screen canvas with sub-rectangle placement, Graphic Control
    Extension transparency (transparent indices leave the canvas
    untouched — inter-frame delta encoding), and disposal methods
    none/keep (0/1), restore-to-background (2) and restore-to-previous
    (3). Returns {width, height, n_frames, frames: [{delay_cs,
    pixels(RGB, canvas-sized)}]} — the real decode behind frame
    sampling / motion features for the one "video-like" container this
    runtime can decode dependency-free. ``parse_gif`` remains the
    single-frame fast path (a frame's OWN rectangle, not the canvas).
    Raises MalformedMedia on violations; frames beyond ``max_frames``
    are not decoded (bounded work on attacker payloads)."""
    import numpy as np

    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise MalformedMedia("not a GIF87a/89a payload")
    if len(payload) < 13:
        raise MalformedMedia("truncated logical screen descriptor")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    if w < 1 or h < 1 or w * h > GIF_MAX_PIXELS:
        raise MalformedMedia("nonsensical GIF canvas dimensions")
    flags = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise MalformedMedia("truncated global color table")
        pos += 3 * n
    # Effective decoded-frame bound: the caller's max_frames AND the
    # total-pixels budget (a 4M-px canvas gets 4 composited frames, a
    # tiny banner keeps all 64) — never below 1 so motion stats exist.
    max_frames = max(1, min(max_frames, GIF_MAX_TOTAL_PIXELS // (w * h)))
    bg_rgb = np.zeros(3, dtype=np.uint8)
    if gct is not None and bg_index < len(gct) // 3:
        bg_rgb = np.frombuffer(
            bytes(gct[3 * bg_index : 3 * bg_index + 3]), dtype=np.uint8
        )
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).copy()
    frames: list[dict] = []
    gce: dict | None = None  # pending Graphic Control Extension
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos + 2 > len(payload):
                raise MalformedMedia("truncated extension")
            label = payload[pos + 1]
            p = pos + 2
            subs = []
            while p < len(payload) and payload[p] != 0:
                subs.append(payload[p + 1 : p + 1 + payload[p]])
                p += 1 + payload[p]
            if p >= len(payload):
                raise MalformedMedia("unterminated extension sub-blocks")
            pos = p + 1
            if label == 0xF9 and subs and len(subs[0]) >= 4:
                b = subs[0]
                gce = {
                    "disposal": (b[0] >> 2) & 0x07,
                    "transparent": b[3] if b[0] & 1 else None,
                    "delay_cs": int.from_bytes(b[1:3], "little"),
                }
            continue
        if block != 0x2C:
            raise MalformedMedia(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(payload):
            raise MalformedMedia("truncated image descriptor")
        left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        iflags = payload[pos + 9]
        pos += 10
        palette = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            palette = payload[pos : pos + 3 * n]
            if len(palette) < 3 * n:
                raise MalformedMedia("truncated local color table")
            pos += 3 * n
        if palette is None:
            raise MalformedMedia("no color table for image frame")
        if iw < 1 or ih < 1 or left + iw > w or top + ih > h:
            raise MalformedMedia("frame rectangle outside the canvas")
        if pos >= len(payload):
            raise MalformedMedia("missing LZW min code size")
        min_code_size = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise MalformedMedia("unterminated LZW sub-blocks")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            chunk = payload[pos : pos + n]
            if len(chunk) < n:
                raise MalformedMedia("truncated LZW sub-block")
            data += chunk
            pos += n
        if len(frames) >= max_frames:
            gce = None
            continue  # bounded: later frames parsed structurally, not decoded
        idx = _gif_lzw_decode(min_code_size, bytes(data), iw * ih)
        if len(idx) < iw * ih:
            raise MalformedMedia("LZW output shorter than frame")
        idx = bytearray(idx[: iw * ih])
        if iflags & 0x40:  # interlaced
            rows = [bytes(idx[r * iw : (r + 1) * iw]) for r in range(ih)]
            idx = bytearray(b"".join(_deinterlace(rows, ih)))
        iv = np.frombuffer(bytes(idx), dtype=np.uint8).reshape(ih, iw)
        n_colors = len(palette) // 3
        if int(iv.max()) >= n_colors:
            raise MalformedMedia("palette index out of range")
        pal = np.frombuffer(bytes(palette), dtype=np.uint8).reshape(-1, 3)
        disposal = gce["disposal"] if gce else 0
        transparent = gce["transparent"] if gce else None
        delay_cs = gce["delay_cs"] if gce else 0
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + ih, left : left + iw]
        mask = (
            iv != transparent if transparent is not None
            else np.ones_like(iv, dtype=bool)
        )
        region[mask] = pal[iv[mask]]
        frames.append({"delay_cs": delay_cs, "pixels": canvas.tobytes()})
        if disposal == 2:
            canvas[top : top + ih, left : left + iw] = bg_rgb
        elif disposal == 3:
            canvas = prev
        gce = None
    if not frames:
        raise MalformedMedia("GIF contains no image frame")
    return {"width": w, "height": h, "n_frames": len(frames), "frames": frames}


def gif_motion_stats(parsed: dict) -> dict:
    """Per-animation motion profile from composited frames: mean
    absolute inter-frame pixel delta (motion energy), the fraction of
    pixels that changed at all, and total duration — the features a
    video-curation pass keys on (static-banner detection, frame-sample
    rate selection)."""
    import numpy as np

    frames = [
        np.frombuffer(f["pixels"], dtype=np.uint8).astype(np.int32)
        for f in parsed["frames"]
    ]
    deltas = [np.abs(b - a) for a, b in zip(frames, frames[1:])]
    return {
        "n_frames": parsed["n_frames"],
        "duration_cs": int(sum(f["delay_cs"] for f in parsed["frames"])),
        "motion_energy": float(np.mean([d.mean() for d in deltas])) if deltas else 0.0,
        "changed_fraction": (
            float(np.mean([(d.reshape(-1, 3).sum(axis=1) > 0).mean() for d in deltas]))
            if deltas
            else 0.0
        ),
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Adam7 interlace pass origins/strides (x0, y0, dx, dy), in order.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, row_bytes: int, h: int, bpp: int) -> bytearray:
    """Undo the five PNG scanline filters over one (sub-)image whose rows
    are (1 filter byte + row_bytes) each. Filters are defined BYTEWISE
    with the left/up-left neighbour ``bpp = max(1, channels·depth/8)``
    bytes back (PNG spec §6.2), which is what makes one unfilter serve
    every bit depth."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stride = row_bytes
    prev = bytearray(stride)
    out = bytearray()
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise MalformedMedia(f"unknown PNG filter {ftype}")
        prev = line
        out += line
    return out


def _png_samples_u8(
    sub: bytes, wp: int, hp: int, channels: int, depth: int, color_type: int
) -> bytes:
    """One unfiltered (sub-)image → 8-bit samples (wp·hp·channels bytes).

    16-bit samples reduce to their high byte (the standard 16→8
    truncation: the low byte carries < 0.4% of the value); 1/2/4-bit
    rows unpack per scanline (rows are padded to byte boundaries, so
    unpacking is per-row, not over the flat stream), grayscale scaling
    to the full 0–255 range (×255/(2^d−1)), palette indices passed
    through for the PLTE lookup."""
    import numpy as np

    if depth == 8:
        return bytes(sub)
    if depth == 16:
        return np.frombuffer(bytes(sub), dtype=np.uint8)[0::2].tobytes()
    # depth in (1, 2, 4): gray or palette only, channels == 1
    row_bytes = (wp * depth + 7) // 8
    rows = np.frombuffer(bytes(sub), dtype=np.uint8).reshape(hp, row_bytes)
    bits = np.unpackbits(rows, axis=1)[:, : wp * depth].reshape(hp, wp, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (bits.astype(np.uint16) * weights).sum(axis=2)
    if color_type == 0:
        vals = vals * 255 // ((1 << depth) - 1)
    return vals.astype(np.uint8).tobytes()


def parse_png(payload: bytes) -> dict:
    """Dependency-free PNG decoder — DEFLATE via the stdlib ``zlib``
    this runtime always ships, chunk walking, and per-scanline
    unfiltering (None/Sub/Up/Average/Paeth) implemented here. Supports
    grayscale (0), RGB (2), palette (3), gray+alpha (4) and RGBA (6) at
    every spec-valid bit depth — 1/2/4-bit packed rows, 8-bit, and
    16-bit (reduced to the high byte) — plain AND Adam7-interlaced
    (seven independently-filtered sub-images scattered back). Output is
    the shared {width, height, pixels(RGB)} shape. Raises
    MalformedMedia on violations."""
    import zlib

    if payload is None or payload[:8] != _PNG_MAGIC:
        raise MalformedMedia("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise MalformedMedia(f"chunk {ctype!r} truncated")
        pos += 12 + length  # skip CRC (not verified — content tests cover it)
        if ctype == b"IHDR":
            if length != 13:
                raise MalformedMedia("bad IHDR length")
            ihdr = {
                "width": int.from_bytes(body[0:4], "big"),
                "height": int.from_bytes(body[4:8], "big"),
                "bit_depth": body[8],
                "color_type": body[9],
                "interlace": body[12],
            }
        elif ctype == b"PLTE":
            if length % 3:
                raise MalformedMedia("PLTE not a multiple of 3")
            palette = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise MalformedMedia("missing IHDR or IDAT")
    w, h = ihdr["width"], ihdr["height"]
    if w < 1 or h < 1 or w * h > GIF_MAX_PIXELS:
        raise MalformedMedia("nonsensical PNG dimensions")
    depth = ihdr["bit_depth"]
    color_type = ihdr["color_type"]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise MalformedMedia(f"unknown PNG color type {color_type}")
    # Spec-valid (depth, color type) combinations (PNG spec table 11.1):
    # every depth for gray(0); 8/16 for RGB(2)/GA(4)/RGBA(6); 1/2/4/8
    # for palette(3).
    valid_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}[color_type]
    if depth not in valid_depths:
        raise MalformedMedia(
            f"invalid bit depth {depth} for PNG color type {color_type}"
        )
    if ihdr["interlace"] not in (0, 1):
        raise MalformedMedia(f"unknown interlace method {ihdr['interlace']}")
    if color_type == 3 and palette is None:
        raise MalformedMedia("palette color type without PLTE")

    def row_bytes(wp: int) -> int:
        return (wp * channels * depth + 7) // 8

    bpp = max(1, channels * depth // 8)
    if ihdr["interlace"]:
        # Adam7: seven reduced sub-images, each independently filtered
        passes = [
            (x0, y0, dx, dy)
            for (x0, y0, dx, dy) in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
        ]
        dims = [((w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
                for (x0, y0, dx, dy) in passes]
        expected = sum(hp * (row_bytes(wp) + 1) for wp, hp in dims)
    else:
        passes = [(0, 0, 1, 1)]
        dims = [(w, h)]
        expected = h * (row_bytes(w) + 1)
    # Bounded inflate: zlib.decompress on attacker bytes can expand
    # ~1000:1 and OOM the executor before any size check runs (review
    # finding). decompressobj(max_length) stops at exactly the bytes a
    # valid image needs; anything left over is a bomb or garbage.
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected)
        if not d.eof and d.decompress(d.unconsumed_tail, 1):
            raise MalformedMedia("IDAT inflates beyond the image size")
    except zlib.error as e:
        raise MalformedMedia(f"IDAT inflate failed: {e}") from e
    if len(raw) < expected:
        raise MalformedMedia("inflated data shorter than image")

    if ihdr["interlace"]:
        out = bytearray(w * h * channels)
        off = 0
        for (x0, y0, dx, dy), (wp, hp) in zip(passes, dims):
            sub_len = hp * (row_bytes(wp) + 1)
            sub = _png_samples_u8(
                _png_unfilter(raw[off : off + sub_len], row_bytes(wp), hp, bpp),
                wp, hp, channels, depth, color_type,
            )
            off += sub_len
            for i in range(hp):
                row = (y0 + i * dy) * w
                for j in range(wp):
                    dst = (row + x0 + j * dx) * channels
                    src = (i * wp + j) * channels
                    out[dst : dst + channels] = sub[src : src + channels]
    else:
        out = _png_samples_u8(
            _png_unfilter(raw, row_bytes(w), h, bpp), w, h, channels, depth,
            color_type,
        )

    # normalize to RGB — vectorized (per-pixel Python loops cost seconds
    # per megapixel frame in the executor hot path; review finding)
    import numpy as np

    arr = np.frombuffer(bytes(out), dtype=np.uint8)
    if ihdr["color_type"] == 2:
        rgb = bytes(out)
    elif ihdr["color_type"] == 6:
        rgb = arr.reshape(-1, 4)[:, :3].tobytes()
    elif ihdr["color_type"] == 0:
        rgb = np.repeat(arr, 3).tobytes()
    elif ihdr["color_type"] == 4:
        rgb = np.repeat(arr.reshape(-1, 2)[:, 0], 3).tobytes()
    else:  # palette
        n_colors = len(palette) // 3
        if int(arr.max()) >= n_colors:
            raise MalformedMedia("palette index out of range")
        pal = np.frombuffer(bytes(palette), dtype=np.uint8).reshape(-1, 3)
        rgb = pal[arr].tobytes()
    return {"width": w, "height": h, "format": "png", "pixels": rgb}


def parse_bmp(payload: bytes) -> dict:
    """Dependency-free BMP decoder: BITMAPFILEHEADER + BITMAPINFOHEADER,
    uncompressed (BI_RGB) 24-bit truecolor and 8-bit palette images,
    bottom-up (positive height — the common case) AND top-down (negative
    height), with the spec's 4-byte row stride padding. Output is the
    shared {width, height, pixels(RGB)} shape. Raises MalformedMedia on
    violations; anything needing RLE or bitfields is out of scope for
    this runtime (production swaps in Pillow at _decode_real).

    Reference parity note: the reference engine treats media as opaque
    blobs; this decoder exists for the training-data extensions."""
    import numpy as np

    if payload is None or payload[:2] != b"BM" or len(payload) < 54:
        raise MalformedMedia("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size != 40:
        raise MalformedMedia(f"unsupported DIB header size {hdr_size}")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    planes = int.from_bytes(payload[26:28], "little")
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    n_colors = int.from_bytes(payload[46:50], "little")
    if planes != 1:
        raise MalformedMedia(f"planes must be 1, got {planes}")
    if comp != 0:
        raise MalformedMedia(f"only BI_RGB supported, got compression {comp}")
    if bpp not in (8, 24):
        raise MalformedMedia(f"unsupported bit depth {bpp}")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w < 1 or h < 1 or w * h > GIF_MAX_PIXELS:
        raise MalformedMedia("nonsensical BMP dimensions")
    palette = None
    if bpp == 8:
        if n_colors == 0:
            n_colors = 256
        if n_colors > 256:
            raise MalformedMedia(f"palette too large ({n_colors})")
        pal_end = 54 + 4 * n_colors
        if len(payload) < pal_end:
            raise MalformedMedia("palette truncated")
        palette = np.frombuffer(payload, np.uint8, 4 * n_colors, 54).reshape(-1, 4)
    stride = (bpp // 8 * w + 3) // 4 * 4
    if data_off < 54 or data_off + stride * h > len(payload):
        raise MalformedMedia("pixel data truncated")
    rows = np.frombuffer(payload, np.uint8, stride * h, data_off).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        px = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    else:
        idx = rows[:, :w]
        if int(idx.max()) >= len(palette):
            raise MalformedMedia("palette index out of range")
        px = palette[idx][:, :, [2, 1, 0]]  # BGRX → RGB
    return {
        "width": w,
        "height": h,
        "pixels": np.ascontiguousarray(px).tobytes(),
        "format": "bmp",
    }


def synthesize_bmp(
    width: int,
    height: int,
    base: int,
    const_b: int,
    indexed: bool = False,
    top_down: bool = False,
) -> bytes:
    """Dependency-free BMP writer for in-query synthesis and tests.
    Truecolor mode stores pixel (x, y) = (base+x, 7·y, const_b) as
    24-bit BGR; indexed mode stores index base+x+y against a 256-entry
    grayscale palette. Rows are bottom-up unless ``top_down`` (negative
    height), always padded to the 4-byte stride — so a decoder that
    ignores the flip or the padding fails the roundtrip tests."""
    import struct

    bpp = 8 if indexed else 24
    stride = (bpp // 8 * width + 3) // 4 * 4
    pal = bytes(b for i in range(256) for b in (i, i, i, 0)) if indexed else b""
    data_off = 14 + 40 + len(pal)
    body = bytearray()
    ys = range(height) if top_down else range(height - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(width):
            if indexed:
                row.append(base + x + y)
            else:
                row += bytes((const_b, (7 * y) & 0xFF, base + x))  # BGR
        row += b"\x00" * (stride - len(row))
        body += row
    h_field = -height if top_down else height
    hdr = b"BM" + struct.pack(
        "<IHHI", data_off + len(body), 0, 0, data_off
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, h_field, 1, bpp, 0, len(body), 0, 0,
        256 if indexed else 0, 0,
    )
    return bytes(hdr) + pal + bytes(body)


def parse_qoi(payload: bytes) -> dict:
    """Dependency-free QOI decoder (the qoiformat.org spec, public
    domain): 14-byte header (magic ``qoif``, big-endian width/height,
    channels 3/4, colorspace 0/1), then the six chunk ops — RGB, RGBA,
    INDEX into the 64-slot hash array at (3r+5g+7b+11a) mod 64, DIFF
    (2-bit channel deltas, bias 2), LUMA (6-bit green delta bias 32 +
    4-bit dr−dg / db−dg bias 8), RUN (bias −1, lengths 1–62) — closed by
    the 8-byte end marker. Alpha participates in the index hash and is
    dropped at the RGB output (the shared pixel contract). Wraparound
    arithmetic is mod 256 as specified. Raises MalformedMedia on
    violations (QOI has no optional features, so there is no
    DecodeNotAvailable route)."""
    import numpy as np

    if payload is None or payload[:4] != b"qoif" or len(payload) < 22:
        raise MalformedMedia("not a QOI payload")
    w = int.from_bytes(payload[4:8], "big")
    h = int.from_bytes(payload[8:12], "big")
    channels, colorspace = payload[12], payload[13]
    if channels not in (3, 4) or colorspace not in (0, 1):
        raise MalformedMedia("bad QOI channels/colorspace")
    if w < 1 or h < 1 or w * h > GIF_MAX_PIXELS:
        raise MalformedMedia("nonsensical QOI dimensions")
    if payload[-8:] != b"\x00" * 7 + b"\x01":
        raise MalformedMedia("bad QOI end marker")
    n = w * h
    out = bytearray(n * 3)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    p, end = 14, len(payload) - 8
    i = 0
    while i < n:
        if p >= end:
            raise MalformedMedia("QOI stream exhausted")
        byte = payload[p]
        p += 1
        if byte == 0xFE:  # QOI_OP_RGB
            if p + 3 > end:
                raise MalformedMedia("QOI RGB chunk truncated")
            r, g, b = payload[p], payload[p + 1], payload[p + 2]
            p += 3
        elif byte == 0xFF:  # QOI_OP_RGBA
            if p + 4 > end:
                raise MalformedMedia("QOI RGBA chunk truncated")
            r, g, b, a = (
                payload[p], payload[p + 1], payload[p + 2], payload[p + 3]
            )
            p += 4
        else:
            op = byte >> 6
            if op == 0:  # QOI_OP_INDEX
                r, g, b, a = index[byte & 0x3F]
            elif op == 1:  # QOI_OP_DIFF
                r = (r + ((byte >> 4) & 3) - 2) & 0xFF
                g = (g + ((byte >> 2) & 3) - 2) & 0xFF
                b = (b + (byte & 3) - 2) & 0xFF
            elif op == 2:  # QOI_OP_LUMA
                if p >= end:
                    raise MalformedMedia("QOI LUMA chunk truncated")
                dg = (byte & 0x3F) - 32
                b2 = payload[p]
                p += 1
                r = (r + dg + ((b2 >> 4) & 0x0F) - 8) & 0xFF
                g = (g + dg) & 0xFF
                b = (b + dg + (b2 & 0x0F) - 8) & 0xFF
            else:  # QOI_OP_RUN (0xFE/0xFF handled above, so 1..62)
                run = (byte & 0x3F) + 1
                if i + run > n:
                    raise MalformedMedia("QOI run overruns the image")
                index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
                for _ in range(run):
                    o = i * 3
                    out[o], out[o + 1], out[o + 2] = r, g, b
                    i += 1
                continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        o = i * 3
        out[o], out[o + 1], out[o + 2] = r, g, b
        i += 1
    return {"width": w, "height": h, "pixels": bytes(out), "format": "qoi"}


def encode_qoi(px: "np.ndarray") -> bytes:
    """QOI encoder (reference algorithm from the spec): run detection →
    index hit → DIFF → LUMA → literal RGB, greedy in that order, same
    64-slot hash-array evolution as the decoder. Input (h, w, 3) uint8;
    emits channels=3, colorspace=0 (sRGB). The tests' conformance
    counterpart to ``parse_qoi`` — every image must roundtrip
    byte-exactly."""
    import struct

    h, w, _ = px.shape
    out = bytearray(b"qoif" + struct.pack(">II", w, h) + bytes([3, 0]))
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    flat = px.reshape(-1, 3)
    for rr, gg, bb in flat.tolist():
        cur = (rr, gg, bb, 255)
        if cur == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        slot = (rr * 3 + gg * 5 + bb * 7 + 255 * 11) % 64
        if index[slot] == cur:
            out.append(slot)
        else:
            index[slot] = cur
            dr = ((rr - prev[0] + 128) & 0xFF) - 128
            dg = ((gg - prev[1] + 128) & 0xFF) - 128
            db = ((bb - prev[2] + 128) & 0xFF) - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (
                -32 <= dg <= 31 and -8 <= dr - dg <= 7 and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes((0xFE, rr, gg, bb))
        prev = cur
    if run:
        out.append(0xC0 | (run - 1))
    return bytes(out) + b"\x00" * 7 + b"\x01"


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits per the TIFF 6.0 spec: control byte n in 0..127
    copies n+1 literals; 129..255 repeats the next byte 257−n times;
    128 is a no-op. Output must be exactly ``expected`` bytes."""
    out = bytearray()
    p = 0
    while len(out) < expected:
        if p >= len(data):
            raise MalformedMedia("PackBits stream exhausted")
        n = data[p]
        p += 1
        if n < 128:
            if p + n + 1 > len(data):
                raise MalformedMedia("PackBits literal run truncated")
            out += data[p : p + n + 1]
            p += n + 1
        elif n > 128:
            if p >= len(data):
                raise MalformedMedia("PackBits repeat run truncated")
            out += bytes([data[p]]) * (257 - n)
            p += 1
        # n == 128: no-op
    if len(out) != expected:
        raise MalformedMedia("PackBits run overflows the strip")
    return bytes(out)


def parse_tiff(payload: bytes) -> dict:
    """Dependency-free baseline TIFF 6.0 decoder: both byte orders
    (II/MM), the first IFD's 12-byte entries with inline-or-offset
    values, multi-strip layout (StripOffsets / StripByteCounts /
    RowsPerStrip), uncompressed and PackBits strips, and the baseline
    photometric interpretations — 8-bit grayscale (BlackIsZero and
    WhiteIsZero, which inverts), 8-bit RGB, and 8-bit palette color with
    the 16-bit ColorMap scaled to 8. Output is the shared
    {width, height, pixels(RGB)} contract. LZW/CCITT/JPEG/Deflate
    compression, non-8-bit depths, planar configuration 2, and tiled
    layout raise DecodeNotAvailable (valid files outside the baseline-8
    envelope — COVERAGE.md codec-gate table); structural violations
    raise MalformedMedia."""
    import numpy as np

    if payload is None or len(payload) < 8:
        raise MalformedMedia("not a TIFF payload")
    if payload[:4] == b"II*\x00":
        bo = "little"
    elif payload[:4] == b"MM\x00*":
        bo = "big"
    else:
        raise MalformedMedia("bad TIFF byte-order mark")

    def u16(off):
        return int.from_bytes(payload[off : off + 2], bo)

    def u32(off):
        return int.from_bytes(payload[off : off + 4], bo)

    ifd = u32(4)
    if ifd + 2 > len(payload):
        raise MalformedMedia("IFD offset out of range")
    n_entries = u16(ifd)
    if ifd + 2 + 12 * n_entries + 4 > len(payload):
        raise MalformedMedia("IFD truncated")
    _SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd + 2 + 12 * i
        tag, typ, cnt = u16(e), u16(e + 2), u32(e + 4)
        if typ not in _SIZES or cnt > (1 << 20):
            continue  # unknown types are skippable per spec
        size = _SIZES[typ] * cnt
        voff = e + 8 if size <= 4 else u32(e + 8)
        if voff + size > len(payload):
            raise MalformedMedia(f"tag {tag} value out of range")
        vals = []
        for k in range(cnt):
            if typ == 1:
                vals.append(payload[voff + k])
            elif typ == 3:
                vals.append(u16(voff + 2 * k))
            elif typ == 4:
                vals.append(u32(voff + 4 * k))
            elif typ == 5:
                vals.append(u32(voff + 8 * k))  # numerator only
        if typ != 2:
            tags[tag] = vals

    def one(tag, default=None):
        v = tags.get(tag)
        if not v:  # absent, or present with a zero value count
            if default is None:
                raise MalformedMedia(f"required TIFF tag {tag} missing")
            return default
        return v[0]

    w, h = one(256), one(257)
    if w < 1 or h < 1 or w * h > GIF_MAX_PIXELS:
        raise MalformedMedia("nonsensical TIFF dimensions")
    comp = one(259, 1)
    if comp not in (1, 32773):
        raise DecodeNotAvailable(f"TIFF compression {comp} not supported")
    if 322 in tags or 323 in tags:
        raise DecodeNotAvailable("tiled TIFF not supported")
    if one(284, 1) != 1:
        raise DecodeNotAvailable("planar TIFF (PlanarConfiguration=2)")
    phot = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits):
        raise DecodeNotAvailable(f"non-8-bit TIFF samples {bits}")
    if phot in (0, 1) and spp != 1:
        raise MalformedMedia("grayscale TIFF with SamplesPerPixel != 1")
    if phot == 2 and spp != 3:
        raise DecodeNotAvailable(f"RGB TIFF with {spp} samples")
    if phot == 3 and spp != 1:
        raise MalformedMedia("palette TIFF with SamplesPerPixel != 1")
    if phot not in (0, 1, 2, 3):
        raise DecodeNotAvailable(f"TIFF photometric {phot}")

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise MalformedMedia("TIFF strip tables missing or mismatched")
    rps = one(278, h)
    row_bytes = w * spp
    raw = bytearray()
    rows_left = h
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        rows_here = min(rps, rows_left)
        if rows_here <= 0:
            break
        if off + cnt > len(payload):
            raise MalformedMedia("TIFF strip out of range")
        strip = payload[off : off + cnt]
        want = rows_here * row_bytes
        if comp == 32773:
            raw += _packbits_decode(strip, want)
        else:
            if len(strip) < want:
                raise MalformedMedia("uncompressed strip truncated")
            raw += strip[:want]
        rows_left -= rows_here
    if rows_left > 0:
        raise MalformedMedia("TIFF strips cover fewer rows than ImageLength")
    px = np.frombuffer(bytes(raw), np.uint8, h * row_bytes).reshape(h, w, spp)
    if phot == 2:
        rgb = px
    elif phot == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise MalformedMedia("palette TIFF without a full ColorMap")
        lut = (
            np.array(cmap[: 3 * 256], dtype=np.uint32).reshape(3, 256).T // 257
        ).astype(np.uint8)
        rgb = lut[px[:, :, 0]]
    else:
        g = 255 - px[:, :, 0] if phot == 0 else px[:, :, 0]
        rgb = np.repeat(g[:, :, None], 3, axis=2)
    return {
        "width": w,
        "height": h,
        "pixels": np.ascontiguousarray(rgb).tobytes(),
        "format": "tiff",
    }


def _packbits_encode(row: bytes) -> bytes:
    """Per-row PackBits encoder (the spec recommends row-boundary
    flushes): greedy repeat runs ≥ 3, literal runs otherwise."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and row[i] == row[i + 1] == row[i + 2])
        ):
            i += 1
        out += bytes([i - lit - 1]) + row[lit:i]
    return bytes(out)


def synthesize_tiff(
    width: int,
    height: int,
    base: int,
    const_b: int,
    mode: str = "rgb",
    packbits: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Dependency-free baseline TIFF writer for in-query synthesis and
    tests: 8-bit RGB (pixel (x,y) = (base+x, 7·y, const_b)), grayscale
    BlackIsZero/WhiteIsZero (value base+x+y, the WhiteIsZero file
    storing the INVERTED samples so decoders that skip the inversion
    fail), or palette mode (index base+x+y against a ColorMap whose
    entry i is (i, 255−i, i/2) scaled ×257) — multi-strip, optionally
    PackBits-compressed, either byte order."""
    import struct

    bo = ">" if big_endian else "<"
    spp = 3 if mode == "rgb" else 1
    rps = rows_per_strip or max(1, height // 3)
    phot = {"rgb": 2, "gray": 1, "gray0": 0, "pal": 3}[mode]

    rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            if mode == "rgb":
                row += bytes(((base + x) & 0xFF, (7 * y) & 0xFF, const_b))
            else:
                v = (base + x + y) & 0xFF
                row.append((255 - v) if mode == "gray0" else v)
        rows.append(bytes(row))

    strips = []
    for s0 in range(0, height, rps):
        chunk = b"".join(rows[s0 : s0 + rps])
        if packbits:
            chunk = b"".join(
                _packbits_encode(r) for r in rows[s0 : s0 + rps]
            )
        strips.append(chunk)

    cmap = (
        [(i * 257) & 0xFFFF for i in range(256)]
        + [((255 - i) * 257) & 0xFFFF for i in range(256)]
        + [((i // 2) * 257) & 0xFFFF for i in range(256)]
        if mode == "pal"
        else None
    )

    entries = []  # (tag, type, count, packed-or-deferred values)

    def ent(tag, typ, vals):
        entries.append((tag, typ, vals))

    ent(256, 4, [width])
    ent(257, 4, [height])
    ent(258, 3, [8] * spp)
    ent(259, 3, [32773 if packbits else 1])
    ent(262, 3, [phot])
    ent(277, 3, [spp])
    ent(278, 4, [rps])
    ent(279, 4, [len(s) for s in strips])
    ent(273, 4, [0] * len(strips))  # patched below
    if cmap:
        ent(320, 3, cmap)
    entries.sort(key=lambda e: e[0])

    _FMT = {3: "H", 4: "I"}
    header = struct.pack(bo + "2sHI", b"MM" if big_endian else b"II", 42, 8)
    n = len(entries)
    ifd_size = 2 + 12 * n + 4
    heap_off = 8 + ifd_size
    heap = bytearray()
    fixed = []
    for tag, typ, vals in entries:
        sz = {3: 2, 4: 4}[typ] * len(vals)
        if sz <= 4:
            packed = b"".join(struct.pack(bo + _FMT[typ], v) for v in vals)
            fixed.append((tag, typ, len(vals), packed.ljust(4, b"\x00"), None))
        else:
            fixed.append((tag, typ, len(vals), heap_off + len(heap), vals))
            heap += b"".join(struct.pack(bo + _FMT[typ], v) for v in vals)
    data_off = heap_off + len(heap)
    strip_offsets = []
    p = data_off
    for s in strips:
        strip_offsets.append(p)
        p += len(s)
    out = bytearray(header)
    out += struct.pack(bo + "H", n)
    for tag, typ, cnt, val, deferred in fixed:
        out += struct.pack(bo + "HHI", tag, typ, cnt)
        if deferred is None:
            out += val
        else:
            out += struct.pack(bo + "I", val)
    out += struct.pack(bo + "I", 0)  # next IFD
    for tag, typ, cnt, val, deferred in fixed:
        if deferred is not None:
            vals = strip_offsets if tag == 273 else deferred
            out += b"".join(struct.pack(bo + _FMT[typ], v) for v in vals)
    # patch inline StripOffsets (single-strip case keeps it in the entry)
    if len(strips) == 1:
        for i, (tag, typ, cnt, val, deferred) in enumerate(fixed):
            if tag == 273 and deferred is None:
                at = 8 + 2 + 12 * i + 8
                out[at : at + 4] = struct.pack(bo + "I", strip_offsets[0])
    for s in strips:
        out += s
    return bytes(out)


def _wav_features(parsed: dict, dim: int = 8) -> list[float]:
    """Mean |amplitude| over ``dim`` equal time segments, [0, 1]."""
    import numpy as np

    pcm = np.frombuffer(
        parsed["pcm"][: len(parsed["pcm"]) // 2 * 2], dtype="<i2"
    ).astype(np.float64)
    if pcm.size == 0:
        return [0.0] * dim
    segs = np.array_split(np.abs(pcm) / 32768.0, dim)
    return [float(s.mean()) if s.size else 0.0 for s in segs]


def _ppm_features(parsed: dict, dim: int = 8) -> list[float]:
    """[mean R, mean G, mean B, mean gray of the 4 quadrants, fill] in
    [0, 1] — content features from real pixels."""
    import numpy as np

    w, h = parsed["width"], parsed["height"]
    px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(h, w, 3) / 255.0
    gray = px.mean(axis=2)
    qs = [
        gray[: h // 2 or 1, : w // 2 or 1],
        gray[: h // 2 or 1, w // 2 :],
        gray[h // 2 :, : w // 2 or 1],
        gray[h // 2 :, w // 2 :],
    ]
    out = [float(px[..., c].mean()) for c in range(3)]
    out += [float(q.mean()) if q.size else 0.0 for q in qs]
    return (out + [0.0] * dim)[:dim]


def _decode_real(payload: bytes, kind: str) -> list[float]:
    """Real decode for the uncompressed containers; DecodeNotAvailable
    for formats that need codecs (the production swap-in point for
    Pillow/torchaudio/pyav)."""
    if kind == "audio" and payload is not None and payload[:4] == b"RIFF":
        return _wav_features(parse_wav(payload))
    if kind == "image" and payload is not None and payload[:2] == b"P6":
        return _ppm_features(parse_ppm(payload))
    if kind == "image" and payload is not None and payload[:6] in (
        b"GIF87a",
        b"GIF89a",
    ):
        return _ppm_features(parse_gif(payload))
    if kind == "image" and payload is not None and payload[:8] == _PNG_MAGIC:
        return _ppm_features(parse_png(payload))
    if kind == "image" and payload is not None and payload[:2] == b"\xff\xd8":
        from .jpeg import parse_jpeg

        return _ppm_features(parse_jpeg(payload))
    if kind == "image" and payload is not None and payload[:2] == b"BM":
        return _ppm_features(parse_bmp(payload))
    if kind == "image" and payload is not None and payload[:4] == b"qoif":
        return _ppm_features(parse_qoi(payload))
    if kind == "image" and payload is not None and payload[:4] in (
        b"II*\x00",
        b"MM\x00*",
    ):
        return _ppm_features(parse_tiff(payload))
    raise DecodeNotAvailable(
        f"no codec for kind={kind!r} beyond WAV/PPM/GIF/PNG/JPEG/BMP/QOI/TIFF "
        "in this environment; install pillow/torchaudio/pyav and extend _decode_real"
    )


def _decode_fake(payload: bytes, kind: str, dim: int = 8) -> list[float]:
    """Deterministic fake decode: md5-derived feature vector. Keeps the
    whole pipeline runnable and testable without codecs."""
    import hashlib

    h = hashlib.md5(payload or b"").digest()
    return [h[i % 16] / 255.0 for i in range(dim)]


def make_media_df(spark: SparkSession, n: int = 64) -> DataFrame:
    """Synthetic media table (deterministic payloads) for tests/demos."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes([(i * 7 + j) % 256 for j in range(128 + i)])
        meta = {
            "width": 64 + i if kind == "image" else None,
            "height": 48 + i if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 1000 + 10 * i if kind != "image" else None,
            "format": {"image": "png", "audio": "wav", "video": "mp4"}[kind],
        }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_features(media: DataFrame, use_fake_decoder: bool = True) -> DataFrame:
    """Decode + featurize each payload via Arrow-batched mapInPandas.

    The UDF sees bounded pandas batches; per-row Python cost is the decode
    itself (unavoidable), everything else stays vectorized."""
    decoder = _decode_fake if use_fake_decoder else _decode_real

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "feature": [
                        decoder(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def decode_with_quarantine(media: DataFrame) -> DataFrame:
    """The REAL decode path with quarantine routing: WAV and PPM payloads
    are parsed for genuine metadata (sample rate, duration, dimensions)
    and content features; malformed or codec-requiring payloads become
    ok=false rows carrying the error string — a poisoned payload can
    never fail the job. Arrow-batched mapInPandas, metadata-first like
    the rest of the module."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                row = {
                    "media_id": media_id, "kind": kind, "ok": False,
                    "error": None, "width": None, "height": None,
                    "sample_rate": None, "duration_ms": None,
                    "format": None, "feature": None,
                }
                try:
                    payload = bytes(payload) if payload is not None else None
                    if kind == "audio":
                        parsed = parse_wav(payload)
                        row.update(
                            ok=True, sample_rate=parsed["sample_rate"],
                            duration_ms=parsed["duration_ms"],
                            format=parsed["format"],
                            feature=_wav_features(parsed),
                        )
                    elif kind == "image":
                        if payload is not None and payload[:6] in (
                            b"GIF87a",
                            b"GIF89a",
                        ):
                            parsed = parse_gif(payload)
                        elif payload is not None and payload[:8] == _PNG_MAGIC:
                            parsed = parse_png(payload)
                        elif payload is not None and payload[:2] == b"\xff\xd8":
                            from .jpeg import parse_jpeg

                            parsed = parse_jpeg(payload)
                        elif payload is not None and payload[:2] == b"BM":
                            parsed = parse_bmp(payload)
                        elif payload is not None and payload[:4] == b"qoif":
                            parsed = parse_qoi(payload)
                        elif payload is not None and payload[:4] in (
                            b"II*\x00",
                            b"MM\x00*",
                        ):
                            parsed = parse_tiff(payload)
                        else:
                            parsed = parse_ppm(payload)
                        row.update(
                            ok=True, width=parsed["width"],
                            height=parsed["height"], format=parsed["format"],
                            feature=_ppm_features(parsed),
                        )
                    else:
                        raise DecodeNotAvailable(f"no codec for kind={kind!r}")
                except (MalformedMedia, DecodeNotAvailable) as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return media.mapInPandas(batches, DECODED_SCHEMA)


# Audio curation thresholds: frames quieter than SILENCE_RMS (full-scale
# normalized) count as silence; samples at int16 rails count as clipping.
SILENCE_RMS = 0.01
AUDIO_FRAME_MS = 100


def wav_loudness_stats(parsed: dict, frame_ms: int = AUDIO_FRAME_MS) -> dict:
    """Per-file loudness/silence/clipping profile from REAL PCM16 bytes —
    the audio-curation signals (dead air, mic clipping, loudness range) a
    training pipeline filters on. Channels are mixed to mono, the stream
    framed at ``frame_ms``, per-frame RMS computed in numpy."""
    import numpy as np

    pcm = np.frombuffer(
        parsed["pcm"][: len(parsed["pcm"]) // 2 * 2], dtype="<i2"
    ).astype(np.float64)
    nch = max(1, parsed["n_channels"])
    pcm = pcm[: pcm.size // nch * nch]
    if pcm.size == 0:
        return {
            "n_frames": 0, "rms_mean": 0.0, "rms_max": 0.0,
            "silent_frac": 1.0, "longest_silence_ms": parsed["duration_ms"],
            "clip_frac": 0.0,
        }
    clip_frac = float((np.abs(pcm) >= 32767).mean())
    mono = pcm.reshape(-1, nch).mean(axis=1) / 32768.0
    frame_len = max(1, parsed["sample_rate"] * frame_ms // 1000)
    n_frames = (mono.size + frame_len - 1) // frame_len
    pad = np.zeros(n_frames * frame_len)
    pad[: mono.size] = mono
    frames = pad.reshape(n_frames, frame_len)
    # normalize each frame's energy by its REAL sample count — zero-pad
    # normalization would deflate a loud partial tail frame by up to
    # sqrt(frame_len) and misclassify it as silence
    true_len = np.full(n_frames, frame_len, dtype=np.float64)
    if mono.size % frame_len:
        true_len[-1] = mono.size % frame_len
    rms = np.sqrt((frames * frames).sum(axis=1) / true_len)
    silent = rms < SILENCE_RMS
    longest = run = 0
    for s in silent:
        run = run + 1 if s else 0
        longest = max(longest, run)
    return {
        "n_frames": int(n_frames),
        "rms_mean": float(rms.mean()),
        "rms_max": float(rms.max()),
        "silent_frac": float(silent.mean()),
        "longest_silence_ms": int(longest * frame_ms),
        "clip_frac": clip_frac,
    }


AUDIO_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("rms_mean", T.DoubleType(), True),
        T.StructField("rms_max", T.DoubleType(), True),
        T.StructField("silent_frac", T.DoubleType(), True),
        T.StructField("longest_silence_ms", T.IntegerType(), True),
        T.StructField("clip_frac", T.DoubleType(), True),
    ]
)


def audio_quality(media: DataFrame, frame_ms: int = AUDIO_FRAME_MS) -> DataFrame:
    """Audio-quality profiling over real WAV payloads with quarantine
    routing: metadata-first filter (only audio rows reach Python), then
    one Arrow-batched pass computing the loudness/silence/clipping
    profile per file; malformed payloads become ok=false rows. The audio
    leg of the curation pipeline — filter on silent_frac/clip_frac the
    way text filters on repetition/quality scores."""
    audio = media.filter(F.col("kind") == "audio")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                row = dict.fromkeys(
                    (f.name for f in AUDIO_QUALITY_SCHEMA.fields), None
                )
                row.update(media_id=media_id, ok=False)
                try:
                    parsed = parse_wav(
                        bytes(payload) if payload is not None else None
                    )
                    row.update(
                        ok=True,
                        sample_rate=parsed["sample_rate"],
                        duration_ms=parsed["duration_ms"],
                        **wav_loudness_stats(parsed, frame_ms),
                    )
                except (MalformedMedia, DecodeNotAvailable) as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_QUALITY_SCHEMA.fields]
            )

    return audio.mapInPandas(batches, AUDIO_QUALITY_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image-resize plumbing: metadata-first filter (only images flow into
    Python), stubbed pixel kernel, metadata rewritten Spark-side."""
    images = media.filter(F.col("kind") == "image")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # Real impl: decode → resample → re-encode. Stub: passthrough.
            yield pdf

    resized = images.mapInPandas(batches, MEDIA_SCHEMA)
    return resized.withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.format").alias("format"),
        ),
    )


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → a scale-tracking media table: payload = utf-8 bytes of
    the text (a deterministic opaque binary), kind assigned round-robin.
    This is how a real multimodal lakehouse table looks to the engine —
    an opaque binary column plus typed metadata — so the whole decode
    pipeline is exercised on driver-scaled data with an exact oracle."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: decode/featurize the document-derived media table via
    the Arrow-batched pipeline; emit the byte count and a deterministic
    left-fold checksum of the feature vector (float32 values accumulated
    in index order as doubles — reproducible bit-for-bit in SQL)."""
    feats = extract_features(media_from_documents(spark, sf_dir))
    checksum = F.aggregate(
        F.col("feature"), F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double")
    )
    return feats.select("media_id", "kind", "n_bytes", checksum.alias("feature_checksum"))


def _feature_terms_sql(dim: int = 8) -> str:
    """The fake decoder's feature vector in SQL: byte i of md5(payload),
    /255.0 as double, narrowed to float32 (REAL) exactly like the Arrow
    array<float>, then widened back for the fold."""
    terms = [
        f"CAST(CAST(CAST(('0x' || substr(md5(text), {2 * i + 1}, 2)) AS BIGINT)"
        f" / 255.0 AS REAL) AS DOUBLE)"
        for i in range(dim)
    ]
    folded = "CAST(0.0 AS DOUBLE)"
    for t in terms:
        folded = f"({folded} + {t})"
    return folded


MULTIMODAL_SQL = f"""
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       {_feature_terms_sql()} AS feature_checksum
FROM documents
"""


def ppm_ahash(parsed: dict, hash_size: int = 8) -> int:
    """REAL perceptual average-hash from decoded PPM pixels: grayscale,
    box-downsample to hash_size², one bit per cell (above/below the
    mean). Near-identical images differ in few bits; unrelated images
    in ~half. Dependency-free (numpy); the pytest suite certifies the
    Hamming behavior on genuine payloads."""
    import numpy as np

    w, h = parsed["width"], parsed["height"]
    px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(h, w, 3)
    gray = px.mean(axis=2)
    # box downsample via split indices (handles h, w < hash_size too)
    ys = np.array_split(np.arange(h), hash_size)
    xs = np.array_split(np.arange(w), hash_size)
    cells = np.array(
        [[gray[np.ix_(y, x)].mean() if y.size and x.size else 0.0 for x in xs] for y in ys]
    )
    bits = (cells > cells.mean()).flatten()
    return int(sum(1 << i for i, b in enumerate(bits) if b))


PHASH_BANDS, PHASH_BAND_BITS, PHASH_THRESHOLD = 8, 4, 7


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit content fingerprint per media payload: md5 of the raw
    bytes folded to 32 bits by XOR of its four words. For genuinely
    decodable media the perceptual ``ppm_ahash`` is the drop-in
    fingerprint (same width, same banding); the fold-hash keeps the
    driver entry exact on the document-derived corpus, which has no
    real pixel payloads."""
    m = media_from_documents(spark, sf_dir)
    h = F.md5("payload")
    words = [
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") for i in range(4)
    ]
    phash = words[0].bitwiseXOR(words[1]).bitwiseXOR(words[2]).bitwiseXOR(words[3])
    return m.select("media_id", phash.alias("phash"))


def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media pairs by Hamming distance over the 32-bit
    fingerprint, via the SAME pigeonhole band kernel as SimHash — here
    8 disjoint 4-bit bands, so every pair within Hamming ≤ 7 agrees
    exactly on ≥ 1 band and the complete pair set falls out of an
    equi-join (no all-pairs stage; the all-pairs DuckDB oracle proves
    the identical set). Swap in ``ppm_ahash`` bits for decoded media
    and the plan is the production perceptual near-dup pass."""
    from .dedup import hamming_banded_pairs

    ph = media_phash(spark, sf_dir).select(
        F.col("media_id").alias("doc_id"), F.col("phash").alias("simhash")
    )
    pairs = hamming_banded_pairs(
        ph, n_bands=PHASH_BANDS, band_bits=PHASH_BAND_BITS, threshold=PHASH_THRESHOLD
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )


PHASH_NEARDUP_SQL = f"""
WITH ph AS (
  SELECT doc_id AS media_id,
         xor(xor(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT),
                 CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT)),
             xor(CAST(('0x' || substr(md5(text), 17, 8)) AS BIGINT),
                 CAST(('0x' || substr(md5(text), 25, 8)) AS BIGINT))) AS phash
  FROM documents
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_THRESHOLD}
"""


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: explode one row per sampled frame
    timestamp (computed from metadata Spark-side); the frame grab itself is
    the stubbed kernel."""
    videos = media.filter(F.col("kind") == "video")
    return videos.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
        ).alias("frame_ms"),
        "payload",
    ).withColumn("frame", F.lit(None).cast("binary"))  # stub: real grab decodes here


def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the frame-sampling plumbing: videos of the
    document-derived media table, duration derived deterministically from
    payload length, one row per sampled frame via ``explode(sequence)``
    (the same shape ``sample_frames`` uses on real metadata), then
    per-media frame counts. The oracle states the closed form — the
    explode must reproduce exactly ``dur div step + 1`` frames."""
    m = media_from_documents(spark, sf_dir).filter(F.col("kind") == "video")
    dur = F.length("payload").cast("long")
    frames = m.select(
        "media_id",
        F.explode(F.sequence(F.lit(0).cast("long"), dur, F.lit(250).cast("long"))).alias(
            "frame_ms"
        ),
    )
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ms").alias("last_frame_ms"),
    )


FRAME_INDEX_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) // 250 + 1 AS BIGINT) AS n_frames,
       CAST(octet_length(encode(text)) // 250 * 250 AS BIGINT) AS last_frame_ms
FROM documents
WHERE CAST(doc_id % 3 AS INT) = 2
"""


from . import registry  # noqa: E402

def synthesize_gif(
    frames_rows: list[int],
    v: int,
    delay_cs: int,
    width: int = 8,
    height: int = 8,
) -> bytes:
    """Dependency-free GIF89a writer for in-query media synthesis (the
    pii-redact discipline: the driver corpus has no real media column,
    so entries BUILD payloads deterministically from table columns and
    the oracle states the closed-form outcome). Frame i paints the top
    ``frames_rows[i]`` rows in color (v,0,0) over black, full-canvas,
    disposal=keep. The LZW stream is one CLEAR followed by raw literal
    codes at min_code_size=7: the dictionary grows one entry per pixel
    but stays below 256 for ≤ 127-pixel frames, so every code is
    exactly one byte — a valid stream with no bit-packing logic to
    mirror a decoder bug into."""
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0x80, 0, 0])  # GCT flag, 2 colors; bg 0; no aspect
    out += bytes([0, 0, 0, v & 0xFF, 0, 0])  # palette: black, (v,0,0)
    for rows in frames_rows:
        out += bytes([0x21, 0xF9, 4, 0])  # GCE: disposal 0, no transparency
        out += delay_cs.to_bytes(2, "little") + bytes([0, 0])
        out += b"\x2c" + bytes(4) + width.to_bytes(2, "little")
        out += height.to_bytes(2, "little") + bytes([0])
        idx = bytes(
            [1 if y < rows else 0 for y in range(height) for _ in range(width)]
        )
        # one CLEAR then raw literal codes: the dictionary grows by one
        # entry per pixel but stays < 256 for frames <= 127 pixels past
        # the 128-entry root, so every code remains exactly one byte
        assert width * height <= 127
        lzw = b"\x80" + idx + b"\x81"
        out += bytes([7])  # LZW min code size
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    return bytes(out) + b"\x3b"


def multimodal_gif_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the animated-GIF decode + motion kernel: per
    document, synthesize a small animation whose geometry derives from
    ``doc_id`` (frame count 2-4, fill heights alternating between
    a = doc_id % 9 and b = (7·doc_id + 3) % 9, red level 1 + doc_id % 255,
    per-frame delay 10 + doc_id % 7), run the REAL ``parse_gif_frames``
    + ``gif_motion_stats`` pipeline in Arrow batches, and emit the
    motion profile. All consecutive frame deltas equal |a − b|·8 changed
    pixels × the red level, so the oracle states the expected stats in
    closed form — replaying numpy's exact fold order (((x+x)+x)/3) for
    the 1-3 delta means. Docs with doc_id ≡ 1 (mod 3) yield a = b: a
    genuinely static animation, so the hash certifies both the moving
    and the static-banner polarity."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                n_frames = 2 + doc_id % 3
                a, b = doc_id % 9, (7 * doc_id + 3) % 9
                payload = synthesize_gif(
                    [(a, b)[i % 2] for i in range(n_frames)],
                    v=1 + doc_id % 255,
                    delay_cs=10 + doc_id % 7,
                )
                stats = gif_motion_stats(parse_gif_frames(payload))
                rows.append(
                    {
                        "media_id": doc_id,
                        "n_frames": stats["n_frames"],
                        "duration_cs": stats["duration_cs"],
                        "motion_energy": stats["motion_energy"],
                        "changed_fraction": stats["changed_fraction"],
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches,
        "media_id long, n_frames long, duration_cs long, "
        "motion_energy double, changed_fraction double",
    )


GIF_MOTION_SQL = """
WITH p AS (
  SELECT doc_id,
         2 + doc_id % 3 AS n_frames,
         10 + doc_id % 7 AS delay_cs,
         1 + doc_id % 255 AS v,
         abs(doc_id % 9 - (7 * doc_id + 3) % 9) AS ab
  FROM documents
),
x AS (
  SELECT doc_id, n_frames,
         n_frames * delay_cs AS duration_cs,
         CAST(ab * 8 * v AS DOUBLE) / 192 AS me1,
         CAST(ab * 8 AS DOUBLE) / 64 AS cf1,
         n_frames - 1 AS nd
  FROM p
)
SELECT doc_id AS media_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(duration_cs AS BIGINT) AS duration_cs,
       CASE nd WHEN 1 THEN me1 WHEN 2 THEN (me1 + me1) / 2
               ELSE ((me1 + me1) + me1) / 3 END AS motion_energy,
       CASE nd WHEN 1 THEN cf1 WHEN 2 THEN (cf1 + cf1) / 2
               ELSE ((cf1 + cf1) + cf1) / 3 END AS changed_fraction
FROM x
"""


def synthesize_wav(
    n_silent_frames: int,
    n_loud_frames: int,
    k: int,
    sample_rate: int = 8000,
    frame_ms: int = AUDIO_FRAME_MS,
) -> bytes:
    """Dependency-free RIFF/PCM16 writer for in-query audio synthesis
    (the gif-motion discipline): ``n_silent_frames`` of zeros followed
    by ``n_loud_frames`` of the constant sample 1024·k (mono). With
    amplitude restricted to multiples of 1024 and k ≤ 31, every frame's
    squared-sample sum is an exact multiple of 1/1024 with a ≤ 20-bit
    numerator, so the RMS chain (sum, per-frame divide, sqrt) is EXACT
    in IEEE doubles in any summation order — the closed-form oracle
    doesn't have to replay numpy's pairwise-sum tree."""
    import struct

    frame_len = sample_rate * frame_ms // 1000
    n = (n_silent_frames + n_loud_frames) * frame_len
    data = b"\x00\x00" * (n_silent_frames * frame_len) + struct.pack(
        "<h", 1024 * k
    ) * (n_loud_frames * frame_len)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(out) - 4) + out


def multimodal_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the audio-curation leg: per document, synthesize
    a WAV whose silence/loudness geometry derives from ``doc_id``
    (doc_id % 3 leading silent frames, 3 + doc_id % 4 total frames,
    amplitude 1024·(1 + doc_id % 31)), run the REAL ``parse_wav`` +
    ``wav_loudness_stats`` pipeline through ``audio_quality`` (incl.
    its quarantine routing), and emit the profile. The amplitude-grid
    trick makes every RMS exact (see synthesize_wav), so the oracle
    states the whole profile in closed form; docs with doc_id ≡ 0
    (mod 3) have zero silence — both polarities of the silence filter
    are certified by the hash."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                ns = doc_id % 3
                total = 3 + doc_id % 4
                rows.append(
                    {
                        "media_id": doc_id,
                        "kind": "audio",
                        "payload": synthesize_wav(ns, total - ns, 1 + doc_id % 31),
                    }
                )
            yield pd.DataFrame(rows)

    media = d.mapInPandas(synth, "media_id long, kind string, payload binary")
    return audio_quality(media)


AUDIO_QUALITY_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 3 AS ns,
         3 + doc_id % 4 AS total,
         1 + doc_id % 31 AS k
  FROM documents
)
SELECT doc_id AS media_id,
       true AS ok,
       CAST(NULL AS VARCHAR) AS error,
       CAST(8000 AS INT) AS sample_rate,
       CAST(total * 100 AS INT) AS duration_ms,
       CAST(total AS INT) AS n_frames,
       (CAST((total - ns) * k AS DOUBLE) / 32) / total AS rms_mean,
       CAST(k AS DOUBLE) / 32 AS rms_max,
       CAST(ns AS DOUBLE) / total AS silent_frac,
       CAST(ns * 100 AS INT) AS longest_silence_ms,
       CAST(0.0 AS DOUBLE) AS clip_frac
FROM p
"""


def synthesize_wav_mulaw(
    n_silent_frames: int,
    n_loud_frames: int,
    code: int,
    sample_rate: int = 8000,
    frame_ms: int = AUDIO_FRAME_MS,
) -> bytes:
    """RIFF writer for G.711 μ-law WAV (audio_format 7, 8-bit mono):
    ``n_silent_frames`` of the zero code 0xFF followed by
    ``n_loud_frames`` of the constant transmitted ``code``.  Because the
    loud frames decode to one constant 16-bit value A, every frame RMS
    is |A|/32768 EXACTLY in IEEE doubles (A/2¹⁵ is exact, A² < 2³⁰ is
    exact, the constant-frame mean and sqrt are exact) — the same
    closed-form-oracle discipline as synthesize_wav's 1024-grid."""
    import struct

    frame_len = sample_rate * frame_ms // 1000
    data = b"\xff" * (n_silent_frames * frame_len) + bytes([code]) * (
        n_loud_frames * frame_len
    )
    fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
    out = b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(out) - 4) + out


def multimodal_mulaw_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the COMPANDED audio leg: per document, synthesize
    a G.711 μ-law WAV whose geometry derives from doc_id (doc_id % 3
    leading silent frames of the zero code, 3 + doc_id % 4 total frames,
    loud code from sign s = doc_id % 2, exponent e = 2 + doc_id % 6,
    mantissa m = doc_id % 16 → transmitted byte 255 − (s·128 + e·16 + m)),
    run the REAL ``parse_wav`` μ-law expansion + ``wav_loudness_stats``
    through ``audio_quality``'s quarantine pipeline, and emit the
    profile.  Restricting e ≥ 2 keeps |A| = ((m·8+132)<<e) − 132 ≥ 396 >
    SILENCE_RMS·32768, so loud frames are never misclassified silent and
    the oracle states the whole profile in closed form — the decoded
    amplitude itself is recomputed arithmetically in SQL, certifying the
    expansion formula against an independent engine."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                ns = doc_id % 3
                total = 3 + doc_id % 4
                u = (doc_id % 2) * 128 + (2 + doc_id % 6) * 16 + doc_id % 16
                rows.append(
                    {
                        "media_id": doc_id,
                        "kind": "audio",
                        "payload": synthesize_wav_mulaw(ns, total - ns, 255 - u),
                    }
                )
            yield pd.DataFrame(rows)

    media = d.mapInPandas(synth, "media_id long, kind string, payload binary")
    return audio_quality(media)


MULAW_QUALITY_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 3 AS ns,
         3 + doc_id % 4 AS total,
         ((doc_id % 16) * 8 + 132) * (1 << (2 + doc_id % 6)) - 132 AS amp
  FROM documents
)
SELECT doc_id AS media_id,
       true AS ok,
       CAST(NULL AS VARCHAR) AS error,
       CAST(8000 AS INT) AS sample_rate,
       CAST(total * 100 AS INT) AS duration_ms,
       CAST(total AS INT) AS n_frames,
       (CAST((total - ns) * amp AS DOUBLE) / 32768) / total AS rms_mean,
       CAST(amp AS DOUBLE) / 32768 AS rms_max,
       CAST(ns AS DOUBLE) / total AS silent_frac,
       CAST(ns * 100 AS INT) AS longest_silence_ms,
       CAST(0.0 AS DOUBLE) AS clip_frac
FROM p
"""


def synthesize_png(width: int, height: int, base_r: int, const_b: int) -> bytes:
    """Dependency-free PNG writer for in-query image synthesis (the
    gif/wav discipline): truecolor 8-bit, every scanline Sub-filtered,
    IDAT deflated with stdlib zlib — so the driver entry exercises the
    REAL inflate + unfilter path. Pixel (y, x) = (base_r + x, 7·y,
    const_b); callers keep base_r + width ≤ 256 and 7·height ≤ 256 so
    channel sums have wrap-free closed forms."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    raw = bytearray()
    for y in range(height):
        row = bytes(
            v for x in range(width) for v in (base_r + x, 7 * y, const_b)
        )
        raw.append(1)  # Sub filter
        raw += bytes(
            (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
            for i in range(len(row))
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the PNG decode path (stdlib-zlib DEFLATE +
    Sub unfiltering): per document, synthesize a truecolor PNG whose
    gradient geometry derives from doc_id (width 4 + doc_id % 13,
    height 3 + doc_id % 7, red base doc_id % 240, blue doc_id % 251),
    decode it with the REAL ``parse_png``, and emit integer-exact
    channel sums — so the oracle states them in closed form
    (sum_r = h·(w·b + w(w−1)/2), sum_g = 7·w·h(h−1)/2, sum_b = w·h·c)
    with no float arithmetic to replicate at all."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 13, 3 + doc_id % 7
                payload = synthesize_png(w, h, doc_id % 240, doc_id % 251)
                parsed = parse_png(payload)
                px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(
                    parsed["height"], parsed["width"], 3
                )
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": doc_id,
                        "width": parsed["width"],
                        "height": parsed["height"],
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches,
        "media_id long, width int, height int, sum_r long, sum_g long, sum_b long",
    )


PNG_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13 AS w,
         3 + doc_id % 7 AS h,
         doc_id % 240 AS b,
         doc_id % 251 AS cb
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(h * (w * b + w * (w - 1) // 2) AS BIGINT) AS sum_r,
       CAST(7 * w * (h * (h - 1) // 2) AS BIGINT) AS sum_g,
       CAST(w * h * cb AS BIGINT) AS sum_b
FROM p
"""


def multimodal_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the BMP decode path: per document, synthesize a
    BMP whose geometry derives from doc_id and decode it with the REAL
    ``parse_bmp``. Even doc_ids take the 24-bit truecolor bottom-up
    branch (pixel (x,y) = (b+x, 7y, cb)); odd doc_ids take the 8-bit
    palette TOP-DOWN branch (grayscale index b'+x+y) — so one entry
    exercises both pixel layouts, both row orders, and the stride
    padding. Channel sums are integer-exact with closed forms, and
    ``first_row_sum`` (R+G+B over image row y=0) pins the vertical
    orientation: a decoder that ignores the bottom-up flip or the
    top-down sign inflates it by a y-dependent term the oracle would
    catch."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 5 + doc_id % 11, 2 + doc_id % 9
                indexed = doc_id % 2 == 1
                base = doc_id % 200 if indexed else doc_id % 240
                payload = synthesize_bmp(
                    w, h, base, doc_id % 251, indexed=indexed, top_down=indexed
                )
                parsed = parse_bmp(payload)
                px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(
                    parsed["height"], parsed["width"], 3
                )
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": doc_id,
                        "width": parsed["width"],
                        "height": parsed["height"],
                        "mode": "pal8" if indexed else "rgb24",
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                        "first_row_sum": int(px[0].astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches,
        "media_id long, width int, height int, mode string, "
        "sum_r long, sum_g long, sum_b long, first_row_sum long",
    )


def multimodal_qoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the QOI codec path: per document, synthesize a
    deterministic image from doc_id, ENCODE it with the real
    ``encode_qoi``, decode the bytes back with the real ``parse_qoi``,
    and emit integer channel sums with closed-form oracles — so the
    driver hash certifies the full encode→decode loop. Even doc_ids
    build a gradient (pixel (x,y) = (base+x, 7y, cb): DIFF ops inside
    rows, literal RGB at row breaks); odd doc_ids build row stripes
    alternating two colors (RUN ops inside rows, an INDEX op at every
    return to the first color). ``compressed`` pins that the encoding
    is actually smaller than raw+framing — a run/index regression that
    falls back to literal RGB flips it and the hash goes red."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 9, 3 + doc_id % 7
                base, cb = doc_id % 200, doc_id % 251
                img = np.zeros((h, w, 3), dtype=np.uint8)
                if doc_id % 2 == 0:
                    for y in range(h):
                        for x in range(w):
                            img[y, x] = (base + x, (7 * y) & 0xFF, cb)
                    mode = "gradient"
                else:
                    a = (base, 50, cb)
                    b = ((base + 97) % 251, 180, cb)
                    for y in range(h):
                        img[y, :] = a if y % 2 == 0 else b
                    mode = "stripes"
                enc = encode_qoi(img)
                parsed = parse_qoi(enc)
                px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(
                    parsed["height"], parsed["width"], 3
                )
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": doc_id,
                        "width": parsed["width"],
                        "height": parsed["height"],
                        "mode": mode,
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                        "compressed": len(enc) < 22 + 3 * w * h,
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches,
        "media_id long, width int, height int, mode string, "
        "sum_r long, sum_g long, sum_b long, compressed boolean",
    )


def multimodal_tiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the TIFF decode path: per document, synthesize a
    baseline TIFF whose geometry, photometric mode (rgb / gray /
    WhiteIsZero gray / palette, rotating by doc_id % 4), compression
    (PackBits on odd ids), byte order (big-endian on doc_id % 3 == 0)
    and strip height all derive from doc_id, decode it with the REAL
    ``parse_tiff``, and emit integer channel sums. The oracle recomputes
    every pixel arithmetically in SQL, so the hash certifies strips,
    PackBits, both byte orders, the WhiteIsZero inversion (the file
    stores inverted samples — skipping the inversion flips the sums) and
    the ×257 ColorMap scaling."""
    from ..sources.testdata import load_table_parallel

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 9, 3 + doc_id % 7
                base, cb = doc_id % 200, doc_id % 251
                mode = ("rgb", "gray", "gray0", "pal")[doc_id % 4]
                payload = synthesize_tiff(
                    w, h, base, cb,
                    mode=mode,
                    packbits=doc_id % 2 == 1,
                    big_endian=doc_id % 3 == 0,
                    rows_per_strip=1 + doc_id % 4,
                )
                parsed = parse_tiff(payload)
                px = np.frombuffer(parsed["pixels"], dtype=np.uint8).reshape(
                    parsed["height"], parsed["width"], 3
                )
                sums = px.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    {
                        "media_id": doc_id,
                        "width": parsed["width"],
                        "height": parsed["height"],
                        "mode": mode,
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches,
        "media_id long, width int, height int, mode string, "
        "sum_r long, sum_g long, sum_b long",
    )


TIFF_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 9 AS w,
         3 + doc_id % 7 AS h,
         doc_id % 200 AS b,
         doc_id % 251 AS cb,
         CASE doc_id % 4 WHEN 0 THEN 'rgb' WHEN 1 THEN 'gray'
                         WHEN 2 THEN 'gray0' ELSE 'pal' END AS mode
  FROM documents
),
gx AS (SELECT p.*, unnest(range(0, w)) AS x FROM p),
xy AS (SELECT gx.*, unnest(range(0, h)) AS y FROM gx),
px AS (
  SELECT doc_id, w, h, mode,
         CASE WHEN mode = 'rgb' THEN b + x ELSE b + x + y END AS r,
         CASE WHEN mode = 'rgb' THEN 7 * y
              WHEN mode = 'pal' THEN 255 - (b + x + y)
              ELSE b + x + y END AS g,
         CASE WHEN mode = 'rgb' THEN cb
              WHEN mode = 'pal' THEN (b + x + y) // 2
              ELSE b + x + y END AS bl
  FROM xy
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       mode,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(bl) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h, mode
"""


QOI_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 9 AS w,
         3 + doc_id % 7 AS h,
         doc_id % 200 AS b,
         doc_id % 251 AS cb
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN 'gradient' ELSE 'stripes' END AS mode,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN h * (w * b + w * (w - 1) // 2)
                 ELSE w * ((h - h // 2) * b + (h // 2) * ((b + 97) % 251))
            END AS BIGINT) AS sum_r,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN 7 * w * (h * (h - 1) // 2)
                 ELSE w * ((h - h // 2) * 50 + (h // 2) * 180)
            END AS BIGINT) AS sum_g,
       CAST(w * h * cb AS BIGINT) AS sum_b,
       true AS compressed
FROM p
"""


BMP_STATS_SQL = """
WITH p AS (
  SELECT doc_id,
         5 + doc_id % 11 AS w,
         2 + doc_id % 9 AS h,
         doc_id % 2 = 1 AS indexed,
         CASE WHEN doc_id % 2 = 1 THEN doc_id % 200 ELSE doc_id % 240 END AS b,
         doc_id % 251 AS cb
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CASE WHEN indexed THEN 'pal8' ELSE 'rgb24' END AS mode,
       CAST(CASE WHEN indexed
                 THEN w * h * b + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
                 ELSE h * (w * b + w * (w - 1) // 2) END AS BIGINT) AS sum_r,
       CAST(CASE WHEN indexed
                 THEN w * h * b + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
                 ELSE 7 * w * (h * (h - 1) // 2) END AS BIGINT) AS sum_g,
       CAST(CASE WHEN indexed
                 THEN w * h * b + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)
                 ELSE w * h * cb END AS BIGINT) AS sum_b,
       CAST(CASE WHEN indexed
                 THEN 3 * (w * b + w * (w - 1) // 2)
                 ELSE (w * b + w * (w - 1) // 2) + w * cb END AS BIGINT)
         AS first_row_sum
FROM p
"""


def synthesize_jpeg_dc(bw: int, bh: int, dcs: list[int]) -> bytes:
    """Dependency-free baseline-JPEG writer for in-query synthesis:
    grayscale, flat quantization (all 1s), DC-only blocks (every AC run
    is an immediate EOB), one Huffman-coded interleaved scan with
    byte-stuffing. A DC-only block inverse-DCTs to the CONSTANT
    128 + d/8 (exact for d a multiple of 8, |d| ≤ 1016 — verified to
    survive the decoder's rint within float error), so the driver
    entry's pixel sums have integer closed forms while the payload
    still exercises the REAL marker walk, Huffman decode, DC
    prediction, dequantize, and batched IDCT."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    # canonical tables: 12 DC categories at 4 bits; AC = one EOB code (2 bits)
    dc_bits = bytes([0, 0, 0, 12] + [0] * 12)
    dc_vals = bytes(range(12))
    ac_bits = bytes([0, 1] + [0] * 14)
    ac_vals = bytes([0x00])

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(0xC0, bytes([8]) + struct.pack(">HH", bh * 8, bw * 8) + bytes([1, 1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + dc_bits + dc_vals + bytes([0x10]) + ac_bits + ac_vals)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

    acc, nbits, data = 0, 0, bytearray()

    def write(code: int, length: int) -> None:
        nonlocal acc, nbits
        acc = (acc << length) | code
        nbits += length
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            data.append(byte)
            if byte == 0xFF:
                data.append(0x00)  # byte stuffing

    pred = 0
    for d in dcs:
        diff = d - pred
        pred = d
        size = abs(diff).bit_length()
        write(size, 4)  # canonical: symbol k gets code k at length 4
        if size:
            raw = diff if diff >= 0 else diff + (1 << size) - 1
            write(raw, size)
        write(0, 2)  # AC: immediate EOB (the single length-2 code)
    if nbits:
        pad = 8 - nbits
        write((1 << pad) - 1, pad)  # 1-pad to byte boundary
    return bytes(out) + bytes(data) + b"\xff\xd9"


def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the baseline-JPEG decode path: per document,
    synthesize a DC-only grayscale JPEG whose block grid and DC values
    derive from doc_id (bw = 1 + doc_id % 3, bh = 1 + doc_id % 2,
    block i's DC = 8·((doc_id + 13·i) % 200 − 100)), decode it with the
    REAL ``parse_jpeg`` (marker walk, canonical-Huffman scan, DC
    prediction, dequantize, batched IDCT, grayscale→RGB), and emit the
    integer-exact sum over every RGB byte — the oracle replays the
    closed form 192·(128·n + Σ_i k_i) with a tiny range join."""
    from ..sources.testdata import load_table_parallel
    from .jpeg import parse_jpeg

    d = load_table_parallel(spark, sf_dir, "documents").select("doc_id")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if pdf.empty:
                continue
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                bw, bh = 1 + doc_id % 3, 1 + doc_id % 2
                dcs = [
                    8 * ((doc_id + 13 * i) % 200 - 100) for i in range(bw * bh)
                ]
                parsed = parse_jpeg(synthesize_jpeg_dc(bw, bh, dcs))
                px = np.frombuffer(parsed["pixels"], dtype=np.uint8)
                rows.append(
                    {
                        "media_id": doc_id,
                        "width": parsed["width"],
                        "height": parsed["height"],
                        "pixel_sum": int(px.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        batches, "media_id long, width int, height int, pixel_sum long"
    )


JPEG_STATS_SQL = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh FROM documents
),
k AS (
  SELECT p.doc_id, p.bw, p.bh,
         SUM((p.doc_id + 13 * t.i) % 200 - 100) AS ksum,
         COUNT(*) AS n
  FROM p, range(0, 6) t(i)
  WHERE t.i < p.bw * p.bh
  GROUP BY p.doc_id, p.bw, p.bh
)
SELECT doc_id AS media_id,
       CAST(bw * 8 AS INT) AS width,
       CAST(bh * 8 AS INT) AS height,
       CAST(192 * (128 * n + ksum) AS BIGINT) AS pixel_sum
FROM k
"""


registry.register("multimodal_features", multimodal_features, MULTIMODAL_SQL)
registry.register("multimodal_jpeg_stats", multimodal_jpeg_stats, JPEG_STATS_SQL)
registry.register("multimodal_png_stats", multimodal_png_stats, PNG_STATS_SQL)
registry.register("multimodal_bmp_stats", multimodal_bmp_stats, BMP_STATS_SQL)
registry.register("multimodal_qoi_stats", multimodal_qoi_stats, QOI_STATS_SQL)
registry.register("multimodal_tiff_stats", multimodal_tiff_stats, TIFF_STATS_SQL)
registry.register("multimodal_audio_quality", multimodal_audio_quality, AUDIO_QUALITY_SQL)
registry.register("multimodal_mulaw_quality", multimodal_mulaw_quality, MULAW_QUALITY_SQL)
registry.register("multimodal_gif_motion", multimodal_gif_motion, GIF_MOTION_SQL)
registry.register("multimodal_frame_index", multimodal_frame_index, FRAME_INDEX_SQL)
registry.register("multimodal_phash_neardup", multimodal_phash_neardup, PHASH_NEARDUP_SQL)
