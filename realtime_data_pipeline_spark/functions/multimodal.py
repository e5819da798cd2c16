"""Multimodal column pattern: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas UDFs (north-star surface).

DECODE layer: the codec-FREE public formats are decoded for real with
pure numpy — RIFF/WAVE integer PCM (decode_wav), netpbm P5/P6 images
(decode_ppm), uncompressed 24/32-bit BMP (decode_bmp), YUV4MPEG2
(y4m) raw video frame sampling (sample_frames), the genuinely
COMPRESSED QOI image format (decode_qoi — run-length + color-cache +
delta chunks, public one-page spec, no codec library needed), and the
ENTROPY-CODED PNG format (decode_png — stdlib zlib IS the codec;
chunk walk + CRCs + per-row None/Sub/Up/Average/Paeth unfiltering).
Only formats whose codecs are outside the standard library
(JPEG/MP4/...) fall back to a PIL import gate and raise
NotImplementedError in this container — the honest boundary, now
reduced to exactly the non-stdlib codecs.

Scale notes: binary payloads ride in the same row as metadata —
filters on metadata prune before any Python is invoked; mapInPandas
processes Arrow record batches (vectorized, no per-row pickling);
batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("data", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

N_HIST_BUCKETS = 4  # byte-value histogram buckets: [0,64) [64,128) [128,192) [192,256)


def attach_media(docs: DataFrame, payload_col: str = "text") -> DataFrame:
    """Wrap a column as an opaque media struct (deterministic stand-in
    for real image/audio bytes)."""
    return docs.withColumn(
        "media",
        F.struct(
            F.col(payload_col).cast("binary").alias("data"),
            F.lit("application/octet-stream").alias("mime"),
            # octet_length, not length: the metadata claims BYTES and
            # multibyte payloads have more UTF-8 bytes than characters
            F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        ),
    )


def decode_wav(data: bytes):
    """Pure-numpy RIFF/WAVE decoder for uncompressed integer PCM
    (format tag 1; 8/16/32-bit) — WAV is a public container format
    that needs no codec library, only chunk parsing.

    Returns (sample_rate, n_channels, samples): samples is an int64
    array of interleaved amplitudes; 8-bit WAV (stored unsigned,
    offset 128 per the spec) is re-centered to signed.
    """
    import struct

    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            if cid == b"data" and size == 0xFFFFFFFF:
                # Streaming-written WAVs (e.g. piped encoder output)
                # carry the canonical 0xFFFFFFFF placeholder data-chunk
                # size because the writer could not seek back to patch
                # the header; that exact sentinel decodes best-effort
                # as "the remaining bytes".  ONLY the sentinel: an
                # arbitrary declared-size overrun is indistinguishable
                # from truncation in transit, and accepting it would
                # make corruption silently decode short whenever the
                # remainder happens to be sample-aligned (always, for
                # 8-bit PCM) — so any other short chunk, data or not,
                # is structural corruption and raises below.
                pcm = data[pos + 8 :]
                break
            raise ValueError(
                f"truncated WAVE chunk {cid!r}: declared {size} bytes, "
                f"payload has {len(body)}"
            )
        if cid == b"fmt ":
            (tag, n_ch, rate, _brate, _align, bits) = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (tag, n_ch, rate, bits)
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("WAVE missing fmt/data chunk")
    tag, n_ch, rate, bits = fmt
    if tag != 1:
        raise NotImplementedError(
            f"WAVE format tag {tag}: only uncompressed integer PCM "
            "(tag 1) decodes codec-free"
        )
    if bits in (16, 32) and len(pcm) % (bits // 8):
        raise ValueError(
            f"truncated {bits}-bit PCM data chunk: {len(pcm)} bytes is "
            f"not a multiple of the {bits // 8}-byte sample width"
        )
    if bits == 8:  # unsigned, offset-128
        samples = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64) - 128
    elif bits == 16:
        samples = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
    elif bits == 32:
        samples = np.frombuffer(pcm, dtype="<i4").astype(np.int64)
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    return rate, n_ch, samples


def _pnm_header(data: bytes):
    """Parse a netpbm header (magic, dims, maxval), skipping '#'
    comments; returns (magic, width, height, maxval, body_offset)."""
    toks, pos = [], 2
    while len(toks) < 3 and pos < len(data):
        c = data[pos : pos + 1]
        if c == b"#":
            nl = data.find(b"\n", pos)
            if nl < 0:  # comment runs off the end of the payload
                raise ValueError("truncated netpbm header")
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(data) and not data[end : end + 1].isspace():
                end += 1
            toks.append(int(data[pos:end]))
            pos = end
    if len(toks) < 3:
        raise ValueError("truncated netpbm header")
    pos += 1  # single whitespace after maxval, then raster
    return data[:2], toks[0], toks[1], toks[2], pos


def decode_ppm(data: bytes):
    """Pure-numpy netpbm decoder: binary P6 (RGB) and P5 (grayscale),
    maxval <= 255.  Returns an (h, w, 3) or (h, w) uint8 array."""
    import numpy as np

    magic = data[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary netpbm (P5/P6) payload")
    _, w, h, maxval, off = _pnm_header(data)
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    ch = 3 if magic == b"P6" else 1
    px = np.frombuffer(data, dtype=np.uint8, count=w * h * ch, offset=off)
    return px.reshape((h, w, 3)) if ch == 3 else px.reshape((h, w))


def decode_bmp(data: bytes):
    """Pure-numpy decoder for uncompressed 24/32-bit BMP (BI_RGB).
    Returns an (h, w, 3) uint8 array in RGB order, top row first
    (BMP stores rows bottom-up with 4-byte padding)."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    px_off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bits = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0 or bits not in (24, 32):
        raise NotImplementedError(
            "only uncompressed 24/32-bit BMP decodes codec-free"
        )
    flip = h > 0
    h = abs(h)
    bpp = bits // 8
    stride = (w * bpp + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=px_off
    ).reshape((h, stride))[:, : w * bpp].reshape((h, w, bpp))
    rgb = rows[:, :, 2::-1]  # BGR(A) -> RGB
    return rgb[::-1] if flip else rgb


_Y4M_FRACTIONS = {"C420": (1, 2), "C422": (1, 1), "C444": (2, 1),
                  "Cmono": (-1, 1)}  # extra chroma bytes per luma: num/den
# Spec-standard suffix variants that share the base tag's plane sizes.
# Anything else (bit-depth pN suffixes like C420p10, extra-plane
# variants like C444alpha, unknown subsamplings like C411) has a
# DIFFERENT frame stride and must be rejected, not guessed.
_Y4M_SUFFIXES = {
    "C420": ("", "jpeg", "paldv", "mpeg2"),
    "C422": ("",),
    "C444": ("",),
    "Cmono": ("",),
}


def _y4m_base_tag(tag: str) -> str:
    """Resolve a y4m colorspace tag to its plane-sizing base
    (C420jpeg → C420); raises NotImplementedError for tags with a
    DIFFERENT frame stride (bit-depth pN suffixes like C420p10,
    extra-plane variants like C444alpha, unknown subsamplings like
    C411) — shared by the decoder and encode_y4m so the two can never
    disagree on which variants exist."""
    for known in ("C444", "C422", "C420", "Cmono"):
        if tag.startswith(known) and tag[len(known):] in _Y4M_SUFFIXES[known]:
            return known
    raise NotImplementedError(
        f"y4m colorspace {tag!r}: only 8-bit "
        "C420(jpeg|paldv|mpeg2)/C422/C444/Cmono plane sizing is supported"
    )


def sample_frames(data: bytes, every_n: int = 10):
    """Video frame sampling, decoded for real for YUV4MPEG2 (y4m) —
    the public UNCOMPRESSED video interchange format (plain-text
    header, fixed-size raw frames behind FRAME markers), parseable
    with no codec.  Returns (width, height, frames): every
    ``every_n``-th frame's luma plane as an (h, w) uint8 array.
    Compressed containers (MP4/WebM/...) genuinely require codec
    libraries and raise NotImplementedError here."""
    import numpy as np

    if not data.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "compressed video codecs not available in this container; "
            "codec-free sampling supports YUV4MPEG2"
        )
    hdr_end = data.index(b"\n")
    w = h = None
    cspace = "C420"
    for p in data[10:hdr_end].split():
        tag = p.decode("ascii", "replace")
        if tag[0] == "W":
            w = int(tag[1:])
        elif tag[0] == "H":
            h = int(tag[1:])
        elif tag[0] == "C":
            # Only suffix variants KNOWN to share the base plane sizes
            # decode (C420jpeg/C420paldv/C420mpeg2 — chroma siting
            # differs, sizing doesn't).  Bit-depth suffixes (C420p10)
            # and extra-plane variants (C444alpha) change the frame
            # stride and must raise, not silently mis-stride.
            cspace = _y4m_base_tag(tag)
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    num, den = _Y4M_FRACTIONS[cspace]
    luma = w * h
    frame_bytes = luma if num < 0 else luma + (luma * num) // den
    frames, pos, idx = [], hdr_end + 1, 0
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = data.index(b"\n", pos) + 1  # frame params end at newline
        if idx % every_n == 0:
            frames.append(
                np.frombuffer(
                    data, dtype=np.uint8, count=luma, offset=pos
                ).reshape((h, w))
            )
        pos += frame_bytes
        idx += 1
    return w, h, frames


_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    # the spec's rolling color-cache position
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def decode_qoi(data: bytes):
    """Pure-Python decoder for QOI ("Quite OK Image", the public
    one-page spec at qoiformat.org) — a genuinely COMPRESSED image
    format: run-length chunks, a rolling 64-entry color cache, and
    wrapping delta chunks.  Decoding it needs no codec library, so a
    real compressed codec sits inside the decode hash discipline;
    only non-stdlib codecs (JPEG/...) stay PIL-gated (PNG decodes
    via stdlib zlib in decode_png).

    Returns an (h, w, channels) uint8 array, channels per the header
    (3=RGB, 4=RGBA).  The chunk walk is an irreducibly sequential
    per-pixel state machine (each chunk mutates the cache and the
    previous-pixel state), so this is plain Python — parallelism
    comes from Spark's per-payload fan-out, not intra-image numpy.
    """
    import struct

    import numpy as np

    if len(data) < 14 or data[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI payload")
    w, h = struct.unpack_from(">II", data, 4)
    channels, colorspace = data[12], data[13]
    if channels not in (3, 4):
        raise ValueError(f"QOI channels {channels}: spec allows 3 or 4")
    if colorspace not in (0, 1):
        raise ValueError(f"QOI colorspace {colorspace}: spec allows 0 or 1")
    n_px = w * h
    # A single chunk byte decodes at most 62 pixels (QOI_OP_RUN's
    # 6-bit run length, bias -1), so the bytes between the 14-byte
    # header and the 8-byte end marker bound the decodable output.
    # Check BEFORE allocating: a 22-byte hostile payload declaring
    # 4294967295x4294967295 pixels must raise this module's named
    # error, not attempt a ~7e19-byte numpy allocation.
    max_px = max(0, len(data) - 22) * 62
    if n_px > max_px:
        raise ValueError(
            f"QOI header declares {w}x{h} = {n_px} pixels but the "
            f"{max(0, len(data) - 22)}-byte chunk stream can encode "
            f"at most {max_px}"
        )
    out = np.empty((n_px, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos, filled = 14, 0
    end = len(data) - 8  # chunk stream stops where the end marker starts
    while filled < n_px:
        if pos >= end:
            raise ValueError(
                f"truncated QOI stream: {filled} of {n_px} pixels decoded"
            )
        b1 = data[pos]
        if b1 == 0xFE:  # QOI_OP_RGB
            if pos + 4 > end:
                raise ValueError("truncated QOI_OP_RGB chunk")
            r, g, b = data[pos + 1], data[pos + 2], data[pos + 3]
            pos += 4
        elif b1 == 0xFF:  # QOI_OP_RGBA
            if pos + 5 > end:
                raise ValueError("truncated QOI_OP_RGBA chunk")
            r, g, b = data[pos + 1], data[pos + 2], data[pos + 3]
            a = data[pos + 4]
            pos += 5
        else:
            tag = b1 >> 6
            if tag == 0:  # QOI_OP_INDEX
                r, g, b, a = index[b1 & 0x3F]
                pos += 1
            elif tag == 1:  # QOI_OP_DIFF: 2-bit deltas, bias 2, wrapping
                r = (r + ((b1 >> 4) & 3) - 2) & 255
                g = (g + ((b1 >> 2) & 3) - 2) & 255
                b = (b + (b1 & 3) - 2) & 255
                pos += 1
            elif tag == 2:  # QOI_OP_LUMA: 6-bit dg + 4-bit dr-dg / db-dg
                if pos + 2 > end:
                    raise ValueError("truncated QOI_OP_LUMA chunk")
                dg = (b1 & 0x3F) - 32
                b2 = data[pos + 1]
                r = (r + dg + ((b2 >> 4) & 0xF) - 8) & 255
                g = (g + dg) & 255
                b = (b + dg + (b2 & 0xF) - 8) & 255
                pos += 2
            else:  # QOI_OP_RUN: bias -1 (63/64 collide with RGB/RGBA tags)
                run = (b1 & 0x3F) + 1
                if filled + run > n_px:
                    raise ValueError("QOI run overruns the image")
                out[filled : filled + run] = (r, g, b, a)
                filled += run
                pos += 1
                # spec: EVERY seen pixel enters the cache — including a
                # run's pixel (meaningful when the run repeats the
                # never-inserted initial (0,0,0,255) state); a
                # conforming third-party encoder may emit INDEX against
                # that slot, so the insert is load-bearing here
                index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
                continue
        index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
        out[filled] = (r, g, b, a)
        filled += 1
    if data[pos : pos + 8] != _QOI_END:
        raise ValueError("missing QOI end marker")
    return out[:, :channels].reshape((h, w, channels)).copy()


# ---------------------------------------------------------------------------
# Deterministic ENCODERS for the codec-free formats (round 12).  These
# are the spec-level duals of the decoders above, used by the decode
# round-trip hash row (multimodal_decode_stats) and the tests: payloads
# synthesized byte-for-byte from planted integer formulas, pushed
# through encode → Arrow binary column → decode, with the output stats
# computed from the DECODED arrays — a decoder bug breaks the DuckDB
# hash, not just a pytest.
# ---------------------------------------------------------------------------


def encode_wav(samples, rate: int = 8000, bits: int = 16, n_ch: int = 1) -> bytes:
    """Encode int samples as RIFF/WAVE integer PCM (the dual of
    decode_wav), including the spec's word-alignment pad after an
    odd-sized data chunk."""
    import struct

    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    # Fail loudly at synthesis on out-of-range amplitudes: astype
    # would silently WRAP (40000 as 16-bit encodes to -25536), so a
    # planted formula exceeding the bit width would surface as an
    # oracle hash mismatch three layers away instead of here.
    lo, hi = (-128, 127) if bits == 8 else (
        -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    )
    if samples.size and (samples.min() < lo or samples.max() > hi):
        raise ValueError(
            f"sample out of range for {bits}-bit PCM: "
            f"[{samples.min()}, {samples.max()}] not within [{lo}, {hi}]"
        )
    if bits == 8:
        pcm = (samples + 128).astype(np.uint8).tobytes()
    elif bits == 16:
        pcm = samples.astype("<i2").tobytes()
    elif bits == 32:
        pcm = samples.astype("<i4").tobytes()
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    align = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * align, align, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) % 2:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_ppm(px) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary netpbm P6 (or (h, w)
    as P5) — the dual of decode_ppm."""
    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    magic = b"P6" if px.ndim == 3 else b"P5"
    h, w = px.shape[0], px.shape[1]
    return magic + b"\n%d %d\n255\n" % (w, h) + px.tobytes()


def encode_bmp(px) -> bytes:
    """Encode an (h, w, 3) RGB uint8 array (top row first) as
    uncompressed 24-bit BMP — bottom-up rows, BGR order, 4-byte row
    padding, the exact layout decode_bmp undoes."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape((h, w * 3))  # flip+BGR
    raster = rows.tobytes()
    px_off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", px_off + len(raster), 0, 0, px_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return hdr + dib + raster


def encode_y4m(frames, cspace: bytes = b"C420") -> bytes:
    """Encode a list of (h, w) uint8 luma planes as YUV4MPEG2 with
    constant chroma fill — the dual of sample_frames (which reads only
    the luma planes back)."""
    import numpy as np

    h, w = np.asarray(frames[0]).shape
    num, den = _Y4M_FRACTIONS[_y4m_base_tag(cspace.decode("ascii"))]
    chroma = 0 if num < 0 else (w * h * num) // den
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 %s\n" % (w, h, cspace)
    for f in frames:
        out += b"FRAME\n" + np.asarray(f, np.uint8).tobytes() + b"\x80" * chroma
    return out


def encode_qoi(px, colorspace: int = 0) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as QOI — the dual of
    decode_qoi, implementing the spec's reference strategy with the
    full op set: RUN for repeats of the previous pixel, INDEX on a
    color-cache hit, DIFF/LUMA for small wrapping deltas at constant
    alpha, RGB/RGBA literals otherwise."""
    import struct

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] not in (3, 4):
        raise ValueError("encode_qoi expects an (h, w, 3|4) uint8 array")
    h, w, channels = px.shape
    out = bytearray(_QOI_MAGIC)
    out += struct.pack(">II", w, h)
    out += bytes((channels, colorspace))
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    for row in px.reshape((-1, channels)).tolist():
        if channels == 3:
            r, g, b = row
            a = pa
        else:
            r, g, b, a = row
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62:  # max encodable run (63/64 are RGB/RGBA tags)
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        hidx = _qoi_hash(r, g, b, a)
        if index[hidx] == (r, g, b, a):
            out.append(hidx)
        else:
            index[hidx] = (r, g, b, a)
            if a == pa:
                # deltas wrap per the spec: compute in signed-char space
                dr = ((r - pr + 128) & 255) - 128
                dg = ((g - pg + 128) & 255) - 128
                db = ((b - pb + 128) & 255) - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(
                        0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2)
                    )
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes((0xFE, r, g, b))
            else:
                out += bytes((0xFF, r, g, b, a))
        pr, pg, pb, pa = r, g, b, a
    if run:
        out.append(0xC0 | (run - 1))
    out += _QOI_END
    return bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (bit depth 8 only): grayscale,
# truecolor, gray+alpha, truecolor+alpha.  Palette (3) needs a PLTE
# indirection and stays gated like the other documented variants.
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunks(data: bytes):
    """Yield (type, body) for each chunk, verifying lengths and CRCs.
    PNG is the one entropy-coded format decodable with the STDLIB
    alone (zlib IS the codec), so — like QOI before it — it can sit
    fully inside the decode hash discipline with named errors for
    every corruption class."""
    import struct
    import zlib

    pos = 8
    while True:
        if pos + 8 > len(data):
            raise ValueError(
                "truncated PNG chunk header: stream ended mid-chunk"
            )
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) < length or pos + 12 + length > len(data):
            raise ValueError(
                f"truncated PNG chunk {ctype!r}: declared {length} bytes"
            )
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if crc != zlib.crc32(ctype + body) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return


def decode_png(data: bytes):
    """Pure-Python PNG decoder over stdlib zlib: IHDR/IDAT chunk walk,
    inflate, and per-row unfiltering (None/Sub/Up/Average/Paeth).
    Supports the bit-depth-8 non-interlaced color types 0/2/4/6;
    palette, sub-byte depths, 16-bit, and Adam7 interlace raise named
    errors like the other documented variant gates (y4m C420p10).

    Returns an (h, w) array for grayscale or (h, w, channels) for the
    multi-sample types, uint8."""
    import struct
    import zlib

    import numpy as np

    if len(data) < 8 or data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    chunks = _png_chunks(data)
    try:
        ctype, body = next(chunks)
    except StopIteration:  # _png_chunks raised through or stream empty
        raise ValueError("PNG missing IHDR chunk") from None
    if ctype != b"IHDR" or len(body) != 13:
        raise ValueError("PNG missing IHDR chunk (must be first)")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", body
    )
    if w == 0 or h == 0:
        raise ValueError(f"PNG zero dimension {w}x{h}: spec requires >= 1")
    if comp != 0 or filt != 0:
        raise ValueError(
            f"PNG compression/filter method {comp}/{filt}: spec defines 0"
        )
    if interlace == 1:
        raise NotImplementedError(
            "interlaced PNG (Adam7) not supported: only interlace "
            "method 0 decodes here"
        )
    if interlace != 0:
        raise ValueError(f"PNG interlace method {interlace}: spec allows 0/1")
    if color == 3:
        raise NotImplementedError(
            "palette PNG (color type 3) not supported: color types "
            "0/2/4/6 decode codec-free"
        )
    if color not in _PNG_CHANNELS:
        raise ValueError(f"PNG color type {color}: spec allows 0/2/3/4/6")
    if depth != 8:
        raise NotImplementedError(
            f"PNG bit depth {depth}: only 8-bit samples decode here"
        )
    channels = _PNG_CHANNELS[color]
    stride = w * channels
    expected = h * (stride + 1)  # one filter byte per row
    idat = bytearray()
    saw_end = False
    for ctype, body in chunks:
        if ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            saw_end = True
    if not idat:
        raise ValueError("PNG missing IDAT chunk")
    if not saw_end:  # unreachable via _png_chunks, kept for clarity
        raise ValueError("PNG missing IEND chunk")
    # Bounded inflate: produce at most expected+1 bytes, so a hostile
    # header cannot make a small payload allocate more than it
    # declares, and a declared-vs-actual mismatch is a named error
    # (the QOI pre-allocation bound, adapted to a zlib world where
    # output size is otherwise attacker-elastic).
    d = zlib.decompressobj()
    try:
        # DEFLATE expands at most ~1032x, so hostile header dims whose
        # `expected` dwarfs what the IDAT stream could ever produce
        # (or even overflows ssize_t) clamp to a cap the stream itself
        # bounds — the mismatch error below then names the lie.
        raw = d.decompress(idat, min(expected + 1, len(idat) * 1032 + 64))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from None
    if len(raw) != expected:
        # max_length caps the inflate at expected+1, so ANY
        # overproduction surfaces as exactly expected+1 bytes here
        raise ValueError(
            f"PNG pixel data size mismatch: {w}x{h}x{channels} needs "
            f"{expected} filtered bytes, inflate produced "
            f"{'>' if len(raw) > expected else ''}{len(raw)}"
        )

    bpp = channels  # bytes per pixel at depth 8
    out = np.empty((h, stride), dtype=np.uint8)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        cur = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(
                f"PNG filter type {ft} in row {y}: spec defines 0-4"
            )
        out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
        prev = cur
    if channels == 1:
        return out.reshape((h, w))
    return out.reshape((h, w, channels))


def encode_png(px, filters=None) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 2|3|4) uint8 array as a
    non-interlaced 8-bit PNG.  Per-row filter choice defaults to the
    minimum-sum-of-absolute-differences heuristic (the standard
    filter selector, so real gradients genuinely compress via
    Sub/Up/Average/Paeth); pass `filters` (an int, or one int per
    row) to force specific filter types — the property tests use this
    to drive every unfilter path."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        channels = 1
    elif px.ndim == 3 and px.shape[2] in (2, 3, 4):
        channels = px.shape[2]
    else:
        raise ValueError(
            f"encode_png needs (h, w) or (h, w, 2|3|4), got {px.shape}"
        )
    h, w = px.shape[0], px.shape[1]
    if w == 0 or h == 0:
        raise ValueError(f"PNG zero dimension {w}x{h}: spec requires >= 1")
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    stride = w * bpp
    flat = px.reshape(h, stride)
    if filters is None:
        row_filters = None
    elif isinstance(filters, int):
        row_filters = [filters] * h
    else:
        row_filters = list(filters)
        if len(row_filters) != h:
            raise ValueError(
                f"filters must give one of 0-4 per row ({h}), "
                f"got {len(row_filters)}"
            )

    def _filter(ft, cur, prev):
        out = bytearray(cur)
        if ft == 1:
            for x in range(stride - 1, bpp - 1, -1):
                out[x] = (out[x] - cur[x - bpp]) & 0xFF
        elif ft == 2:
            for x in range(stride):
                out[x] = (out[x] - prev[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                out[x] = (out[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[x] = (out[x] - pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"PNG filter type {ft}: spec defines 0-4")
        return out

    raw = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        cur = bytearray(flat[y].tobytes())
        if row_filters is None:
            # minimal sum of |signed byte| across candidates — the
            # spec's suggested selector
            best_ft, best, best_score = 0, cur, None
            for ft in range(5):
                cand = _filter(ft, cur, prev)
                score = sum(v if v < 128 else 256 - v for v in cand)
                if best_score is None or score < best_score:
                    best_ft, best, best_score = ft, cand, score
            raw.append(best_ft)
            raw += best
        else:
            ft = row_filters[y]
            raw.append(ft)
            raw += _filter(ft, cur, prev)
        prev = cur

    def _chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


# Planted-payload formulas (shared with the multimodal_decode_stats
# DuckDB oracle in plans/northstar.py — keep the constants in sync
# there via these names).  All moduli are positive and doc_id is
# filtered >= 0 in both engines, so Python/numpy % and DuckDB %
# agree.  WAV samples land in int16 range by construction.
WAV_RATE_BASE, WAV_RATE_STEP = 8000, 100
WAV_MUL_A, WAV_MUL_B = 7919, 104729
PPM_MUL_A, PPM_MUL_B = 31, 17
BMP_MUL_A, BMP_MUL_B = 53, 11
Y4M_MUL_A, Y4M_MUL_B, Y4M_MUL_C = 13, 29, 7
Y4M_EVERY_N = 2
QOI_MUL_A, QOI_MUL_B, QOI_MUL_C = 37, 23, 101
PNG_MUL_A, PNG_MUL_B, PNG_MUL_C, PNG_MUL_D = 41, 19, 3, 89


def planted_wav(doc_id: int):
    """(rate, samples): n = 16 + doc_id%32 16-bit samples."""
    import numpy as np

    n = 16 + doc_id % 32
    s = (doc_id * WAV_MUL_A + np.arange(n, dtype=np.int64) * WAV_MUL_B) % 65536 - 32768
    return WAV_RATE_BASE + WAV_RATE_STEP * (doc_id % 7), s


def planted_ppm(doc_id: int):
    """(h, w, 3) planted RGB image, w = 4 + doc_id%5, h = 3 + doc_id%4."""
    import numpy as np

    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    j = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * PPM_MUL_A + j * PPM_MUL_B) % 256).astype(np.uint8).reshape(
        (h, w, 3)
    )


def planted_bmp(doc_id: int):
    """(h, w, 3) planted RGB image; odd widths exercise stride padding."""
    import numpy as np

    w, h = 3 + doc_id % 4, 2 + doc_id % 3
    j = np.arange(w * h * 3, dtype=np.int64)
    return ((doc_id * BMP_MUL_A + j * BMP_MUL_B) % 256).astype(np.uint8).reshape(
        (h, w, 3)
    )


def planted_y4m(doc_id: int):
    """List of planted luma frames; even dims keep C420 chroma legal."""
    import numpy as np

    w, h = 4 + 2 * (doc_id % 3), 2 + 2 * (doc_id % 2)
    nf = 3 + doc_id % 3
    p = np.arange(w * h, dtype=np.int64)
    return [
        ((doc_id * Y4M_MUL_A + f * Y4M_MUL_B + p * Y4M_MUL_C) % 256)
        .astype(np.uint8)
        .reshape((h, w))
        for f in range(nf)
    ]


def planted_qoi(doc_id: int):
    """(h, w, 3) planted RGB image for the QOI leg of the decode hash
    row.  Groups of 3 consecutive pixels are identical (j//9 is the
    pixel-group index for flat channel index j), so the encoder emits
    real RUN chunks, and the constant +QOI_MUL_B group delta walks
    through LUMA/RGB territory as it wraps — the encoded stream
    genuinely compresses and mixes op types."""
    import numpy as np

    w, h = 5 + doc_id % 4, 3 + doc_id % 3
    j = np.arange(w * h * 3, dtype=np.int64)
    return (
        ((doc_id * QOI_MUL_A + (j // 9) * QOI_MUL_B + (j % 3) * QOI_MUL_C) % 256)
        .astype(np.uint8)
        .reshape((h, w, 3))
    )


def planted_png(doc_id: int):
    """(h, w, 3) planted RGB image for the PNG leg.  Row, column, and
    channel gradients (r*B + c*C + ch*D) make the filter heuristic
    pick real Sub/Up/Average/Paeth rows, so the hash exercises the
    unfilter state machine AND zlib inflation, not a stored-byte
    copy."""
    import numpy as np

    w, h = 6 + doc_id % 5, 4 + doc_id % 3
    j = np.arange(w * h * 3, dtype=np.int64)
    r, c, ch = j // (3 * w), (j // 3) % w, j % 3
    return (
        ((doc_id * PNG_MUL_A + r * PNG_MUL_B + c * PNG_MUL_C
          + ch * PNG_MUL_D) % 256)
        .astype(np.uint8)
        .reshape((h, w, 3))
    )


_PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("wav", BinaryType()),
        StructField("ppm", BinaryType()),
        StructField("bmp", BinaryType()),
        StructField("y4m", BinaryType()),
        StructField("qoi", BinaryType()),
        StructField("png", BinaryType()),
    ]
)

_DECODE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("wav_rate", LongType()),
        StructField("wav_channels", LongType()),
        StructField("wav_n", LongType()),
        StructField("wav_wsum", LongType()),
        StructField("ppm_wsum", LongType()),
        StructField("bmp_wsum", LongType()),
        StructField("y4m_frames", LongType()),
        StructField("y4m_wsum", LongType()),
        StructField("qoi_wsum", LongType()),
        StructField("png_wsum", LongType()),
    ]
)


def synthesize_media_payloads(docs: DataFrame) -> DataFrame:
    """Stage 1 of the decode hash row: planted payloads as REAL binary
    columns (they cross the Arrow boundary between the two kernels, so
    the binary-column plumbing is driven, not simulated)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            wavs, ppms, bmps, y4ms, qois, pngs = [], [], [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                rate, s = planted_wav(did)
                wavs.append(encode_wav(s, rate=rate))
                ppms.append(encode_ppm(planted_ppm(did)))
                bmps.append(encode_bmp(planted_bmp(did)))
                y4ms.append(encode_y4m(planted_y4m(did)))
                qois.append(encode_qoi(planted_qoi(did)))
                pngs.append(encode_png(planted_png(did)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "wav": wavs,
                    "ppm": ppms,
                    "bmp": bmps,
                    "y4m": y4ms,
                    "qoi": qois,
                    "png": pngs,
                }
            )

    return docs.select("doc_id").mapInPandas(_gen, schema=_PAYLOAD_SCHEMA)


def decode_media_stats(payloads: DataFrame) -> DataFrame:
    """Stage 2: decode every payload with the REAL decoders and emit
    position-weighted checksums computed from the DECODED arrays.
    Position weighting (value * (index+1)) makes row-flip, stride, and
    reshape bugs hash-visible — a plain sum is permutation-invariant
    and would hide them."""

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def wsum(flat) -> int:
            a = np.asarray(flat, dtype=np.int64).reshape(-1)
            return int((a * (np.arange(a.size, dtype=np.int64) + 1)).sum())

        for pdf in batches:
            out = {k: [] for k in (
                "wav_rate", "wav_channels", "wav_n", "wav_wsum",
                "ppm_wsum", "bmp_wsum", "y4m_frames", "y4m_wsum",
                "qoi_wsum", "png_wsum",
            )}
            for wav, ppm, bmp, y4m, qoi, png in zip(
                pdf["wav"], pdf["ppm"], pdf["bmp"], pdf["y4m"],
                pdf["qoi"], pdf["png"],
            ):
                rate, n_ch, s = decode_wav(bytes(wav))
                out["wav_rate"].append(rate)
                out["wav_channels"].append(n_ch)
                out["wav_n"].append(s.size)
                out["wav_wsum"].append(wsum(s))
                out["ppm_wsum"].append(wsum(decode_ppm(bytes(ppm))))
                out["bmp_wsum"].append(wsum(decode_bmp(bytes(bmp))))
                _w, _h, frames = sample_frames(bytes(y4m), every_n=Y4M_EVERY_N)
                out["y4m_frames"].append(len(frames))
                out["y4m_wsum"].append(sum(wsum(f) for f in frames))
                out["qoi_wsum"].append(wsum(decode_qoi(bytes(qoi))))
                out["png_wsum"].append(wsum(decode_png(bytes(png))))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **out})

    return payloads.mapInPandas(_dec, schema=_DECODE_STATS_SCHEMA)


def decode_image(data: bytes):
    """Decode an image payload.  Library-free formats decode for real
    (netpbm P5/P6, uncompressed BMP, the losslessly-compressed QOI,
    and — via stdlib zlib — entropy-coded PNG; all returned as numpy
    arrays); only formats whose codecs aren't in the standard library
    (JPEG and friends) gate on a PIL import so real deployments light
    them up."""
    if data[:2] in (b"P5", b"P6"):
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:4] == _QOI_MAGIC:
        return decode_qoi(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(data))
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "compressed image formats require PIL; this container has "
            "no codecs (netpbm/BMP decode codec-free above)"
        ) from exc


_HIST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("byte_hist", ArrayType(LongType())),
    ]
)


def byte_histogram(media_docs: DataFrame) -> DataFrame:
    """Deterministic feature extraction over binary payloads via
    mapInPandas: per-row histogram of byte values into 4 buckets.

    This is the production decoder's plumbing with a codec-free kernel:
    Arrow batches in, vectorized numpy per batch, Arrow batches out.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hists = []
            for data in pdf["data"]:
                # NULL payload -> empty buffer (zero histogram), the
                # same zero contribution the SQL oracle's NULL-skipping
                # sums produce
                arr = (
                    np.frombuffer(data, dtype=np.uint8)
                    if data is not None
                    else np.zeros(0, np.uint8)
                )
                hist = np.bincount(arr >> 6, minlength=N_HIST_BUCKETS)[:N_HIST_BUCKETS]
                hists.append(hist.astype("int64").tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "byte_hist": hists,
                }
            )

    flat = media_docs.select("doc_id", "lang", F.col("media.data").alias("data"))
    return flat.mapInPandas(_extract, schema=_HIST_SCHEMA)


FRAME_BYTES = 32  # bytes sampled per frame
FRAME_STRIDE = 64  # stride between frame starts

_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_frames", LongType()),
        StructField("frame_energy", LongType()),
    ]
)


def frame_sample_stats(media_docs: DataFrame) -> DataFrame:
    """Strided frame sampling over binary payloads via mapInPandas —
    the video-frame-extraction plumbing with a codec-free kernel:
    every FRAME_STRIDE bytes, sample a FRAME_BYTES window; emit the
    frame count and the summed byte values ("energy") of the sampled
    windows.  A real deployment swaps the numpy kernel for a decoder
    (sample_frames decodes y4m for real) — schema, Arrow batching, and the
    metadata-first projection stay identical.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n_frames, energy = [], []
            for data in pdf["data"]:
                arr = (
                    np.frombuffer(data, dtype=np.uint8)
                    if data is not None
                    else np.zeros(0, np.uint8)
                )
                mask = (np.arange(arr.size) % FRAME_STRIDE) < FRAME_BYTES
                n_frames.append((arr.size + FRAME_STRIDE - 1) // FRAME_STRIDE)
                energy.append(int(arr[mask].sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "n_frames": n_frames,
                    "frame_energy": energy,
                }
            )

    flat = media_docs.select("doc_id", "lang", F.col("media.data").alias("data"))
    return flat.mapInPandas(_extract, schema=_FRAME_SCHEMA)


def frame_stats_by_lang(media_docs: DataFrame) -> DataFrame:
    """decode→frame-sample→rollup pipeline shape, per language."""
    s = frame_sample_stats(media_docs)
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_frames").alias("total_frames"),
        F.sum("frame_energy").alias("total_energy"),
    )


def byte_histogram_by_lang(media_docs: DataFrame) -> DataFrame:
    """Aggregate the pandas-UDF features per language — the typical
    decode→extract→rollup pipeline shape."""
    h = byte_histogram(media_docs)
    return h.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.element_at("byte_hist", i + 1)).alias(f"b{i}")
            for i in range(N_HIST_BUCKETS)
        ],
    )


PCM_CENTER = 64  # deterministic fake-PCM convention: amplitude = byte - 64
# (ASCII payloads span ~32..122, so both signs occur — centering at 128
# would leave every sample negative and zero-crossing degenerate)

_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_samples", LongType()),
        StructField("sq_power", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def audio_signal_stats(media_docs: DataFrame) -> DataFrame:
    """Audio-DSP plumbing with a codec-free kernel: interpret the binary
    payload as PCM samples (amplitude = byte - PCM_CENTER), compute the
    exact integer sum of squared amplitudes and the zero-crossing count
    per payload via vectorized numpy inside mapInPandas.  A real
    deployment decodes with soundfile/librosa in the same kernel slot;
    the Arrow batch shape, metadata-first projection, and integer
    outputs (hash-checkable, no float DSP) stay identical.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            n_samples, power, zcr = [], [], []
            for data in pdf["data"]:
                a = (
                    np.frombuffer(data, dtype=np.uint8)
                    if data is not None
                    else np.zeros(0, np.uint8)
                ).astype(np.int64)
                a -= PCM_CENTER
                n_samples.append(a.size)
                power.append(int((a * a).sum()))
                neg = a < 0
                zcr.append(int((neg[:-1] != neg[1:]).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "n_samples": n_samples,
                    "sq_power": power,
                    "zero_crossings": zcr,
                }
            )

    flat = media_docs.select("doc_id", "lang", F.col("media.data").alias("data"))
    return flat.mapInPandas(_extract, schema=_AUDIO_SCHEMA)


def audio_stats_by_lang(media_docs: DataFrame) -> DataFrame:
    """decode→signal-stats→rollup pipeline shape, per language; the
    mean power is the one double division, rounded in both engines."""
    s = audio_signal_stats(media_docs)
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_samples").alias("total_samples"),
        F.sum("sq_power").alias("total_sq_power"),
        F.sum("zero_crossings").alias("total_zero_crossings"),
    ).select(
        "lang",
        "n_docs",
        "total_samples",
        "total_sq_power",
        "total_zero_crossings",
        F.when(
            F.col("total_samples") > 0,
            F.round(
                F.col("total_sq_power").cast("double")
                / F.col("total_samples"),
                4,
            ),
        ).alias("mean_sq_power"),
    )
