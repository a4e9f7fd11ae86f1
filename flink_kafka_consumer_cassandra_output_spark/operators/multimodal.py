"""Multimodal (binary media) columns: schema, plumbing, feature extraction.

Not in the reference (its payload is XML text; SURVEY.md north-star
extensions); required by the project brief: image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched Python
(``mapInPandas``) -- the ONE place the engine deliberately leaves the
JVM-only policy, because codec work is inherently Python/native-library
territory.

Decode coverage: pixel/sample decode is REAL for the formats a
pure-Python decoder honestly covers -- 24-bit BMP, binary PPM, PCM WAV
(:func:`decode_bmp`/:func:`decode_ppm`/:func:`decode_wav_pcm`), PNG
(:func:`decode_png`: stdlib zlib inflate + the five spec filters,
sequential and Adam7 layouts over the full sample-layout matrix, gated
by ``mm_png_types_stats``), GIF (:func:`decode_gif`: pure-Python
variable-width LZW, four-pass interlace) and JPEG.  MP4 gets real
container-level DEMUX (:func:`demux_mp4_samples`: stsz/stsc/stco/co64/stss
sample-table walk incl. largesize boxes, gated by ``mm_frame_sample``).
JPEG runs on one codec core (the JPEG section below: a segment walker,
one frame model, one entropy stage per process, one block-to-pixel
emitter) behind :func:`decode_jpeg_gray`, which covers every Huffman
process and every non-lossless arithmetic process of T.81 Table B.1:
sequential SOF0/SOF1 at 8 and 12 bits, grayscale or color with 4:4:4 or
subsampled chroma (replication upsampling, libjpeg's integer
fixed-point YCbCr->RGB), partial MCUs, restart intervals, progressive
SOF2 with successive approximation, arithmetic SOF9/SOF10 (the Annex D
QM-coder with the Annex F/G models; the Table D.3 transcription caveat
is recorded at the coder), lossless SOF3 and hierarchical Annex J
pyramids -- each hash-gated by its ``mm_jpeg*_stats`` query (remaining:
SOF11 arithmetic lossless and differential-hierarchical variants).  The
remaining stub is codec video payloads (:func:`decode_media` raises
``NotImplementedError`` for unrecognized bytes: no PIL/ffmpeg
dependency); container HEADERS
are parsed for real.  Everything
around the stub is real and tested: the binary column synthesis, the Arrow
batch iteration, the output schema contract, and header-level features
(byte length, md5 digest, deterministic pseudo-dimensions) that are
replicated by a DuckDB oracle -- so the mapInPandas plumbing itself is
correctness-gated, not just smoke-tested.

Scale: mapInPandas streams Arrow batches (no per-row Python crossing, no
collect); the operator is narrow -- feature extraction shuffles nothing.
Real media at 100 TB would partition by (media_type, size-band) so decode
cost is uniform per task; the synthesized ``media_type`` column models that.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output contract of :func:`extract_media_features`.
MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize an opaque binary media column from the documents fixture:
    ``content`` = UTF-8 bytes of the text (deterministic, oracle-replicable
    via DuckDB ``encode``), ``media_type`` derived from ``source``."""
    return docs.select(
        "doc_id",
        F.concat(F.lit("application/x-fake-"), F.col("source")).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: JPEG SOF markers that carry frame dimensions (all SOFn except DHT/DAC
#: lookalikes C4/C8/CC, per ITU T.81 Table B.1).
_JPEG_SOF = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def parse_media_header(content: bytes) -> dict | None:
    """Container-header metadata from raw bytes, pure Python (no PIL/ffmpeg).

    Recognizes PNG (IHDR width/height), GIF87a/89a (logical screen
    descriptor), JPEG (first SOFn segment's dimensions), and RIFF/WAVE
    (fmt chunk channels/rate/bits + data chunk size -> duration).  Sniffs
    MAGIC BYTES, never a declared media type -- mislabeled media parses by
    what it is.  Returns ``None`` for unrecognized or truncated input
    (never raises on malformed bytes: a 100 TB crawl WILL contain garbage
    and one bad file must not kill a task).  Keys always present: ``fmt``;
    images add width/height, wav adds channels/sample_rate/bits/
    duration_ms (integer ms, floor).
    """
    b = bytes(content)
    if b.startswith(_PNG_MAGIC):
        if len(b) >= 24 and b[12:16] == b"IHDR":
            return {
                "fmt": "png",
                "width": int.from_bytes(b[16:20], "big"),
                "height": int.from_bytes(b[20:24], "big"),
            }
        return None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 10:
            return {
                "fmt": "gif",
                "width": int.from_bytes(b[6:8], "little"),
                "height": int.from_bytes(b[8:10], "little"),
            }
        return None
    if b.startswith(b"\xff\xd8"):
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None  # lost marker sync
            marker = b[i + 1]
            if marker == 0xFF:  # 0xFF fill bytes may pad any marker (T.81)
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone markers
                i += 2
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if seg_len < 2:
                return None
            if marker in _JPEG_SOF:
                if i + 9 <= len(b):
                    return {
                        "fmt": "jpeg",
                        "height": int.from_bytes(b[i + 5 : i + 7], "big"),
                        "width": int.from_bytes(b[i + 7 : i + 9], "big"),
                    }
                return None
            i += 2 + seg_len
        return None
    if len(b) >= 12 and b[4:8] == b"ftyp":
        # ISO-BMFF (MP4/MOV family): walk top-level boxes to moov, then
        # moov's children to mvhd; duration_ms = 1000 * duration /
        # timescale (mvhd version 0: 32-bit fields; version 1: 64-bit).
        def _walk(lo: int, hi: int):
            i = lo
            while i + 8 <= hi:
                size = int.from_bytes(b[i : i + 4], "big")
                btype = b[i + 4 : i + 8]
                hdr = 8
                if size == 1:  # 64-bit largesize
                    if i + 16 > hi:
                        return
                    size = int.from_bytes(b[i + 8 : i + 16], "big")
                    hdr = 16
                elif size == 0:  # box extends to end of enclosing scope
                    size = hi - i
                if size < hdr or i + size > hi:
                    return  # malformed/truncated: stop, never raise
                yield btype, i + hdr, i + size
                i += size

        for btype, lo, hi in _walk(0, len(b)):
            if btype != b"moov":
                continue
            for ctype, clo, chi in _walk(lo, hi):
                if ctype != b"mvhd":
                    continue
                if chi - clo < 4:
                    return None
                version = b[clo]
                if version == 0 and chi - clo >= 20:
                    timescale = int.from_bytes(b[clo + 12 : clo + 16], "big")
                    duration = int.from_bytes(b[clo + 16 : clo + 20], "big")
                elif version == 1 and chi - clo >= 32:
                    timescale = int.from_bytes(b[clo + 20 : clo + 24], "big")
                    duration = int.from_bytes(b[clo + 24 : clo + 32], "big")
                else:
                    return None
                if timescale == 0:
                    return None
                return {
                    "fmt": "mp4",
                    "duration_ms": (1000 * duration) // timescale,
                }
            return None
        return None
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        i, ch, rate, bits, data_size = 12, None, None, None, None
        while i + 8 <= len(b):
            cid = b[i : i + 4]
            csz = int.from_bytes(b[i + 4 : i + 8], "little")
            if cid == b"fmt " and i + 24 <= len(b):
                ch = int.from_bytes(b[i + 10 : i + 12], "little")
                rate = int.from_bytes(b[i + 12 : i + 16], "little")
                bits = int.from_bytes(b[i + 22 : i + 24], "little")
            elif cid == b"data":
                data_size = csz
            i += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
        if ch and rate and bits and data_size is not None:
            # duration in ms = 1000 * bytes * 8 / (rate * ch * bits); kept
            # as one integer floor-division so sub-byte sample widths
            # (bits < 8: IMA ADPCM is 4) divide by rate*ch*bits, never by
            # a truncated zero bytes-per-sample.
            return {
                "fmt": "wav",
                "channels": ch,
                "sample_rate": rate,
                "bits": bits,
                "duration_ms": (8000 * data_size) // (rate * ch * bits),
            }
        return None
    return None


# ---- deterministic container synthesizers (tests + the headers query) ----
# Minimal-but-well-formed containers around an arbitrary payload; CRCs are
# not computed (the parser, like every header sniffer, does not verify
# them).  Shared by tests (synth -> parse round-trip known answers) and by
# the mm_media_headers query, whose DuckDB oracle re-derives the encoded
# values arithmetically -- if either the synthesizer or the parser bends a
# byte, the hashes split.

def synth_png(width: int, height: int, payload: bytes = b"") -> bytes:
    ihdr = width.to_bytes(4, "big") + height.to_bytes(4, "big") + bytes(
        (8, 2, 0, 0, 0)
    )
    return (
        _PNG_MAGIC
        + (13).to_bytes(4, "big") + b"IHDR" + ihdr + b"\0\0\0\0"
        + payload
    )


def synth_jpeg(width: int, height: int, payload: bytes = b"") -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x02\x00" + bytes(6)
    sof0 = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + bytes((8,))
        + height.to_bytes(2, "big") + width.to_bytes(2, "big")
        + bytes((3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    )
    return b"\xff\xd8" + app0 + sof0 + payload + b"\xff\xd9"


def synth_gif(width: int, height: int, payload: bytes = b"") -> bytes:
    return (
        b"GIF89a"
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
        + bytes((0, 0, 0)) + payload + b"\x3b"
    )


def synth_wav(
    channels: int, sample_rate: int, bits: int, payload: bytes
) -> bytes:
    block = channels * (bits // 8)
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    data = b"data" + len(payload).to_bytes(4, "little") + payload
    body = b"WAVE" + fmt + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def synth_mp4(timescale: int, duration_units: int, payload: bytes = b"") -> bytes:
    """Minimal ISO-BMFF: ftyp + moov(mvhd v0, zero-padded to spec length)
    + mdat carrying the payload."""

    def box(btype: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    # mvhd version 0 payload is 100 bytes: version/flags, ctime, mtime,
    # timescale, duration, then rate/volume/matrix/next_track_id padding.
    mvhd_body = (
        bytes(4)  # version 0 + flags
        + bytes(8)  # ctime, mtime
        + timescale.to_bytes(4, "big")
        + duration_units.to_bytes(4, "big")
        + bytes(80)
    )
    moov = box(b"moov", box(b"mvhd", mvhd_body))
    mdat = box(b"mdat", payload)
    return ftyp + moov + mdat


def synth_bmp(width: int, height: int, doc_id: int) -> bytes:
    """Real 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    4-byte row padding) with the deterministic pixel pattern
    ``r=(d+x+y)%256, g=(3d+7x)%256, b=(5y+d)%256`` -- arithmetic a SQL
    oracle can replay without touching bytes."""
    row_pad = (-(width * 3)) % 4
    px = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up, per the BMP spec
        for x in range(width):
            r = (doc_id + x + y) % 256
            g = (3 * doc_id + 7 * x) % 256
            b = (5 * y + doc_id) % 256
            px += bytes((b, g, r))  # BGR on the wire
        px += bytes(row_pad)
    info = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB, uncompressed
        + len(px).to_bytes(4, "little")
        + bytes(16)
    )
    hdr = b"BM" + (54 + len(px)).to_bytes(4, "little") + bytes(4) + (54).to_bytes(
        4, "little"
    )
    return hdr + info + bytes(px)


def synth_ppm(width: int, height: int, doc_id: int) -> bytes:
    """Binary PPM (P6, maxval 255) with the same pixel pattern as
    :func:`synth_bmp` -- top-down RGB triplets, no padding."""
    px = bytearray()
    for y in range(height):
        for x in range(width):
            px += bytes(
                (
                    (doc_id + x + y) % 256,
                    (3 * doc_id + 7 * x) % 256,
                    (5 * y + doc_id) % 256,
                )
            )
    return f"P6\n{width} {height}\n255\n".encode("ascii") + bytes(px)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big") + ctype + body
        + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def synth_png_rgb(
    width: int, height: int, doc_id: int, *, interlaced: bool = False
) -> bytes:
    """A REAL PNG (8-bit RGB, filter 0 rows, correct CRCs,
    zlib-compressed IDAT) with the same pixel pattern as
    :func:`synth_bmp` -- unlike :func:`synth_png`, which wraps an opaque
    payload for header-parser tests, this one round-trips through
    :func:`decode_png`.  ``interlaced=True`` (r15) lays the same pixels
    out as the seven concatenated Adam7 passes (empty passes contribute
    nothing) with interlace method 1 in IHDR -- the decoded raster is
    identical, so both layouts share one oracle."""
    import zlib

    def px(x: int, y: int) -> bytes:
        return bytes(
            (
                (doc_id + x + y) % 256,
                (3 * doc_id + 7 * x) % 256,
                (5 * y + doc_id) % 256,
            )
        )

    raw = bytearray()
    if not interlaced:
        for y in range(height):
            raw.append(0)  # filter type None
            for x in range(width):
                raw += px(x, y)
    else:
        for x0, y0, dx, dy in _ADAM7:
            for y in range(y0, height, dy):
                if x0 >= width:
                    break  # zero-width pass: no bytes at all
                raw.append(0)
                for x in range(x0, width, dx):
                    raw += px(x, y)
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes((8, 2, 0, 0, 1 if interlaced else 0))
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_rgb_filtered(width: int, height: int, doc_id: int) -> bytes:
    """A REAL PNG exercising ALL FIVE scanline filters: row ``y`` is
    encoded with filter type ``(y + doc_id) % 5``, the filter math applied
    at encode time (filtered byte = raw - predictor, mod 256), so the
    decoder must invert None/Sub/Up/Average/Paeth to recover the raster.
    The pixel pattern is :func:`synth_bmp`'s
    (``r=(d+x+y)%256, g=(3d+7x)%256, b=(5y+d)%256``), which makes the
    decoded stats a closed form a SQL oracle replays without bytes --
    the filtered encoding is an on-the-wire choice the pattern never
    sees.  ``synth_png_rgb`` keeps filter-0 rows; this variant exists so
    a driver gate covers the Sub/Up/Average/Paeth reconstruction paths
    (r16: the hybrid-numpy unfilter landed; this pins it externally)."""
    import zlib

    bpp = 3
    stride = width * bpp

    def rowbytes(y: int) -> bytes:
        out = bytearray()
        for x in range(width):
            out += bytes(
                (
                    (doc_id + x + y) % 256,
                    (3 * doc_id + 7 * x) % 256,
                    (5 * y + doc_id) % 256,
                )
            )
        return bytes(out)

    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        cur = rowbytes(y)
        ft = (y + doc_id) % 5
        raw.append(ft)
        if ft == 0:
            raw += cur
        elif ft == 1:  # Sub
            raw += bytes(
                (cur[i] - (cur[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raw += bytes((cur[i] - prior[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            raw += bytes(
                (
                    cur[i]
                    - (((cur[i - bpp] if i >= bpp else 0) + prior[i]) >> 1)
                )
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    cur[i]
                    - _paeth(
                        cur[i - bpp] if i >= bpp else 0,
                        prior[i],
                        prior[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prior = cur
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes((8, 2, 0, 0, 0))
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png_filter_encode(rows: list[bytes], fbpp: int, doc_id: int) -> bytes:
    """Apply scanline filter ``(y + doc_id) % 5`` to each raw byte row
    (filtered byte = raw - predictor, mod 256) at filter-bpp ``fbpp`` --
    the encode-side twin of ``_png_unfilter_rows``, shared by the r17
    gray16/rgb16/palette synthesizers.  ``synth_png_rgb_filtered`` keeps
    its original inline copy (it is a committed gate artifact)."""
    out = bytearray()
    prior = bytes(len(rows[0]))
    for y, cur in enumerate(rows):
        stride = len(cur)
        ft = (y + doc_id) % 5
        out.append(ft)
        if ft == 0:
            out += cur
        elif ft == 1:  # Sub
            out += bytes(
                (cur[i] - (cur[i - fbpp] if i >= fbpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            out += bytes((cur[i] - prior[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            out += bytes(
                (
                    cur[i]
                    - (((cur[i - fbpp] if i >= fbpp else 0) + prior[i]) >> 1)
                )
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            out += bytes(
                (
                    cur[i]
                    - _paeth(
                        cur[i - fbpp] if i >= fbpp else 0,
                        prior[i],
                        prior[i - fbpp] if i >= fbpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prior = cur
    return bytes(out)


def _png_assemble(
    width: int, height: int, bit_depth: int, color_type: int,
    raster: bytes, plte: bytes | None = None,
) -> bytes:
    import zlib

    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes((bit_depth, color_type, 0, 0, 0))
    )
    out = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(raster)) + _png_chunk(b"IEND", b"")


def synth_png_gray16(width: int, height: int, doc_id: int) -> bytes:
    """A REAL 16-bit grayscale PNG (r17): sample
    ``(1009*doc_id + 389*x + 677*y) % 65536`` stored big-endian, row
    ``y`` encoded with filter ``(y + doc_id) % 5`` at the spec's 2-byte
    filter bpp -- so a decoder that filters at 1-byte lag, reads
    little-endian, or mishandles any of the five filters over 16-bit
    strides decodes WRONG VALUES.  Closed form replayable by SQL."""
    rows = [
        b"".join(
            ((1009 * doc_id + 389 * x + 677 * y) % 65536).to_bytes(2, "big")
            for x in range(width)
        )
        for y in range(height)
    ]
    return _png_assemble(
        width, height, 16, 0, _png_filter_encode(rows, 2, doc_id)
    )


def synth_png_rgb16(width: int, height: int, doc_id: int) -> bytes:
    """A REAL 16-bit RGB PNG (r17): channels
    ``r=(257d+513x+769y)%65536, g=(101d+37x+59y)%65536,
    b=(811d+23x+97y)%65536`` big-endian, filters cycling ``(y+d)%5`` at
    the 6-byte filter bpp.  Closed form replayable by SQL."""
    d = doc_id

    def row(y: int) -> bytes:
        out = bytearray()
        for x in range(width):
            out += ((257 * d + 513 * x + 769 * y) % 65536).to_bytes(2, "big")
            out += ((101 * d + 37 * x + 59 * y) % 65536).to_bytes(2, "big")
            out += ((811 * d + 23 * x + 97 * y) % 65536).to_bytes(2, "big")
        return bytes(out)

    rows = [row(y) for y in range(height)]
    return _png_assemble(
        width, height, 16, 2, _png_filter_encode(rows, 6, doc_id)
    )


def synth_png_graya(
    width: int, height: int, doc_id: int, depth: int
) -> bytes:
    """A REAL gray+alpha PNG (color type 4, r17) at depth 8 or 16:
    gray ``(409*doc_id + 31*x + 61*y)`` and alpha
    ``(611*doc_id + 43*x + 29*y)`` modulo the sample range, filters
    cycling ``(y + doc_id) % 5`` at the spec's 2- or 4-byte filter
    bpp.  Closed form replayable in tests/SQL."""
    if depth not in (8, 16):
        raise ValueError("gray+alpha PNG depth must be 8 or 16")
    mod = 1 << depth
    nb = depth // 8

    def row(y: int) -> bytes:
        out = bytearray()
        for x in range(width):
            out += ((409 * doc_id + 31 * x + 61 * y) % mod).to_bytes(nb, "big")
            out += ((611 * doc_id + 43 * x + 29 * y) % mod).to_bytes(nb, "big")
        return bytes(out)

    rows = [row(y) for y in range(height)]
    return _png_assemble(
        width, height, depth, 4, _png_filter_encode(rows, 2 * nb, doc_id)
    )


def synth_png_rgba16(width: int, height: int, doc_id: int) -> bytes:
    """A REAL 16-bit RGBA PNG (r17): the rgb16 channel classes plus
    alpha ``(577*doc_id + 71*x + 83*y) % 65536``, filters cycling
    ``(y + doc_id) % 5`` at the 8-byte filter bpp."""
    d = doc_id

    def row(y: int) -> bytes:
        out = bytearray()
        for x in range(width):
            out += ((257 * d + 513 * x + 769 * y) % 65536).to_bytes(2, "big")
            out += ((101 * d + 37 * x + 59 * y) % 65536).to_bytes(2, "big")
            out += ((811 * d + 23 * x + 97 * y) % 65536).to_bytes(2, "big")
            out += ((577 * d + 71 * x + 83 * y) % 65536).to_bytes(2, "big")
        return bytes(out)

    rows = [row(y) for y in range(height)]
    return _png_assemble(
        width, height, 16, 6, _png_filter_encode(rows, 8, doc_id)
    )


def synth_png_palette(
    width: int, height: int, doc_id: int, depth: int
) -> bytes:
    """A REAL palette PNG (r17) at depth 1/2/4/8: a full ``2**depth``
    -entry PLTE with colors ``((17d+29i)%256, (13d+7i)%256, (11d+3i)%256)``,
    index pattern ``(d + 3x + 5y) % 2**depth`` packed MSB-first with
    zero-padded row tails (sub-byte depths), filters cycling ``(y+d)%5``
    at filter bpp 1.  A decoder that packs LSB-first, forgets per-row
    padding restarts, or misapplies filters over packed bytes decodes
    wrong indices -- and index->color composition is a closed form a SQL
    oracle replays without a lookup table."""
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"illegal palette depth {depth}")
    n = 1 << depth
    plte = bytes(
        v
        for i in range(n)
        for v in (
            (17 * doc_id + 29 * i) % 256,
            (13 * doc_id + 7 * i) % 256,
            (11 * doc_id + 3 * i) % 256,
        )
    )
    per = 8 // depth
    rows = []
    for y in range(height):
        idxs = [(doc_id + 3 * x + 5 * y) % n for x in range(width)]
        row = bytearray()
        for i in range(0, width, per):
            b = 0
            for k, v in enumerate(idxs[i : i + per]):
                b |= v << (8 - depth * (k + 1))
            row.append(b)
        rows.append(bytes(row))
    return _png_assemble(
        width, height, depth, 3, _png_filter_encode(rows, 1, doc_id), plte
    )


def decode_bmp(content: bytes) -> dict:
    """Pure-Python pixel decode of an uncompressed 24-bit BMP.

    Handles bottom-up (positive height) and top-down (negative height)
    row order and the 4-byte row padding; output ``pixels`` is row-major
    TOP-DOWN ``(r, g, b)`` tuples either way.  Raises ``ValueError`` on
    anything but BI_RGB 24bpp -- compressed BMP variants are codec
    territory and stay behind the loud stub."""
    if content[:2] != b"BM" or len(content) < 54:
        raise ValueError("not a BMP")
    data_off = int.from_bytes(content[10:14], "little")
    width = int.from_bytes(content[18:22], "little", signed=True)
    height = int.from_bytes(content[22:26], "little", signed=True)
    bpp = int.from_bytes(content[28:30], "little")
    compression = int.from_bytes(content[30:34], "little")
    if bpp == 8 and compression == 1:
        return _decode_bmp_rle8(content)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    # width is signed in the spec but never legitimately <= 0; height == 0 is
    # equally degenerate.  Without this check a negative width yields a
    # negative stride, the truncation check vacuously passes (negative
    # product) and the decoder would silently return width<0 with an empty
    # pixel list instead of honoring the raise-loudly contract (r11 ADVICE).
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dimensions (width={width}, height={height})")
    top_down = height < 0
    height = abs(height)
    stride = width * 3 + ((-(width * 3)) % 4)
    if len(content) < data_off + stride * height:
        raise ValueError("truncated BMP pixel array")
    rows = []
    for r in range(height):
        off = data_off + r * stride
        row = [
            (content[off + 3 * x + 2], content[off + 3 * x + 1], content[off + 3 * x])
            for x in range(width)
        ]
        rows.append(row)
    if not top_down:
        rows.reverse()
    return {
        "fmt": "bmp",
        "width": width,
        "height": height,
        "pixels": [p for row in rows for p in row],
    }


def _decode_bmp_rle8(content: bytes) -> dict:
    """RLE8-compressed 8-bit palette BMP decode (BI_RLE8, r17): encoded
    run pairs ``(count, index)``, absolute-mode literals (count >= 3,
    word-aligned), end-of-line (00 00), delta (00 02 dx dy -- skipped
    pixels take index 0, the common deterministic convention), and
    end-of-bitmap (00 01).  RLE bitmaps are bottom-up by spec; output
    is row-major top-down (r, g, b) through the BGRx palette.  Strict:
    cursor overruns, truncated escapes, a stream without EOB, and
    palette overreads raise ``ValueError``."""
    data_off = int.from_bytes(content[10:14], "little")
    hdr_size = int.from_bytes(content[14:18], "little")
    width = int.from_bytes(content[18:22], "little", signed=True)
    height = int.from_bytes(content[22:26], "little", signed=True)
    if width <= 0 or height <= 0:
        raise ValueError(
            f"degenerate RLE8 BMP dimensions (width={width}, "
            f"height={height}; top-down is illegal with RLE)"
        )
    n_colors = int.from_bytes(content[46:50], "little") or 256
    pal_at = 14 + hdr_size
    if pal_at + 4 * n_colors > len(content):
        raise ValueError("truncated BMP palette")
    palette = [
        (content[pal_at + 4 * i + 2], content[pal_at + 4 * i + 1],
         content[pal_at + 4 * i])
        for i in range(n_colors)
    ]
    grid = [[0] * width for _ in range(height)]  # storage order: bottom-up
    x = y = 0
    pos = data_off
    ended = False
    while not ended:
        if pos + 2 > len(content):
            raise ValueError("truncated BMP: RLE stream cut")
        c0, c1 = content[pos], content[pos + 1]
        pos += 2
        if c0:  # encoded run
            if y >= height or x + c0 > width:
                raise ValueError("BMP RLE run overflows the row")
            for _ in range(c0):
                grid[y][x] = c1
                x += 1
        elif c1 == 0x00:  # end of line
            x, y = 0, y + 1
        elif c1 == 0x01:  # end of bitmap
            ended = True
        elif c1 == 0x02:  # delta
            if pos + 2 > len(content):
                raise ValueError("truncated BMP: RLE delta cut")
            dx, dy = content[pos], content[pos + 1]
            pos += 2
            x, y = x + dx, y + dy
            if x > width or y > height:
                raise ValueError("BMP RLE delta moves outside the bitmap")
        else:  # absolute mode: c1 literal indices, word-aligned
            if y >= height or x + c1 > width:
                raise ValueError("BMP RLE absolute run overflows the row")
            span = (c1 + 1) & ~1
            if pos + span > len(content):
                raise ValueError("truncated BMP: RLE absolute run cut")
            for i in range(c1):
                grid[y][x] = content[pos + i]
                x += 1
            pos += span
    for row in grid:
        for v in row:
            if v >= n_colors:
                raise ValueError(
                    f"BMP RLE index {v} overruns the {n_colors}-entry "
                    "palette"
                )
    rows = [[palette[v] for v in row] for row in reversed(grid)]
    return {
        "fmt": "bmp_rle8",
        "width": width,
        "height": height,
        "pixels": [p for row in rows for p in row],
    }


def synth_bmp_rle8(width: int, height: int, doc_id: int) -> bytes:
    """A REAL RLE8 BMP (r17): full 256-entry BGRx palette with colors
    ``((17d+29i)%256, (13d+7i)%256, (11d+3i)%256)`` and index pattern
    ``(doc_id + 7*(x//L) + 5*y) % 256`` with ``L = doc_id % 3 + 2`` --
    constant runs of length L, so even image rows encode in RUN mode
    and odd rows in ABSOLUTE mode (word-aligned literals), exercising
    both RLE paths against one closed form.  Rows are stored bottom-up
    with EOL escapes and a final EOB, per the spec."""
    run_len = doc_id % 3 + 2

    def idx(x: int, y: int) -> int:
        return (doc_id + 7 * (x // run_len) + 5 * y) % 256

    out = bytearray()
    for sy in range(height):  # storage order: bottom-up
        y = height - 1 - sy
        if sy % 2 == 0:
            x = 0
            while x < width:
                n = min(run_len - x % run_len, width - x)
                out += bytes((n, idx(x, y)))
                x += n
        else:
            x = 0
            while x < width:
                n = min(254, width - x)
                if n >= 3:
                    out += bytes((0x00, n))
                    out += bytes(idx(x + i, y) for i in range(n))
                    if n % 2:
                        out.append(0x00)  # word alignment pad
                else:
                    for i in range(n):
                        out += bytes((1, idx(x + i, y)))
                x += n
        out += bytes((0x00, 0x01) if sy == height - 1 else (0x00, 0x00))
    palette = bytes(
        v
        for i in range(256)
        for v in (
            (11 * doc_id + 3 * i) % 256,  # blue
            (13 * doc_id + 7 * i) % 256,  # green
            (17 * doc_id + 29 * i) % 256,  # red
            0,
        )
    )
    data_off = 14 + 40 + len(palette)
    info = (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + (1).to_bytes(4, "little")  # BI_RLE8
        + len(out).to_bytes(4, "little")
        + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + (256).to_bytes(4, "little") + (0).to_bytes(4, "little")
    )
    total = data_off + len(out)
    hdr = b"BM" + total.to_bytes(4, "little") + bytes(4) + data_off.to_bytes(
        4, "little")
    return hdr + info + palette + bytes(out)


# --------------------------------------------------------------------------
# TIFF baseline (r17): IFD walk, strips, PackBits, both byte orders.
# --------------------------------------------------------------------------

def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits decompression (the TIFF spec's RLE): control byte n in
    0..127 copies n+1 literals, 129..255 repeats the next byte 257-n
    times, 128 is a no-op.  Strict: output must land exactly on
    ``expected`` bytes; over- or under-runs raise."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos]
        pos += 1
        if n == 128:
            continue
        if n < 128:
            if pos + n + 1 > len(data):
                raise ValueError("truncated TIFF: PackBits literal cut")
            out += data[pos : pos + n + 1]
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated TIFF: PackBits repeat cut")
            out += bytes((data[pos],)) * (257 - n)
            pos += 1
        if len(out) > expected:
            raise ValueError(
                f"TIFF PackBits overrun: {len(out)} > {expected} bytes")
    if len(out) != expected:
        raise ValueError(
            f"TIFF PackBits underrun: {len(out)} of {expected} bytes")
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Minimal valid PackBits encoder: runs of >= 2 identical bytes as
    repeat packets (max 128), everything else as literal packets (max
    128)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes((257 - run, data[i]))
            i += run
            continue
        lit = i
        while (
            i < n and (i + 1 >= n or data[i + 1] != data[i] or True)
            and i - lit < 128
        ):
            # literal run: stop when a >=2 repeat starts or 128 reached
            if i + 1 < n and data[i + 1] == data[i]:
                break
            i += 1
        if i == lit:  # single byte followed by a repeat
            i += 1
        out += bytes((i - lit - 1,)) + data[lit:i]
    return bytes(out)


def decode_tiff(content: bytes) -> dict:
    """Pure-Python baseline TIFF decode (r17): both byte orders
    (``II``/``MM``), the first IFD's tag walk (SHORT/LONG entry types,
    inline-or-offset values), strip assembly via StripOffsets/
    StripByteCounts/RowsPerStrip, Compression 1 (none) or 32773
    (PackBits, per-strip), PhotometricInterpretation 1 (grayscale,
    BlackIsZero) or 2 (RGB), 8 bits per sample.  Output matches the
    BMP/PPM convention: row-major top-down ints (gray) or (r, g, b)
    tuples.  Strict: truncated headers/IFDs/strips, unsupported
    tag values, strip-size mismatches, and PackBits over/underruns
    raise ``ValueError``."""
    if len(content) < 8:
        raise ValueError("not a TIFF (short header)")
    if content[:2] == b"II" and content[2:4] == b"\x2a\x00":
        bo = "little"
    elif content[:2] == b"MM" and content[2:4] == b"\x00\x2a":
        bo = "big"
    else:
        raise ValueError("not a TIFF")

    def u(at: int, n: int) -> int:
        if at + n > len(content):
            raise ValueError("truncated TIFF: read past end")
        return int.from_bytes(content[at : at + n], bo)

    ifd = u(4, 4)
    nent = u(ifd, 2)
    if nent == 0:
        raise ValueError("TIFF IFD carries no entries")
    tags: dict[int, list[int]] = {}
    for i in range(nent):
        at = ifd + 2 + 12 * i
        tag, typ = u(at, 2), u(at + 2, 2)
        count = u(at + 4, 4)
        if typ == 3:  # SHORT
            sz = 2
        elif typ == 4:  # LONG
            sz = 4
        else:
            continue  # other types are ignorable for the baseline set
        total = sz * count
        base = at + 8 if total <= 4 else u(at + 8, 4)
        tags[tag] = [u(base + sz * k, sz) for k in range(count)]

    def one(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return tags[tag][0]

    width = one(256)
    height = one(257)
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate TIFF dimensions {width}x{height}")
    compression = one(259, 1)
    photometric = one(262)
    spp = one(277, 1)
    rows_per_strip = one(278, height)
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits) or compression not in (1, 32773):
        raise ValueError(
            f"unsupported TIFF (bits={bits}, compression={compression}); "
            "8-bit, uncompressed or PackBits only"
        )
    if (photometric, spp) not in ((1, 1), (2, 3)):
        raise ValueError(
            f"unsupported TIFF (photometric={photometric}, samples={spp}); "
            "8-bit grayscale or RGB only"
        )
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing or mismatched strip tables")
    n_strips = (height + rows_per_strip - 1) // rows_per_strip
    if len(offsets) != n_strips:
        raise ValueError(
            f"TIFF strip count {len(offsets)} != expected {n_strips}")
    raster = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(content):
            raise ValueError(f"truncated TIFF: strip {si} cut")
        strip = content[off : off + cnt]
        rows_here = min(rows_per_strip, height - si * rows_per_strip)
        expected = rows_here * width * spp
        if compression == 32773:
            strip = _packbits_decode(strip, expected)
        elif len(strip) != expected:
            raise ValueError(
                f"TIFF strip {si} carries {len(strip)} bytes, expected "
                f"{expected}"
            )
        raster += strip
    if photometric == 1:
        pixels: list = list(raster)
    else:
        pixels = [
            (raster[i], raster[i + 1], raster[i + 2])
            for i in range(0, len(raster), 3)
        ]
    return {
        "fmt": "tiff_gray" if photometric == 1 else "tiff_rgb",
        "width": width,
        "height": height,
        "pixels": pixels,
    }


def synth_tiff(width: int, height: int, doc_id: int) -> bytes:
    """A REAL baseline TIFF (r17), four arms by doc_id: byte order II
    (even) / MM (odd), compression none (doc_id % 4 < 2) / PackBits
    (else), photometric gray (doc_id % 8 < 4) / RGB (else).  Strips of
    3 rows.  Pixel classes: gray ``(19*doc_id + 3*x + 7*y) % 256``;
    RGB channels ``(23d+5x+3y, 29d+x+11y, 31d+9x+y) % 256``.  The gray
    class varies per pixel, and the strip table (offsets, byte counts,
    rows-per-strip tail) plus the per-strip PackBits framing must all
    hold for the closed form to decode."""
    bo = "little" if doc_id % 2 == 0 else "big"
    packed = doc_id % 4 >= 2
    rgb = doc_id % 8 >= 4
    spp = 3 if rgb else 1
    rows_per_strip = 3

    def px(x: int, y: int) -> bytes:
        if not rgb:
            return bytes(((19 * doc_id + 3 * x + 7 * y) % 256,))
        return bytes((
            (23 * doc_id + 5 * x + 3 * y) % 256,
            (29 * doc_id + x + 11 * y) % 256,
            (31 * doc_id + 9 * x + y) % 256,
        ))

    strips = []
    for y0 in range(0, height, rows_per_strip):
        raw = b"".join(
            px(x, y)
            for y in range(y0, min(y0 + rows_per_strip, height))
            for x in range(width)
        )
        strips.append(_packbits_encode(raw) if packed else raw)

    def b(v: int, n: int) -> bytes:
        return v.to_bytes(n, bo)

    n_strips = len(strips)
    # layout: header(8) | strip data | strip offset array | strip count
    # array | IFD
    data_at = 8
    offsets = []
    at = data_at
    for s in strips:
        offsets.append(at)
        at += len(s)
    off_array_at = at
    arrays = b""
    if n_strips > 1:
        arrays += b"".join(b(o, 4) for o in offsets)
        cnt_array_at = off_array_at + 4 * n_strips
        arrays += b"".join(b(len(s), 4) for s in strips)
        ifd_at = cnt_array_at + 4 * n_strips
    else:
        cnt_array_at = off_array_at
        ifd_at = off_array_at

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        sz = 2 if typ == 3 else 4
        body = b(value, sz)
        return b(tag, 2) + b(typ, 2) + b(count, 4) + body + bytes(4 - len(body))

    entries = [
        entry(256, 4, 1, width),
        entry(257, 4, 1, height),
        entry(258, 3, 1, 8) if not rgb else None,
        entry(259, 3, 1, 32773 if packed else 1),
        entry(262, 3, 1, 2 if rgb else 1),
        entry(273, 4, n_strips,
              offsets[0] if n_strips == 1 else off_array_at),
        entry(277, 3, 1, spp),
        entry(278, 3, 1, rows_per_strip),
        entry(279, 4, n_strips,
              len(strips[0]) if n_strips == 1 else cnt_array_at),
    ]
    entries = [e for e in entries if e is not None]
    entries.sort(key=lambda e: int.from_bytes(e[:2], bo))
    ifd = b(len(entries), 2) + b"".join(entries) + b(0, 4)
    magic = b"II\x2a\x00" if bo == "little" else b"MM\x00\x2a"
    return magic + b(ifd_at, 4) + b"".join(strips) + arrays + ifd


def decode_ppm(content: bytes) -> dict:
    """Pure-Python pixel decode of a binary PPM (P6, maxval <= 255).

    Tokenizes the header per the Netpbm spec (whitespace-separated, ``#``
    comments allowed) then reads width*height RGB triplets."""
    if content[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    sep = content[pos : pos + 1]
    if not sep.isspace():
        raise ValueError("malformed PPM: maxval not followed by whitespace")
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = fields
    # Width/height come from int() over arbitrary header tokens, so "-3" is
    # representable; a negative product makes the truncation check below
    # vacuously pass and the decoder would silently return negative dims
    # with an empty pixel list -- same raise-loudly contract as the BMP
    # degenerate-dimension guard (r12 ADVICE).
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate PPM dimensions (width={width}, height={height})")
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = width * height * 3
    if sep == b"\r" and content[pos : pos + 1] == b"\n":
        # "\r\n" after maxval: either a conforming writer used "\r" as the
        # single separator with a raster legitimately starting 0x0A, or the
        # file went through Windows text-mode translation and the real
        # separator is the two-byte CRLF.  Under the decoder's strict
        # no-trailing-bytes contract (below -- same posture as the Avro and
        # WAV decoders), the exact-size check disambiguates (r13 VERDICT
        # item 7): exactly one of the two readings can account for every
        # byte.  len == pos + need => lone-\r (raster starts at the 0x0A);
        # len == pos + 1 + need => CRLF (raster starts after it).  The one
        # remaining theoretical collision -- a lone-\r writer that ALSO
        # appended a trailing newline to a raster starting 0x0A -- is
        # byte-identical to the CRLF file and invalid under the strict
        # contract, so the CRLF reading wins; a genuinely text-mode-
        # corrupted file whose RASTER contains 0x0A bytes grew by more
        # than one byte, fails both exact-size checks, and still raises.
        if len(content) == pos + 1 + need:
            # ADVICE r14: the CRLF reading silently covers a conforming
            # lone-CR file whose raster starts 0x0A AND that appended one
            # trailing newline.  That alternative is only byte-consistent
            # when the file's LAST byte is also 0x0A (the trailing newline
            # itself); annotate loudly in exactly that subcase instead of
            # decoding in silence.  Conforming CRLF files whose raster ends
            # on any other byte stay warning-free.
            if content[-1:] == b"\n":
                import warnings

                warnings.warn(
                    "PPM CRLF disambiguation: decoding under the CRLF "
                    "reading, but a lone-CR writer with a trailing newline "
                    "would be byte-identical (raster would shift by one); "
                    "strict no-trailing-bytes contract picks CRLF",
                    stacklevel=2,
                )
            pos += 1  # CRLF separator: skip the \n
        elif len(content) != pos + need:
            raise ValueError(
                "ambiguous PPM: CRLF after maxval and neither the lone-CR "
                "nor the CRLF reading matches the raster size exactly "
                "(text-mode corrupted raster, truncation, or trailing bytes)"
            )
    if len(content) < pos + need:
        raise ValueError("truncated PPM raster")
    if len(content) > pos + need:
        # strict contract: a binary P6 raster is exact-size; trailing bytes
        # mean a malformed writer or the wrong dimensions -- raise rather
        # than silently ignore (the same class the Avro/WAV decoders pin)
        raise ValueError(
            f"trailing bytes after PPM raster ({len(content) - pos - need})"
        )
    raster = content[pos : pos + need]
    return {
        "fmt": "ppm",
        "width": width,
        "height": height,
        "pixels": [
            (raster[i], raster[i + 1], raster[i + 2]) for i in range(0, need, 3)
        ],
    }


def decode_pnm(content: bytes) -> dict:
    """Netpbm family decode beyond P6 (r17): binary PGM (P5, maxval <=
    255), binary PBM (P4, 1 bit/pixel MSB-first with byte-padded rows,
    1 = black per the spec -- emitted raw), and the ASCII formats P1/
    P2/P3 (whitespace/comment tokenization; P1 digits may be packed
    without separators).  Output conventions match the P6 decoder:
    row-major top-down ints (P1/P2/P4/P5) or (r, g, b) tuples (P3).
    Strict: short rasters, out-of-range samples, trailing bytes
    (binary forms), and malformed headers raise ``ValueError``."""
    magic = content[:2]
    if magic not in (b"P1", b"P2", b"P3", b"P4", b"P5"):
        raise ValueError("not a P1-P5 PNM")
    kind = magic[1] - 0x30
    n_fields = 2 if kind in (1, 4) else 3
    pos, fields = 2, []
    while len(fields) < n_fields:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("malformed PNM header: ran out of tokens")
        fields.append(int(content[start:pos]))
    width, height = fields[0], fields[1]
    maxval = fields[2] if n_fields == 3 else 1
    if width <= 0 or height <= 0:
        raise ValueError(
            f"degenerate PNM dimensions (width={width}, height={height})")
    if not 1 <= maxval <= 255:
        raise ValueError(f"unsupported PNM maxval {maxval}")
    if kind in (4, 5):
        sep = content[pos : pos + 1]
        if not sep.isspace():
            raise ValueError("malformed PNM: header not followed by whitespace")
        pos += 1
        if kind == 5:
            need = width * height
            if len(content) != pos + need:
                raise ValueError(
                    f"P5 raster size mismatch: {len(content) - pos} bytes, "
                    f"need {need}"
                )
            pixels = list(content[pos:])
            if max(pixels, default=0) > maxval:
                raise ValueError("P5 sample exceeds maxval")
            return {"fmt": "pgm", "width": width, "height": height,
                    "pixels": pixels}
        stride = (width + 7) // 8
        need = stride * height
        if len(content) != pos + need:
            raise ValueError(
                f"P4 raster size mismatch: {len(content) - pos} bytes, "
                f"need {need}"
            )
        pixels = []
        for y in range(height):
            row = content[pos + y * stride : pos + (y + 1) * stride]
            for x in range(width):
                pixels.append((row[x // 8] >> (7 - x % 8)) & 1)
        return {"fmt": "pbm", "width": width, "height": height,
                "pixels": pixels}
    # ASCII forms: tokenize the raster
    spp = 3 if kind == 3 else 1
    need = width * height * spp
    vals: list[int] = []
    while len(vals) < need and pos < len(content):
        c = content[pos : pos + 1]
        if c.isspace():
            pos += 1
            continue
        if c == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        if kind == 1:
            if c not in (b"0", b"1"):
                raise ValueError(f"P1 raster carries non-bit byte {c!r}")
            vals.append(content[pos] - 0x30)  # digits may be packed
            pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(content[start:pos]))
    if len(vals) < need:
        raise ValueError(
            f"PNM raster ran out: {len(vals)} of {need} samples")
    while pos < len(content) and content[pos : pos + 1].isspace():
        pos += 1
    if pos < len(content):
        raise ValueError(
            f"trailing bytes after PNM raster ({len(content) - pos})")
    if any(v > maxval or v < 0 for v in vals):
        raise ValueError("PNM sample exceeds maxval")
    if kind == 3:
        return {"fmt": "ppm_ascii", "width": width, "height": height,
                "pixels": [tuple(vals[i : i + 3])
                           for i in range(0, need, 3)]}
    return {"fmt": "pbm_ascii" if kind == 1 else "pgm_ascii",
            "width": width, "height": height, "pixels": vals}


def synth_pnm(width: int, height: int, doc_id: int, kind: int) -> bytes:
    """A REAL PNM of any of the five non-P6 kinds (r17): P1/P4 bitmap
    ``(doc_id + x + y) % 2`` (P1 packed without separators on
    odd doc_ids), P2/P5 graymap ``(19*doc_id + 3*x + 7*y) % 256``,
    P3 pixmap with the TIFF RGB channel classes.  A ``# comment`` line
    sits inside every header."""
    hdr_comment = b"# synth doc %d\n" % doc_id
    if kind in (1, 4):
        bits = [[(doc_id + x + y) % 2 for x in range(width)]
                for y in range(height)]
        if kind == 1:
            joiner = b"" if doc_id % 2 else b" "
            body = b"\n".join(
                joiner.join(b"%d" % v for v in row) for row in bits)
            return b"P1\n" + hdr_comment + b"%d %d\n" % (width, height) + body + b"\n"
        stride = (width + 7) // 8
        raster = bytearray()
        for row in bits:
            acc = bytearray(stride)
            for x, v in enumerate(row):
                if v:
                    acc[x // 8] |= 1 << (7 - x % 8)
            raster += acc
        return (b"P4\n" + hdr_comment + b"%d %d\n" % (width, height)
                + bytes(raster))
    if kind in (2, 5):
        vals = [(19 * doc_id + 3 * x + 7 * y) % 256
                for y in range(height) for x in range(width)]
        if kind == 2:
            body = b" ".join(b"%d" % v for v in vals)
            return (b"P2\n" + hdr_comment + b"%d %d\n255\n" % (width, height)
                    + body + b"\n")
        return (b"P5\n" + hdr_comment + b"%d %d\n255\n" % (width, height)
                + bytes(vals))
    if kind == 3:
        vals = []
        for y in range(height):
            for x in range(width):
                vals += [(23 * doc_id + 5 * x + 3 * y) % 256,
                         (29 * doc_id + x + 11 * y) % 256,
                         (31 * doc_id + 9 * x + y) % 256]
        body = b" ".join(b"%d" % v for v in vals)
        return (b"P3\n" + hdr_comment + b"%d %d\n255\n" % (width, height)
                + body + b"\n")
    raise ValueError(f"unknown PNM kind {kind}")


def decode_wav_pcm(content: bytes) -> dict:
    """Pure-Python sample decode of 16-bit PCM WAV: RIFF chunk walk to
    ``fmt `` (must be PCM, 16-bit) and ``data``, samples as signed
    little-endian int16."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        # a declared chunk size running past the buffer silently yielded a
        # SHORTENED body (fewer samples, no error) -- the same silent-
        # truncation class the Avro codec fuzz caught; raise loudly instead
        if len(body) < size:
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {size} bytes, "
                f"{len(body)} present"
            )
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    # Strict-prefix closure (ADVICE r13): a prefix cutting 1-7 bytes into
    # the NEXT chunk header exits the loop silently -- 0 < remainder < 8
    # is never a valid RIFF tail, so raise like the Avro trailing-bytes
    # check.  pos may legitimately land at len (exact) or len+1 (final
    # odd-sized chunk whose writer omitted the pad byte -- common in the
    # wild, and body completeness is already enforced above).
    if pos < len(content):
        raise ValueError(
            f"truncated WAV: {len(content) - pos} trailing bytes form a "
            "partial chunk header"
        )
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 6 or audio_format == 7:
        # G.711 A-law / mu-law (r17): 8 bits per sample, the exact
        # segment/quantization expansion of the spec's reference decoder
        # (the classic public-domain g711.c tables expressed as the
        # closed formula, SQL-replayable)
        if bits != 8:
            raise ValueError(
                f"G.711 WAV must be 8-bit (format={audio_format}, "
                f"bits={bits})"
            )
        dec = _alaw_to_linear if audio_format == 6 else _ulaw_to_linear
        samples = [dec(b) for b in data]
        return {
            "fmt": "wav_alaw" if audio_format == 6 else "wav_ulaw",
            "channels": channels,
            "sample_rate": sample_rate,
            "bits": bits,
            "samples": samples,
        }
    if audio_format == 0x11:
        # IMA/DVI ADPCM (r17): 4-bit differential blocks
        if bits != 4:
            raise ValueError(
                f"IMA ADPCM WAV must be 4-bit (bits={bits})")
        if channels != 1:
            raise ValueError("IMA ADPCM decode is mono-only here")
        block_align = int.from_bytes(fmt[12:14], "little")
        if len(fmt) >= 20:
            spb = int.from_bytes(fmt[18:20], "little")
        else:
            spb = (block_align - 4) * 2 + 1
        if block_align < 4 or spb != (block_align - 4) * 2 + 1:
            raise ValueError(
                f"inconsistent IMA ADPCM framing (block_align="
                f"{block_align}, samples_per_block={spb})"
            )
        if len(data) % block_align:
            raise ValueError(
                f"truncated WAV: {len(data) % block_align} bytes form a "
                "partial ADPCM block"
            )
        samples = []
        for at in range(0, len(data), block_align):
            pred = int.from_bytes(data[at : at + 2], "little", signed=True)
            index = data[at + 2]
            if index > 88:
                raise ValueError(f"IMA ADPCM step index {index} > 88")
            samples.append(pred)
            produced = 1
            for byte in data[at + 4 : at + block_align]:
                for nib in (byte & 0x0F, byte >> 4):  # low nibble first
                    if produced >= spb:
                        break
                    pred, index = _ima_adpcm_step(pred, index, nib)
                    samples.append(pred)
                    produced += 1
        return {
            "fmt": "wav_ima_adpcm",
            "channels": channels,
            "sample_rate": sample_rate,
            "bits": bits,
            "samples": samples,
        }
    if audio_format != 1 or bits not in (8, 16, 24, 32):
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    nb = bits // 8
    # 16-bit keeps its long-pinned lenience (an odd data chunk's trailing
    # half-sample byte is ignored -- common in the wild, see the
    # chunk-alignment test); the r17 24/32-bit additions raise on partial
    # samples, matching the rest of the strict contract.
    if bits in (24, 32) and len(data) % nb:
        raise ValueError(
            f"truncated WAV: {len(data) % nb} bytes form a partial "
            f"{bits}-bit sample"
        )
    n = len(data) // nb
    if bits == 8:
        # 8-bit PCM is UNSIGNED by WAV convention (centered at 128)
        samples = list(data)
    else:
        samples = [
            int.from_bytes(data[nb * i : nb * i + nb], "little", signed=True)
            for i in range(n)
        ]
    return {
        "fmt": "wav_pcm" if bits == 16 else f"wav_pcm{bits}",
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "samples": samples,
    }


def _ulaw_to_linear(b: int) -> int:
    """G.711 mu-law expansion (the public reference decoder's segment
    formula: bias 0x84, 3-bit quantization shift per segment)."""
    u = ~b & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u >> 4) & 7
    return (0x84 - t) if u & 0x80 else (t - 0x84)


def _alaw_to_linear(b: int) -> int:
    """G.711 A-law expansion (0x55 toggle, segmented linear)."""
    a = b ^ 0x55
    seg = (a >> 4) & 7
    t = (a & 0x0F) << 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


#: IMA/DVI ADPCM step-size table (89 entries) and index adjustments --
#: the standard public tables (IMA ADPCM reference / multimedia spec).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_step(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM state transition: difference from the 3 magnitude
    bits against the current step, sign from bit 3, predictor clamped
    to int16, index adjusted and clamped to the table."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
    return pred, index


def synth_wav_g711(n: int, doc_id: int, law: str) -> bytes:
    """A REAL G.711 WAV (r17): mono 8-bit, format code 6 (A-law) or 7
    (mu-law), data bytes the closed form ``(doc_id + 11*i) % 256`` --
    every compressed BYTE value cycles through the full code space, so
    the decode gate exercises all 256 expansion entries of each law."""
    code = 6 if law == "alaw" else 7
    data = bytes((doc_id + 11 * i) % 256 for i in range(n))
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + code.to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    blob = b"RIFF" + len(body).to_bytes(4, "little") + body
    return blob + (b"\x00" if len(data) % 2 else b"")


def synth_wav_pcm_bits(n: int, doc_id: int, bits: int) -> bytes:
    """A REAL PCM WAV (r17) at 8 (unsigned), 24 or 32 bits: sample
    closed forms spanning the full signed range, little-endian.  The
    16-bit path keeps its original synthesizer; this one exercises the
    width generalization (sub-byte-free but multi-byte strides plus the
    unsigned-8 convention)."""
    if bits == 8:
        data = bytes((doc_id + 13 * i) % 256 for i in range(n))
    elif bits == 24:
        data = b"".join(
            (((doc_id * 1009 + 9973 * i) % (1 << 24)) - (1 << 23))
            .to_bytes(3, "little", signed=True)
            for i in range(n)
        )
    elif bits == 32:
        data = b"".join(
            (((doc_id * 2003 + 65521 * i) % (1 << 32)) - (1 << 31))
            .to_bytes(4, "little", signed=True)
            for i in range(n)
        )
    else:
        raise ValueError(f"unsupported synth bit depth {bits}")
    block = bits // 8
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (8000 * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    blob = b"RIFF" + len(body).to_bytes(4, "little") + body
    return blob + (b"\x00" if len(data) % 2 else b"")


def synth_wav_ima(nblocks: int, spb: int, doc_id: int) -> bytes:
    """A REAL IMA ADPCM WAV (r17): mono, format code 0x11, ``nblocks``
    blocks of ``spb`` samples (spb odd).  Block b's header carries
    predictor ``(doc_id * 97 + 311 * b) % 4001 - 2000`` and step index
    ``(doc_id * 13 + 7 * b) % 89``; the nibble stream is the closed
    form ``(doc_id + 7*i + b) % 16`` -- every nibble value (both signs,
    all magnitudes) occurs, driving the step table up and down through
    its clamps."""
    if spb % 2 == 0:
        raise ValueError("samples_per_block must be odd for mono IMA")
    block_align = 4 + (spb - 1) // 2
    blocks = []
    for b in range(nblocks):
        pred = (doc_id * 97 + 311 * b) % 4001 - 2000
        index = (doc_id * 13 + 7 * b) % 89
        nibs = [(doc_id + 7 * i + b) % 16 for i in range(spb - 1)]
        payload = bytearray()
        for i in range(0, len(nibs), 2):
            lo = nibs[i]
            hi = nibs[i + 1] if i + 1 < len(nibs) else 0
            payload.append(lo | (hi << 4))
        blocks.append(
            pred.to_bytes(2, "little", signed=True)
            + bytes((index, 0)) + bytes(payload)
        )
    data = b"".join(blocks)
    fmt = (
        b"fmt " + (20).to_bytes(4, "little")
        + (0x11).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (4000).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + spb.to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    blob = b"RIFF" + len(body).to_bytes(4, "little") + body
    return blob + (b"\x00" if len(data) % 2 else b"")



# --------------------------------------------------------------------------
# JPEG codec core (ITU T.81).  Encode side: the ``synth_jpeg_*`` image
# classes, each a closed form of (doc_id, block position), written through
# one file assembler (:class:`_JpegWriter`) and two entropy coders
# (Huffman, QM).  Decode side: one segment walker, one table/frame model
# (:class:`_JpegModel`), one entropy stage per coding process, and one
# block-to-pixel emitter (:func:`_jpeg_emit`).
# --------------------------------------------------------------------------

def _zigzag() -> list[tuple[int, int]]:
    """The JPEG zigzag scan order as (row, col) pairs, generated
    algorithmically: diagonals of constant row+col, direction
    alternating, clamped at the 8x8 boundary."""
    out = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        out.extend(diag if s % 2 else list(reversed(diag)))
    return out


_ZIGZAG = _zigzag()
#: zigzag index of each row-major 8x8 position (the de-zigzag gather)
_ZIGZAG_INV = [k for _, k in sorted((8 * r + c, k) for k, (r, c) in enumerate(_ZIGZAG))]
#: IDCT basis ``C(v) * cos((2y+1) v pi / 16)``, C(0) = 1/sqrt(2), rows y
_IDCT_BASIS = np.array([
    [
        (1.0 / math.sqrt(2.0) if v == 0 else 1.0)
        * math.cos((2 * y + 1) * v * math.pi / 16)
        for v in range(8)
    ]
    for y in range(8)
])


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):  # MSB first, per the spec
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # 1-fill
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _canonical_codes(lengths: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits) per the JPEG canonical construction."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for nbits in range(1, 17):
        for _ in range(lengths[nbits - 1]):
            out[symbols[k]] = (code, nbits)
            code += 1
            k += 1
        code <<= 1
    return out


def _ht(nbits: int, symbols) -> tuple[list[int], list[int], dict]:
    """A DHT spec (lengths, symbols, canonical codes) with every symbol at
    code length ``nbits``."""
    symbols = list(symbols)
    lengths = [len(symbols) if i == nbits - 1 else 0 for i in range(16)]
    return lengths, symbols, _canonical_codes(lengths, symbols)


#: The synthesizers' Huffman tables (the decoders read whatever DHT
#: declares -- these are just OUR choice).  Chroma tables sit one code
#: length above their luma twins, so a decoder that picks the wrong table
#: for a component desynchronizes instead of decoding by accident.
_HT_DC = _ht(4, range(12))  # DC categories 0..11
_HT_DC_C = _ht(5, range(12))
_HT_DC12 = _ht(5, range(16))  # 12-bit DC diffs reach category 15
_HT_DC12_C = _ht(6, range(16))
_HT_EOB = _ht(2, [0x00])  # AC: the single EOB symbol
#: AC: EOB, ZRL and run-6 symbols for categories 1..9 (index 39 = (4,4))
_HT_AC6 = _ht(4, [0x00, 0xF0] + [(6 << 4) | s for s in range(1, 10)])
_HT_AC6_C = _ht(5, _HT_AC6[1])
#: progressive AC: EOBn runs (r << 4, r 0..4), ZRL, run-0 categories 1..9
_HT_ACP = _ht(4, [0x00, 0x10, 0x20, 0x30, 0x40, 0xF0] + list(range(1, 10)))
_HT_ACP_C = _ht(5, _HT_ACP[1])
#: lossless differences 0..16; category 16 is the no-extra-bits 32768
_HT_LOSSLESS = _ht(5, range(17))

#: SOF component specs (id, sampling, table id): grayscale, and Y/Cb/Cr
#: at 4:4:4 and 4:2:0 with both chroma components on tables 1
_GRAY = ((1, 0x11, 0),)
_YCC = ((1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1))
_YCC420 = ((1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1))


def _dht(*tables) -> tuple:
    """DHT specs (class << 4 | id, lengths, symbols, codes) for luma DC,
    luma AC, chroma DC, chroma AC -- as many as given, in that order."""
    return tuple((tc, *t) for tc, t in zip((0x00, 0x10, 0x01, 0x11), tables))


def _huff_put(bw: _BitWriter, codes: dict, v: int, run: int = 0) -> None:
    """The one Huffman write: symbol ``(run << 4) | category(v)``, then
    the category's low bits of ``v`` (negatives one's-complemented).
    Covers DC differences (run 0), AC coefficients behind their zero run,
    EOB (``v = 0``), ZRL (``v = 0, run = 15``) and EOBn (``v = 0, run =
    n``; the caller appends the run bits); category 16 (the lossless
    32768 escape) carries no bits."""
    t = abs(v).bit_length()
    code, nbits = codes[(run << 4) | t]
    bw.write(code, nbits)
    if 0 < t < 16:
        bw.write(v if v >= 0 else v + (1 << t) - 1, t)


def _rst_join(parts: list) -> bytes:
    """Entropy-coded segments joined by RSTn markers cycling 0..7."""
    return parts[0] + b"".join(
        bytes((0xFF, 0xD0 + i % 8)) + p for i, p in enumerate(parts[1:])
    )


class _JpegWriter:
    """Encode-side file assembler shared by every ``synth_jpeg_*``.

    The constructor opens the file with SOI and the table segments built
    from specs: one DQT per ``quant`` entry (table id = position, all 64
    entries equal), one DHT per ``huff`` spec ``(class << 4 | id,
    lengths, symbols, codes)`` -- whose canonical codes land in
    ``codes`` under the same key -- and, for arithmetic coding, a DAC
    from ``cond`` (per table id: DC bounds L and U, AC Kx).  :meth:`frame` writes a SOFn or
    DHP (plus DRI), :meth:`scan` an SOS with its entropy-coded data,
    :meth:`seg` any other segment, and :meth:`done` closes with EOI."""

    def __init__(self, quant=(1,), huff=(), cond=()) -> None:
        self.out = bytearray(b"\xff\xd8")
        self.codes: dict[int, dict] = {}
        self.cond = cond
        for tq, q in enumerate(quant):
            self.seg(0xDB, bytes((tq,)) + bytes([q] * 64))
        for tc, lengths, symbols, codes in huff:
            self.seg(0xC4, bytes((tc,)) + bytes(lengths) + bytes(symbols))
            self.codes[tc] = codes
        if cond:
            dc = [b for tb, (lo, up, _) in enumerate(cond) for b in (tb, up << 4 | lo)]
            ac = [b for tb, (*_, kx) in enumerate(cond) for b in (0x10 | tb, kx)]
            self.seg(0xCC, bytes(dc + ac))

    def seg(self, marker: int, body: bytes) -> None:
        self.out += bytes((0xFF, marker)) + (len(body) + 2).to_bytes(2, "big") + body

    def frame(self, marker: int, width: int, height: int, comps=_GRAY,
              precision: int = 8, restart: int = 0) -> None:
        """SOFn/DHP header over ``comps``; later scans code this frame's
        size with ``restart`` MCUs per segment, and a differential frame
        (SOF5) codes its DC values unpredicted (F.1.5)."""
        self.width, self.height, self.restart = width, height, restart
        self.predict = marker != 0xC5
        self.seg(marker, bytes((precision,)) + height.to_bytes(2, "big")
                 + width.to_bytes(2, "big") + bytes((len(comps),))
                 + b"".join(bytes(c) for c in comps))
        if restart:
            self.seg(0xDD, restart.to_bytes(2, "big"))

    def scan(self, block, comps=_GRAY, ss: int = 0, se: int = 63, ah: int = 0,
             al: int = 0, data: bytes | None = None) -> None:
        """SOS over ``comps`` (a component's table id selects its DC table
        in scans with DC, its AC table in scans with AC) followed by
        ``data``, or by ``block``'s blocks coded with the QM coder when a
        DAC was written, else with Huffman."""
        sel = b"".join(
            bytes((cid, (tq << 4 if ss == 0 else 0) | (tq if se else 0)))
            for cid, _samp, tq in comps
        )
        self.seg(0xDA, bytes((len(comps),)) + sel + bytes((ss, se, ah << 4 | al)))
        if data is None:
            coder = _qm_encode_scan if self.cond else _huff_encode_scan
            data = coder(self, block, comps, ss, se, ah, al)
        self.out += data

    def done(self) -> bytes:
        return bytes(self.out) + b"\xff\xd9"


def _huff_encode_scan(w: _JpegWriter, block, comps, ss: int, se: int,
                      ah: int, al: int) -> bytes:
    """Huffman entropy data of one scan.  Blocks go in MCU order (dx
    fastest, components in ``comps`` order; a non-interleaved scan passes
    its one component at 0x11); ``block(component index, bx, by)`` gives
    a block's raw DC and its nonzero ACs as ascending ``(zigzag k,
    value)`` pairs.  A sequential scan (Ss=0, Se>0) codes DC and AC with
    an EOB per block; a progressive scan codes one stage of T.81 G.1.2:
    DC first (``dc >> al``) or refinement (one raw bit), AC first (EOB
    runs span blocks) or refinement (correction bits queue behind the
    pending EOB run, as libjpeg's ``encode_mcu_AC_refine``).  Every
    ``w.restart`` MCUs close an RST-joined segment, resetting the DC
    predictors and flushing the EOB run."""
    hmax = max(s >> 4 for _, s, _ in comps)
    vmax = max(s & 15 for _, s, _ in comps)
    mcu = [  # per block of an MCU: position in comps, block() index,
        # offsets, sampling factors, DC and AC codes
        (ci, cid - 1, dx, dy, samp >> 4, samp & 15,
         w.codes.get(tq), w.codes.get(0x10 | tq))
        for ci, (cid, samp, tq) in enumerate(comps)
        for dy in range(samp & 15) for dx in range(samp >> 4)
    ]
    lo, seq, dc_first = max(ss, 1), ss == 0 and se > 0, ss == 0 and not ah
    parts, bw, acc = [], _BitWriter(), None
    prev = [0] * len(comps)
    eob = [0, []]  # pending EOB run and the correction bits behind it

    def flush_eob() -> None:
        run, corr = eob
        if run:
            r = run.bit_length() - 1
            _huff_put(bw, acc, 0, r)
            bw.write(run - (1 << r), r)
            for b in corr:
                bw.write(b, 1)
            eob[:] = [0, []]

    n, ri, predict = 0, w.restart, w.predict
    for my in range((w.height + 8 * vmax - 1) // (8 * vmax)):
        for mx in range((w.width + 8 * hmax - 1) // (8 * hmax)):
            if ri and n and n % ri == 0:
                flush_eob()
                parts.append(bw.flush())
                bw, prev = _BitWriter(), [0] * len(comps)
            n += 1
            for ci, c, dx, dy, hs, vs, dcc, acc in mcu:
                dc, ac = block(c, mx * hs + dx, my * vs + dy)
                if dc_first:
                    _huff_put(bw, dcc, (dc >> al) - prev[ci])
                    if predict:
                        prev[ci] = dc >> al
                elif ss == 0:
                    bw.write((dc >> al) & 1, 1)
                if seq:  # AC 1..63 behind zero runs, then EOB
                    k0 = 1
                    for k, v in ac:
                        if v:
                            for _ in range((k - k0) >> 4):
                                _huff_put(bw, acc, 0, 15)
                            _huff_put(bw, acc, v, (k - k0) & 15)
                            k0 = k + 1
                    if k0 <= 63:
                        _huff_put(bw, acc, 0)
                if seq or not se:
                    continue
                band = [(k, v) for k, v in ac if lo <= k <= se and abs(v) >> al]
                k0, r, bits = lo, 0, []
                if ah:
                    last_new = max((k for k, v in band if abs(v) >> al == 1), default=0)
                for k, v in band:
                    t = abs(v) >> al
                    r += k - k0
                    k0 = k + 1
                    if ah:
                        while r > 15 and k <= last_new:
                            flush_eob()
                            _huff_put(bw, acc, 0, 15)
                            r -= 16
                            for b in bits:
                                bw.write(b, 1)
                            bits = []
                        if t > 1:  # known nonzero: correction bit
                            bits.append(t & 1)
                            continue
                    flush_eob()
                    while r > 15:
                        _huff_put(bw, acc, 0, 15)
                        r -= 16
                    _huff_put(bw, acc, t if v > 0 else -t, r)
                    for b in bits:
                        bw.write(b, 1)
                    r, bits = 0, []
                if r + se + 1 - k0 or bits:
                    eob[0] += 1
                    eob[1] += bits
    flush_eob()
    parts.append(bw.flush())
    return _rst_join(parts)


def _qm_encode_scan(w: _JpegWriter, block, comps, ss: int, se: int,
                    ah: int, al: int) -> bytes:
    """QM-coded entropy data of one 4:4:4 scan (``block`` as for
    :func:`_huff_encode_scan`): the Annex F DC/AC models when it spans
    0..63, else one Annex G stage.  Every ``w.restart`` MCUs start an
    independent codeword -- fresh coder, statistics, DC predictor and
    conditioning category -- joined by RSTn markers."""
    nx = (w.width + 7) // 8
    nblocks = nx * ((w.height + 7) // 8)
    step = w.restart or nblocks
    plan = [(ci, cid - 1, tq, *w.cond[tq]) for ci, (cid, _samp, tq) in enumerate(comps)]
    lo, parts = max(ss, 1), []
    for i in range(0, nblocks, step):
        enc = _QMEncoder()
        dc_bins = {tq: _qm_fresh_bins(_QM_DC_BINS) for *_, tq in comps} if ss == 0 and not ah else {}
        ac_bins = {tq: _qm_fresh_bins(_QM_AC_BINS) for *_, tq in comps} if se else {}
        prev, ctx = [0] * len(comps), [0] * len(comps)
        for b in range(i, min(i + step, nblocks)):
            by, bx = divmod(b, nx)
            for ci, c, tq, low, up, kx in plan:
                dc, pairs = block(c, bx, by)
                if ss == 0 and ah:
                    enc.encode_fixed((dc >> al) & 1)
                elif ss == 0:
                    ctx[ci] = _qm_enc_dc(enc, dc_bins[tq], (dc >> al) - prev[ci], ctx[ci], (low, up))
                    prev[ci] = dc >> al
                if not se:
                    continue
                ac = [0] * 64
                for k, v in pairs:
                    ac[k] = v
                if ah:
                    _qm_enc_ac_refine(enc, ac_bins[tq], ac, lo, se, al, ah)
                else:
                    _qm_enc_ac_band(enc, ac_bins[tq], ac, kx, lo, se, al)
        parts.append(enc.flush())
    return _rst_join(parts)


def _synth_seq(width: int, height: int, block, huff=(), comps=_GRAY, quant=(1,),
               marker: int = 0xC0, precision: int = 8, restart: int = 0,
               cond=()) -> bytes:
    """One-scan sequential file: Huffman under ``huff``, or QM-coded under
    the DAC conditioning ``cond``."""
    w = _JpegWriter(quant, huff, cond)
    w.frame(marker, width, height, comps, precision, restart)
    w.scan(block, comps)
    return w.done()


def _color_block_mn(ci: int, doc_id: int, bx: int, by: int) -> tuple[int, int]:
    """Per-component (m, n) block formulas shared by the color
    synthesizers and their SQL oracles: block coordinates are in the
    COMPONENT's own block grid (full-res for Y, half-res for subsampled
    chroma).  Y's pair is also the grayscale AC class."""
    d = doc_id
    if ci == 0:
        return (17 * d + 5 * bx + 11 * by) % 129 - 64, (7 * d + 3 * bx + by) % 27
    if ci == 1:
        return (13 * d + 7 * bx + 3 * by) % 101 - 50, (11 * d + bx + 5 * by) % 23
    return (19 * d + 3 * bx + 7 * by) % 101 - 50, (5 * d + 9 * bx + by) % 23


def _refined_block_mn(doc_id: int, bx: int, by: int) -> tuple[int, int]:
    """Block class of the successive-approximation gate: ODD DC value
    ``m`` in [-59, 59]; AC value ``n`` odd in [1, 25] on two of every
    three blocks (0 = no AC, extending EOB runs).  With quant 8 on both
    positions the decoded pixel is EXACTLY ``128 + m + n*s(x)*s(y)`` --
    and every refinement/correction bit is worth a FULL pixel step, so a
    decoder that skips or mis-applies any single bit cannot hash-match
    (unlike a +-1/8 design, where refinement hides inside rounding)."""
    d = doc_id
    m = 2 * ((17 * d + 5 * bx + 11 * by) % 60) - 59
    n = 0 if (d + bx + by) % 3 == 0 else 2 * ((7 * d + 3 * bx + by) % 13) + 1
    return m, n


# Block classes (doc_id, component, bx, by) -> (raw DC, ((zigzag k, AC),)).
# A constant block's FDCT is DC-only with the DC a multiple of 8, and the
# (4,4) basis (zigzag 39) is exactly +-1/2 at every sample, so F(0,0)=8m,
# F(4,4)=8n reconstructs to the integer m + n*s(x)*s(y) (s(x) = +1 for
# x % 4 in (0, 3), else -1): the float IDCT lands within ~1e-14 of it and
# every decode round-trips bit-for-bit.  Chroma coefficients are stored
# HALVED against a dequant table of 2s (wrong-table decoding is loud).

def _blk_gray(d: int, ci: int, bx: int, by: int) -> tuple:
    return 8 * ((31 * d + 7 * bx + 13 * by) % 256 - 128), ()


def _blk_gray12(d: int, ci: int, bx: int, by: int) -> tuple:
    return 8 * ((997 * d + 131 * bx + 241 * by) % 4096 - 2048), ()


def _blk_ycc(d: int, ci: int, bx: int, by: int) -> tuple:
    m, n = _color_block_mn(ci, d, bx, by)
    s = 8 if ci == 0 else 4
    return s * m, ((39, s * n),)


def _blk_ycc12(d: int, ci: int, bx: int, by: int) -> tuple:
    a, b, c, mod = ((331, 17, 29, 3001), (431, 23, 41, 2001), (523, 31, 37, 2001))[ci]
    s = 8 if ci == 0 else 4
    n = _color_block_mn(ci, d, bx, by)[1]
    return s * ((a * d + b * bx + c * by) % mod - mod // 2), ((39, s * n),)


def _blk_refined(d: int, ci: int, bx: int, by: int) -> tuple:
    m, n = _refined_block_mn(d, bx, by)
    return m, ((39, n),)


def _blk_arith_prog(d: int, ci: int, bx: int, by: int) -> tuple:
    m = (17 * d + 5 * bx + 11 * by) % 129 - 64
    o = (13 * d + bx + 7 * by) % 21
    n = (7 * d + 3 * bx + by) % 27
    return 8 * m, ((14, 8 * o), (39, 8 * n))  # zigzag 14 = (0,4)


def synth_jpeg_gray(width: int, height: int, doc_id: int) -> bytes:
    """A REAL baseline JFIF (grayscale, all-ones quant table, our own
    DHT tables, every 8x8 block a CONSTANT value
    ``(31*doc_id + 7*bx + 13*by) % 256``) -- unlike :func:`synth_jpeg`
    (header-only), this round-trips through :func:`decode_jpeg_gray`
    EXACTLY.  Non-multiple-of-8 dimensions pad to the MCU grid per the
    spec -- the decoder crops, and the per-block value formula makes the
    cropped raster the same per-pixel expression."""
    return _synth_seq(width, height, partial(_blk_gray, doc_id), _dht(_HT_DC, _HT_EOB))


def synth_jpeg_gray12(width: int, height: int, doc_id: int) -> bytes:
    """A REAL 12-bit extended sequential JFIF (SOF1): grayscale,
    all-ones quant, every 8x8 block the CONSTANT 12-bit value
    ``(997*doc_id + 131*bx + 241*by) % 4096``.  Identical entropy
    organization to baseline -- the 12-bit extension is only the sample
    precision (level shift 2048, clamp 0..4095) and DC diff categories
    reaching 15, which the synthesizer's DHT declares at length 5."""
    return _synth_seq(width, height, partial(_blk_gray12, doc_id),
                      _dht(_HT_DC12, _HT_EOB), marker=0xC1, precision=12)


def synth_jpeg_color12(width: int, height: int, doc_id: int) -> bytes:
    """A REAL 12-bit extended-sequential 3-component 4:4:4 JFIF (SOF1):
    every 8x8 block of every component carries the AC class of
    :func:`synth_jpeg_gray_ac` (``F(0,0)=8m, F(4,4)=8n``) with 12-bit
    per-component formulas

    - Y:  ``m = (331d+17bx+29by)%3001-1500``, ``n = (7d+3bx+by)%27``
    - Cb: ``m = (431d+23bx+41by)%2001-1000``, ``n = (11d+bx+5by)%23``
    - Cr: ``m = (523d+31bx+37by)%2001-1000``, ``n = (5d+9bx+by)%23``

    so every decoded component sample is exactly ``2048+m+n*s(x)*s(y)``
    (Y within [522, 3574]: genuinely >8-bit, no component clamp) and the
    12-bit fixed-point YCbCr->RGB (same libjpeg FIX() constants, center
    2048, clamp 0..4095) is SQL-reproducible.  Chroma DC uses the 16
    twelve-bit categories at length 6 (luma: 5); luma DC diffs reach
    category 15, chroma 13 under the independent predictors."""
    return _synth_seq(width, height, partial(_blk_ycc12, doc_id),
                      _dht(_HT_DC12, _HT_AC6, _HT_DC12_C, _HT_AC6_C), _YCC,
                      quant=(1, 2), marker=0xC1, precision=12)


def synth_jpeg_gray_restart(
    width: int, height: int, doc_id: int, interval: int | None = None
) -> bytes:
    """:func:`synth_jpeg_gray`'s image class encoded WITH restart
    intervals: a DRI segment declares ``interval`` MCUs per
    entropy-coded segment (default ``doc_id % 4 + 1``), each segment's
    bitstream is independently 1-fill padded to a byte boundary, RSTn
    markers (n cycling 0..7) separate consecutive segments, and the DC
    predictor resets to 0 at every boundary per T.81 E.2.4 -- so a
    decoder that ignores the reset (or the markers, or the byte
    alignment) decodes wrong values, not merely an error."""
    ri = interval if interval is not None else doc_id % 4 + 1
    if ri <= 0:
        raise ValueError("restart interval must be positive")
    return _synth_seq(width, height, partial(_blk_gray, doc_id),
                      _dht(_HT_DC, _HT_EOB), restart=ri)


def synth_jpeg_gray_ac(width: int, height: int, doc_id: int) -> bytes:
    """A REAL baseline grayscale JFIF whose every block carries a nonzero
    AC coefficient.  Per 8x8 block at (bx, by):

    - ``F(0,0) = 8*m`` with ``m = (17*doc_id + 5*bx + 11*by) % 129 - 64``
    - ``F(4,4) = 8*n`` (zigzag index 39) with
      ``n = (7*doc_id + 3*bx + by) % 27``

    so the true reconstruction is the integer ``128 + m + n*s(x)*s(y)``
    -- an integer-certifiable class that still exercises the zero-run
    (two ZRLs + a run-6 symbol to reach index 39), the AC magnitude
    bits, dequantization at a non-DC position, and the full 64-term
    IDCT.  Pixels stay inside [38, 218]: the clamp never engages.
    ``n == 0`` blocks degrade to DC-only (EOB straight after DC).
    Partial MCUs pad and crop as in :func:`synth_jpeg_gray`."""
    return _synth_seq(width, height, partial(_blk_ycc, doc_id), _dht(_HT_DC, _HT_AC6))


def synth_jpeg_color(width: int, height: int, doc_id: int) -> bytes:
    """A REAL baseline 3-component 4:4:4 JFIF: every 8x8 block of every
    component is the AC class of :func:`synth_jpeg_gray_ac` --
    ``F(0,0)=8m, F(4,4)=8n`` -- with per-component formulas

    - Y:  ``m = (17d+5bx+11by)%129-64``, ``n = (7d+3bx+by)%27``
    - Cb: ``m = (13d+7bx+3by)%101-50``, ``n = (11d+bx+5by)%23``
    - Cr: ``m = (19d+3bx+7by)%101-50``, ``n = (5d+9bx+by)%23``

    so every decoded component sample is exactly ``128+m+n*s(x)*s(y)``
    (within [38, 218]: no component clamp) and the libjpeg fixed-point
    integer YCbCr->RGB in the decoder is SQL-reproducible.  Chroma uses
    its own Huffman tables at a different code length AND a dequant
    table of 2s with the coefficients stored HALVED, so picking the luma
    table for either lookup desynchronizes or halves the chroma plane.
    Cb and Cr share tables but carry independent DC predictors."""
    return _synth_seq(width, height, partial(_blk_ycc, doc_id),
                      _dht(_HT_DC, _HT_AC6, _HT_DC_C, _HT_AC6_C), _YCC, quant=(1, 2))


def synth_jpeg_color_420(width: int, height: int, doc_id: int) -> bytes:
    """A REAL baseline 4:2:0 JFIF: Y at 0x22 sampling (four 8x8 blocks
    per 16x16 MCU), chroma at half resolution (one block each per MCU),
    every block the AC class with the SAME per-component formulas as
    :func:`synth_jpeg_color` -- chroma block coordinates live in the
    half-res grid, so a decoded pixel reads chroma from block
    ``(x//2//8, y//2//8)`` at in-block position ``((x//2)%8, (y//2)%8)``
    under replication upsampling, all exactly SQL-expressible.
    Non-multiple-of-16 dimensions pad to the MCU grid; the decoder
    crops."""
    return _synth_seq(width, height, partial(_blk_ycc, doc_id),
                      _dht(_HT_DC, _HT_AC6, _HT_DC_C, _HT_AC6_C), _YCC420, quant=(1, 2))


def synth_jpeg_progressive(width: int, height: int, doc_id: int) -> bytes:
    """A REAL progressive (SOF2) 4:4:4 JFIF, spectral-selection script:
    one interleaved DC scan, then per component an AC scan over band
    1..38 (all-zero for the AC class: one EOBn run covers every block)
    and one over band 39..63 carrying the (4,4) coefficient behind a
    run-0 magnitude symbol with EOB runs across blocks.  Same block
    class, dequant tables and table-length construction as
    :func:`synth_jpeg_color`, so the decoded raster is IDENTICAL to
    ``synth_jpeg_color(width, height, doc_id)``'s -- one oracle gates
    both entropy organizations."""
    w = _JpegWriter((1, 2), _dht(_HT_DC, _HT_ACP, _HT_DC_C, _HT_ACP_C))
    w.frame(0xC2, width, height, _YCC)
    block = partial(_blk_ycc, doc_id)
    w.scan(block, _YCC, 0, 0)
    for comp in _YCC:
        w.scan(block, (comp,), 1, 38)
        w.scan(block, (comp,), 39, 63)
    return w.done()


def synth_jpeg_progressive_refined(width: int, height: int, doc_id: int) -> bytes:
    """A REAL progressive GRAYSCALE JFIF with SUCCESSIVE-APPROXIMATION
    refinement: raw coefficients are the ODD values of
    :func:`_refined_block_mn` under all-8 quant tables, so the Al=1 first
    scans carry the exact halves (``m >> 1``, floor) and the refinement
    scans restore the odd low bits -- DC refinement as one raw bit per
    block (all 1s), AC refinement via the T.81 correction-bit algorithm
    where ``n >= 3`` blocks consume a correction bit (1), ``n == 1``
    blocks introduce a NEWLY-nonzero +-1 coefficient through the
    run/sign path, and AC-free blocks ride EOB runs that still frame
    their neighbours' corrections.  Script: DC first (Al=1) -> DC
    refinement -> AC 1..38 first (all-zero EOBn) -> AC 39..63 first
    (halves) -> AC 1..38 refinement (EOBn only) -> AC 39..63 refinement
    (corrections + new coefficients + EOB runs)."""
    w = _JpegWriter((8,), _dht(_HT_DC, _HT_ACP))
    w.frame(0xC2, width, height)
    for ss, se, ah, al in ((0, 0, 0, 1), (0, 0, 1, 0), (1, 38, 0, 1),
                           (39, 63, 0, 1), (1, 38, 1, 0), (39, 63, 1, 0)):
        w.scan(partial(_blk_refined, doc_id), _GRAY, ss, se, ah, al)
    return w.done()


def synth_jpeg_progressive_restart(
    width: int, height: int, doc_id: int, interval: int | None = None
) -> bytes:
    """A REAL progressive GRAYSCALE JFIF with RESTART INTERVALS in every
    scan: a DRI segment declares ``interval`` units per segment (default
    ``doc_id % 3 + 1``; a unit is an MCU in the DC scan and a block in
    the AC scans -- identical counts for grayscale), each scan's entropy
    data is split into independently byte-aligned segments separated by
    RSTn markers, the DC predictor resets at every boundary, and EOB
    runs NEVER cross a boundary (the decoder raises if one does).  Block
    class is :func:`_refined_block_mn` under all-8 quant at Al=0, so the
    decoded raster is EXACTLY ``128 + m + n*s(x)*s(y)``.  Script: DC
    first -> AC band 1..38 first -> AC band 39..63 first."""
    ri = interval if interval is not None else doc_id % 3 + 1
    if ri <= 0:
        raise ValueError("restart interval must be positive")
    w = _JpegWriter((8,), _dht(_HT_DC, _HT_ACP))
    w.frame(0xC2, width, height, restart=ri)
    for ss, se in ((0, 0), (1, 38), (39, 63)):
        w.scan(partial(_blk_refined, doc_id), _GRAY, ss, se)
    return w.done()


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG: entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG: dangling 0xFF in scan")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02x} inside entropy data"
                    )
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def consume_restart(self, m: int) -> None:
        """Byte-align and consume the expected RSTm marker (T.81 E.2.4:
        restart markers sit between entropy-coded segments on byte
        boundaries; any partial bits before one are 1-fill padding)."""
        self.n = 0  # discard pad bits
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated JPEG: expected restart marker")
        got = (self.data[self.pos], self.data[self.pos + 1])
        if got != (0xFF, 0xD0 + m):
            raise ValueError(
                f"corrupt JPEG: expected RST{m} at scan byte {self.pos}, "
                f"found 0x{got[0]:02x}{got[1]:02x}"
            )
        self.pos += 2

    def done(self) -> None:
        """Refuse whole bytes left after the scan's final code (they would
        desync the next scan's framing silently).  Legitimate slack: the
        final partially consumed padding byte, plus its stuffing 0x00
        when the 1-fill landed on 0xFF."""
        slack = len(self.data) - self.pos
        if slack > 1 and not (slack == 2 and self.data[-2:] == b"\xff\x00"):
            raise ValueError(f"trailing bytes in JPEG scan ({slack})")


def _huff_decode(br: "_BitReader", table: dict[tuple[int, int], int]) -> int:
    code, nbits = 0, 0
    while nbits < 17:
        code = (code << 1) | br.bit()
        nbits += 1
        sym = table.get((code, nbits))
        if sym is not None:
            return sym
    raise ValueError("corrupt JPEG: Huffman code longer than 16 bits")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t raw bits back to the signed coefficient."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _huff_diff(br: _BitReader, tab: dict) -> int:
    """One Huffman magnitude category plus its EXTENDed bits: a DC (or
    lossless) difference; category 16 is 32768 with no bits (H.1.2.2)."""
    t = _huff_decode(br, tab)
    if t == 16:
        return 32768
    return _extend(br.bits(t), t) if t else 0


def _huff_ac(br: _BitReader, tab: dict, blk: list, ss: int, se: int, al: int) -> int:
    """The shared Huffman AC block reader: band ``ss..se`` of one block
    (sequential: 1..63) into the zigzag list ``blk`` at point transform
    ``al``.  Returns the EOB run left after this block (0 after a plain
    EOB or a band that runs to ``se``)."""
    k = ss
    while k <= se:
        sym = _huff_decode(br, tab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            return (1 << r) + (br.bits(r) if r else 0) - 1
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC run past the scan band")
        blk[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _huff_refine(br: _BitReader, tab: dict, blk: list, ss: int, se: int,
                 al: int, eobrun: int) -> int:
    """AC successive-approximation refinement of one block (T.81
    G.1.2.3, libjpeg ``decode_mcu_AC_refine``): run/size symbols place
    NEW ``+-(1 << al)`` coefficients among zero-history positions while
    a correction bit is read for every nonzero-history coefficient
    passed over; a block inside an EOB run only takes its corrections.
    Returns the EOB run left after this block."""
    p1, n1 = 1 << al, -1 << al

    def correct(k: int) -> None:
        c = blk[k]
        if br.bits(1) and (c & p1) == 0:
            blk[k] = c + (p1 if c >= 0 else n1)

    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(br, tab)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + (br.bits(r) if r else 0)
                    break
                val = 0  # ZRL: skip 16 zero-history slots
            elif s == 1:
                val = p1 if br.bits(1) else n1
            else:
                raise ValueError("corrupt JPEG: refinement magnitude > 1")
            while k <= se:
                if blk[k]:
                    correct(k)
                elif r == 0:
                    break
                else:
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError(
                        "corrupt JPEG: refinement AC run past the scan band")
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k]:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


# --------------------------------------------------------------------------
# Arithmetic coding -- ITU T.81 Annex D QM-coder + Annex F/G statistical
# models.
#
# The coder below is the spec's binary arithmetic coder implemented
# plainly from the Annex D flowcharts: 16-bit interval register A,
# code register C with the byte emerging at bits 19..26 after CT=11
# initial countdown (INITENC, Figure D.7), carry resolution over the
# already-emitted byte stream (BYTEOUT, Figure D.9 -- expressed here as
# a walk-back increment over the raw byte list, which is arithmetically
# identical to the spec's stacked-0xFF formulation because a carry
# propagates through trailing 0xFF bytes and stops at the first
# non-0xFF, exactly what the walk-back does), CLEARBITS termination
# (Figure D.10) and 0xFF -> 0xFF 0x00 byte stuffing applied to the
# final stream (B.1.1.5).  The decoder mirrors it with an explicit
# fraction-bit counter instead of the spec's fixed register layout; the
# produced/consumed BYTE STREAMS are the Annex D streams (same initial
# 16-bit window, same per-renorm bit feed, same zero-fill past the
# terminating marker), so the two formulations are interchangeable.
#
# Probability estimation is Table D.3 (113 adaptive states + the
# non-adaptive ~0.5 "fixed" state used for AC signs, F.1.4.4.1.2),
# transcribed into _QM_TABLE below.  TRANSCRIPTION CAVEAT, recorded
# honestly: this container has no codec library or spec PDF to diff the
# 113 rows against, so cross-codec interop (decoding a libjpeg-arith
# stream) ultimately rests on the transcription being row-perfect.
# What the hash gates DO prove is everything else: the coder pair is
# exactly inverse (any shared table yields a valid arithmetic code --
# Qe values steer only compression rate, never round-trip
# correctness), the register/flush/stuffing discipline is the spec's,
# and the Annex F DC/AC decision trees, conditioning contexts and
# restart handling decode bit-exactly.  A compression-efficiency test
# (tests/test_multimodal.py) additionally pins the adaptation quality
# of the transcribed table against source entropy, which a corrupted
# row set would fail.
# --------------------------------------------------------------------------

#: T.81 Table D.3: (Qe, NMPS, NLPS, SWITCH) per state.  Index 113 is
#: libjpeg's convention for the fixed non-adaptive state (jaricom.c):
#: Qe ~ 0.5 and both next-state pointers self-loop, giving the
#: uncompressed-decision behaviour F.1.4.4.1.2 requires for AC signs.
_QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

#: Annex F statistics-area sizes: DC uses 5 conditioning categories x 4
#: decision bins (S0/SS/SP/SN at offsets 0,4,8,12,16 +0..3), the
#: magnitude tree X1..X15 at 20..34 and the magnitude bits at +14 ->
#: 35..48 (Table F.4).  AC uses SE/S0/low-mag triples 3(k-1)..3(k-1)+2
#: for k=1..63 (0..188), the high-magnitude trees X2..X15 at 189..202
#: (k <= Kx) / 217..230 (k > Kx) and their bit bins at +14 (Table F.5).
_QM_DC_BINS = 49
_QM_AC_BINS = 245


def _qm_fresh_bins(n: int) -> list:
    """Fresh statistics area: every bin at state 0, MPS 0 (F.1.4.4.1.4:
    statistics are reset at scan start and at every restart marker)."""
    return [[0, 0] for _ in range(n)]


class _QMEncoder:
    """T.81 Annex D encoder (see the section comment above for the
    register-layout equivalence argument).  ``encode`` drives one
    adaptive decision; ``encode_fixed`` the non-adaptive sign state;
    ``flush`` terminates per Figure D.10 and returns the stuffed
    entropy bytes of the segment."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.out: list[int] = []

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: propagate back through the emitted bytes (stops at
            # the first non-0xFF; cannot run off the front because the
            # coded value is < 1.0 by construction)
            i = len(self.out) - 1
            while True:
                if i < 0:
                    raise AssertionError("QM-coder carry off stream front")
                self.out[i] = (self.out[i] + 1) & 0xFF
                if self.out[i]:
                    break
                i -= 1
            t &= 0xFF
        self.out.append(t)
        self.c &= 0x7FFFF

    def _renorm(self) -> None:
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8
            if self.a >= 0x8000:
                break

    def _encode_state(self, state: list, bit: int) -> None:
        qe, nmps, nlps, sw = _QM_TABLE[state[0]]
        self.a -= qe
        if bit == state[1]:
            if self.a >= 0x8000:
                return
            if self.a < qe:  # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            state[0] = nmps
        else:
            if self.a >= qe:  # no exchange: LPS takes the top
                self.c += self.a
                self.a = qe
            if sw:
                state[1] ^= 1
            state[0] = nlps
        self._renorm()

    def encode(self, bins: list, st: int, bit: int) -> None:
        self._encode_state(bins[st], bit)

    def encode_fixed(self, bit: int) -> None:
        self._encode_state([113, 0], bit)

    def flush(self) -> bytes:
        # CLEARBITS: pick the in-interval value with the most trailing
        # zero bits, then drain the register (two byteouts cover every
        # remaining significant bit -- after clearing the low 16 bits
        # nothing survives below the second emitted byte).
        t = (self.c + self.a - 1) & ~0xFFFF
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        self._byteout()
        self.c <<= 8
        self._byteout()
        raw = self.out
        while raw and raw[-1] == 0:  # trailing zeros optional per D.1.8
            raw.pop()
        stuffed = bytearray()
        for b in raw:
            stuffed.append(b)
            if b == 0xFF:
                stuffed.append(0x00)
        return bytes(stuffed)


class _QMDecoder:
    """Mirror of :class:`_QMEncoder` over one entropy-coded segment.
    Reads lazily with 0xFF-stuffing removal; a non-stuffing marker
    (RSTn/EOI) stops the feed and zero-fills per B.1.1.5, with the
    marker position recorded for restart handling."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.stopped = False
        self.marker: int | None = None
        self.marker_pos: int | None = None
        b0 = self._next()
        b1 = self._next()
        self.c = (b0 << 8) | b1  # the initial 16-bit window
        self.f = 0  # buffered fraction bits below the window
        self.a = 0x10000

    def _next(self) -> int:
        d, p = self.data, self.pos
        if self.stopped or p >= len(d):
            self.stopped = True
            return 0
        b = d[p]
        if b != 0xFF:
            self.pos = p + 1
            return b
        if p + 1 < len(d) and d[p + 1] == 0x00:
            self.pos = p + 2  # stuffed data byte
            return 0xFF
        self.stopped = True
        self.marker_pos = p
        self.marker = d[p + 1] if p + 1 < len(d) else None
        return 0

    def _renorm(self) -> None:
        while self.a < 0x8000:
            if self.f == 0:
                self.c = (self.c << 8) | self._next()
                self.f = 8
            self.a <<= 1
            self.f -= 1

    def _decode_state(self, state: list) -> int:
        qe, nmps, nlps, sw = _QM_TABLE[state[0]]
        self.a -= qe
        if (self.c >> self.f) >= self.a:
            # top subinterval (size Qe): LPS, or MPS under exchange
            self.c -= self.a << self.f
            if self.a < qe:
                bit = state[1]
                state[0] = nmps
            else:
                bit = state[1] ^ 1
                if sw:
                    state[1] ^= 1
                state[0] = nlps
            self.a = qe
        else:
            # bottom subinterval (size A-Qe): MPS, or LPS under exchange
            if self.a >= 0x8000:
                return state[1]
            if self.a < qe:
                bit = state[1] ^ 1
                if sw:
                    state[1] ^= 1
                state[0] = nlps
            else:
                bit = state[1]
                state[0] = nmps
        self._renorm()
        return bit

    def decode(self, bins: list, st: int) -> int:
        return self._decode_state(bins[st])

    def decode_fixed(self) -> int:
        return self._decode_state([113, 0])

    def seek_marker(self) -> tuple[int, int]:
        """Position of the next marker at/after the read point, skipping
        stuffed 0xFF 0x00 pairs (a decoder stops short of the segment's
        flush tail, so the scan walks the unread remainder).  Returns
        ``(marker_byte, offset_past_marker)``."""
        if self.stopped and self.marker is not None:
            return self.marker, self.marker_pos + 2
        d, p = self.data, self.pos
        while p + 1 < len(d):
            if d[p] != 0xFF:
                p += 1
            elif d[p + 1] == 0x00:
                p += 2
            else:
                return d[p + 1], p + 2
        raise ValueError("arithmetic JPEG: expected marker, none found")


def _qm_enc_dc(enc: "_QMEncoder", bins: list, diff: int, ctx: int,
               cond: tuple[int, int]) -> int:
    """Encode one DC difference per F.1.4.1 (Figures F.4-F.9); returns
    the next conditioning category for this component."""
    low, up = cond
    if diff == 0:
        enc.encode(bins, ctx, 0)
        return 0
    enc.encode(bins, ctx, 1)
    v = diff
    if v > 0:
        enc.encode(bins, ctx + 1, 0)  # SS: positive
        st = ctx + 2  # SP
        base = 4
    else:
        enc.encode(bins, ctx + 1, 1)
        st = ctx + 3  # SN
        base = 8
        v = -v
    m = 0
    v -= 1
    if v:
        enc.encode(bins, st, 1)
        m = 1
        st = 20  # X1
        v2 = v
        while v2 >> 1:
            v2 >>= 1
            enc.encode(bins, st, 1)
            m <<= 1
            st += 1
    enc.encode(bins, st, 0)
    if m < (1 << low) >> 1:
        new_ctx = 0
    elif m > (1 << up) >> 1:
        new_ctx = base + 8
    else:
        new_ctx = base
    st += 14  # magnitude-bit bin for this category
    mm = m
    while mm >> 1:
        mm >>= 1
        enc.encode(bins, st, 1 if (mm & v) else 0)
    return new_ctx


def _qm_dec_dc(dec: "_QMDecoder", bins: list, ctx: int,
               cond: tuple[int, int]) -> tuple[int, int]:
    """Decode one DC difference (Figures F.19/F.21-F.24); returns
    ``(diff, next conditioning category)``."""
    low, up = cond
    if dec.decode(bins, ctx) == 0:
        return 0, 0
    sign = dec.decode(bins, ctx + 1)
    st = ctx + 2 + sign
    m = dec.decode(bins, st)
    if m:
        st = 20
        while dec.decode(bins, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt arithmetic JPEG: DC magnitude")
            st += 1
    if m < (1 << low) >> 1:
        new_ctx = 0
    elif m > (1 << up) >> 1:
        new_ctx = 12 + 4 * sign
    else:
        new_ctx = 4 + 4 * sign
    v = m
    st += 14
    mm = m
    while mm >> 1:
        mm >>= 1
        if dec.decode(bins, st):
            v |= mm
    v += 1
    return (-v if sign else v), new_ctx



def _qm_enc_ac_band(enc: "_QMEncoder", bins: list, ac: list, kx: int,
                    ss: int, se: int, al: int) -> None:
    """Encode one block's AC band ``ss..se`` of the 64-entry zigzag list
    ``ac`` at point transform ``al`` (Figure F.5 generalized by G.2.2 to
    first progressive scans): EOB decision, zero run, sign on the fixed
    state, magnitude tree split at Kx.  The sequential coder is the
    ``(1, 63, 0)`` case."""
    ke = se
    while ke >= ss and abs(ac[ke]) >> al == 0:
        ke -= 1
    k = ss
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(bins, st, 0)  # not EOB here
        v = ac[k]
        t = abs(v) >> al
        while t == 0:
            enc.encode(bins, st + 1, 0)
            st += 3
            k += 1
            v = ac[k]
            t = abs(v) >> al
        enc.encode(bins, st + 1, 1)
        enc.encode_fixed(1 if v < 0 else 0)
        st += 2
        m = 0
        t -= 1
        if t:
            enc.encode(bins, st, 1)
            m = 1
            v2 = t
            if v2 >> 1:
                v2 >>= 1
                enc.encode(bins, st, 1)
                m = 2
                st = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(bins, st, 1)
                    m <<= 1
                    st += 1
        enc.encode(bins, st, 0)
        st += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            enc.encode(bins, st, 1 if (mm & t) else 0)
        k += 1
    if k <= se:
        enc.encode(bins, 3 * (k - 1), 1)  # EOB


def _qm_dec_ac_band(dec: "_QMDecoder", bins: list, ac: list, kx: int,
                    ss: int, se: int, al: int) -> None:
    """Decode one block's AC band ``ss..se`` at point transform ``al``
    into the 64-entry zigzag list (Figure F.20; sequential = ``(1, 63,
    0)``)."""
    k = ss
    while k <= se:
        st = 3 * (k - 1)
        if dec.decode(bins, st):
            break  # EOB
        while dec.decode(bins, st + 1) == 0:
            st += 3
            k += 1
            if k > se:
                raise ValueError("corrupt arithmetic JPEG: AC run overflow")
        sign = dec.decode_fixed()
        st += 2
        m = dec.decode(bins, st)
        if m:
            if dec.decode(bins, st):
                m = 2
                st = 189 if k <= kx else 217
                while dec.decode(bins, st):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "corrupt arithmetic JPEG: AC magnitude")
                    st += 1
        t = m
        st += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            if dec.decode(bins, st):
                t |= mm
        t += 1
        ac[k] = (-t if sign else t) << al
        k += 1


def _qm_enc_ac_refine(enc: "_QMEncoder", bins: list, ac: list,
                      ss: int, se: int, al: int, ah: int) -> None:
    """Encode one block's successive-approximation AC refinement
    (G.2.2): ``ac`` holds FINAL coefficient values; this scan carries
    bit ``al`` given the previous stage coded down to bit ``ah``."""
    ke = se
    while ke >= ss and abs(ac[ke]) >> al == 0:
        ke -= 1
    kex = ke
    while kex >= 1 and abs(ac[kex]) >> ah == 0:
        kex -= 1
    k = ss
    while k <= ke:
        st = 3 * (k - 1)
        if k > kex:
            enc.encode(bins, st, 0)  # not EOB yet
        while True:
            v = ac[k]
            if abs(v) >> ah:  # known-nonzero from the previous stage
                enc.encode(bins, st + 2, (abs(v) >> al) & 1)
                break
            if abs(v) >> al:  # newly significant at this stage
                enc.encode(bins, st + 1, 1)
                enc.encode_fixed(1 if v < 0 else 0)
                break
            enc.encode(bins, st + 1, 0)
            st += 3
            k += 1
        k += 1
    # terminating EOB decision at the post-loop position k = max(ss,
    # ke+1); always k > kex (kex <= ke because a history-nonzero
    # coefficient is nonzero at the finer bit too), so the decoder is
    # guaranteed to read it
    if k <= se:
        enc.encode(bins, 3 * (k - 1), 1)


def _qm_dec_ac_refine(dec: "_QMDecoder", bins: list, ac: list,
                      ss: int, se: int, al: int) -> None:
    """Decode one block's AC refinement scan in place: ``ac`` holds the
    previous stage's reconstructions; correction bits add ``+-(1<<al)``
    toward zero-history/known-history per G.2.2."""
    p1, m1 = 1 << al, -(1 << al)
    kex = se
    while kex >= 1 and ac[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        st = 3 * (k - 1)
        if k > kex:
            if dec.decode(bins, st):
                break  # EOB
        while True:
            if ac[k]:
                if dec.decode(bins, st + 2):
                    ac[k] += m1 if ac[k] < 0 else p1
                break
            if dec.decode(bins, st + 1):
                ac[k] = m1 if dec.decode_fixed() else p1
                break
            st += 3
            k += 1
            if k > se:
                raise ValueError(
                    "corrupt arithmetic JPEG: AC refinement overflow")
        k += 1


#: DAC conditioning the arithmetic synthesizers declare, per table id:
#: (DC L, DC U, AC Kx).  Chroma's DC bound differs (U=2 against luma's
#: U=1), so a decoder that picks the wrong table desynchronizes the
#: category chain loudly.
_QM_COND = ((0, 1, 5), (0, 2, 3))


def synth_jpeg_gray_arith(width: int, height: int, doc_id: int) -> bytes:
    """A REAL arithmetic-coded (SOF9) grayscale JFIF: the exact image
    class of :func:`synth_jpeg_gray_ac` (true reconstruction the integer
    ``128 + m + n*s(x)*s(y)``) entropy-coded with the T.81 Annex D
    QM-coder under the Annex F DC/AC statistical models instead of
    Huffman tables: a DAC segment declares the default conditioning (DC
    L=0/U=1, AC Kx=5) explicitly, there is no DHT, and the frame marker
    is SOF9.  Odd doc_ids add a DRI segment (``doc_id % 3 + 1`` MCUs
    per entropy segment): each segment is an INDEPENDENT arithmetic
    codeword joined by cycling RSTn markers per F.1.4.4/E.2.4, so the
    same closed form also gates arithmetic restart framing."""
    return _synth_seq(width, height, partial(_blk_ycc, doc_id), marker=0xC9,
                      restart=doc_id % 3 + 1 if doc_id % 2 else 0, cond=_QM_COND[:1])


def synth_jpeg_color_arith(width: int, height: int, doc_id: int) -> bytes:
    """A REAL arithmetic-coded 3-component 4:4:4 SOF9 JFIF: the exact
    image class of :func:`synth_jpeg_color` QM-coded under per-TABLE
    statistics areas -- luma on DC/AC conditioning tables 0, Cb and Cr
    SHARING tables 1 while carrying independent DC predictors and
    conditioning categories, exactly the Annex F ownership split.  The
    decoded pixels must equal ``decode_jpeg_gray(synth_jpeg_color(...))``
    bit-for-bit -- pinned in tests as a cross-entropy-coding invariant."""
    return _synth_seq(width, height, partial(_blk_ycc, doc_id), comps=_YCC,
                      quant=(1, 2), marker=0xC9, cond=_QM_COND)


def synth_jpeg_gray12_arith(width: int, height: int, doc_id: int) -> bytes:
    """A 12-bit arithmetic-coded SOF9 grayscale JFIF: the exact constant
    -block class of :func:`synth_jpeg_gray12` QM-coded -- DC-only blocks
    drive the EOB-at-k=1 AC path and DC magnitude categories up to 15
    through the Annex F tree.  Pixels must equal
    ``decode_jpeg_gray(synth_jpeg_gray12(...))``."""
    return _synth_seq(width, height, partial(_blk_gray12, doc_id), marker=0xC9,
                      precision=12, cond=_QM_COND[:1])


def synth_jpeg_gray_arith_prog(width: int, height: int, doc_id: int) -> bytes:
    """A REAL arithmetic-coded progressive (SOF10) grayscale JFIF: per
    8x8 block ``F(0,0) = 8*m`` (``m = (17d+5bx+11by)%129-64``),
    ``F(zz14 = (0,4)) = 8*o`` (``o = (13d+bx+7by)%21``) and ``F(zz39 =
    (4,4)) = 8*n`` (``n = (7d+3bx+by)%27``) -- all three basis
    functions exactly ``+-1/(8/F)`` per sample, so the true
    reconstruction is the integer ``128 + m + o*s(x) + n*s(x)*s(y)``.
    Nine-scan script: DC first at Al=5 then two DC refinements (bits 4
    and 3), AC first per band (1..31, 32..63) at Al=5, then per-band
    refinements at bits 4 and 3.  Stopping at Al=3 is lossless for
    this class (coefficients are multiples of 8), and because the
    block constants are NOT generally multiples of 32, the refinement
    scans carry real bits -- including newly-significant placements.
    Odd doc_ids add restart segmentation in EVERY scan.  Statistics
    areas reset at every scan start per G.2.2/F.1.4.4.1.4."""
    w = _JpegWriter((1,), cond=_QM_COND[:1])
    w.frame(0xCA, width, height, restart=doc_id % 3 + 1 if doc_id % 2 else 0)
    for ss, se, ah, al in ((0, 0, 0, 5), (0, 0, 5, 4), (0, 0, 4, 3),
                           (1, 31, 0, 5), (32, 63, 0, 5), (1, 31, 5, 4),
                           (32, 63, 5, 4), (1, 31, 4, 3), (32, 63, 4, 3)):
        w.scan(partial(_blk_arith_prog, doc_id), _GRAY, ss, se, ah, al)
    return w.done()


def synth_jpeg_gray_hier(width: int, height: int, doc_id: int) -> bytes:
    """A REAL hierarchical grayscale JPEG (T.81 Annex J): a DHP segment
    declares the full output dimensions, a non-differential SOF1 frame
    codes a HALF-WIDTH reference of constant 8x8 blocks
    ``r = 64 + (31*doc_id + 17*bx + 7*by) % 128``, an EXP segment
    orders horizontal expansion (J.1.1.2: even output = reference
    sample, odd output = the rounded mean of the two neighbours, right
    edge by replication), and a differential SOF5 frame adds constant
    per-block corrections ``d = (23*doc_id + 13*bx + 3*by) % 65 - 32``
    at full resolution -- DC-only blocks coded with ZERO prediction
    (F.1.5: PRED is 0 in differential frames) and no level shift.  The
    final image is the integer closed form ``expand(r) + d`` (range
    [32, 223]: no clamp engages), which the external oracle replays
    arithmetically."""
    w = _JpegWriter((1,), _dht(_HT_DC, _HT_EOB))
    w.frame(0xDE, width, height)
    w.frame(0xC1, (width + 1) // 2, height)
    w.scan(lambda ci, bx, by: (8 * ((31 * doc_id + 17 * bx + 7 * by) % 128 - 64), ()))
    w.seg(0xDF, bytes((0x10,)))  # EXP: Eh=1, Ev=0
    w.frame(0xC5, width, height)
    w.scan(lambda ci, bx, by: (8 * ((23 * doc_id + 13 * bx + 3 * by) % 65 - 32), ()))
    return w.done()


def _hier_expand(plane, eh: int, ev: int):
    """J.1.1.2 reference expansion: double along the flagged axes; even
    outputs copy the reference sample, odd outputs are the rounded mean
    ``(a + b + 1) >> 1`` of the two neighbours, with the trailing
    sample's right/bottom neighbour replicated at the edge."""
    if eh:
        h, w = plane.shape
        out = np.zeros((h, 2 * w), dtype=plane.dtype)
        out[:, 0::2] = plane
        right = np.concatenate([plane[:, 1:], plane[:, -1:]], axis=1)
        out[:, 1::2] = (plane + right + 1) >> 1
        plane = out
    if ev:
        h, w = plane.shape
        out = np.zeros((2 * h, w), dtype=plane.dtype)
        out[0::2, :] = plane
        below = np.concatenate([plane[1:, :], plane[-1:, :]], axis=0)
        out[1::2, :] = (plane + below + 1) >> 1
        plane = out
    return plane


def _lossless_pred(v: list, i: int, width: int, start: int, sel: int) -> int:
    """Prediction of sample ``i`` (Annex H, 8-bit, point transform 0):
    ``2^(P-1)`` at the first sample of the scan or restart segment
    beginning at ``start``, Ra along that segment's first line, Rb at
    later line starts, else Table H.1 predictor ``sel`` (full-precision
    arithmetic, no clamping of the predictor value)."""
    if i == start:
        return 128
    if i // width == start // width:
        return v[i - 1]
    if i % width == 0:
        return v[i - width]
    ra, rb, rc = v[i - 1], v[i - width], v[i - width - 1]
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"bad lossless predictor selector {sel}")


def synth_jpeg_gray_lossless(width: int, height: int, doc_id: int) -> bytes:
    """A REAL lossless (SOF3) grayscale JPEG: pixel class ``v(x, y) =
    (7*doc_id + 3*x + 5*y) % 256`` (ANY class is exact -- there is no
    DCT), predictor selector ``doc_id % 7 + 1`` in the scan header so
    all seven Table H.1 predictors rotate through the gate, point
    transform 0.  Differences are coded with DC-style Huffman
    categories (modulo-2^16 arithmetic per H.1.2.1), predicted by
    :func:`_lossless_pred`.  Odd doc_ids add a DRI segment
    (``(doc_id % 5 + 2) * 8`` samples per restart interval): at each
    RSTn the entropy coder byte-aligns and the prediction resets to the
    scan-start state (H.2.2)."""
    sel = doc_id % 7 + 1
    restart = (doc_id % 5 + 2) * 8 if doc_id % 2 else 0
    w = _JpegWriter((), _dht(_HT_LOSSLESS))
    w.frame(0xC3, width, height, restart=restart)
    vals = [(7 * doc_id + 3 * x + 5 * y) % 256 for y in range(height) for x in range(width)]
    parts, bw, start = [], _BitWriter(), 0
    for i, v in enumerate(vals):
        if restart and i and i % restart == 0:
            parts.append(bw.flush())
            bw, start = _BitWriter(), i
        diff = (v - _lossless_pred(vals, i, width, start, sel)) & 0xFFFF
        _huff_put(bw, w.codes[0x00], diff - 0x10000 if diff >= 0x8000 else diff)
    parts.append(bw.flush())
    w.scan(None, ss=sel, se=0, data=_rst_join(parts))
    return w.done()


# --------------------------------------------------------------------------
# Decode side: walker, frame model, entropy stages, emitter.
# --------------------------------------------------------------------------

def _scan_end(content: bytes, pos: int) -> int:
    """Offset of the marker that ends the entropy-coded data starting at
    ``pos``: the first 0xFF that is neither stuffing (0xFF00) nor part
    of an RSTn marker."""
    while True:
        pos = content.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= len(content):
            raise ValueError("truncated JPEG: scan without terminator")
        if content[pos + 1] != 0x00 and not 0xD0 <= content[pos + 1] <= 0xD7:
            return pos
        pos += 2


def _jpeg_segments(content: bytes):
    """The one JPEG marker walk: checks SOI, then yields ``(marker, body,
    offset)`` per segment, ``offset`` being the byte after it; past an
    SOS it skips the entropy-coded data to the next marker.  Owns the
    truncation, marker-sync and trailing-bytes errors; ends at EOI."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while True:
        if pos + 2 > len(content):
            raise ValueError("truncated JPEG: marker walk ran out")
        if content[pos] != 0xFF:
            raise ValueError(f"corrupt JPEG: lost marker sync at {pos}")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xD9:
            if pos != len(content):
                raise ValueError(
                    f"trailing bytes after JPEG EOI ({len(content) - pos})")
            return
        if pos + 2 > len(content):
            raise ValueError("truncated JPEG: segment length cut")
        ln = int.from_bytes(content[pos : pos + 2], "big")
        body = content[pos + 2 : pos + ln]
        if ln < 2 or len(body) < ln - 2:
            raise ValueError("truncated JPEG: segment body cut")
        pos += ln
        yield marker, body, pos
        if marker == 0xDA:
            pos = _scan_end(content, pos)


#: Frame envelope the decoders cover, per SOFn/DHP marker: (precisions,
#: component counts).  SOF5 occurs only as a hierarchical frame.
_JPEG_FRAMES = {
    0xC0: ((8,), (1, 3)), 0xC1: ((8, 12), (1, 3)), 0xC2: ((8,), (1, 3)),
    0xC3: ((8,), (1,)), 0xC5: ((8,), (1,)), 0xC9: ((8, 12), (1, 3)),
    0xCA: ((8,), (1,)), 0xDE: ((8,), (1,)),
}


class _JpegModel:
    """The frame model every decoder fills.  :meth:`table` parses the
    table segments into ``qt`` (DQT), ``huff`` (DHT), ``dc_cond`` /
    ``ac_cond`` (DAC), ``restart`` (DRI) and ``exp`` (EXP);
    :meth:`frame` parses a SOFn/DHP into ``precision``, ``width``,
    ``height``, ``comps`` [(id, quant table, h, v)], the MCU grid and
    ``coef`` -- per component its padded block grid in raster order,
    each block 64 raw coefficients in zigzag order; :meth:`scan` parses
    an SOS.  ``process`` is the first frame marker (it picks the entropy
    stage), ``sof`` the current frame's."""

    def __init__(self) -> None:
        self.qt: dict[int, list[int]] = {}
        self.huff: dict[tuple[int, int], dict] = {}
        self.dc_cond: dict[int, tuple[int, int]] = {}
        self.ac_cond: dict[int, int] = {}
        self.restart = 0
        self.process = self.sof = self.dhp = self.exp = self.ref = None
        self.dc_first = False
        self.scans = 0

    def table(self, marker: int, body: bytes) -> bool:
        """Parse a DQT/DHT/DAC/DRI/EXP segment; False for other markers."""
        at = 0
        if marker == 0xDB:
            while at < len(body):
                if body[at] >> 4:
                    raise ValueError("16-bit quant tables not supported")
                if at + 65 > len(body):
                    raise ValueError("truncated JPEG: DQT cut")
                self.qt[body[at] & 0x0F] = list(body[at + 1 : at + 65])
                at += 65
        elif marker == 0xC4:
            while at < len(body):
                lengths = list(body[at + 1 : at + 17])
                symbols = list(body[at + 17 : at + 17 + sum(lengths)])
                if len(lengths) < 16 or len(symbols) < sum(lengths):
                    raise ValueError("truncated JPEG: DHT cut")
                codes = _canonical_codes(lengths, symbols)
                self.huff[(body[at] >> 4, body[at] & 0x0F)] = {
                    (c, n): s for s, (c, n) in codes.items()}
                at += 17 + len(symbols)
        elif marker == 0xCC:
            for at in range(0, len(body) - 1, 2):
                tc, tb, cs = body[at] >> 4, body[at] & 0x0F, body[at + 1]
                if tc == 0:
                    if cs & 0x0F > cs >> 4:
                        raise ValueError(
                            f"bad DC arithmetic conditioning 0x{cs:02x}")
                    self.dc_cond[tb] = (cs & 0x0F, cs >> 4)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"bad AC arithmetic conditioning {cs}")
                    self.ac_cond[tb] = cs
                else:
                    raise ValueError(f"bad DAC table class {tc}")
        elif marker == 0xDD:
            if len(body) < 2:
                raise ValueError("truncated JPEG: DRI cut")
            self.restart = int.from_bytes(body[:2], "big")
        elif marker == 0xDF:
            if len(body) < 1:
                raise ValueError("truncated JPEG: EXP cut")
            if body[0] not in (0x10, 0x01, 0x11):
                raise ValueError(f"bad EXP expansion flags 0x{body[0]:02x}")
            if self.ref is None:
                raise ValueError("EXP before any reference frame")
            self.exp = (body[0] >> 4, body[0] & 0x0F)
        else:
            return False
        return True

    def frame(self, marker: int, body: bytes, want: int | None) -> None:
        """Parse a SOFn/DHP body.  The first frame marker picks the
        process (``want``, when given, must match); after it only a
        hierarchical pyramid takes more frames (SOF0/1/5 under its DHP)."""
        if self.process is None:
            if marker not in _JPEG_STAGES:
                raise ValueError(f"non-baseline JPEG (SOF 0x{marker:02x}) not supported")
            if want not in (None, marker):
                raise ValueError(
                    f"JPEG process SOF 0x{marker:02x}, not 0x{want:02x}")
            self.process = marker
        elif self.process != 0xDE:
            raise ValueError("corrupt JPEG: multiple SOF markers")
        elif marker not in (0xC0, 0xC1, 0xC5):
            raise ValueError(
                f"unsupported hierarchical frame SOF 0x{marker:02x} "
                "(sequential Huffman frames only here)")
        name = "DHP" if marker == 0xDE else f"SOF{marker - 0xC0}"
        if len(body) < 6:
            raise ValueError(f"short JPEG {name} body ({len(body)} bytes)")
        precision, ncomp = body[0], body[5]
        height = int.from_bytes(body[1:3], "big")
        width = int.from_bytes(body[3:5], "big")
        precisions, ncomps = _JPEG_FRAMES[marker]
        if precision not in precisions or ncomp not in ncomps or (
                self.process == 0xDE and (precision, ncomp) != (8, 1)):
            raise ValueError(
                f"unsupported JPEG {name} (precision={precision}, "
                f"components={ncomp})")
        if len(body) < 6 + 3 * ncomp:
            raise ValueError(f"short JPEG {name} body ({len(body)} bytes)")
        if width <= 0 or height <= 0:
            raise ValueError(f"degenerate JPEG dimensions {width}x{height}")
        if marker == 0xDE:
            self.dhp = (width, height)
            return
        comps = []
        for i in range(ncomp):
            cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
            if samp >> 4 not in (1, 2) or samp & 0x0F not in (1, 2):
                raise ValueError(
                    f"unsupported JPEG sampling 0x{samp:02x}; factors beyond "
                    "1-2 not decoded here")
            if ncomp == 1 and samp != 0x11:
                raise ValueError(
                    f"unsupported JPEG sampling 0x{samp:02x} for grayscale")
            comps.append((cid, qid, samp >> 4, samp & 0x0F))
        self.sof, self.precision, self.width, self.height = marker, precision, width, height
        self.comps = comps
        self.hmax = max(c[2] for c in comps)
        self.vmax = max(c[3] for c in comps)
        # the scan always carries a WHOLE number of MCUs (the encoder pads
        # the image to the MCU grid); emission crops
        self.mcus_x = (width + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (height + 8 * self.vmax - 1) // (8 * self.vmax)
        self.coef = [
            [[0] * 64 for _ in range(self.mcus_x * h * self.mcus_y * v)]
            for _cid, _qid, h, v in comps
        ]

    def scan(self, body: bytes) -> tuple:
        """Parse an SOS body into ``([(component index, DC table, AC
        table)], Ss, Se, Ah, Al)``, checking the scan against the
        process: a progressive scan is one legal stage, a sequential one
        interleaves every component."""
        ns = body[0] if body else 0
        if len(body) < 4 + 2 * ns:
            raise ValueError(f"short JPEG SOS body ({len(body)} bytes)")
        ids = [c[0] for c in self.comps]
        sel = []
        for i in range(ns):
            sid, tt = body[1 + 2 * i], body[2 + 2 * i]
            if sid not in ids:
                raise ValueError(f"JPEG scan references unknown component {sid}")
            sel.append((ids.index(sid), tt >> 4, tt & 0x0F))
        if any(a[0] >= b[0] for a, b in zip(sel, sel[1:])):
            raise ValueError("SOS component order must match SOF")
        ss, se, a = body[1 + 2 * ns : 4 + 2 * ns]
        ah, al = a >> 4, a & 0x0F
        if self.sof in (0xC2, 0xCA):
            if ss == 0 and se != 0:
                raise ValueError("corrupt JPEG: DC scan with Se != 0")
            if ss > se or se > 63:
                raise ValueError(f"corrupt JPEG: scan band {ss}..{se}")
            if ss and ns != 1:
                raise ValueError("corrupt JPEG: interleaved AC scan")
            if ah and ah != al + 1:
                raise ValueError(
                    f"non-decrementing successive approximation (Ah={ah}, Al={al})")
            if ss == 0 and ah and not self.dc_first:
                raise ValueError("DC refinement before DC first scan")
            self.dc_first |= ss == 0
        elif ns != len(self.comps):
            raise ValueError(
                "SOS component count must match SOF (single interleaved "
                "sequential scan only)")
        elif self.sof != 0xC3:  # sequential DCT: the band is always 0..63
            ss, se, ah, al = 0, 63, 0, 0
        return sel, ss, se, ah, al


def _scan_units(m: _JpegModel, sel: list):
    """Coding order of one scan (T.81 A.2): per unit -- an MCU when the
    scan interleaves components, else one block of the component's own
    grid (ceil of its sample dimensions over 8, which can be smaller
    than the padded MCU grid) -- the ``(selection index, coefficient
    block)`` pairs."""
    if len(sel) == 1:
        _cid, _qid, hs, vs = m.comps[sel[0][0]]
        grid, stride = m.coef[sel[0][0]], m.mcus_x * hs
        gh = ((m.height * vs + m.vmax - 1) // m.vmax + 7) // 8
        gw = ((m.width * hs + m.hmax - 1) // m.hmax + 7) // 8
        for by in range(gh):
            for bx in range(gw):
                yield ((0, grid[by * stride + bx]),)
        return
    comps = [(j, m.coef[ci], m.comps[ci][2], m.comps[ci][3])
             for j, (ci, _td, _ta) in enumerate(sel)]
    for my in range(m.mcus_y):
        for mx in range(m.mcus_x):
            yield [(j, grid[(my * vs + dy) * m.mcus_x * hs + mx * hs + dx])
                   for j, grid, hs, vs in comps
                   for dy in range(vs) for dx in range(hs)]


def _huff_decode_scan(m: _JpegModel, sel, ss, se, ah, al, data) -> None:
    """Huffman entropy stage: a sequential scan (SOF0/1, hierarchical
    frames) decodes DC + AC 1..63 per block with per-component DC
    predictors (none in a differential SOF5 frame, F.1.5); a progressive
    scan (SOF2) decodes one stage -- DC first/refinement bits, AC first
    with EOB runs across blocks, AC refinement.  Every ``m.restart``
    units consume the next RSTn and reset the predictors; an EOB run
    that would cross the boundary is corrupt."""
    tabs = []
    for _ci, td, ta in sel:
        dct = m.huff.get((0, td)) if ss == 0 and not ah else None
        act = m.huff.get((1, ta)) if se else None
        if (dct is None and ss == 0 and not ah) or (act is None and se):
            raise ValueError("JPEG scan references missing Huffman tables")
        tabs.append((dct, act))
    br = _BitReader(data)
    seq, ri = m.sof != 0xC2, m.restart
    prev = [0] * len(sel)
    eobrun = 0
    for u, unit in enumerate(_scan_units(m, sel)):
        if ri and u and u % ri == 0:
            br.consume_restart((u // ri - 1) % 8)
            if eobrun:
                raise ValueError("corrupt JPEG: EOB run crosses restart boundary")
            prev = [0] * len(sel)
        for j, blk in unit:
            dct, act = tabs[j]
            if ss == 0 and ah:
                blk[0] |= br.bits(1) << al
            elif ss == 0:
                diff = _huff_diff(br, dct)
                prev[j] = diff if m.sof == 0xC5 else prev[j] + diff
                blk[0] = prev[j] << al
            if not se:
                continue
            if ah:
                eobrun = _huff_refine(br, act, blk, ss, se, al, eobrun)
            elif eobrun:
                eobrun -= 1
            else:
                eobrun = _huff_ac(br, act, blk, max(ss, 1), se, al)
                if seq and eobrun:
                    raise ValueError("corrupt JPEG: EOB run in a sequential scan")
    br.done()


def _qm_decode_scan(m: _JpegModel, sel, ss, se, ah, al, data) -> None:
    """QM entropy stage (SOF9 sequential, SOF10 progressive): DC under the
    Annex F conditioning model at the scan's point transform (the
    conditioning COMES FROM THE FILE; T.81 defaults L=0/U=1/Kx=5 apply
    per table only when no DAC names it), DC refinements as fixed-state
    bits, AC bands under Figure F.5, AC refinements under the G.2.2
    correction-bit model; statistics areas are per table, predictors
    and conditioning categories per component.  Every restart segment
    is an independent codeword: fresh coder, statistics, predictors and
    categories after the expected RSTn."""
    ri, lo = m.restart, max(ss, 1)
    for u, unit in enumerate(_scan_units(m, sel)):
        if u == 0 or ri and u % ri == 0:
            nxt = 0
            if u:
                mk, nxt = dec.seek_marker()
                want = 0xD0 + (u // ri - 1) % 8
                if mk != want:
                    raise ValueError(
                        f"arithmetic JPEG: expected RST{want - 0xD0}, got "
                        f"marker 0x{mk:02x}")
            dec = _QMDecoder(data, nxt)
            dc_bins = {td: _qm_fresh_bins(_QM_DC_BINS) for _, td, _ in sel} if ss == 0 and not ah else {}
            ac_bins = {ta: _qm_fresh_bins(_QM_AC_BINS) for *_, ta in sel} if se else {}
            prev, ctx = [0] * len(sel), [0] * len(sel)
        for j, blk in unit:
            _ci, td, ta = sel[j]
            if ss == 0 and ah:
                if dec.decode_fixed():
                    blk[0] |= 1 << al
            elif ss == 0:
                diff, ctx[j] = _qm_dec_dc(dec, dc_bins[td], ctx[j], m.dc_cond.get(td, (0, 1)))
                prev[j] += diff
                blk[0] = prev[j] << al
            if se and ah:
                _qm_dec_ac_refine(dec, ac_bins[ta], blk, lo, se, al)
            elif se:
                _qm_dec_ac_band(dec, ac_bins[ta], blk, m.ac_cond.get(ta, 5), lo, se, al)


def _lossless_decode_scan(m: _JpegModel, sel, ss, se, ah, al, data) -> None:
    """Lossless stage (SOF3, Annex H): sample-serial predictive decode --
    Ss selects the Table H.1 predictor (:func:`_lossless_pred`) -- with
    DC-category Huffman differences accumulated modulo 2^16.  Restart
    markers byte-align and reset the prediction to the scan-start state.
    Point transform 0 only."""
    tab = m.huff.get((0, sel[0][1]))
    if tab is None:
        raise ValueError("JPEG scan references missing Huffman table")
    if not 1 <= ss <= 7:
        raise ValueError(f"bad lossless predictor selector {ss}")
    if al:
        raise ValueError("lossless point transform != 0 not decoded here")
    br = _BitReader(data)
    out = m.samples = [0] * (m.width * m.height)
    start = 0
    for i in range(len(out)):
        if m.restart and i and i % m.restart == 0:
            br.consume_restart((i // m.restart - 1) % 8)
            start = i
        out[i] = (_lossless_pred(out, i, m.width, start, ss) + _huff_diff(br, tab)) & 0xFFFF
    br.done()


def _hier_decode_scan(m: _JpegModel, sel, ss, se, ah, al, data) -> None:
    """Hierarchical stage (Annex J): the frame's sequential Huffman scan
    becomes an unclamped plane (:func:`_jpeg_emit`), then either the
    pyramid's reference (the one non-differential frame) or a
    differential correction added onto the reference after any pending
    EXP expansion; the running reference clamps to [0, 255] after each
    accumulation (per-stage reconstruction clamping)."""
    _huff_decode_scan(m, sel, ss, se, ah, al, data)
    plane = _jpeg_emit(m)
    if m.exp is not None:
        m.ref, m.exp = _hier_expand(m.ref, *m.exp), None
    fh, fw = plane.shape
    if m.sof == 0xC5:
        if m.ref is None:
            raise ValueError("differential frame without reference")
        if m.ref.shape[0] < fh or m.ref.shape[1] < fw:
            raise ValueError(
                "differential frame exceeds the (expanded) reference: "
                f"{fw}x{fh} vs {m.ref.shape[1]}x{m.ref.shape[0]}")
        m.ref = np.clip(m.ref[:fh, :fw] + plane, 0, 255)
    elif m.ref is not None:
        raise ValueError("second non-differential frame in a hierarchical sequence")
    else:
        m.ref = np.clip(plane, 0, 255)
    m.sof = None  # one scan per frame


#: entropy stage per process (first frame marker)
_JPEG_STAGES = {
    0xC0: _huff_decode_scan, 0xC1: _huff_decode_scan, 0xC2: _huff_decode_scan,
    0xC3: _lossless_decode_scan, 0xC9: _qm_decode_scan, 0xCA: _qm_decode_scan,
    0xDE: _hier_decode_scan,
}


def _jpeg_decode(content: bytes, want: int | None = None) -> dict:
    """Decode through the shared core: walk the segments into the frame
    model, run each SOS through the process's entropy stage, then emit.
    Strict: truncations, unexpected markers, missing tables and trailing
    bytes after EOI raise ``ValueError``."""
    m = _JpegModel()
    for marker, body, at in _jpeg_segments(content):
        if m.table(marker, body):
            continue
        if marker in _JPEG_SOF or marker == 0xDE:
            m.frame(marker, body, want)
        elif marker == 0xDA:
            if m.sof is None:
                raise ValueError("JPEG scan before a frame header")
            sel, ss, se, ah, al = m.scan(body)
            data = content[at : _scan_end(content, at)]
            if not m.restart and any(bytes((0xFF, 0xD0 + i)) in data for i in range(8)):
                raise ValueError("corrupt JPEG: restart marker without DRI")
            _JPEG_STAGES[m.process](m, sel, ss, se, ah, al, data)
            m.scans += 1
    if not m.scans:
        raise ValueError("JPEG EOI before any scan")
    if m.process == 0xC3:
        return {"fmt": "jpeg_gray_lossless", "width": m.width,
                "height": m.height, "pixels": m.samples}
    if m.process == 0xDE:
        ow, oh = m.dhp
        if m.ref.shape[0] < oh or m.ref.shape[1] < ow:
            raise ValueError(
                "hierarchical pyramid ended below the DHP dimensions: "
                f"{m.ref.shape[1]}x{m.ref.shape[0]} vs {ow}x{oh}")
        return {"fmt": "jpeg_gray_hier", "width": ow, "height": oh,
                "pixels": m.ref[:oh, :ow].ravel().tolist()}
    return _jpeg_emit(m)


def _jpeg_emit(m: _JpegModel):
    """The one block-to-pixel emitter: per component, dequantize the
    zigzag coefficients, de-zigzag, run the batched float IDCT (one
    einsum), round, level shift and clamp, scatter the blocks onto the
    padded MCU-grid plane and crop; 3 components then go through
    libjpeg's 16-bit fixed-point integer YCbCr->RGB (jdcolor.c constants
    FIX(1.40200)=91881, FIX(0.34414)=22554, FIX(0.71414)=46802,
    FIX(1.77200)=116130; >> on int64 is an arithmetic floor shift in
    numpy exactly as on a Python int, same as libjpeg's DESCALE -- pure
    INTEGER arithmetic, so an external SQL oracle reproduces the
    conversion bit-for-bit), subsampled chroma read by replication
    (x // rx, y // ry).  A hierarchical frame returns its cropped plane
    instead: unclamped, level-shifted unless differential (F.1.5)."""
    hier = m.process == 0xDE
    shift = 0 if m.sof == 0xC5 else 1 << (m.precision - 1)
    maxv = (1 << m.precision) - 1
    planes = []
    for ci, (_cid, qid, hs, vs) in enumerate(m.comps):
        if qid not in m.qt:
            raise ValueError(f"JPEG references missing quant table {qid}")
        bh, bw = m.mcus_y * vs, m.mcus_x * hs
        coef = np.array(m.coef[ci], dtype=np.int64) * np.array(m.qt[qid], dtype=np.int64)
        blocks = coef.take(_ZIGZAG_INV, axis=1).reshape(-1, 8, 8).astype(np.float64)
        spat = np.einsum("yv,nvu,xu->nyx", _IDCT_BASIS, blocks, _IDCT_BASIS)
        vals = np.round(spat / 4.0).astype(np.int64) + shift
        if not hier:
            vals = np.clip(vals, 0, maxv)
        planes.append(vals.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(8 * bh, 8 * bw))
    width, height = m.width, m.height
    if hier:
        return planes[0][:height, :width]
    if len(planes) == 1:
        return {
            "fmt": "jpeg_gray" if m.precision == 8 else "jpeg_gray12",
            "width": width, "height": height,
            "pixels": planes[0][:height, :width].ravel().tolist(),
        }
    xs = np.arange(width)
    ys = np.arange(height)

    def up(ci: int) -> "np.ndarray":
        rx, ry = m.hmax // m.comps[ci][2], m.vmax // m.comps[ci][3]
        return planes[ci][(ys // ry)[:, None], (xs // rx)[None, :]]

    # 12-bit color: the FIX() constants are precision-independent ratios;
    # libjpeg's 12-bit build changes only CENTERJSAMPLE (2048) and
    # MAXJSAMPLE (4095).  Products stay < 2^28, exact in binary64, so the
    # SQL oracle's floor-division replay remains bit-for-bit.
    center = 1 << (m.precision - 1)
    yy = up(0)
    cb = up(1) - center
    cr = up(2) - center
    r = np.clip(yy + ((91881 * cr + 32768) >> 16), 0, maxv)
    g = np.clip(yy - ((22554 * cb + 46802 * cr + 32768) >> 16), 0, maxv)
    b = np.clip(yy + ((116130 * cb + 32768) >> 16), 0, maxv)
    pixels = list(zip(r.ravel().tolist(), g.ravel().tolist(), b.ravel().tolist()))
    return {
        "fmt": "jpeg_rgb" if m.precision == 8 else "jpeg_rgb12",
        "width": width, "height": height, "pixels": pixels,
    }


def decode_jpeg_gray(content: bytes) -> dict:
    """Pure-Python JPEG decode for every process the codec core covers,
    picked by the first frame marker: sequential Huffman SOF0/SOF1
    (8/12-bit, grayscale or 3-component color with sampling factors 1-2
    under replication upsampling, partial MCUs padded and cropped),
    progressive SOF2, lossless SOF3, arithmetic SOF9/SOF10 and
    hierarchical (DHP) pyramids.  The tables COME FROM THE FILE; color
    converts with libjpeg's fixed-point YCbCr->RGB, which an external SQL
    oracle reproduces bit-for-bit.  Other processes (SOF5-7, SOF11,
    SOF13-15 as a first frame) raise.  Strict: truncations, unexpected
    markers, missing tables and trailing bytes after EOI raise
    ``ValueError``.  (The name predates color support.)"""
    return _jpeg_decode(content)


def _decode_jpeg_progressive(content: bytes) -> dict:
    """Progressive (SOF2) decode: multi-scan coefficient accumulation --
    DC scans interleaved or per component, AC band scans with EOB runs,
    successive-approximation refinement of both (T.81 G.1.2), restart
    intervals in every scan type -- then :func:`_jpeg_emit`."""
    return _jpeg_decode(content, 0xC2)


def _decode_jpeg_arith(content: bytes) -> dict:
    """Arithmetic-coded sequential (SOF9) decode: the QM stage under the
    file's DAC conditioning, 1 or 3 components, 8 or 12 bits."""
    return _jpeg_decode(content, 0xC9)


def _decode_jpeg_arith_progressive(content: bytes) -> dict:
    """Arithmetic-coded progressive (SOF10) decode: the QM stage's Annex G
    scan stages over a grayscale 8-bit frame."""
    return _jpeg_decode(content, 0xCA)


def _decode_jpeg_lossless(content: bytes) -> dict:
    """Lossless (SOF3) decode: the Annex H predictive stage, grayscale
    8-bit, point transform 0."""
    return _jpeg_decode(content, 0xC3)


def _decode_jpeg_hierarchical(content: bytes) -> dict:
    """Hierarchical (DHP, Annex J) decode: a non-differential first frame,
    then EXP reference expansions and differential frames accumulated
    onto the reference; grayscale 8-bit sequential Huffman frames."""
    return _jpeg_decode(content, 0xDE)


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def synth_mp4_samples(
    payload: bytes,
    *,
    co64: bool = False,
    largesize_mdat: bool = False,
    per_chunk: list[int] | None = None,
) -> bytes:
    """A structurally-REAL ISO-BMFF file around ``payload``: full
    ``moov/trak/mdia/minf/stbl`` sample tables (stsz per-sample sizes,
    stsc samples-per-chunk runs, stco/co64 absolute chunk offsets, stss
    sync samples marking every 4th sample) over an mdat that carries the
    payload as contiguous 64-byte samples.  Unlike :func:`synth_mp4`
    (mvhd-only, for header-parser tests), this one round-trips through
    :func:`demux_mp4_samples` -- the container-level demux a video
    pipeline runs BEFORE any codec touches a frame.

    Variants real muxers emit (r14 VERDICT task 8; all demux to IDENTICAL
    (sample_idx, payload_offset, bytes) because samples stay contiguous):

    - ``co64=True``: 64-bit chunk offsets in a co64 box instead of stco;
    - ``largesize_mdat=True``: mdat written with the 32-bit size escape
      (size field 1 + 64-bit largesize);
    - ``per_chunk``: explicit samples-per-chunk list (must sum to the
      sample count) -- its run-length encoding becomes the stsc runs, so
      irregular lists exercise multi-run stsc walks.  Default: chunks of
      4 (one tail run when the last chunk is short)."""
    n_samples = (len(payload) + 63) // 64
    sizes = [
        min(64, len(payload) - 64 * i) for i in range(n_samples)
    ]
    if per_chunk is None:
        n_chunks = (n_samples + 3) // 4
        per_chunk = [4] * (n_chunks - 1) + [n_samples - 4 * (n_chunks - 1)] \
            if n_chunks else []
    if sum(per_chunk) != n_samples or any(c < 1 for c in per_chunk):
        raise ValueError("per_chunk must be positive and sum to the samples")
    n_chunks = len(per_chunk)

    def full32(entries: list[int]) -> bytes:
        return b"".join(e.to_bytes(4, "big") for e in entries)

    stsz = _box(
        b"stsz",
        bytes(4) + (0).to_bytes(4, "big") + n_samples.to_bytes(4, "big")
        + full32(sizes),
    )
    # run-length encode per_chunk into stsc (first_chunk, spc, desc) runs
    stsc_entries: list[tuple[int, int, int]] = []
    for j, spc in enumerate(per_chunk, start=1):
        if not stsc_entries or stsc_entries[-1][1] != spc:
            stsc_entries.append((j, spc, 1))
    stsc = _box(
        b"stsc",
        bytes(4) + len(stsc_entries).to_bytes(4, "big")
        + b"".join(full32(list(e)) for e in stsc_entries),
    )
    sync = list(range(1, n_samples + 1, 4))
    stss = _box(
        b"stss", bytes(4) + len(sync).to_bytes(4, "big") + full32(sync)
    )

    def chunk_offsets(mdat_body: int) -> list[int]:
        out, at, si = [], mdat_body, 0
        for spc in per_chunk:
            out.append(at)
            at += sum(sizes[si : si + spc])
            si += spc
        return out

    def build(offsets: list[int]) -> bytes:
        if co64:
            co_box = _box(
                b"co64",
                bytes(4) + len(offsets).to_bytes(4, "big")
                + b"".join(o.to_bytes(8, "big") for o in offsets),
            )
        else:
            co_box = _box(
                b"stco",
                bytes(4) + len(offsets).to_bytes(4, "big") + full32(offsets),
            )
        stbl = _box(b"stbl", stsz + stsc + co_box + stss)
        mvhd_body = (
            bytes(12) + (600).to_bytes(4, "big")
            + n_samples.to_bytes(4, "big") + bytes(80)
        )
        moov = _box(
            b"moov",
            _box(b"mvhd", mvhd_body)
            + _box(b"trak", _box(b"mdia", _box(b"minf", stbl))),
        )
        return moov

    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    hdr = 16 if largesize_mdat else 8
    moov_len = len(build([0] * n_chunks))  # offsets are fixed-width
    mdat_body = len(ftyp) + moov_len + hdr
    moov = build(chunk_offsets(mdat_body))
    if largesize_mdat:
        mdat = (
            (1).to_bytes(4, "big") + b"mdat"
            + (16 + len(payload)).to_bytes(8, "big") + payload
        )
    else:
        mdat = _box(b"mdat", payload)
    return ftyp + moov + mdat


def demux_mp4_samples(content: bytes, max_keyframes: int = 8) -> list[tuple]:
    """Container-level MP4 demux: walk the box tree, read the
    stsz/stsc/stco/stss sample tables, reconstruct per-sample file
    offsets, and extract the SYNC samples' raw bytes from mdat -- real
    video frame-sampling up to the codec boundary, pure structure, no
    codec library.  Strict: truncated boxes, missing tables,
    out-of-bounds sample extents, table inconsistencies, and trailing
    bytes all raise ``ValueError``.

    Returns ``[(keyframe_idx, payload_offset, sample_bytes), ...]`` where
    payload_offset is relative to the mdat body."""
    tables: dict[bytes, bytes] = {}
    mdat_span: list[tuple[int, int]] = []

    def walk(lo: int, hi: int, depth: int) -> None:
        pos = lo
        while pos < hi:
            if pos + 8 > hi:
                raise ValueError("truncated MP4: partial box header")
            ln = int.from_bytes(content[pos : pos + 4], "big")
            btype = content[pos + 4 : pos + 8]
            body_at = pos + 8
            if ln == 1:
                # 64-bit largesize (the spec's escape for >4 GiB boxes --
                # real muxers emit it for mdat): size follows the type.
                if pos + 16 > hi:
                    raise ValueError("truncated MP4: partial largesize header")
                ln = int.from_bytes(content[pos + 8 : pos + 16], "big")
                body_at = pos + 16
                if ln < 16:
                    raise ValueError(
                        f"corrupt MP4: largesize box {btype!r} declares {ln}"
                    )
            elif ln == 0:
                # size-0: box extends to the end of the enclosing container
                ln = hi - pos
                if ln < 8:
                    raise ValueError("truncated MP4: size-0 box too short")
            elif ln < 8:
                raise ValueError(
                    f"corrupt MP4: box {btype!r} declares {ln} bytes"
                )
            if pos + ln > hi:
                raise ValueError(
                    f"truncated MP4: box {btype!r} declares {ln} bytes"
                )
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                walk(body_at, pos + ln, depth + 1)
            elif btype in (b"stsz", b"stsc", b"stco", b"co64", b"stss"):
                tables[btype] = content[body_at : pos + ln]
            elif btype == b"mdat":
                mdat_span.append((body_at, pos + ln))
            pos += ln

    if content[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no ftyp)")
    walk(0, len(content), 0)
    missing = [t for t in (b"stsz", b"stsc", b"stss") if t not in tables]
    if missing:
        raise ValueError(f"MP4 missing sample tables: {missing}")
    if b"stco" in tables and b"co64" in tables:
        raise ValueError("corrupt MP4: both stco and co64 present")
    if b"stco" not in tables and b"co64" not in tables:
        raise ValueError("MP4 missing sample tables: [b'stco'/b'co64']")
    if not mdat_span:
        raise ValueError("MP4 missing mdat")
    mdat_lo, mdat_hi = mdat_span[0]

    def u32s(body: bytes, at: int, n: int, what: str) -> list[int]:
        if at + 4 * n > len(body):
            raise ValueError(f"truncated MP4: {what} table cut short")
        return [
            int.from_bytes(body[at + 4 * i : at + 4 * i + 4], "big")
            for i in range(n)
        ]

    sz = tables[b"stsz"]
    if len(sz) < 12:
        raise ValueError("truncated MP4: stsz header")
    fixed = int.from_bytes(sz[4:8], "big")
    n_samples = int.from_bytes(sz[8:12], "big")
    sizes = (
        [fixed] * n_samples if fixed else u32s(sz, 12, n_samples, "stsz")
    )
    if b"stco" in tables:
        co = tables[b"stco"]
        n_chunks = int.from_bytes(co[4:8], "big")
        offsets = u32s(co, 8, n_chunks, "stco")
    else:
        co = tables[b"co64"]
        n_chunks = int.from_bytes(co[4:8], "big")
        if 8 + 8 * n_chunks > len(co):
            raise ValueError("truncated MP4: co64 table cut short")
        offsets = [
            int.from_bytes(co[8 + 8 * i : 16 + 8 * i], "big")
            for i in range(n_chunks)
        ]
    sc = tables[b"stsc"]
    n_runs = int.from_bytes(sc[4:8], "big")
    runs = [tuple(u32s(sc, 8 + 12 * i, 3, "stsc")) for i in range(n_runs)]
    ss = tables[b"stss"]
    n_sync = int.from_bytes(ss[4:8], "big")
    sync = u32s(ss, 8, n_sync, "stss")

    # samples-per-chunk for each chunk from the stsc run-length encoding
    per_chunk: list[int] = []
    for i, (first, spc, _desc) in enumerate(runs):
        until = runs[i + 1][0] if i + 1 < n_runs else n_chunks + 1
        if first < 1 or until <= first:
            raise ValueError("corrupt MP4: stsc runs not increasing")
        per_chunk.extend([spc] * (until - first))
    if len(per_chunk) != n_chunks or sum(per_chunk) != n_samples:
        raise ValueError(
            f"corrupt MP4: stsc maps {sum(per_chunk)} samples over "
            f"{len(per_chunk)} chunks, stsz/stco declare {n_samples}/{n_chunks}"
        )
    sample_off: list[tuple[int, int]] = []  # (file offset, size)
    si = 0
    for j in range(n_chunks):
        at = offsets[j]
        for _ in range(per_chunk[j]):
            sample_off.append((at, sizes[si]))
            at += sizes[si]
            si += 1
    out = []
    for k, snum in enumerate(sync[:max_keyframes]):
        if not 1 <= snum <= n_samples:
            raise ValueError(f"corrupt MP4: stss sample {snum} of {n_samples}")
        off, size = sample_off[snum - 1]
        if off < mdat_lo or off + size > mdat_hi:
            raise ValueError(
                f"corrupt MP4: sample {snum} extent [{off}, {off + size}) "
                f"outside mdat [{mdat_lo}, {mdat_hi})"
            )
        out.append((k, off - mdat_lo, content[off : off + size]))
    return out


def _lzw_decode(min_code_size: int, data: bytes, expected: int) -> list[int]:
    """GIF-variant LZW decode (variable-width codes, LSB-first, clear +
    end codes, 12-bit cap).  Strict: a truncated stream, a code past the
    table, or a pixel-count mismatch raises ``ValueError``."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    base = {i: (i,) for i in range(clear)}
    table: dict[int, tuple[int, ...]] = dict(base)
    next_code = end + 1
    prev: tuple[int, ...] | None = None
    out: list[int] = []
    pos, nbits = 0, len(data) * 8
    while True:
        if pos + width > nbits:
            raise ValueError("truncated GIF: LZW stream ends mid-code")
        b0 = pos // 8
        chunk = int.from_bytes(data[b0 : b0 + 3], "little")
        code = (chunk >> (pos % 8)) & ((1 << width) - 1)
        pos += width
        if code == clear:
            table = dict(base)
            next_code = end + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code not in table:
                raise ValueError(f"corrupt GIF: first LZW code {code} not a literal")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"corrupt GIF: LZW code {code} past table end {next_code}")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        if len(out) > expected:
            raise ValueError(
                f"corrupt GIF: LZW yields more than the {expected} raster pixels"
            )
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"corrupt GIF: LZW yielded {len(out)} pixels, raster needs {expected}"
        )
    return out


def _lzw_encode(min_code_size: int, indices: list[int]) -> bytes:
    """GIF-variant LZW encode, the exact inverse of :func:`_lzw_decode`.

    Width schedule subtlety: the decoder learns each table entry ONE
    CODE LATER than the encoder assigns it (it reconstructs the entry
    while processing the following code), so the emit width must track a
    SIMULATED decoder counter, not the encoder's own table size --
    bumping on the encoder's counter desyncs the bit stream one code
    early (found by the round-trip fuzz)."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    enc_next = end + 1   # encoder table assignments
    dec_next = end + 1   # simulated decoder table size, drives the width
    n_symbol_codes = 0
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += w
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    def emit_symbol(code: int) -> None:
        nonlocal width, dec_next, n_symbol_codes
        emit(code, width)
        n_symbol_codes += 1
        # the decoder adds an entry while processing every symbol code
        # AFTER the first, and bumps its read width when its table fills
        # the current width -- affecting the NEXT code it reads
        if n_symbol_codes >= 2 and dec_next < 4096:
            dec_next += 1
            if dec_next == (1 << width) and width < 12:
                width += 1

    emit(clear, width)
    seq: tuple[int, ...] = ()
    for idx in indices:
        grown = seq + (int(idx),)
        if grown in table:
            seq = grown
            continue
        emit_symbol(table[seq])
        if enc_next < 4096:
            table[grown] = enc_next
            enc_next += 1
        seq = (int(idx),)
    if seq:
        emit_symbol(table[seq])
    emit(end, width)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


#: GIF interlace row passes: (start row, step), spec order.
_GIF_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _gif_interlace_order(height: int) -> list[int]:
    """Source-row order of an interlaced GIF raster: rows arrive in the
    four-pass sequence; element k is the IMAGE row the k-th transmitted
    row belongs to."""
    return [y for start, step in _GIF_PASSES for y in range(start, height, step)]


def synth_gif_indexed(
    width: int, height: int, doc_id: int, *, interlaced: bool = False
) -> bytes:
    """A REAL GIF89a (16-color global palette, genuinely LZW-compressed)
    -- unlike :func:`synth_gif`, which wraps an opaque payload for
    header-parser tests, this one round-trips through
    :func:`decode_gif`.  Palette color k is ((11k+d)%256, (7k+3d)%256,
    (5k+d)%256); pixel (x, y) uses index (x + y*width + d) % 16.
    ``interlaced=True`` (r15) transmits the rows in the GIF four-pass
    order with the interlace flag set -- the decoded raster is
    identical, so both layouts share one oracle."""
    gct = bytearray()
    for k in range(16):
        gct += bytes(
            ((11 * k + doc_id) % 256, (7 * k + 3 * doc_id) % 256,
             (5 * k + doc_id) % 256)
        )
    row_order = (
        _gif_interlace_order(height) if interlaced else list(range(height))
    )
    indices = [
        (x + y * width + doc_id) % 16
        for y in row_order
        for x in range(width)
    ]
    lzw = _lzw_encode(4, indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        part = lzw[i : i + 255]
        blocks += bytes((len(part),)) + part
    blocks += b"\x00"
    return (
        b"GIF89a"
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
        + bytes((0x80 | 0x03, 0, 0))  # GCT present, 16 entries
        + bytes(gct)
        + b"\x2c" + bytes(4)  # image descriptor at (0, 0)
        + width.to_bytes(2, "little") + height.to_bytes(2, "little")
        + (b"\x40" if interlaced else b"\x00")  # no local table
        + bytes((4,))  # LZW min code size
        + bytes(blocks)
        + b"\x3b"
    )


def decode_gif(content: bytes) -> dict:
    """Pure-Python pixel decode of a non-interlaced single-image GIF
    (global or local palette): header + logical screen descriptor,
    extension-block skipping, sub-block reassembly, and the variable-
    width LZW inflate -- no external codec library.  Strict by the house
    contract: truncations, corrupt LZW codes, pixel-count mismatches,
    interlaced images, and trailing bytes after the trailer all raise."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 13:
        raise ValueError("truncated GIF: no logical screen descriptor")
    packed = content[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = content[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF: global color table cut short")
        pos += 3 * n
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF: no image descriptor or trailer")
        block = content[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(content):
                raise ValueError("truncated GIF: extension cut at label")
            pos += 1
            while True:
                if pos >= len(content):
                    raise ValueError("truncated GIF: extension sub-blocks cut")
                ln = content[pos]
                pos += 1
                if ln == 0:
                    break
                if pos + ln > len(content):
                    raise ValueError("truncated GIF: extension sub-block cut")
                pos += ln
        elif block == 0x2C:  # image descriptor
            break
        elif block == 0x3B:
            raise ValueError("GIF trailer before any image data")
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
    if pos + 9 > len(content):
        raise ValueError("truncated GIF: image descriptor cut short")
    width = int.from_bytes(content[pos + 4 : pos + 6], "little")
    height = int.from_bytes(content[pos + 6 : pos + 8], "little")
    ipacked = content[pos + 8]
    pos += 9
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate GIF dimensions ({width}x{height})")
    interlaced = bool(ipacked & 0x40)
    palette = gct
    if ipacked & 0x80:
        n = 2 << (ipacked & 0x07)
        palette = content[pos : pos + 3 * n]
        if len(palette) < 3 * n:
            raise ValueError("truncated GIF: local color table cut short")
        pos += 3 * n
    if palette is None:
        raise ValueError("GIF has neither global nor local color table")
    if pos >= len(content):
        raise ValueError("truncated GIF: missing LZW minimum code size")
    min_code_size = content[pos]
    pos += 1
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"corrupt GIF: LZW minimum code size {min_code_size}")
    data = bytearray()
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF: image sub-blocks cut short")
        ln = content[pos]
        pos += 1
        if ln == 0:
            break
        chunk = content[pos : pos + ln]
        if len(chunk) < ln:
            raise ValueError("truncated GIF: image sub-block cut short")
        data += chunk
        pos += ln
    if pos >= len(content) or content[pos] != 0x3B:
        raise ValueError("GIF missing trailer after image data")
    pos += 1
    if pos != len(content):
        raise ValueError(
            f"trailing bytes after GIF trailer ({len(content) - pos})"
        )
    indices = _lzw_decode(min_code_size, bytes(data), width * height)
    if interlaced:
        # De-interlace (r15): transmitted row k belongs to image row
        # order[k] of the four-pass sequence.
        order = _gif_interlace_order(height)
        rows: list = [None] * height
        for k, y in enumerate(order):
            rows[y] = indices[k * width : (k + 1) * width]
        indices = [v for row in rows for v in row]
    n_colors = len(palette) // 3
    pixels = []
    for idx in indices:
        if idx >= n_colors:
            raise ValueError(
                f"corrupt GIF: pixel index {idx} outside the {n_colors}-color palette"
            )
        pixels.append(
            (palette[3 * idx], palette[3 * idx + 1], palette[3 * idx + 2])
        )
    return {"fmt": "gif", "width": width, "height": height, "pixels": pixels}


def synth_gif_animated(
    width: int,
    height: int,
    doc_id: int,
    n_frames: int,
    disposal: int = 2,
) -> bytes:
    """A REAL animated GIF89a (r17): ``n_frames`` frames, each a
    SUB-RECTANGLE of the logical screen preceded by a Graphic Control
    Extension declaring ``disposal`` and a per-frame TRANSPARENT index.
    Global 16-color palette ``k -> ((23d+29k)%256, (19d+7k)%256,
    (5d+3k)%256)``, background index ``d % 16``; frame ``f`` draws at
    ``((d+2f) % (w-2), (3d+f) % (h-2))`` with size
    ``(min(w-fx, f%3+2), min(h-fy, (f+d)%3+2))``, canvas-absolute index
    pattern ``(d + 7f + 3x + 5y) % 16`` and transparent index
    ``(d+f) % 16`` -- so with the default restore-to-background
    disposal every COMPOSED frame is a closed form: background
    everywhere except the frame's rect where the index is opaque.  A
    decoder that ignores GCE transparency, mis-draws the rect offset,
    or skips the disposal step composes WRONG frames, not merely an
    error.  ``disposal`` 1 (leave) and 3 (restore previous) are encoded
    identically and exercised by unit tests (their composition carries
    history, so the external gate pins the closed-form disposal-2
    path)."""
    if not 0 <= disposal <= 3:
        raise ValueError(f"illegal GIF disposal method {disposal}")
    if n_frames < 1:
        raise ValueError("animated GIF needs at least one frame")
    if width < 3 or height < 3:
        raise ValueError("animated synth needs a >=3x3 logical screen")
    d = doc_id
    gct = bytearray()
    for k in range(16):
        gct += bytes(
            ((23 * d + 29 * k) % 256, (19 * d + 7 * k) % 256,
             (5 * d + 3 * k) % 256)
        )
    out = bytearray()
    out += b"GIF89a"
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes((0x80 | 0x03, d % 16, 0))  # GCT 16 entries, bg index
    out += bytes(gct)
    for f in range(n_frames):
        fx = (d + 2 * f) % (width - 2)
        fy = (3 * d + f) % (height - 2)
        fw = min(width - fx, f % 3 + 2)
        fh = min(height - fy, (f + d) % 3 + 2)
        t = (d + f) % 16
        # GCE: disposal + transparency on, delay = f centiseconds
        out += bytes((0x21, 0xF9, 0x04, (disposal << 2) | 0x01))
        out += f.to_bytes(2, "little") + bytes((t, 0x00))
        out += b"\x2c"
        out += fx.to_bytes(2, "little") + fy.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        out += b"\x00"  # no local table, not interlaced
        idxs = [
            (d + 7 * f + 3 * (fx + i) + 5 * (fy + j)) % 16
            for j in range(fh)
            for i in range(fw)
        ]
        lzw = _lzw_encode(4, idxs)
        out += bytes((4,))
        for i in range(0, len(lzw), 255):
            part = lzw[i : i + 255]
            out += bytes((len(part),)) + part
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(content: bytes) -> dict:
    """Pure-Python ANIMATED GIF decode with full frame composition
    (r17): iterates every image block, honoring per-frame Graphic
    Control Extensions -- transparency (transparent-index pixels leave
    the canvas untouched) and disposal methods 0/1 (leave), 2 (restore
    the frame rect to the background color) and 3 (restore the canvas
    as it was before the frame drew).  Frames may be sub-rectangles
    with local palettes and per-frame interlacing.  Returns the list of
    COMPOSED full-canvas rasters -- what a video pipeline's
    frame-sampling stage consumes -- as
    ``{"fmt": "gif_anim", "width", "height", "n_frames", "frames"}``
    with each frame a row-major list of (r, g, b).

    Strict by the house contract: truncations, corrupt LZW, rects
    overrunning the logical screen, palette overruns, a missing global
    palette (needed for the initial background canvas), and trailing
    bytes after the trailer all raise ``ValueError``.  Disposal
    restore-to-background fills with the LSD background COLOR per the
    spec text (real browsers substitute transparent black; with no
    alpha in this output the spec-literal fill is the deterministic
    choice, and the synthesizer/oracle pin it)."""
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(content) < 13:
        raise ValueError("truncated GIF: no logical screen descriptor")
    width = int.from_bytes(content[6:8], "little")
    height = int.from_bytes(content[8:10], "little")
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate GIF dimensions ({width}x{height})")
    packed = content[10]
    bg_index = content[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = content[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF: global color table cut short")
        pos += 3 * n
    if gct is None:
        raise ValueError(
            "animated GIF decode requires a global color table (the "
            "initial canvas is the background color)"
        )
    if bg_index >= len(gct) // 3:
        raise ValueError(
            f"corrupt GIF: background index {bg_index} outside the "
            f"{len(gct) // 3}-color global table"
        )
    bg = (gct[3 * bg_index], gct[3 * bg_index + 1], gct[3 * bg_index + 2])
    canvas = [bg] * (width * height)
    frames: list[list] = []
    # pending GCE state (applies to the NEXT image block only, per spec)
    disposal, transparent = 0, None
    while True:
        if pos >= len(content):
            raise ValueError("truncated GIF: no trailer")
        block = content[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            if pos >= len(content):
                raise ValueError("truncated GIF: extension cut at label")
            label = content[pos]
            pos += 1
            subs = bytearray()
            while True:
                if pos >= len(content):
                    raise ValueError("truncated GIF: extension sub-blocks cut")
                ln = content[pos]
                pos += 1
                if ln == 0:
                    break
                if pos + ln > len(content):
                    raise ValueError("truncated GIF: extension sub-block cut")
                subs += content[pos : pos + ln]
                pos += ln
            if label == 0xF9:
                if len(subs) < 4:
                    raise ValueError("truncated GIF: GCE body short")
                disposal = (subs[0] >> 2) & 0x07
                if disposal > 3:
                    raise ValueError(
                        f"corrupt GIF: reserved disposal method {disposal}"
                    )
                transparent = subs[3] if subs[0] & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
        if pos + 9 > len(content):
            raise ValueError("truncated GIF: image descriptor cut short")
        fx = int.from_bytes(content[pos : pos + 2], "little")
        fy = int.from_bytes(content[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(content[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(content[pos + 6 : pos + 8], "little")
        ipacked = content[pos + 8]
        pos += 9
        if fw <= 0 or fh <= 0:
            raise ValueError(f"degenerate GIF frame ({fw}x{fh})")
        if fx + fw > width or fy + fh > height:
            raise ValueError(
                f"corrupt GIF: frame rect {fw}x{fh}@({fx},{fy}) overruns "
                f"the {width}x{height} logical screen"
            )
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            palette = content[pos : pos + 3 * n]
            if len(palette) < 3 * n:
                raise ValueError("truncated GIF: local color table cut short")
            pos += 3 * n
        if pos >= len(content):
            raise ValueError("truncated GIF: missing LZW minimum code size")
        min_code_size = content[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(
                f"corrupt GIF: LZW minimum code size {min_code_size}"
            )
        data = bytearray()
        while True:
            if pos >= len(content):
                raise ValueError("truncated GIF: image sub-blocks cut short")
            ln = content[pos]
            pos += 1
            if ln == 0:
                break
            chunk = content[pos : pos + ln]
            if len(chunk) < ln:
                raise ValueError("truncated GIF: image sub-block cut short")
            data += chunk
            pos += ln
        indices = _lzw_decode(min_code_size, bytes(data), fw * fh)
        if ipacked & 0x40:
            order = _gif_interlace_order(fh)
            rows: list = [None] * fh
            for k, y in enumerate(order):
                rows[y] = indices[k * fw : (k + 1) * fw]
            indices = [v for row in rows for v in row]
        n_colors = len(palette) // 3
        saved = canvas[:] if disposal == 3 else None
        for j in range(fh):
            base = (fy + j) * width + fx
            for i in range(fw):
                idx = indices[j * fw + i]
                if idx >= n_colors:
                    raise ValueError(
                        f"corrupt GIF: pixel index {idx} outside the "
                        f"{n_colors}-color palette"
                    )
                if transparent is not None and idx == transparent:
                    continue
                canvas[base + i] = (
                    palette[3 * idx], palette[3 * idx + 1], palette[3 * idx + 2]
                )
        frames.append(canvas[:])
        if disposal == 2:
            for j in range(fh):
                base = (fy + j) * width + fx
                for i in range(fw):
                    canvas[base + i] = bg
        elif disposal == 3:
            canvas = saved
        disposal, transparent = 0, None  # GCE scope is one image block
    if pos != len(content):
        raise ValueError(
            f"trailing bytes after GIF trailer ({len(content) - pos})"
        )
    if not frames:
        raise ValueError("GIF trailer before any image data")
    return {
        "fmt": "gif_anim",
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "frames": frames,
    }


def _paeth(a: int, b: int, c: int) -> int:
    """PaethPredictor per the PNG spec (pure integer, deterministic)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter_rows(
    raw: bytes, stride: int, height: int, bpp: int
) -> list[bytes]:
    """Reverse the five PNG scanline filters over an exact-size raster
    ((stride+1)*height bytes); returns the raw BYTE rows.  Shared by the
    sequential path and each Adam7 pass (a pass is its own
    independently-filtered sub-image per the spec).  ``bpp`` is the
    FILTER bpp in bytes -- max(1, bytes per pixel), so 1 for sub-byte
    palette/gray depths and 2/6 for 16-bit gray/RGB; filters always
    operate on bytes regardless of sample packing (PNG spec 4.5.2).

    Hybrid vectorization (r16, VERDICT r15 task 7, measured): None/Sub/Up
    go through numpy (Sub is a per-lane cumsum -- mod 256 commutes with
    addition -- and Up a vector add); Average and Paeth KEEP the scalar
    byte loops because their output feedback is nonlinear (floor-average
    / predictor select), and a per-pixel numpy step on a bpp-wide vector
    measured 5-11x SLOWER than pure-Python ints (256x256x3: Paeth
    94->1079 ms full-numpy).  Measured hybrid vs scalar, 256x256x3:
    filter 0 1.28x, Sub 2.10x, Up 2.18x, Average 1.06x, Paeth 1.00x; at
    gate sizes (8x8..16x16) 0.93-1.54x, filter 0 (the synthetic-gate
    path) >=1.28x everywhere."""
    import numpy as np

    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} bytes for "
            f"{height} rows of stride {stride}"
        )
    prior = bytes(stride)
    rows = []
    for r in range(height):
        off = r * (stride + 1)
        ft = raw[off]
        seg = raw[off + 1 : off + 1 + stride]
        if ft == 0:
            line = seg
        elif ft == 1:  # Sub: per-lane cumsum (mod 256 distributes over +)
            pad = (-len(seg)) % bpp  # stride need not be a bpp multiple
            a = np.frombuffer(seg + bytes(pad), np.uint8).reshape(-1, bpp)
            line = (
                (a.astype(np.int64).cumsum(axis=0) & 0xFF)
                .astype(np.uint8)
                .tobytes()[: len(seg)]
            )
        elif ft == 2:  # Up: vector add against the prior row
            line = (
                (
                    np.frombuffer(seg, np.uint8).astype(np.int64)
                    + np.frombuffer(prior, np.uint8)
                )
                & 0xFF
            ).astype(np.uint8).tobytes()
        elif ft == 3:  # Average: nonlinear feedback, scalar loop kept
            buf = bytearray(seg)
            for i in range(len(seg)):
                a = buf[i - bpp] if i >= bpp else 0
                buf[i] = (buf[i] + ((a + prior[i]) >> 1)) & 0xFF
            line = bytes(buf)
        elif ft == 4:  # Paeth: predictor select, scalar loop kept
            buf = bytearray(seg)
            for i in range(len(seg)):
                a = buf[i - bpp] if i >= bpp else 0
                c = prior[i - bpp] if i >= bpp else 0
                buf[i] = (buf[i] + _paeth(a, prior[i], c)) & 0xFF
            line = bytes(buf)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        prior = line
        rows.append(line)
    return rows


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> list:
    """Byte-aligned-pixel wrapper over :func:`_png_unfilter_rows`:
    returns rows of ``bpp``-wide pixel tuples (the original 8-bit
    RGB/RGBA path)."""
    import numpy as np

    rows = _png_unfilter_rows(raw, width * bpp, height, bpp)
    return [
        list(
            map(
                tuple,
                np.frombuffer(line, np.uint8).reshape(width, bpp).tolist(),
            )
        )
        for line in rows
    ]


#: Adam7 pass geometry: (x origin, y origin, x step, y step), spec order.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]

#: samples per pixel by PNG color type (0 gray, 2 RGB, 3 palette index,
#: 6 RGBA).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: supported (bit_depth, color_type) combinations (r17 extends the r15
#: 8-bit RGB/RGBA decoder with grayscale 8/16, RGB 16, and palette at
#: every legal palette depth incl. sub-byte bit packing).
_PNG_SUPPORTED = frozenset(
    [(8, 2), (8, 6), (8, 0), (16, 0), (16, 2), (8, 3), (4, 3), (2, 3), (1, 3),
     (8, 4), (16, 4), (16, 6)]
)


def _png_row_samples(line: bytes, width: int, depth: int, channels: int):
    """Decode one unfiltered byte row into per-pixel sample values:
    ints for 1-channel rows, tuples otherwise.  16-bit samples are
    big-endian per the spec; sub-byte depths pack MSB-first with the
    row's final byte zero-padded (padding bits discarded here)."""
    if depth == 8:
        if channels == 1:
            return list(line)
        return [
            tuple(line[i : i + channels])
            for i in range(0, width * channels, channels)
        ]
    if depth == 16:
        vals = [
            int.from_bytes(line[i : i + 2], "big")
            for i in range(0, 2 * width * channels, 2)
        ]
        if channels == 1:
            return vals
        return [
            tuple(vals[i : i + channels])
            for i in range(0, width * channels, channels)
        ]
    # sub-byte (1/2/4): MSB-first packing, single channel only (palette
    # indices or grayscale per the spec; only palette reaches here)
    mask = (1 << depth) - 1
    per_byte = 8 // depth
    out = []
    for x in range(width):
        b = line[x // per_byte]
        shift = 8 - depth * (x % per_byte + 1)
        out.append((b >> shift) & mask)
    return out


def _png_apply_palette(indices: list, palette: bytes) -> list:
    n_colors = len(palette) // 3
    out = []
    for idx in indices:
        if idx >= n_colors:
            raise ValueError(
                f"corrupt PNG: pixel index {idx} outside the "
                f"{n_colors}-color palette"
            )
        out.append(
            (palette[3 * idx], palette[3 * idx + 1], palette[3 * idx + 2])
        )
    return out


def decode_png(content: bytes) -> dict:
    """Pure-Python pixel decode of a PNG, sequential OR Adam7-interlaced
    (r15: each of the 7 passes is an independently filtered sub-image;
    unfilter per pass, scatter by the pass geometry).  Supported sample
    layouts (r17 extended the original 8-bit RGB/RGBA): grayscale at 8
    and 16 bits, RGB at 8 and 16 bits (16-bit samples big-endian, with
    the byte-wise filters running at the 2-bytes-per-sample stride the
    spec prescribes), gray+alpha at 8 and 16 bits, RGBA at 8 and 16
    bits, and palette (PLTE) at depths 1/2/4/8 incl. MSB-first
    sub-byte bit packing with zero-padded row tails -- the FULL
    PNG sample-layout matrix.

    No external codec library: the PNG "codec" is DEFLATE (stdlib
    ``zlib``) plus the five spec filters (None/Sub/Up/Average/Paeth),
    which are pure integer math.  Strict by the house contract: every
    chunk CRC is verified, a truncated chunk/CRC raises, trailing bytes
    after IEND raise, the inflated length must equal the raster size
    exactly (summed over passes when interlaced), a palette image whose
    PLTE is missing or whose indices overrun it raises, and unsupported
    layouts raise rather than guess.  Output ``pixels`` is row-major
    top-down: ints for grayscale, (r, g, b) tuples for RGB/palette,
    (r, g, b, a) for RGBA, (g, a) for gray+alpha.  ``fmt`` is ``png``
    for the original 8-bit RGB/RGBA layouts (oracle-pinned) and
    ``png_gray`` / ``png_gray16`` / ``png_rgb16`` / ``png_palette`` /
    ``png_graya`` / ``png_graya16`` / ``png_rgba16`` for the r17
    additions."""
    import zlib

    if not content.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = len(_PNG_MAGIC)
    ihdr: bytes | None = None
    idat = bytearray()
    plte: bytes | None = None
    ended = False
    while not ended:
        if pos + 8 > len(content):
            raise ValueError("truncated PNG: partial chunk header")
        ln = int.from_bytes(content[pos : pos + 4], "big")
        ctype = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            raise ValueError(
                f"truncated PNG: chunk {ctype!r} declares {ln} bytes, "
                f"{len(body)} present"
            )
        crc = content[pos + 8 + ln : pos + 12 + ln]
        if len(crc) < 4:
            raise ValueError(f"truncated PNG: chunk {ctype!r} missing CRC")
        if int.from_bytes(crc, "big") != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            if ln == 0 or ln % 3:
                raise ValueError(f"malformed PNG PLTE length {ln}")
            plte = body
        elif ctype == b"IEND":
            ended = True
        pos += 12 + ln
    if pos != len(content):
        raise ValueError(
            f"trailing bytes after PNG IEND ({len(content) - pos})"
        )
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing or malformed IHDR")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, compression, filter_method, interlace = ihdr[8:13]
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate PNG dimensions ({width}x{height})")
    if (bit_depth, color_type) not in _PNG_SUPPORTED:
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}); "
            "supported: gray 8/16, gray+alpha 8/16, RGB 8/16, RGBA 8/16, "
            "palette 1/2/4/8"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if compression != 0 or filter_method != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    channels = _PNG_CHANNELS[color_type]
    # filters operate on BYTES at max(1, bytes-per-pixel) lag (spec 4.5.2)
    fbpp = max(1, (bit_depth // 8) * channels)
    fmt = {
        (8, 2): "png", (8, 6): "png", (8, 0): "png_gray",
        (16, 0): "png_gray16", (16, 2): "png_rgb16",
        (8, 4): "png_graya", (16, 4): "png_graya16",
        (16, 6): "png_rgba16",
    }.get((bit_depth, color_type), "png_palette")

    def to_pixels(line: bytes, w: int) -> list:
        vals = _png_row_samples(line, w, bit_depth, channels)
        if color_type == 3:
            return _png_apply_palette(vals, plte)
        return vals

    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if interlace == 0:
        stride = (width * bit_depth * channels + 7) // 8
        if len(raw) != (stride + 1) * height:
            raise ValueError(
                f"PNG raster size mismatch: inflated {len(raw)} bytes, "
                f"IHDR implies {(stride + 1) * height}"
            )
        rows = _png_unfilter_rows(raw, stride, height, fbpp)
        pixels = [px for line in rows for px in to_pixels(line, width)]
        return {"fmt": fmt, "width": width, "height": height, "pixels": pixels}
    # Adam7: seven independently-filtered sub-images, concatenated in the
    # one zlib stream; empty passes (zero width or height) contribute no
    # bytes, not even filter bytes, per the spec.  Each pass packs its
    # OWN rows (sub-byte padding restarts per pass row).
    img: list[list] = [[None] * width for _ in range(height)]
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        phh = (height - y0 + dy - 1) // dy
        if pw <= 0 or phh <= 0:
            continue
        pstride = (pw * bit_depth * channels + 7) // 8
        need = (pstride + 1) * phh
        sub = raw[off : off + need]
        if len(sub) < need:
            raise ValueError(
                "PNG raster size mismatch: interlaced stream ends "
                f"mid-pass ({len(raw) - off} bytes left, pass needs {need})"
            )
        off += need
        for j, line in enumerate(_png_unfilter_rows(sub, pstride, phh, fbpp)):
            orow = img[y0 + j * dy]
            for i, px in enumerate(to_pixels(line, pw)):
                orow[x0 + i * dx] = px
    if off != len(raw):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw) - off} bytes after the "
            "final Adam7 pass"
        )
    pixels = [px for row in img for px in row]
    return {"fmt": fmt, "width": width, "height": height, "pixels": pixels}


def decode_media(content: bytes, media_type: str, strict: bool = False):
    """Decode dispatch, sniffed from bytes (labels are untrusted).

    REAL pixel/sample decode for the formats a pure-Python decoder can
    honestly cover: 24-bit BMP, binary PPM, 16-bit PCM WAV, 8-bit
    RGB/RGBA PNG (stdlib zlib is the whole codec),
    GIF (sequential or four-pass interlaced), and JPEG through
    :func:`decode_jpeg_gray` (sequential, progressive, arithmetic,
    lossless and hierarchical processes); PNG covers sequential and
    Adam7 layouts.  The decoders also cover the PNG layout matrix
    (gray+alpha, RGBA16), compressed audio (G.711 both laws, IMA ADPCM, 8/24/32-bit
    PCM), RLE8 BMP, and baseline TIFF (both byte orders, strips,
    PackBits).  The remaining payload class (codec video) returns
    header metadata only --
    faking pixel output would be worse than refusing, so anything
    unrecognized still raises loudly.  A PNG/GIF/JPEG the real decoder
    rejects (unsupported variant or a header-only synthetic container)
    falls through to header metadata, mirroring the non-PCM WAV path.

    ``strict=True`` removes that fallthrough: a recognized container whose
    payload the real decoder rejects RAISES the decoder's ValueError
    instead of silently degrading to header metadata (VERDICT r15 "What's
    wrong" #2 -- every gated operator already guards the degradation with
    an fmt check; strict mode gives bare callers the same safety).
    """
    if content[:2] == b"BM":
        return decode_bmp(content)
    if content[:2] == b"P6":
        return decode_ppm(content)
    if content[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5"):
        return decode_pnm(content)
    if content[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return decode_tiff(content)
    if content.startswith(_PNG_MAGIC):
        try:
            return decode_png(content)
        except ValueError:
            if strict:
                raise
            pass  # unsupported/synthetic PNG: fall through to header metadata
    if content[:6] in (b"GIF87a", b"GIF89a"):
        try:
            return decode_gif(content)
        except ValueError:
            if strict:
                raise
            pass  # unsupported/synthetic GIF: fall through to header metadata
    if content[:2] == b"\xff\xd8":
        try:
            return decode_jpeg_gray(content)
        except ValueError:
            if strict:
                raise
            pass  # unsupported/synthetic JPEG: header metadata
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        try:
            return decode_wav_pcm(content)
        except ValueError:
            if strict:
                raise
            pass  # non-PCM WAV: fall through to header metadata
    header = parse_media_header(content)
    if header is not None:
        return header
    raise NotImplementedError(
        f"decoding {media_type!r} beyond container headers requires codec "
        "libraries (PIL/ffmpeg) not present in this environment; use "
        "extract_media_features / parse_media_header for header-level "
        "features"
    )


#: Output contract of :func:`sample_frames`.
FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_idx", T.LongType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def sample_frames(
    media: DataFrame,
    frame_size: int = 64,
    stride: int = 4,
    max_frames: int = 8,
) -> DataFrame:
    """Deterministic frame sampling over an opaque binary column.

    The video-pipeline analog: treat ``content`` as an array of
    ``frame_size``-byte frames, keep every ``stride``-th frame up to
    ``max_frames`` per document, and emit one row per sampled frame with
    its offset, raw bytes, and digest.  Real video would let the (stubbed)
    codec find keyframes; the byte-slicing version exercises the exact
    plumbing that matters on Spark -- a 1->N Arrow-batched ``mapInPandas``
    (each input row fans out to multiple output rows inside one batch, no
    explode/shuffle), a ``binary`` output column, and a typed schema
    contract -- and is fully oracle-checkable.

    Scale: narrow operator; output size is bounded by
    ``max_frames x frame_size`` per document regardless of media size,
    which is what keeps a frame-sample stage's shuffle footprint flat when
    the inputs are multi-GB videos.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "sample_idx": [], "frame_offset": [],
                "frame_bytes": [], "frame_digest": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:
                    continue  # NULL media: no frames (don't crash the stage)
                b = bytes(content)
                for k in range(max_frames):
                    off = k * stride * frame_size
                    if off >= len(b):
                        break
                    frame = b[off : off + frame_size]
                    out["doc_id"].append(doc_id)
                    out["sample_idx"].append(k)
                    out["frame_offset"].append(off)
                    out["frame_bytes"].append(frame)
                    out["frame_digest"].append(hashlib.md5(frame).hexdigest())
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return media.select("doc_id", "content").mapInPandas(
        batches, FRAME_SAMPLE_SCHEMA
    )


def sample_frames_mp4(media: DataFrame, max_frames: int = 8) -> DataFrame:
    """Frame sampling through a REAL container demux (r14): each
    document's bytes are muxed into a structurally-real ISO-BMFF file
    (full stsz/stsc/stco/stss sample tables) and the SYNC samples are
    extracted back by :func:`demux_mp4_samples` walking those tables --
    the exact pre-codec step a video pipeline runs, in place of
    :func:`sample_frames`'s raw byte slicing.  The sync-sample layout
    (every 4th 64-byte sample) reproduces the same frames as the byte
    slicer, so the two operators share one oracle; the demux path adds
    box-tree walking, table reconciliation, and extent checking to the
    gated surface.  The mux VARIANT cycles on doc_id (r15): stco /
    co64 64-bit offsets / largesize mdat / an irregular multi-run stsc
    chunking -- demuxed output is invariant across them (samples stay
    contiguous in mdat), so the single oracle externally gates every
    box-format branch real muxers emit.  Scale posture identical: 1->N
    Arrow-batched mapInPandas, output bounded by ``max_frames`` per
    document."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "sample_idx": [], "frame_offset": [],
                "frame_bytes": [], "frame_digest": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:
                    continue
                did, raw = int(doc_id), bytes(content)
                n_samples = (len(raw) + 63) // 64
                if did % 4 == 1:
                    blob = synth_mp4_samples(raw, co64=True)
                elif did % 4 == 2:
                    blob = synth_mp4_samples(raw, largesize_mdat=True)
                elif did % 4 == 3 and n_samples >= 3:
                    # irregular chunking -> multi-run stsc: alternate
                    # 1-sample and 2-sample chunks over the sample count
                    pc = []
                    left = n_samples
                    while left:
                        take = 1 if len(pc) % 2 == 0 else min(2, left)
                        pc.append(min(take, left))
                        left -= pc[-1]
                    blob = synth_mp4_samples(raw, per_chunk=pc)
                else:
                    blob = synth_mp4_samples(raw)
                for k, off, frame in demux_mp4_samples(blob, max_frames):
                    out["doc_id"].append(doc_id)
                    out["sample_idx"].append(k)
                    out["frame_offset"].append(off)
                    out["frame_bytes"].append(frame)
                    out["frame_digest"].append(hashlib.md5(frame).hexdigest())
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Header-level media features via Arrow-batched ``mapInPandas``.

    Features are chosen to be deterministic AND expressible in ANSI SQL, so
    the Python path itself is oracle-checked: byte length, md5 digest, and
    pseudo width/height derived from the byte length (stand-ins for the
    stubbed codec's real dimensions).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf["content"]
            # NULL media keeps its row with NULL features (matching SQL
            # NULL propagation -- octet_length(NULL)/md5(NULL) are NULL),
            # never a crash: a 100 TB crawl WILL contain null cells and
            # dropping documents in a feature stage would silently shrink
            # the corpus.  Nullable Int64/object dtypes carry the NULLs
            # through Arrow to the typed schema.
            n = content.map(len, na_action="ignore").astype("Int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n,
                    "digest": content.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest(),
                        na_action="ignore",
                    ),
                    "fake_width": (n % 640).astype("Int32"),
                    "fake_height": ((n * 7) % 480).astype("Int32"),
                }
            )

    return media.mapInPandas(batches, MEDIA_FEATURE_SCHEMA)


#: Output contract of :func:`media_headers`.
MEDIA_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def media_headers(docs: DataFrame) -> DataFrame:
    """Synthesize real PNG/JPEG/GIF/WAV containers around each document's
    bytes and run them through :func:`parse_media_header` -- one Arrow
    batch pass, synth and parse in the same task.

    The container and its encoded dimensions are DETERMINISTIC functions
    of (doc_id, text): fmt cycles on doc_id % 5; image width/height are
    doc_id % 640 + 1 and doc_id*7 % 480 + 1; WAV is 16-bit with
    channels = doc_id % 2 + 1, rate = 8000 * (doc_id % 3 + 1), and the
    UTF-8 text as sample data; MP4 carries an mvhd with timescale
    600 * (doc_id % 3 + 1) and duration (doc_id*37) % 100000 + 1 units.
    A SQL oracle therefore re-derives every
    output column arithmetically WITHOUT parsing bytes -- the hash gate
    proves parse(synth(x)) == x across ~N real container round-trips on
    the executors, which is exactly the coverage a header sniffer needs
    before it meets a real crawl.  Scale: narrow mapInPandas, no shuffle.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = [f.name for f in MEDIA_HEADER_SCHEMA.fields]
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(doc_id)
                payload = str(text).encode("utf-8")
                w, h = did % 640 + 1, did * 7 % 480 + 1
                kind = did % 5
                if kind == 0:
                    blob = synth_png(w, h, payload)
                elif kind == 1:
                    blob = synth_jpeg(w, h, payload)
                elif kind == 2:
                    blob = synth_gif(w, h, payload)
                elif kind == 3:
                    blob = synth_wav(did % 2 + 1, 8000 * (did % 3 + 1), 16, payload)
                else:
                    blob = synth_mp4(
                        600 * (did % 3 + 1), (did * 37) % 100000 + 1, payload
                    )
                hd = parse_media_header(blob) or {}
                rows.append(
                    (
                        did,
                        hd.get("fmt"),
                        hd.get("width"),
                        hd.get("height"),
                        hd.get("channels"),
                        hd.get("sample_rate"),
                        hd.get("duration_ms"),
                    )
                )
            pdf_out = pd.DataFrame(rows, columns=out_cols)
            yield pdf_out

    return docs.select("doc_id", "text").mapInPandas(batches, MEDIA_HEADER_SCHEMA)


#: Output contract of :func:`decode_stats`.
PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("sum_values", T.LongType()),
        T.StructField("min_value", T.IntegerType()),
        T.StructField("max_value", T.IntegerType()),
    ]
)


def _gate(synth, want: str, a: int, b: int, k: int, m: int, c: int, scale: int = 1):
    """One decode arm: ``did -> (synth(w, h, did), want)`` at
    ``w = scale * (did % a + b)``, ``h = scale * ((k * did) % m + c)``."""
    return lambda did: (
        synth(scale * (did % a + b), scale * ((k * did) % m + c), did),
        want,
    )


def _cycle(*arms):
    """Arms taken in turn on ``did % len(arms)``."""
    return lambda did: arms[did % len(arms)](did)


def _gif_frames(did: int) -> int:
    return did % 3 + 2


def _pcm_arm(did: int) -> tuple[bytes, str]:
    pcm = b"".join(
        (((7 * did + 13 * i) % 65536) - 32768).to_bytes(2, "little", signed=True)
        for i in range(did % 64 + 1)
    )
    return synth_wav(1, 8000, 16, pcm), "wav_pcm"


def _g711_arm(did: int) -> tuple[bytes, str]:
    law = "alaw" if did % 2 else "ulaw"
    return synth_wav_g711(did % 97 + 16, did, law), f"wav_{law}"


#: Every decode-stats gate: key -> ``did -> (blob, expected fmt)``.  The
#: registered query ``mm_<key>_stats`` pins each gate's synth classes and
#: dimension rules with a DuckDB oracle that re-derives every stat.
DECODE_GATES = {
    "pixel": _cycle(
        _gate(synth_bmp, "bmp", 16, 1, 7, 16, 1),
        _gate(synth_ppm, "ppm", 16, 1, 7, 16, 1),
        _pcm_arm,
        # sequential / Adam7 (and below, GIF four-pass) layouts alternate;
        # the decoded raster is identical, so one oracle gates both
        _gate(
            lambda w, h, d: synth_png_rgb(w, h, d, interlaced=d % 12 >= 6),
            "png", 16, 1, 7, 16, 1,
        ),
        _gate(
            lambda w, h, d: synth_gif_indexed(w, h, d, interlaced=d % 12 >= 6),
            "gif", 16, 1, 7, 16, 1,
        ),
        _gate(synth_jpeg_gray, "jpeg_gray", 2, 1, 7, 2, 1, scale=8),
    ),
    "jpeg_ac": _gate(synth_jpeg_gray_ac, "jpeg_gray", 3, 1, 5, 3, 1, scale=8),
    "jpeg_color": _gate(synth_jpeg_color, "jpeg_rgb", 3, 1, 5, 3, 1, scale=8),
    "jpeg_partial_mcu": _cycle(
        _gate(synth_jpeg_gray_ac, "jpeg_gray", 13, 3, 5, 11, 3),
        _gate(synth_jpeg_color_420, "jpeg_rgb", 19, 5, 3, 17, 5),
    ),
    "jpeg_progressive": _cycle(
        _gate(synth_jpeg_progressive, "jpeg_rgb", 3, 1, 5, 3, 1, scale=8),
        _gate(synth_jpeg_progressive_refined, "jpeg_gray", 3, 1, 5, 3, 1, scale=8),
    ),
    "jpeg_420": _gate(synth_jpeg_color_420, "jpeg_rgb", 2, 1, 3, 2, 1, scale=16),
    "png_filtered": _gate(synth_png_rgb_filtered, "png", 13, 4, 3, 11, 5),
    "jpeg_restart": _cycle(
        _gate(synth_jpeg_gray_restart, "jpeg_gray", 21, 4, 5, 17, 4),
        _gate(synth_jpeg_progressive_restart, "jpeg_gray", 19, 5, 3, 15, 5),
    ),
    "jpeg12": _gate(synth_jpeg_gray12, "jpeg_gray12", 21, 4, 3, 19, 4),
    "gif_anim": _gate(
        lambda w, h, d: synth_gif_animated(w, h, d, _gif_frames(d)),
        "gif_anim", 9, 4, 3, 7, 4,
    ),
    "png_types": _cycle(
        _gate(synth_png_gray16, "png_gray16", 11, 3, 5, 9, 3),
        _gate(synth_png_rgb16, "png_rgb16", 11, 3, 5, 9, 3),
        _gate(
            lambda w, h, d: synth_png_palette(w, h, d, (1, 2, 4, 8)[d % 4]),
            "png_palette", 11, 3, 5, 9, 3,
        ),
    ),
    "jpeg_color12": _gate(synth_jpeg_color12, "jpeg_rgb12", 17, 4, 7, 13, 4),
    "jpeg_arith": _gate(synth_jpeg_gray_arith, "jpeg_gray", 21, 4, 5, 17, 4),
    "jpeg_hier": _gate(synth_jpeg_gray_hier, "jpeg_gray_hier", 19, 4, 7, 15, 4),
    "jpeg_arith_prog": _gate(synth_jpeg_gray_arith_prog, "jpeg_gray", 21, 4, 3, 17, 4),
    "jpeg_lossless": _gate(
        synth_jpeg_gray_lossless, "jpeg_gray_lossless", 23, 3, 5, 19, 3
    ),
    "wav_codec": _g711_arm,
}


def _decode_stats_row(gate: str, did: int) -> tuple:
    """Synthesize document ``did``'s blob for ``gate``, decode it
    strictly, and return its :data:`PIXEL_STATS_SCHEMA` row.  Raises
    ``ValueError`` naming the gate and the document when the decoder
    returns another format, falls back to header metadata, or (animated
    GIF) composes the wrong number of frames."""
    blob, want = DECODE_GATES[gate](did)
    if want == "gif_anim":
        d = decode_gif_frames(blob)
        ok = d["n_frames"] == _gif_frames(did)
    else:
        d = decode_media(blob, "application/octet-stream", strict=True)
        ok = "pixels" in d or "samples" in d
    if d.get("fmt") != want or not ok:
        raise ValueError(
            f"{gate}_stats: wrong or header-only decode for doc "
            f"{did} (fmt={d.get('fmt')!r}, want {want!r}, "
            f"n_frames={d.get('n_frames')}) -- the decode must not "
            "silently degrade"
        )
    width, height = d.get("width"), d.get("height")
    if "samples" in d:
        vals = d["samples"]
        if gate == "wav_codec":  # reports its sample count as the width
            width, height = len(vals), 1
    elif "frames" in d:  # every composed full-canvas frame counts
        vals = [v for fr in d["frames"] for px in fr for v in px]
    elif isinstance(d["pixels"][0], tuple):  # RGB / palette: flatten
        vals = [v for px in d["pixels"] for v in px]
    else:  # grayscale: one value per pixel
        vals = d["pixels"]
    return (did, d["fmt"], width, height, len(vals), sum(vals), min(vals), max(vals))


def decode_stats(docs: DataFrame, gate: str) -> DataFrame:
    """REAL decode gate: per document, synthesize the media blob that
    ``DECODE_GATES[gate]`` derives from ``doc_id`` alone, run it back
    through the strict decoder, and emit exact integer statistics over
    the DECODED values (:data:`PIXEL_STATS_SCHEMA`).

    Because the synthesized content is a closed-form function of
    ``doc_id``, a SQL oracle re-derives every stat without parsing
    bytes, and the result hash proves decode(synth(x)) == x per row.
    All stats are integers, so there is no float drift.  Scale: one
    narrow Arrow-batched ``mapInPandas`` over ``doc_id``, no shuffle;
    stats, never pixels or samples, cross back into the JVM, so each
    output row stays O(1) wide whatever the media size.  The closure
    holds only the gate key: the table and :func:`_decode_stats_row`
    ship to workers by reference.
    """
    if gate not in DECODE_GATES:
        raise ValueError(f"unknown decode gate {gate!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [_decode_stats_row(gate, int(did)) for did in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=PIXEL_STATS_SCHEMA.fieldNames())

    return docs.select("doc_id").mapInPandas(batches, PIXEL_STATS_SCHEMA)
