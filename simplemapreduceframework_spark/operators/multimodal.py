"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque binary columns with typed metadata, processed by Arrow-batched
mapInPandas decoders.

The container has no image/audio libraries, so the decoders are real
pure-Python implementations shipped in this file: GIF (`_lzw_decode`),
PNG (zlib inflate + `_unfilter_png`), JPEG — baseline at any integer
sampling, progressive and lossless, all through one frame decoder
(`_decode_jpeg_pixels`: one marker walk and header parse, Huffman +
dequant + real 8x8 IDCT, Annex H prediction for SOF3), BMP, WAV/ADPCM,
and full FLAC. Only arithmetic/hierarchical/differential JPEG and
MP3/AAC remain behind documented NotImplementedError gates (the
PIL/ffmpeg integration boundary). The Spark-side plumbing is equally
real and tested: binary payload column, metadata struct, mapInPandas
batch shape, and the partitioning story (payloads never shuffle;
feature extraction is row-local so it scales linearly).

Each synthesize->decode codec query is one row of `_CODEC_QUERIES`
(payload formula, decoder, oracle, docstring), registered by one loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

# Schema produced by the fake decoder: keep in sync with decode_features.
FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, checksum bigint, "
    "width int, height int, format string"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    Stand-in for reading real media bytes: payload = utf-8 bytes of the
    text (deterministic). The metadata struct mirrors what an image
    source would carry (format/width/height nullable until decode).
    """
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.octet_length(F.col("text")).cast("int").alias("n_bytes"),
            F.col("source").alias("uri"),
        ).alias("meta"),
    )


def decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched fake decoder (mapInPandas body).

    Deterministic per-payload features: byte length, a content checksum
    (first 8 hex digits of the payload md5 as an int — portable, so the
    whole decode is oracle-checkable in SQL), and fake width/height
    derived from the checksum. A real deployment swaps the body for
    PIL/ffmpeg calls; the batch shape, schema, and partitioning are
    exactly what that real decoder would use.
    """
    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        # NULL payloads (e.g. NULL text upstream) propagate as NULL
        # features — matching the oracle, where every md5/length
        # expression of NULL is NULL — instead of crashing len(None).
        n_bytes = payloads.map(len, na_action="ignore")
        checksum = payloads.map(
            lambda b: int(hashlib.md5(bytes(b)).hexdigest()[:8], 16),
            na_action="ignore",
        )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes.astype("Int64"),
                "checksum": checksum.astype("Int64"),
                "width": (checksum % 1920).astype("Int32"),
                "height": (checksum % 1080).astype("Int32"),
                "format": "fake/raw",
            }
        )


# Real-decode output schema: dimensions parsed from actual file headers.
REAL_FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, format string"
)


def _parse_bmp(b: bytes) -> tuple[int, int]:
    """Width/height from a BMP's BITMAPINFOHEADER (offsets 18/22,
    little-endian int32). Top-down BMPs store a negative height."""
    import struct

    w = struct.unpack_from("<i", b, 18)[0]
    h = struct.unpack_from("<i", b, 22)[0]
    return w, abs(h)


def _parse_ppm(b: bytes) -> tuple[int, int]:
    """Width/height from a netpbm (P6/P3 PPM, P5/P2 PGM) header: the
    first two header integers (_netpbm_data_offset's walk)."""
    return _netpbm_data_offset(b)[:2]


def _parse_png(b: bytes) -> tuple[int, int]:
    """Width/height from a PNG's IHDR chunk: big-endian u32 pair at
    offsets 16/20 (8-byte signature + 4-byte length + 'IHDR')."""
    import struct

    return struct.unpack_from(">II", b, 16)


def _parse_gif(b: bytes) -> tuple[int, int]:
    """Width/height from a GIF's logical screen descriptor:
    little-endian u16 pair right after the 6-byte version magic."""
    import struct

    return struct.unpack_from("<HH", b, 6)


def _parse_jpeg(b: bytes) -> tuple[int, int]:
    """Width/height from a JPEG's first SOF marker, found by the shared
    marker walk (_jpeg_markers): big-endian u16 height/width at SOF
    body offsets 1/3."""
    import struct

    for marker, seg, _ in _jpeg_markers(b):
        if marker in _JPEG_SOFS:
            h, w = struct.unpack_from(">HH", seg, 1)
            return w, h
    raise ValueError("no SOF marker found")


def _parse_header(b: bytes) -> tuple[str, int, int]:
    """(format, width, height) from the header of a supported codec."""
    if b[:2] == b"BM":
        return ("bmp", *_parse_bmp(b))
    if b[:2] in (b"P6", b"P3"):
        return ("ppm", *_parse_ppm(b))
    if b[:2] in (b"P5", b"P2"):
        return ("pgm", *_parse_ppm(b))
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return ("png", *_parse_png(b))
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return ("gif", *_parse_gif(b))
    if b[:2] == b"\xff\xd8":
        return ("jpeg", *_parse_jpeg(b))
    raise NotImplementedError(
        f"unsupported codec (magic {b[:2]!r}): full pixel "
        "decode and audio/video require PIL/ffmpeg — not "
        "available here"
    )


def _decode_identified(decode: Callable[[bytes], Any], b: bytes, doc_id):
    """``decode(b)`` for the row loops of decode_real,
    decode_real_pixels and decode_real_audio: a truncated or corrupt
    payload fails loud and identified (doc id and size), not with a raw
    struct/zlib/index error deep in the worker. NotImplementedError (an
    unsupported codec) passes through unchanged."""
    try:
        return decode(b)
    except NotImplementedError:
        raise
    except Exception as exc:
        raise ValueError(
            f"malformed {b[:2]!r} payload for doc {doc_id} "
            f"({len(b)} bytes): {exc}"
        ) from exc


def decode_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL codec decode for every format a pure-stdlib header parse
    can handle — BMP, netpbm (PPM/PGM), PNG, GIF, and JPEG dimension
    markers — exercising the exact mapInPandas plumbing a PIL/ffmpeg
    decoder would use (binary in, typed features out, row-local, no
    shuffle). Full pixel decode and audio/video formats raise
    NotImplementedError: that is the documented integration point
    where a cluster image adds PIL/ffmpeg."""
    for pdf in batches:
        out = {"doc_id": [], "n_bytes": [], "width": [], "height": [], "format": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:  # NULL payload -> NULL features
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(None)
                out["width"].append(None)
                out["height"].append(None)
                out["format"].append(None)
                continue
            b = bytes(payload)
            fmt, w, h = _decode_identified(_parse_header, b, doc_id)
            out["doc_id"].append(doc_id)
            out["n_bytes"].append(len(b))
            out["width"].append(w)
            out["height"].append(h)
            out["format"].append(fmt)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_bytes": pd.Series(out["n_bytes"], dtype="Int64"),
                "width": pd.Series(out["width"], dtype="Int32"),
                "height": pd.Series(out["height"], dtype="Int32"),
                "format": pd.Series(out["format"], dtype="object"),
            }
        )


# Pixel-level decode output: adds exact pixel statistics to the header
# features — the gate that proves bytes were actually decoded, not just
# headers skimmed.
REAL_PIXEL_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, format string, "
    "n_pixels bigint, pixel_sum bigint, mean_pixel double"
)


def _netpbm_data_offset(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, maxval, data_offset) for a netpbm file: three
    whitespace-separated header integers ('#' comments legal anywhere
    in the header); a binary raster begins after exactly ONE whitespace
    byte following maxval (netpbm spec)."""
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(b[start:pos]))
    return vals[0], vals[1], vals[2], pos + 1


def _unfilter_png(raw: bytes, w: int, h: int, channels: int) -> bytes:
    """Reverse PNG per-scanline filtering (spec §9 Filtering): each
    scanline leads with a filter-type byte; types 0-4 (None / Sub / Up
    / Average / Paeth) all implemented, so this decodes any 8-bit
    filtered stream, not just the level-0/filter-0 files make_png
    writes."""
    stride = w * channels
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(h):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                up = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = (
                    a
                    if pa <= pb and pa <= pc
                    else (up if pb <= pc else c)
                )
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += line
        prev = line
    return bytes(out)


def decode_pixels(b: bytes) -> tuple[str, int, int, int, int]:
    """FULL pixel decode, pure stdlib: returns (format, width, height,
    channels, pixel_sum) with pixel_sum the exact integer sum of every
    decoded sample byte (padding and filter bytes excluded).

    Formats: BMP (24-bit uncompressed, bottom-up or top-down, 4-byte
    row padding stripped), binary PPM (P6) / PGM (P5), PNG (8-bit
    RGB, all five scanline filters, multi-IDAT, via zlib), GIF
    (interlaced or not, full LZW inflate + palette lookup — see
    _decode_gif_pixels), and JPEG: baseline grayscale or color at
    any sampling whose component factors divide the maxima (full
    Huffman + dequant + IDCT — see _decode_jpeg_pixels), progressive
    and lossless. The module docstring names the formats that raise
    NotImplementedError."""
    import struct
    import zlib

    if b[:2] == b"BM":
        w, h = _parse_bmp(b)
        offset = struct.unpack_from("<I", b, 10)[0]
        bpp = struct.unpack_from("<H", b, 28)[0]
        if bpp != 24:
            raise NotImplementedError(f"{bpp}-bit BMP needs a palette codec")
        stride = ((3 * w + 3) // 4) * 4
        if h and len(b) < offset + (h - 1) * stride + 3 * w:
            raise ValueError(
                f"BMP raster truncated: {len(b)} bytes, header declares "
                f"{w}x{h} at offset {offset}"
            )
        total = 0
        for r in range(h):
            row = b[offset + r * stride : offset + r * stride + 3 * w]
            total += int(np.frombuffer(row, dtype=np.uint8).sum())
        return "bmp", w, h, 3, total
    if b[:2] in (b"P6", b"P5"):
        w, h, _maxval, off = _netpbm_data_offset(b)
        ch = 3 if b[:2] == b"P6" else 1
        data = b[off : off + ch * w * h]
        if len(data) < ch * w * h:
            raise ValueError(
                f"netpbm raster truncated: {len(data)} of {ch * w * h} bytes"
            )
        total = int(np.frombuffer(data, dtype=np.uint8).sum())
        fmt = "ppm" if ch == 3 else "pgm"
        return fmt, w, h, ch, total
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = _parse_png(b)
        bit_depth, color_type = b[24], b[25]
        if (bit_depth, color_type) != (8, 2):
            raise NotImplementedError(
                f"PNG bit depth {bit_depth} / color type {color_type}: "
                "only 8-bit RGB implemented"
            )
        idat = bytearray()
        pos = 8
        while pos < len(b):
            (length,) = struct.unpack_from(">I", b, pos)
            typ = b[pos + 4 : pos + 8]
            if typ == b"IDAT":
                idat += b[pos + 8 : pos + 8 + length]
            pos += 12 + length
        raw = zlib.decompress(bytes(idat))
        pixels = _unfilter_png(raw, w, h, 3)
        total = int(np.frombuffer(pixels, dtype=np.uint8).sum())
        return "png", w, h, 3, total
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h, total = _decode_gif_pixels(b)
        return "gif", w, h, 3, total
    if b[:2] == b"\xff\xd8":
        w, h, ch, total = _decode_jpeg_pixels(b)
        return "jpeg", w, h, ch, total
    raise NotImplementedError(
        f"pixel decode for magic {b[:2]!r} requires PIL/ffmpeg — "
        "not available here (dimensions via decode_real)"
    )


def decode_real_pixels(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Pixel-level real decode (mapInPandas body): header features PLUS
    exact pixel count/sum/mean per image. Row-local, no shuffle; NULL
    payloads yield NULL features (quarantine row, same policy as
    decode_real)."""
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "n_bytes", "width", "height", "format",
            "n_pixels", "pixel_sum", "channels",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rows["doc_id"].append(doc_id)
            if payload is None:
                for k in ("n_bytes", "width", "height", "format",
                          "n_pixels", "pixel_sum", "channels"):
                    rows[k].append(None)
                continue
            b = bytes(payload)
            fmt, w, h, ch, total = _decode_identified(decode_pixels, b, doc_id)
            rows["n_bytes"].append(len(b))
            rows["width"].append(w)
            rows["height"].append(h)
            rows["format"].append(fmt)
            rows["n_pixels"].append(w * h)
            rows["pixel_sum"].append(total)
            # the codec's own channel count — never re-derived from
            # the format name (a second source of truth that had to be
            # patched when JPEG arrived; review r7)
            rows["channels"].append(ch)
        n_pix = pd.Series(rows["n_pixels"], dtype="Int64")
        psum = pd.Series(rows["pixel_sum"], dtype="Int64")
        channels = pd.Series(rows["channels"], dtype="Int64")
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "n_bytes": pd.Series(rows["n_bytes"], dtype="Int64"),
                "width": pd.Series(rows["width"], dtype="Int32"),
                "height": pd.Series(rows["height"], dtype="Int32"),
                "format": pd.Series(rows["format"], dtype="object"),
                "n_pixels": n_pix,
                "pixel_sum": psum,
                "mean_pixel": (
                    psum.astype("Float64")
                    / (n_pix * channels).astype("Float64")
                ),
            }
        )


def make_bmp(width: int, height: int, fill: int = 0) -> bytes:
    """A valid 24-bit uncompressed BMP, pure stdlib: 14-byte file
    header + 40-byte BITMAPINFOHEADER + rows padded to 4 bytes."""
    import struct

    row = ((3 * width + 3) // 4) * 4
    size = 54 + row * height
    file_header = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, row * height, 2835, 2835, 0, 0
    )
    return file_header + info_header + bytes([fill % 256]) * (row * height)


def make_ppm(width: int, height: int, fill: int = 0) -> bytes:
    """A valid binary (P6) PPM, pure stdlib: ASCII header + raw RGB."""
    return f"P6\n{width} {height}\n255\n".encode() + bytes([fill % 256]) * (
        3 * width * height
    )


def make_pgm(width: int, height: int, fill: int = 0) -> bytes:
    """A valid binary (P5) PGM: ASCII header + raw 8-bit grayscale."""
    return f"P5\n{width} {height}\n255\n".encode() + bytes([fill % 256]) * (
        width * height
    )


def make_png(width: int, height: int, fill: int = 0) -> bytes:
    """A REAL, viewer-decodable 8-bit RGB PNG, pure stdlib: signature +
    IHDR + one IDAT holding the filtered scanlines as a STORED-deflate
    zlib stream (compress level 0) + IEND, CRCs via zlib.crc32.

    Level-0 deflate keeps the file size a closed formula — for
    scanline bytes L = height * (3*width + 1) < 65535 the zlib stream
    is exactly L + 11 bytes, so total = 68 + L — which is what lets
    the DuckDB oracle recompute n_bytes from doc_id alone."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = (b"\x00" + bytes([fill % 256]) * (3 * width)) * height
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 0))
        + chunk(b"IEND", b"")
    )


# memoized LZW base tables (per min_code_size) and the constant
# 256-entry grayscale color table make_gif always emits
_LZW_BASE_TABLES: dict[int, list[bytes]] = {}
_GIF_GRAY_GCT = bytes(v for i in range(256) for v in (i, i, i))


def _lzw_encode(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW compress (spec appendix F): variable code width
    starting at min_code_size+1, LSB-first bit packing, CLEAR emitted
    up front, table frozen at 4096 entries (spec-legal: decoders stop
    adding in lockstep). Encoder grows the code width when next_code
    EXCEEDS 2**width — one step after the decoder's == trigger, because
    the decoder's table trails the encoder's by exactly one entry."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # dictionary keys are (prefix code, next byte) pairs — the classic
    # exact-equivalent representation of the string table (every table
    # string is a previously-emitted string plus one byte), avoiding a
    # bytes concatenation per input byte; emitted codes are identical
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    width = min_code_size + 1

    out = bytearray()
    append = out.append
    acc = 0  # bit accumulator, LSB-first
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    cur = -1  # code of the current prefix; -1 = empty
    for byte in data:
        if cur < 0:
            cur = byte  # single bytes are their own codes
            continue
        key = (cur, byte)
        nxt = table.get(key)
        if nxt is not None:
            cur = nxt
            continue
        emit(cur, width)
        if next_code < 4096:
            table[key] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        cur = byte
    if cur >= 0:
        emit(cur, width)
    emit(eoi, width)
    if nbits:
        append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decompress: the inverse of _lzw_encode, but a
    GENERAL decoder (handles CLEAR anywhere, the code==next_code
    self-reference case, frozen-at-4096 tables). Decoder grows the code
    width when next_code REACHES 2**width — see _lzw_encode for why the
    triggers differ by one."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    # contiguous LIST table (codes are assigned densely, so the code's
    # index IS its slot; clear/eoi hold placeholders) — a fresh base
    # list copies from a memoized template instead of rebuilding 256
    # one-byte entries per decode/CLEAR. Decoded bytes identical.
    base = _LZW_BASE_TABLES.get(min_code_size)
    if base is None:
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        _LZW_BASE_TABLES[min_code_size] = base
    table = list(base)
    next_code = eoi + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits:
        byte0 = bitpos // 8
        chunk = int.from_bytes(data[byte0 : byte0 + 3], "little")
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            width = min_code_size + 1
            table = list(base)
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        else:
            if code < next_code:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]  # the KwKwK self-reference case
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            if next_code < 4096:
                table.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        out += entry
        prev = entry
    return bytes(out)


def _gif_interlace_order(height: int) -> list[int]:
    """Display row index for each STORED row of an interlaced GIF, in
    storage order: the four spec passes start at rows 0/4/2/1 with
    strides 8/8/4/2."""
    return [
        y
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for y in range(start, height, step)
    ]


def make_gif(
    width: int, height: int, fill: int = 0, interlace: bool = False
) -> bytes:
    """A REAL, viewer-decodable GIF89a, pure stdlib: logical screen
    descriptor, 256-entry grayscale global color table (entry i is
    (i,i,i)), image descriptor, and a genuine LZW-compressed index
    stream in 255-byte sub-blocks. Pixel (x, y) gets index
    ``fill % 256`` on even (x+y) cells and ``(fill*7 + 13) % 256`` on
    odd cells — a checkerboard, so the LZW table actually builds
    multi-symbol entries (a constant raster would exercise only runs)
    while the pixel sum stays closed-form for the oracle:
    3 * (ceil(w*h/2)*a + floor(w*h/2)*b). With ``interlace`` the
    rows are stored in the spec's four-pass order and the descriptor
    flag is set — the decoder must scatter them back."""
    import struct

    a = fill % 256
    b = (fill * 7 + 13) % 256
    # the checkerboard has period 2 in y: build the two distinct rows
    # once and alternate (identical bytes to the per-cell genexpr)
    pair = bytes([a, b] * ((width + 1) // 2))
    even_row = pair[:width]
    odd_row = bytes([b, a] * ((width + 1) // 2))[:width]
    rows = [even_row if y % 2 == 0 else odd_row for y in range(height)]
    if interlace:
        rows = [rows[y] for y in _gif_interlace_order(height)]
    indices = b"".join(rows)
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    gct = _GIF_GRAY_GCT
    img_desc = b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, width, height, 0x40 if interlace else 0
    )
    lzw = _lzw_encode(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        part = lzw[i : i + 255]
        blocks.append(len(part))
        blocks += part
    blocks.append(0)  # block terminator
    return (
        b"GIF89a" + lsd + gct + img_desc + b"\x08" + bytes(blocks) + b"\x3b"
    )


def _decode_gif_pixels(b: bytes) -> tuple[int, int, int]:
    """(width, height, pixel_sum) for a GIF's FIRST image: block walk,
    LZW inflate, deinterlace if flagged, palette RGB sum per pixel."""
    iw, ih, indices, pal = _decode_gif_image(b)
    rgb = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    total = int(rgb[indices].sum())
    return iw, ih, total


def _decode_gif_image(b: bytes) -> "tuple[int, int, object, bytes]":
    """(width, height, index raster in DISPLAY row order, palette) for
    a GIF's FIRST image: walks the block structure (extensions skipped
    by sub-block length), inflates the LZW index stream, and — for
    interlaced images — scatters the four-pass storage rows back to
    their display positions (_gif_interlace_order)."""
    import struct

    w, h = _parse_gif(b)
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = b[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(b):
        intro = b[pos]
        if intro == 0x21:  # extension: label + sub-blocks
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif intro == 0x2C:  # image descriptor
            _, _, iw, ih, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = b[pos : pos + 3 * n]
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            mcs = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos] != 0:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = np.frombuffer(_lzw_decode(bytes(lzw), mcs), np.uint8)
            if len(indices) != iw * ih:
                raise ValueError(
                    f"GIF raster short: {len(indices)} != {iw * ih}"
                )
            if ipacked & 0x40:  # deinterlace: scatter stored -> display
                stored = indices.reshape(ih, iw)
                display = np.empty_like(stored)
                display[_gif_interlace_order(ih)] = stored
                indices = display.reshape(-1)
            return iw, ih, indices, pal
        elif intro == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block introducer {intro:#x}")
    raise ValueError("GIF contains no image data")


# Baseline JPEG (ITU T.81): zigzag scan order and the Annex K "typical"
# luminance Huffman tables — spec-published constants every baseline
# codec ships, spelled from the standard, not copied from any codebase.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
# Quant steps make_jpeg writes: DC step 8 makes the quantized DC of a
# CONSTANT block exactly its level-shifted value (DC coefficient of a
# constant-v block is 8v; round(8v/8) = v, integers throughout), so the
# whole encode->decode roundtrip is lossless for block-constant rasters
# and the pixel-sum oracle stays closed-form. AC step is irrelevant to
# those blocks (all AC = 0) but must still be honest in the DQT — the
# decoder dequantizes with whatever the file declares.
_JPEG_QDC = 8
_JPEG_QAC = 16


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical JPEG Huffman assignment (T.81 C.2): value -> (code,
    length). Codes count up within a length; shift left moving to the
    next length."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegHuffTable(dict):
    """(length, code) -> value decode dict, plus a 256-entry fast
    lookup: ``lut[next 8 bits] = (value, code length)`` for every code
    of <= 8 bits (all Annex K DC/AC codes a hot loop actually meets),
    ``None`` where the prefix belongs to a longer code — the reader
    then falls back to the exact bit-by-bit walk. Pure per-task-work
    speedup (guide §1.2 step 2): one table probe replaces up to 8
    reader calls + dict probes per symbol, decoded values unchanged."""

    __slots__ = ("lut",)

    def __init__(self, codes: dict[tuple[int, int], int]) -> None:
        super().__init__(codes)
        lut: list[tuple[int, int] | None] = [None] * 256
        for (length, code), val in codes.items():
            if length <= 8:
                lo = code << (8 - length)
                for k in range(lo, lo + (1 << (8 - length))):
                    lut[k] = (val, length)
        self.lut = lut


# Decode tables memoize on their DHT spec: a decode pass over a batch
# of files meets the same few tables (the Annex K set, or one custom
# table) thousands of times, and building the canonical assignment +
# LUT per file costs more than the entropy decode it serves. Bounded:
# past the cap each new spec evicts the newest entry, so the tables a
# pass met first (the hot Annex K set) survive a flood of one-off specs.
_JPEG_HUFF_TABLE_CACHE: dict[tuple[bytes, bytes], "_JpegHuffTable"] = {}
_JPEG_HUFF_TABLE_CAP = 64


def _jpeg_huff_decode_table(
    bits: Sequence[int], vals: Sequence[int]
) -> "_JpegHuffTable":
    """(length, code) -> value, the decode-side inverse of
    _jpeg_huff_codes (with the fast-probe LUT attached)."""
    key = (bytes(bits), bytes(vals))
    table = _JPEG_HUFF_TABLE_CACHE.get(key)
    if table is None:
        if len(_JPEG_HUFF_TABLE_CACHE) >= _JPEG_HUFF_TABLE_CAP:
            _JPEG_HUFF_TABLE_CACHE.popitem()
        table = _JpegHuffTable(
            {
                (length, code): val
                for val, (code, length) in _jpeg_huff_codes(
                    bits, vals
                ).items()
            }
        )
        _JPEG_HUFF_TABLE_CACHE[key] = table
    return table


# Encode-side Huffman tables (value -> (code, length)), built once at
# import: every synthesized payload uses them.
_JPEG_DC_CODES = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_CODES = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
# The Annex K AC table has no EOBn (0x10..0xE0) codes — those are
# progressive-only, so progressive encoders ship custom tables.
# Canonical 4-bit table over EOB0..EOB7 + ZRL (codes 0000..1000).
_JPEG_EOBRUN_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0x50, 0x60, 0x70, 0xF0]
_JPEG_EOBRUN_BITS = [0, 0, 0, 9] + [0] * 12
_JPEG_EOBRUN_CODES = _jpeg_huff_codes(_JPEG_EOBRUN_BITS, _JPEG_EOBRUN_VALS)


def _jpeg_dc_code(diff: int) -> tuple[int, int]:
    """(bits, length) of one DC difference: its size category's Huffman
    code, then the low ``size`` bits of the value (negative values as
    diff + 2^size - 1, T.81 F.1.2.1)."""
    s = abs(diff).bit_length()
    code, ln = _JPEG_DC_CODES[s]
    return (code << s) | (diff if diff >= 0 else diff + (1 << s) - 1), ln + s


# A constant block's whole entropy code: DC difference, then EOB (all
# AC zero), for every difference two level-shifted 8-bit values can have.
_EOB_CODE, _EOB_LEN = _JPEG_AC_CODES[0x00]
_JPEG_DC_EOB = {
    d: ((code << _EOB_LEN) | _EOB_CODE, ln + _EOB_LEN)
    for d in range(-255, 256)
    for code, ln in [_jpeg_dc_code(d)]
}


def _jpeg_scan_writer():
    """An entropy-coded segment under construction: ``emit(bits, n)``
    appends n bits MSB-first with 0xFF byte stuffing and ``pad()``
    fills the last partial byte with 1-bits; both write into ``scan``."""
    scan = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, n: int) -> None:
        nonlocal acc, nbits
        acc = (acc << n) | code
        nbits += n
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0)  # T.81 byte stuffing
        acc &= (1 << nbits) - 1

    def pad() -> None:
        if nbits:
            emit((1 << (8 - nbits)) - 1, 8 - nbits)

    return scan, emit, pad


def _jpeg_segment(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, the marker code, the big-endian length
    (counting itself) and the body."""
    return bytes((0xFF, marker)) + (2 + len(body)).to_bytes(2, "big") + body


def _jpeg_sof(marker: int, width: int, height: int, sampling: tuple) -> bytes:
    """SOFn with 8-bit samples: component i+1 gets sampling byte
    ``sampling[i]`` (H<<4 | V) and quantization table 0."""
    body = bytes([8, *height.to_bytes(2, "big"), *width.to_bytes(2, "big"),
                  len(sampling)])
    for i, hv in enumerate(sampling, 1):
        body += bytes((i, hv, 0))
    return _jpeg_segment(marker, body)


def _jpeg_dht(table: int, bits: list[int], vals: list[int]) -> bytes:
    """DHT for one table (class << 4 | id)."""
    return _jpeg_segment(0xC4, bytes([table, *bits, *vals]))


def _jpeg_sos(tables: tuple, ss: int, se: int, ah_al: int = 0) -> bytes:
    """SOS over components 1..len(tables), component i+1 bound to the
    DC<<4 | AC table pair ``tables[i]``."""
    body = bytes([len(tables)])
    for i, t in enumerate(tables, 1):
        body += bytes((i, t))
    return _jpeg_segment(0xDA, body + bytes((ss, se, ah_al)))


_JPEG_SOI = b"\xff\xd8"
_JPEG_EOI = b"\xff\xd9"
_JPEG_DQT = _jpeg_segment(0xDB, bytes([0x00, _JPEG_QDC] + [_JPEG_QAC] * 63))
_JPEG_DHT_DC = _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_DHT_AC = _jpeg_dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)


def _jpeg_checkerboard(width: int, height: int, fill: int) -> list[list[int]]:
    """The synthesized luma raster, one value per 8x8 block ([by][bx]):
    ``fill % 256`` where bx+by is even, else ``(fill*7+13) % 256``."""
    a = fill % 256
    b = (fill * 7 + 13) % 256
    return [
        [a if (bx + by) % 2 == 0 else b for bx in range(width // 8)]
        for by in range(height // 8)
    ]


def make_jpeg(
    width: int,
    height: int,
    fill: int = 0,
    restart_interval: int = 0,
    blocks: list[list[int]] | None = None,
    sampling: tuple[int, int] | None = None,
) -> bytes:
    """A REAL, viewer-decodable baseline JPEG (SOF0), pure stdlib: DQT,
    SOF0, the two Annex K luminance Huffman tables, DRI when a restart
    interval is requested, and a genuine MSB-first entropy-coded scan
    with 0xFF byte stuffing and RSTn markers.

    ``sampling=None`` writes grayscale. ``(h, v)`` writes Y/Cb/Cr with
    luma sampling h x v and 1x1 chroma — (1, 1) is 4:4:4, (2, 2) 4:2:0,
    (2, 1) 4:2:2 — so each MCU interleaves h*v luma blocks (row-major)
    then one Cb and one Cr block, with per-component DC predictors and
    shared tables; dimensions must be whole MCUs.

    The luma raster is a BLOCK-level checkerboard: 8x8 block (bx, by)
    is the constant ``fill % 256`` when (bx+by) is even, else
    ``(fill*7+13) % 256``; chroma is constant per image
    (``(fill*31+7) % 256`` / ``(fill*17+3) % 256``). Constant blocks
    make the lossy pipeline exactly invertible (see _JPEG_QDC), so
    every DC difference is a real Huffman-coded value yet the decoded
    pixel sum has a closed form: 64 * (n_even*a + (W*H - n_even)*b)
    over the W x H block grid with n_even = (W*H + (W%2)*(H%2)) // 2
    for grayscale, the same through the pinned floor(x+0.5)
    YCbCr->RGB conversion for color (replication upsampling of
    constant chroma is exact). An explicit ``blocks`` grid (row-major
    [by][bx] 0-255 luma values) overrides the checkerboard — arbitrary
    block-constant rasters stay exactly invertible, which is what the
    hypothesis roundtrip test sweeps."""
    h_samp, v_samp = sampling or (1, 1)
    if width % (8 * h_samp) or height % (8 * v_samp):
        raise ValueError(
            f"make_jpeg emits whole {8 * h_samp}x{8 * v_samp} MCUs only"
        )
    if blocks is None:
        blocks = _jpeg_checkerboard(width, height, fill)
    chroma = () if sampling is None else (
        (fill * 31 + 7) % 256 - 128, (fill * 17 + 3) % 256 - 128,
    )
    dc_eob = _JPEG_DC_EOB
    scan, emit, pad = _jpeg_scan_writer()
    preds = [0, 0, 0]
    rst = 0
    mcu = 0
    for my in range(height // (8 * v_samp)):
        rows = blocks[my * v_samp : (my + 1) * v_samp]
        for mx in range(width // (8 * h_samp)):
            if restart_interval and mcu and mcu % restart_interval == 0:
                pad()
                scan += bytes((0xFF, 0xD0 + rst % 8))
                rst += 1
                preds = [0, 0, 0]
            pred = preds[0]
            for row in rows:
                for v in row[mx * h_samp : (mx + 1) * h_samp]:
                    v = v % 256 - 128
                    code, n = dc_eob[v - pred]
                    emit(code, n)
                    pred = v
            preds[0] = pred
            for ci, v in enumerate(chroma, 1):
                code, n = dc_eob[v - preds[ci]]
                emit(code, n)
                preds[ci] = v
            mcu += 1
    pad()
    comps = (0x11,) if sampling is None else (
        (h_samp << 4) | v_samp, 0x11, 0x11,
    )
    return b"".join([
        _JPEG_SOI,
        _JPEG_DQT,
        _jpeg_sof(0xC0, width, height, comps),
        _JPEG_DHT_DC,
        _JPEG_DHT_AC,
        _jpeg_segment(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval else b"",
        _jpeg_sos((0x00,) * len(comps), 0, 63),
        bytes(scan),
        _JPEG_EOI,
    ])


def make_jpeg_progressive(width: int, height: int, fill: int = 0) -> bytes:
    """A REAL PROGRESSIVE JPEG (SOF2, grayscale), pure stdlib, using
    both progressive mechanisms: SUCCESSIVE APPROXIMATION on DC (a
    first scan at Al=1 sending coeff>>1 as Huffman-coded diffs, then a
    refinement scan at Ah=1/Al=0 sending one raw bit per block) and
    SPECTRAL SELECTION on AC (one scan covering band 1..63 whose
    all-zero coefficients compress to a single EOBRUN spanning every
    block — the progressive-only EOBn code baseline JPEG doesn't
    have). Same block-checkerboard raster and quantization convention
    as make_jpeg, so the decoded pixel sum keeps the same closed
    form."""
    if width % 8 or height % 8:
        raise ValueError("make_jpeg_progressive emits whole 8x8 blocks")
    bw, bh = width // 8, height // 8
    values = [
        v - 128 for row in _jpeg_checkerboard(width, height, fill) for v in row
    ]

    def coded_scan(emitter) -> bytes:
        scan, emit, pad = _jpeg_scan_writer()
        emitter(emit)
        pad()
        return bytes(scan)

    def dc_first(emit):  # Ss=0 Se=0 Ah=0 Al=1: diffs of coeff>>1
        pred = 0
        for v in values:
            hi = v >> 1  # arithmetic shift = T.81 DC point transform
            code, n = _jpeg_dc_code(hi - pred)
            emit(code, n)
            pred = hi

    def dc_refine(emit):  # Ah=1 Al=0: one raw bit (coeff bit 0)
        for v in values:
            emit(v & 1, 1)

    def ac_first(emit):  # Ss=1 Se=63 Ah=0 Al=0: ONE EOBRUN, all blocks
        n = bw * bh
        r = n.bit_length() - 1
        code, ln = _JPEG_EOBRUN_CODES[r << 4]
        emit(code, ln)
        if r:
            emit(n - (1 << r), r)

    return b"".join([
        _JPEG_SOI,
        _JPEG_DQT,
        _jpeg_sof(0xC2, width, height, (0x11,)),  # SOF2: progressive DCT
        _JPEG_DHT_DC,
        _JPEG_DHT_AC,
        _jpeg_sos((0x00,), 0, 0, 0x01),
        coded_scan(dc_first),
        _jpeg_sos((0x00,), 0, 0, 0x10),  # DC refinement: no tables used
        coded_scan(dc_refine),
        # custom EOBn AC table lands MID-FILE, before the scan that
        # binds it (table class 1, id 1) — per-scan table rebinding
        _jpeg_dht(0x11, _JPEG_EOBRUN_BITS, _JPEG_EOBRUN_VALS),
        _jpeg_sos((0x01,), 1, 63),
        coded_scan(ac_first),
        _JPEG_EOI,
    ])


def make_jpeg_lossless(
    width: int, height: int, fill: int = 0, sel: int = 4
) -> bytes:
    """A REAL LOSSLESS JPEG (SOF3, grayscale 8-bit, predictor ``sel``),
    pure stdlib: the raster is the PIXEL-level pattern
    v(x,y) = fill%64 + 3*(x%8) + 7*(y%8) (always < 256, so the decoded
    sum has a closed form), differences against the Annex H predictor
    are Huffman-coded with the Annex K DC table, modulo-65536
    difference arithmetic per H.1.2.1."""
    f = fill % 64
    dc_codes = _JPEG_DC_CODES
    scan = bytearray()
    append = scan.append
    acc = 0
    nbits = 0
    # bit emitter and Annex H predictor inlined into the pixel loop
    # (local ints + flat rows instead of a closure + 2D indexing + the
    # 8-way predictor list build per pixel); emitted bytes identical,
    # 0xFF stuffing included (guide §1.2 step 2: per-task work)
    prev: list[int] = []
    for y in range(height):
        row = [0] * width
        ybase = f + 7 * (y % 8)
        for x in range(width):
            v = ybase + 3 * (x % 8)
            row[x] = v
            if y == 0:
                pred = 128 if x == 0 else row[x - 1]
            elif x == 0:
                pred = prev[0]
            else:
                a = row[x - 1]
                b_ = prev[x]
                if sel == 1:
                    pred = a
                elif sel == 2:
                    pred = b_
                elif sel == 3:
                    pred = prev[x - 1]
                elif sel == 4:
                    pred = a + b_ - prev[x - 1]
                elif sel == 5:
                    pred = a + ((b_ - prev[x - 1]) >> 1)
                elif sel == 6:
                    pred = b_ + ((a - prev[x - 1]) >> 1)
                else:
                    pred = (a + b_) >> 1
            diff = (v - pred + 32768) % 65536 - 32768  # mod-2^16 fold
            if diff >= 0:
                s = diff.bit_length()
                payload = diff
            else:
                s = (-diff).bit_length()
                payload = diff + (1 << s) - 1
            code, ln = dc_codes[s]
            acc = (acc << ln) | code
            nbits += ln
            if s:
                acc = (acc << s) | payload
                nbits += s
            while nbits >= 8:
                nbits -= 8
                byte = (acc >> nbits) & 0xFF
                append(byte)
                if byte == 0xFF:
                    append(0)
            acc &= (1 << nbits) - 1
        prev = row
    if nbits:
        # pad the final partial byte with 1-bits
        byte = ((acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)) & 0xFF
        append(byte)
        if byte == 0xFF:
            append(0)
    return b"".join([
        _JPEG_SOI,
        _jpeg_sof(0xC3, width, height, (0x11,)),  # SOF3: lossless
        _JPEG_DHT_DC,
        # SOS: Ss = predictor selection, Se = 0, Al = point transform
        _jpeg_sos((0x00,), sel, 0),
        bytes(scan),
        _JPEG_EOI,
    ])


class _JpegBitReader:
    """MSB-first bit reader over already-unstuffed entropy bytes.

    Accumulator-buffered (refills one byte at a time, exactly as far
    as a read needs, so end-of-stream behaves bit-for-bit like the old
    per-bit indexing: an IndexError fires only when a read genuinely
    crosses the final byte). ``huff`` probes the table's 8-bit LUT
    first and falls back to the exact per-bit walk for longer codes or
    a stream tail shorter than 8 bits."""

    __slots__ = ("data", "bytepos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bytepos = 0  # next unread byte
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        nb = self.nbits
        if nb == 0:
            self.acc = self.data[self.bytepos]
            self.bytepos += 1
            nb = 8
        nb -= 1
        v = (self.acc >> nb) & 1
        self.nbits = nb
        self.acc &= (1 << nb) - 1
        return v

    def bits(self, n: int) -> int:
        nb = self.nbits
        acc = self.acc
        while nb < n:
            acc = (acc << 8) | self.data[self.bytepos]
            self.bytepos += 1
            nb += 8
        nb -= n
        v = (acc >> nb) & ((1 << n) - 1)
        self.nbits = nb
        self.acc = acc & ((1 << nb) - 1)
        return v

    def huff(self, table: "_JpegHuffTable") -> int:
        nb = self.nbits
        acc = self.acc
        data = self.data
        pos = self.bytepos
        end = len(data)
        while nb < 8 and pos < end:
            acc = (acc << 8) | data[pos]
            pos += 1
            nb += 8
        self.acc, self.nbits, self.bytepos = acc, nb, pos
        if nb >= 8:
            hit = table.lut[(acc >> (nb - 8)) & 0xFF]
            if hit is not None:
                val, length = hit
                nb -= length
                self.nbits = nb
                self.acc = acc & ((1 << nb) - 1)
                return val
        # long code (> 8 bits) or stream tail: exact bit-by-bit walk
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("corrupt JPEG: no Huffman code within 16 bits")

    def receive_extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# SOFn markers: every C0-CF code except DHT (C4), JPG (C8) and DAC (CC).
_JPEG_SOFS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


class _JpegTables(dict):
    """Quantization or Huffman tables by id: a component or scan that
    names a table the file never defined fails with a named error."""

    def __missing__(self, key):
        raise ValueError(f"JPEG uses undefined table {key}")


def _jpeg_markers(b: bytes) -> Iterator[tuple[int, bytes, list[bytes]]]:
    """The one T.81 marker walk: yields ``(marker, segment body,
    entropy segments)`` for each marker segment after SOI, skipping
    B.1.1.2 fill bytes and the parameterless TEM/SOI/RSTn markers, and
    stops at EOI. An SOS carries the entropy-coded data that follows
    it, unstuffed (0xFF00 -> 0xFF) and split at RSTn; every other
    marker an empty list."""
    import struct

    pos = 2  # past SOI
    while pos + 1 < len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            return
        (seglen,) = struct.unpack_from(">H", b, pos)
        seg = b[pos + 2 : pos + seglen]
        pos += seglen
        segments: list[bytes] = []
        if marker == 0xDA:
            cur = bytearray()
            while True:
                j = b.find(0xFF, pos)
                if j < 0:
                    cur += b[pos:]
                    pos = len(b)
                    break
                cur += b[pos:j]
                nxt = b[j + 1]
                if nxt == 0x00:
                    cur.append(0xFF)
                elif 0xD0 <= nxt <= 0xD7:  # RSTn: next restart segment
                    segments.append(bytes(cur))
                    cur = bytearray()
                else:  # the next marker, or a fill byte before it
                    pos = j
                    break
                pos = j + 2
            segments.append(bytes(cur))
        yield marker, seg, segments


def _jpeg_frame(b: bytes) -> tuple:
    """The one JPEG header parse, over one marker walk: DQT, DHT,
    SOF0/2/3, DRI and every SOS. Returns ``(sof, width, height,
    precision, comps, dri, quant tables, scans)``: ``comps`` in SOF
    order as ``(id, quant table id, H, V)``; each scan as ``(component
    indexes, (DC, AC) table ids per component, Ss, Se, Ah, Al, entropy
    segments, the Huffman tables in force at its SOS)``. The SOF gates
    (other SOFn, component counts, non-integer sampling ratios) fire
    as the SOF is read."""
    import struct

    qt = _JpegTables()
    huff = _JpegTables()
    sof = None
    w = h = prec = dri = 0
    comps: list[tuple[int, int, int, int]] = []
    scans = []
    for marker, seg, segments in _jpeg_markers(b):
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(seg):
                n = 64 << (seg[i] >> 4)  # Pq: 8- or 16-bit entries
                qt[seg[i] & 0xF] = np.frombuffer(
                    seg[i + 1 : i + 1 + n], dtype=">u2" if n > 64 else np.uint8
                ).astype(np.int32)
                i += 1 + n
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(seg):
                bits = seg[i + 1 : i + 17]
                n = sum(bits)
                huff[(seg[i] >> 4, seg[i] & 0xF)] = _jpeg_huff_decode_table(
                    bits, seg[i + 17 : i + 17 + n]
                )
                i += 17 + n
        elif marker in (0xC0, 0xC2, 0xC3):
            sof, prec = marker, seg[0]
            h, w = struct.unpack_from(">HH", seg, 1)
            comps = [
                (cid, qid, hv >> 4, hv & 0xF)
                for cid, hv, qid in zip(seg[6::3], seg[7::3], seg[8::3])
            ][: seg[5]]
            if marker == 0xC3 and len(comps) != 1:
                raise NotImplementedError(
                    "multi-component lossless JPEG interleave"
                )
            if len(comps) not in (1, 3):
                raise NotImplementedError(
                    f"{len(comps)}-component JPEG not implemented"
                )
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            if any(hmax % c[2] or vmax % c[3] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma upsampling ratio"
                )
        elif marker in _JPEG_SOFS:
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: baseline SOF0, progressive "
                "SOF2, and lossless SOF3 implemented; extended-"
                "sequential/hierarchical/arithmetic variants are not"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS, its entropy segments attached
            ids = [c[0] for c in comps]
            nsc = seg[0]
            sc_idx, sc_tabs = [], []
            pairs = seg[1 : 1 + 2 * nsc]  # (component id, Td<<4 | Ta)
            for cid, t in zip(pairs[::2], pairs[1::2]):
                if cid not in ids:
                    raise ValueError(
                        f"JPEG scan component {cid} not in the frame"
                    )
                sc_idx.append(ids.index(cid))
                sc_tabs.append((t >> 4, t & 0xF))
            ss, se, ahl = seg[1 + 2 * nsc : 4 + 2 * nsc]
            scans.append((sc_idx, sc_tabs, ss, se, ahl >> 4, ahl & 0xF,
                          segments, _JpegTables(huff)))
    if sof is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    return sof, w, h, prec, comps, dri, qt, scans


# IDCT basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16), so f = A^T F A;
# built once, since per file it cost more than decoding a small image.
_JPEG_IDCT = np.cos(
    (2 * np.arange(8).reshape(1, 8) + 1) * np.arange(8).reshape(8, 1)
    * np.pi / 16
) / 2
_JPEG_IDCT[0, :] /= np.sqrt(2)
_JPEG_UNZIG = np.array(_JPEG_ZIGZAG)


def _jpeg_read_block(br, dcd, acd, pred: int, c: list[int]) -> int:
    """One baseline block (T.81 F.2.2): the DC difference added to
    ``pred``, then run/size-coded AC coefficients up to EOB (ZRL skips
    16 zeros), written in zigzag order into ``c``; returns the new DC
    predictor."""
    pred += br.receive_extend(br.huff(dcd))
    c[0] = pred
    k = 1
    while k < 64:
        rs = br.huff(acd)
        r, size = rs >> 4, rs & 0xF
        if size == 0:
            if r == 15:  # ZRL: skip 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("corrupt JPEG: AC run past block end")
        c[k] = br.receive_extend(size)
        k += 1
    return pred


def _decode_jpeg_pixels(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, channels, pixel_sum) of a JPEG: the one frame
    decoder behind baseline SOF0, progressive SOF2 and lossless SOF3.
    One header parse (_jpeg_frame), then one dispatch: SOF3 goes to the
    Annex H predictor (_decode_jpeg_lossless); the DCT SOFs decode
    every scan into one MCU-padded grid of zigzag-ordered coefficients
    per component.

    Scan-unit order (T.81 A.2): a single-component scan walks the
    component's own block grid whatever its sampling factors; a
    multi-component scan walks MCU order, each component contributing
    its V x H blocks row-major, dummy edge blocks included. The restart
    interval counts these units; each RSTn segment resets the DC
    predictors and the EOB run. A baseline scan decodes whole blocks
    (_jpeg_read_block), so its components may arrive interleaved in one
    scan or one scan each. Progressive scans carry spectral selection
    ([Ss, Se] bands, EOBn runs) and successive approximation (first
    scans at Al, refinement scans at Ah = Al + 1: raw DC bits and the
    T.81 G.1.2.3 AC correction-bit algorithm, mirroring libjpeg's
    decode_mcu_AC_refine), each scan under the Huffman tables in force
    at its SOS.

    Reconstruction runs batched per component: dequantize, real 8x8
    IDCT (numpy basis matrix), level shift and clip, crop to the
    component's sample grid and replicate-upsample (the libjpeg
    non-fancy upsampler) for any sampling whose factors divide the
    maxima; three components then take the T.871 YCbCr->RGB conversion
    pinned to floor(x + 0.5) rounding, so the SQL oracles replicate it
    bit-for-bit. Arithmetic, hierarchical, differential and
    extended-sequential SOFs raise NotImplementedError (dimensions stay
    available via decode_real)."""
    sof, w, h, prec, comps, dri, qt, scans = _jpeg_frame(b)
    if sof == 0xC3:
        return _decode_jpeg_lossless(w, h, prec, scans)
    base = sof == 0xC0
    if base and sorted(i for s in scans for i in s[0]) != list(
        range(len(comps))
    ):
        raise ValueError("baseline JPEG scans must carry each component once")
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # each component's true sample grid (width, height)
    dims = [
        ((w * sh + hmax - 1) // hmax, (h * sv + vmax - 1) // vmax)
        for _, _, sh, sv in comps
    ]
    # Zigzag-ordered quantized coefficients, MCU-padded block grid.
    # Plain Python lists, not numpy: the scan loops below touch single
    # coefficients (c[k] reads/writes) millions of times, where numpy
    # scalar indexing costs ~10x a list index; the whole grid converts
    # to one array for the batched reconstruction pass at the end.
    coef = [
        [[[0] * 64 for _ in range(mcux * sh)] for _ in range(mcuy * sv)]
        for _, _, sh, sv in comps
    ]
    for sc_idx, sc_tabs, ss, se, ah, al, segments, tabs in scans:
        if not base and ss == 0 and se != 0:
            raise ValueError("corrupt scan: DC band with Se != 0")
        if not base and ss and len(sc_idx) != 1:
            raise ValueError("corrupt scan: interleaved AC band")
        # restart units of (coefficient block, index in the scan)
        if len(sc_idx) == 1:
            grid = coef[sc_idx[0]]
            cw, ch = dims[sc_idx[0]]
            units = [
                [(grid[by][bx], 0)]
                for by in range((ch + 7) // 8)
                for bx in range((cw + 7) // 8)
            ]
        else:
            units = [
                [
                    (coef[ci][my * sv + y][mx * sh + x], si)
                    for si, ci in enumerate(sc_idx)
                    for _, _, sh, sv in [comps[ci]]
                    for y in range(sv)
                    for x in range(sh)
                ]
                for my in range(mcuy)
                for mx in range(mcux)
            ]
        # the Huffman tables this scan's body reads (a DC refinement
        # scan reads none)
        dc_used, ac_used = base or not (ss or ah), base or ss
        dcds = [tabs[(0, t[0])] for t in sc_tabs] if dc_used else []
        acds = [tabs[(1, t[1])] for t in sc_tabs] if ac_used else []
        p1, m1 = 1 << al, -(1 << al)
        seg_iter = iter(segments)
        for ui, unit in enumerate(units):
            if ui == 0 or (dri and ui % dri == 0):
                br = _JpegBitReader(next(seg_iter))
                preds = [0] * len(sc_idx)
                eobrun = 0
            for c, si in unit:
                if base:
                    preds[si] = _jpeg_read_block(
                        br, dcds[si], acds[si], preds[si], c
                    )
                elif ss == 0:
                    if ah == 0:  # first DC scan: Huffman diffs << Al
                        preds[si] += br.receive_extend(br.huff(dcds[si]))
                        c[0] = preds[si] << al
                    elif br.bit():  # refinement: one raw bit into bit Al
                        c[0] |= p1
                elif ah == 0:  # first AC scan
                    if eobrun:
                        eobrun -= 1
                        continue
                    acd = acds[0]
                    k = ss
                    while k <= se:
                        rs = br.huff(acd)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += br.bits(r)
                            break
                        k += r
                        if k > se:
                            raise ValueError("corrupt JPEG: AC run past band")
                        c[k] = br.receive_extend(s) << al
                        k += 1
                else:
                    # AC refinement (T.81 G.1.2.3 / libjpeg
                    # decode_mcu_AC_refine): insert new +-p1 values,
                    # reading a correction bit for every nonzero
                    # coefficient passed over
                    acd = acds[0]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = br.huff(acd)
                            r, s = rs >> 4, rs & 0xF
                            val = 0
                            if s == 0:
                                if r < 15:
                                    # INCLUDES the current block (its
                                    # remainder still takes correction
                                    # bits below, then decrements) —
                                    # unlike the first-scan convention
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                # r == 15: skip 16 zero-history coeffs
                            else:
                                if s != 1:
                                    raise ValueError("corrupt refinement size")
                                val = p1 if br.bit() else m1
                            while k <= se:
                                if c[k] != 0:
                                    if br.bit() and (c[k] & p1) == 0:
                                        c[k] += p1 if c[k] >= 0 else m1
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if s and k <= se:
                                c[k] = val
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if c[k] != 0:
                                if br.bit() and (c[k] & p1) == 0:
                                    c[k] += p1 if c[k] >= 0 else m1
                            k += 1
                        eobrun -= 1

    A, zig = _JPEG_IDCT, _JPEG_UNZIG
    planes = []
    for (_, qid, sh, sv), grid, (cw, ch) in zip(comps, coef, dims):
        # dequantize in zigzag order, IDCT, level shift and clip over
        # the whole component grid at once
        C = np.asarray(grid, dtype=np.int64).reshape(-1, 64)
        F = np.zeros(C.shape, dtype=np.float64)
        F[:, zig] = C * qt[qid]
        blocks = A.T @ F.reshape(-1, 8, 8) @ A
        px = np.clip(np.round(blocks) + 128, 0, 255).astype(np.int64)
        by_n, bx_n = mcuy * sv, mcux * sh
        p = (
            px.reshape(by_n, bx_n, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_n * 8, bx_n * 8)[:ch, :cw]
        )
        if sh != hmax or sv != vmax:
            p = np.repeat(np.repeat(p, vmax // sv, axis=0), hmax // sh, axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return w, h, 1, int(planes[0].sum())
    # T.871 YCbCr -> RGB, rounding pinned to floor(x + 0.5) so a SQL
    # oracle (FLOOR(x + 0.5), LEAST/GREATEST clip) reproduces every
    # sample bit-for-bit — np.round's half-even would diverge at .5.
    Y, Cb, Cr = (p.astype(np.float64) for p in planes)
    r = np.clip(np.floor(Y + 1.402 * (Cr - 128.0) + 0.5), 0, 255)
    g = np.clip(
        np.floor(
            Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0) + 0.5
        ),
        0,
        255,
    )
    bl = np.clip(np.floor(Y + 1.772 * (Cb - 128.0) + 0.5), 0, 255)
    return w, h, 3, int(r.sum() + g.sum() + bl.sum())


def _decode_jpeg_lossless(
    w: int, h: int, prec: int, scans: list
) -> tuple[int, int, int, int]:
    """(width, height, 1, pixel_sum) of a LOSSLESS (SOF3) grayscale
    JPEG from its parsed header (_jpeg_frame): Annex H predictive
    decode — all seven predictor selections with the H.1.2.1 boundary
    rules (half-range seed, row-0 left-prediction, column-0
    above-prediction), point transform, Huffman-coded differences in
    modulo-65536 arithmetic. Restart intervals raise
    NotImplementedError."""
    _, sc_tabs, sel, _, _, pt, segments, tabs = scans[0]
    if not 1 <= sel <= 7:
        raise ValueError(f"invalid lossless predictor selection {sel}")
    if len(segments) > 1:
        raise NotImplementedError("lossless JPEG restart intervals")
    dcd = tabs[(0, sc_tabs[0][0])]
    # Stage 1 — entropy decode every difference in one tight loop with
    # the bit reader inlined to local ints (no method calls per symbol):
    # LUT probe for the size category, slow-walk fallback for >8-bit
    # codes / the stream tail, then the receive-extend bits. Identical
    # bit consumption to _JpegBitReader.huff/receive_extend.
    n = w * h
    diffs = [0] * n
    lut = dcd.lut
    edata = segments[0]
    pos = acc = nb = 0
    end = len(edata)
    for i in range(n):
        while nb < 8 and pos < end:
            acc = (acc << 8) | edata[pos]
            pos += 1
            nb += 8
        s = -1
        if nb >= 8:
            hit = lut[(acc >> (nb - 8)) & 0xFF]
            if hit is not None:
                s, length = hit
                nb -= length
                acc &= (1 << nb) - 1
        if s < 0:  # long code or stream tail: exact bit-by-bit walk
            code = 0
            for length in range(1, 17):
                if nb == 0:
                    acc = edata[pos]
                    pos += 1
                    nb = 8
                nb -= 1
                code = (code << 1) | ((acc >> nb) & 1)
                acc &= (1 << nb) - 1
                if (length, code) in dcd:
                    s = dcd[(length, code)]
                    break
            else:
                raise ValueError(
                    "corrupt JPEG: no Huffman code within 16 bits"
                )
        if s:
            while nb < s:
                acc = (acc << 8) | edata[pos]
                pos += 1
                nb += 8
            nb -= s
            v = (acc >> nb) & ((1 << s) - 1)
            acc &= (1 << nb) - 1
            diffs[i] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
    # Stage 2 — Annex H predictive reconstruction over flat rows with
    # the predictor inlined (H.1.2.1 boundary rules unchanged).
    total = 0
    half = 1 << (prec - 1 - pt)
    prev: list[int] = []
    i = 0
    for y in range(h):
        row = [0] * w
        for x in range(w):
            if y == 0:
                pred = half if x == 0 else row[x - 1]
            elif x == 0:
                pred = prev[0]
            else:
                a = row[x - 1]
                bb = prev[x]
                if sel == 1:
                    pred = a
                elif sel == 2:
                    pred = bb
                elif sel == 3:
                    pred = prev[x - 1]
                elif sel == 4:
                    pred = a + bb - prev[x - 1]
                elif sel == 5:
                    pred = a + ((bb - prev[x - 1]) >> 1)
                elif sel == 6:
                    pred = bb + ((a - prev[x - 1]) >> 1)
                else:
                    pred = (a + bb) >> 1
            v = (pred + diffs[i]) % 65536
            row[x] = v  # prediction runs in the point-transformed
            total += v << pt  # domain; output scales back up (H.2.2)
            i += 1
        prev = row
    return w, h, 1, total


def make_wav(
    n_samples: int, sample_rate: int = 8000, channels: int = 1,
    fill: int = 0,
) -> bytes:
    """A valid 16-bit PCM WAV (RIFF/WAVE, fmt + data chunks), pure
    stdlib: every sample is the constant ``fill % 1000`` (kept small so
    closed-form sums stay exact), little-endian int16."""
    import struct

    val = fill % 1000
    data = struct.pack("<h", val) * (n_samples * channels)
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_SCHEMA = (
    "doc_id bigint, n_bytes bigint, sample_rate int, channels int, "
    "n_samples bigint, duration_ms bigint, sample_sum bigint, "
    "peak_abs int"
)


# IMA/DVI ADPCM tables (IMA ADPCM reference algorithm; the same
# tables libsndfile/ffmpeg ship). 89 quantizer steps, 8-entry index
# adaptation keyed on the nibble's magnitude bits.
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_adpcm_step(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM state transition (the bit-test form of the
    reference algorithm — NOT the ((2m+1)*step)>>3 multiply form,
    which rounds differently). Returns (new_pred, new_index)."""
    step = _IMA_STEPS[index]
    delta = step >> 3
    if nib & 1:
        delta += step >> 2
    if nib & 2:
        delta += step >> 1
    if nib & 4:
        delta += step
    pred = pred - delta if nib & 8 else pred + delta
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX[nib & 7]))
    return pred, index


# Per-(index, nibble) transition tables — the state machine's delta
# and next-index depend ONLY on (index, nibble), so both tabulate
# exactly (89 x 16 ints each, built once from _ima_adpcm_step itself
# at import; guide §1.2 step 2). _SIGNED_DELTA folds the nibble's sign
# bit in; clamping pred stays in the loop (it depends on pred).
def _build_ima_tables() -> tuple[list[list[int]], list[list[int]]]:
    sdelta = []
    newidx = []
    for index in range(89):
        drow = []
        irow = []
        step = _IMA_STEPS[index]
        for nib in range(16):
            delta = step >> 3
            if nib & 1:
                delta += step >> 2
            if nib & 2:
                delta += step >> 1
            if nib & 4:
                delta += step
            drow.append(-delta if nib & 8 else delta)
            irow.append(max(0, min(88, index + _IMA_INDEX[nib & 7])))
        sdelta.append(drow)
        newidx.append(irow)
    return sdelta, newidx


_IMA_SIGNED_DELTA, _IMA_NEW_INDEX = _build_ima_tables()


def _decode_ima_adpcm(
    data: bytes, block_align: int, n_samples: int
) -> tuple[int, int, int]:
    """(n_decoded, sample_sum, peak_abs) over a mono IMA-ADPCM data
    chunk — n_decoded can fall short of the fact count on a truncated
    chunk, and the caller must report what was actually decoded so
    count and sum stay consistent. Walks
    4-byte-headed blocks (initial predictor int16 LE + step index +
    reserved — the header predictor IS the block's first output
    sample), unpacks LOW-nibble-first 4-bit codes, and runs the full
    quantizer state machine with int16 clamping and index clamping.
    Stops at exactly n_samples (from the fact chunk), so a final
    pad nibble is never consumed."""
    import struct

    # inner loop runs the tabulated transition (one delta add + two
    # table rows per sample instead of the bit-test function call);
    # peak tracks via running min/max, |.| folded once at the end —
    # per-sample outputs identical to _ima_adpcm_step by construction
    sdelta = _IMA_SIGNED_DELTA
    newidx = _IMA_NEW_INDEX
    total = 0
    minp = 0
    maxp = 0
    out = 0
    pos = 0
    while out < n_samples and pos < len(data):
        block = data[pos : pos + block_align]
        pos += block_align
        if len(block) < 4:  # truncated final block: partial decode
            break
        (pred,) = struct.unpack_from("<h", block, 0)
        index = max(0, min(88, block[2]))
        total += pred
        if pred > maxp:
            maxp = pred
        elif pred < minp:
            minp = pred
        out += 1
        drow = sdelta[index]
        irow = newidx[index]
        for byte in block[4:]:
            for nib in (byte & 0xF, byte >> 4):  # low nibble FIRST
                if out >= n_samples:
                    return out, total, max(maxp, -minp)
                pred += drow[nib]
                if pred > 32767:
                    pred = 32767
                elif pred < -32768:
                    pred = -32768
                index = irow[nib]
                drow = sdelta[index]
                irow = newidx[index]
                total += pred
                if pred > maxp:
                    maxp = pred
                elif pred < minp:
                    minp = pred
                out += 1
    return out, total, max(maxp, -minp)


def _build_crc_tables() -> tuple[list[int], list[int]]:
    """256-entry byte-advance tables for the two FLAC CRCs (built once
    at import by running the reference bit loop on every byte value —
    the table-driven form is the standard algebraic identity, outputs
    unchanged)."""
    t8 = []
    for byte in range(256):
        crc = byte
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x07) & 0xFF
                if crc & 0x80
                else (crc << 1) & 0xFF
            )
        t8.append(crc)
    t16 = []
    for byte in range(256):
        crc = byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
        t16.append(crc)
    return t8, t16


_CRC8_FLAC_TABLE, _CRC16_FLAC_TABLE = _build_crc_tables()


def _crc8_flac(data: bytes) -> int:
    """CRC-8 with polynomial 0x07 (FLAC frame-header CRC)."""
    crc = 0
    table = _CRC8_FLAC_TABLE
    for byte in data:
        crc = table[crc ^ byte]
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16 with polynomial 0x8005 (FLAC frame-footer CRC)."""
    crc = 0
    table = _CRC16_FLAC_TABLE
    for byte in data:
        crc = ((crc << 8) & 0xFF00) ^ table[(crc >> 8) ^ byte]
    return crc


class _FlacBitReader:
    """MSB-first bit reader with byte-position tracking (for CRC
    spans)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position of the next unread byte
        self.acc = 0
        self.n = 0

    def bits(self, n: int) -> int:
        while self.n < n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        v = (self.acc >> (self.n - n)) & ((1 << n) - 1)
        self.n -= n
        self.acc &= (1 << self.n) - 1
        return v

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count zero bits up to and consuming the terminating 1 bit —
        the Rice quotient. Scans a whole accumulator refill per step
        via bit_length instead of one bit per call; consumed bits (and
        end-of-data IndexError behavior) identical to the per-bit
        loop."""
        q = 0
        while True:
            if self.n == 0:
                self.acc = self.data[self.pos]
                self.pos += 1
                self.n = 8
            acc = self.acc
            if acc == 0:
                q += self.n
                self.n = 0
                continue
            bl = acc.bit_length()
            q += self.n - bl
            self.n = bl - 1
            self.acc = acc & ((1 << (bl - 1)) - 1)
            return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0


def _flac_rice_residuals(
    br: "_FlacBitReader", blocksize: int, order: int
) -> list[int]:
    """FLAC residual decode (RFC 9639 §9.2.7): 2-bit coding method
    (4- or 5-bit Rice parameters), 4-bit partition order, 2^p
    partitions (the first shortened by the predictor warmup), unary/
    binary Rice codes with zigzag sign folding, and the escape code
    (all-ones parameter -> 5-bit width + raw twos-complement
    residuals)."""
    method = br.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    if blocksize % nparts or (blocksize >> porder) <= order:
        raise ValueError("corrupt FLAC partition order")
    out: list[int] = []
    for j in range(nparts):
        count = (blocksize >> porder) - (order if j == 0 else 0)
        param = br.bits(pbits)
        if param == escape:
            width = br.bits(5)
            for _ in range(count):
                out.append(br.signed(width) if width else 0)
            continue
        for _ in range(count):
            q = br.unary()
            v = (q << param) | (br.bits(param) if param else 0)
            out.append((v >> 1) ^ -(v & 1))  # zigzag unfold
    return out


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


# FLAC frame-header code tables (RFC 9639 §9.1)
_FLAC_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_FLAC_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac(b: bytes) -> tuple[int, int, int, int, int]:
    """REAL FLAC decode, pure stdlib, for the CONSTANT, VERBATIM, and
    FIXED-predictor subframe types: 'fLaC' magic, STREAMINFO metadata
    walk (sample rate / channels / bits / total samples), then per
    frame — sync code, blocking strategy, block-size/rate codes
    (incl. the 8/16-bit trailing forms), UTF-8-coded frame number,
    REAL CRC-8 header and CRC-16 frame verification — and per channel
    a subframe with wasted-bits unary handling. FIXED orders 0-4
    reconstruct through the full Rice residual path
    (_flac_rice_residuals: partitioned parameters, zigzag unfolding,
    escape codes), LPC subframes (orders 1-32, quantized coefficients
    with precision/shift) take the same residual path, and the three
    stereo decorrelation modes (left/side, right/side, mid/side with
    the extra side-channel bit) reconstruct per libFLAC. Returns the
    decode_wav-shaped tuple (rate, channels, n_frames, sample_sum,
    peak_abs) — a COMPLETE FLAC subset decoder; only reserved codes
    reject."""
    import struct

    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    rate = channels = bits = total = None
    while pos < len(b):  # metadata blocks
        hdr = b[pos]
        (length,) = struct.unpack(">I", b"\x00" + b[pos + 1 : pos + 4])
        body = b[pos + 4 : pos + 4 + length]
        if hdr & 0x7F == 0:  # STREAMINFO
            br = _FlacBitReader(body)
            br.bits(16)  # min block size
            br.bits(16)  # max block size
            br.bits(24)  # min frame size
            br.bits(24)  # max frame size
            rate = br.bits(20)
            channels = br.bits(3) + 1
            bits = br.bits(5) + 1
            total = br.bits(36)
        pos += 4 + length
        if hdr & 0x80:  # last-metadata flag
            break
    if rate is None:
        raise ValueError("FLAC missing STREAMINFO")
    sample_sum = 0
    peak = 0
    done = 0
    # a STREAMINFO total of 0 means "unknown" (RFC 9639 section 8.2):
    # then the frames run to the end of the stream
    while pos < len(b) and (done < total or total == 0):
        frame_start = pos
        br = _FlacBitReader(b, pos)
        sync = br.bits(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        br.bits(1)  # reserved
        br.bits(1)  # blocking strategy
        bs_code = br.bits(4)
        sr_code = br.bits(4)
        ch_code = br.bits(4)
        ss_code = br.bits(3)
        br.bits(1)  # reserved
        # UTF-8-coded frame/sample number: skip by leading-ones count
        lead = b[br.pos]
        br.bits(8)
        extra = 0
        while lead & (0x80 >> extra) and extra < 7:
            extra += 1
        for _ in range(max(0, extra - 1)):
            br.bits(8)
        if bs_code == 0:
            raise ValueError("reserved FLAC block-size code")
        elif bs_code == 1:
            n = 192
        elif bs_code <= 5:
            n = 576 << (bs_code - 2)
        elif bs_code == 6:
            n = br.bits(8) + 1
        elif bs_code == 7:
            n = br.bits(16) + 1
        else:
            n = 256 << (bs_code - 8)
        if sr_code == 12:
            br.bits(8)
        elif sr_code in (13, 14):
            br.bits(16)
        if sr_code == 15:
            raise ValueError("invalid FLAC sample-rate code 15")
        # code 0 = get from STREAMINFO; 12-14 carry an explicit rate in
        # the bytes skipped above (STREAMINFO rate is authoritative here)
        frame_rate = rate if sr_code in (0, 12, 13, 14) else _FLAC_RATES[sr_code]
        nch = 2 if ch_code >= 8 else ch_code + 1
        if ss_code == 3:
            raise ValueError("reserved FLAC sample-size code 3")
        frame_bits = bits if ss_code == 0 else _FLAC_BITS[ss_code]
        header_crc = b[br.pos]
        if _crc8_flac(b[frame_start : br.pos]) != header_crc:
            raise ValueError("FLAC frame-header CRC mismatch")
        br.bits(8)
        chans: list[list[int]] = []
        for ci in range(nch):
            # the side channel of a decorrelated pair carries one
            # extra bit of sample depth (RFC 9639 section 9.2.1)
            side_extra = int(
                (ch_code == 8 and ci == 1)
                or (ch_code == 9 and ci == 0)
                or (ch_code == 10 and ci == 1)
            )
            br.bits(1)  # zero pad
            sub_type = br.bits(6)
            wasted = 0
            if br.bits(1):  # wasted-bits flag: unary count follows
                wasted = 1
                while br.bits(1) == 0:
                    wasted += 1
            eff = frame_bits + side_extra - wasted
            if sub_type == 0:  # CONSTANT
                samples = [br.signed(eff)] * n
            elif sub_type == 1:  # VERBATIM
                samples = [br.signed(eff) for _ in range(n)]
            elif 8 <= sub_type <= 12:  # FIXED predictor, order 0..4
                # each order's recurrence unrolled (identical integer
                # arithmetic to the _FLAC_FIXED_COEFS dot product,
                # without a genexpr + zip per sample)
                order = sub_type - 8
                samples = [br.signed(eff) for _ in range(order)]
                res = _flac_rice_residuals(br, n, order)
                if order == 0:
                    samples = res
                elif order == 1:
                    s1 = samples[-1]
                    for e in res:
                        s1 = e + s1
                        samples.append(s1)
                elif order == 2:
                    s2, s1 = samples[-2], samples[-1]
                    for e in res:
                        v = e + 2 * s1 - s2
                        samples.append(v)
                        s2, s1 = s1, v
                elif order == 3:
                    s3, s2, s1 = samples[-3], samples[-2], samples[-1]
                    for e in res:
                        v = e + 3 * s1 - 3 * s2 + s3
                        samples.append(v)
                        s3, s2, s1 = s2, s1, v
                else:
                    s4, s3, s2, s1 = (
                        samples[-4], samples[-3], samples[-2], samples[-1]
                    )
                    for e in res:
                        v = e + 4 * s1 - 6 * s2 + 4 * s3 - s4
                        samples.append(v)
                        s4, s3, s2, s1 = s3, s2, s1, v
            elif sub_type >= 32:  # LPC, order 1..32
                order = sub_type - 31
                samples = [br.signed(eff) for _ in range(order)]
                prec = br.bits(4) + 1
                if prec == 16:
                    raise ValueError("invalid FLAC LPC precision 1111")
                shift = br.signed(5)
                if shift < 0:
                    raise ValueError("negative FLAC LPC shift")
                coefs = [br.signed(prec) for _ in range(order)]
                for e in _flac_rice_residuals(br, n, order):
                    acc = sum(
                        c * samples[-1 - i] for i, c in enumerate(coefs)
                    )
                    samples.append(e + (acc >> shift))
            else:
                raise ValueError(
                    f"reserved FLAC subframe type {sub_type}"
                )
            if wasted:
                samples = [s << wasted for s in samples]
            chans.append(samples)
        if ch_code == 8:  # LEFT_SIDE: right = left - side
            chans = [chans[0], [l - s for l, s in zip(chans[0], chans[1])]]
        elif ch_code == 9:  # RIGHT_SIDE: left = right + side
            chans = [[r + s for s, r in zip(chans[0], chans[1])], chans[1]]
        elif ch_code == 10:  # MID_SIDE (libFLAC reconstruction)
            left, right = [], []
            for m_, s_ in zip(chans[0], chans[1]):
                m2 = (m_ << 1) | (s_ & 1)
                left.append((m2 + s_) >> 1)
                right.append((m2 - s_) >> 1)
            chans = [left, right]
        for samples in chans:
            if samples:
                sample_sum += sum(samples)
                peak = max(peak, max(samples), -min(samples))
        br.align()
        (want_crc,) = struct.unpack_from(">H", b, br.pos)
        if _crc16_flac(b[frame_start : br.pos]) != want_crc:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = br.pos + 2
        done += n
    if done < total:
        raise ValueError(
            f"FLAC frames end after {done} of {total} samples"
        )
    return rate, channels, done, sample_sum, peak


def make_flac(
    n_samples: int,
    value: int,
    verbatim: "list[int] | None" = None,
    fixed_ramp: "tuple[int, int] | None" = None,
    sample_rate: int = 8000,
) -> bytes:
    """A REAL minimal FLAC file, pure stdlib: fLaC magic + STREAMINFO,
    one CONSTANT-subframe frame holding ``value`` for ``n_samples``
    16-bit mono samples, and (optionally) a second VERBATIM frame of
    raw samples — with genuine CRC-8 frame-header and CRC-16 frame
    checksums, a 16-bit trailing block-size field, and the 8 kHz rate
    code. Decodable by any FLAC implementation."""
    import struct

    def frame(idx: int, samples_n: int, body_bits) -> bytes:
        hdr = bytearray()
        # sync(14) 11111111111110 + reserved 0 + fixed blocking 0
        hdr += b"\xff\xf8"
        hdr.append((0x7 << 4) | 0x4)  # bs code 7 (16-bit n-1), 8 kHz
        hdr.append((0x0 << 4) | (0x4 << 1))  # mono, 16-bit, reserved 0
        hdr.append(idx)  # UTF-8 frame number (< 0x80: one byte)
        hdr += struct.pack(">H", samples_n - 1)
        hdr.append(_crc8_flac(bytes(hdr)))
        bits: list[int] = []

        def emit(v: int, nbits: int) -> None:
            bits.extend((v >> (nbits - 1 - i)) & 1 for i in range(nbits))

        body_bits(emit)
        while len(bits) % 8:
            bits.append(0)
        body = bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )
        out = bytes(hdr) + body
        return out + struct.pack(">H", _crc16_flac(out))

    def constant_body(emit) -> None:
        emit(0b00000000, 8)  # pad 0, type CONSTANT (000000), no waste
        emit(value & 0xFFFF, 16)

    frames = [frame(0, n_samples, constant_body)]
    total = n_samples
    if verbatim is not None:

        def verbatim_body(emit) -> None:
            emit(0b00000010, 8)  # pad 0, type VERBATIM (000001)
            for v in verbatim:
                emit(v & 0xFFFF, 16)

        frames.append(frame(len(frames), len(verbatim), verbatim_body))
        total += len(verbatim)
    if fixed_ramp is not None:
        base, m = fixed_ramp

        def fixed_body(emit) -> None:
            # pad 0, type FIXED order 1 (001001), no wasted bits
            emit(0b00010010, 8)
            emit(base & 0xFFFF, 16)  # warmup sample
            emit(0b00, 2)  # 4-bit Rice parameters
            emit(0, 4)  # partition order 0: one partition
            emit(2, 4)  # Rice parameter k=2
            for _ in range(m - 1):
                # residual +1 -> zigzag 2 -> q=0 (unary '1'), r=0b10
                emit(0b110, 3)

        frames.append(frame(len(frames), m, fixed_body))
        total += m
    streaminfo = bytearray()
    streaminfo += struct.pack(">HH", 16, 65535)  # min/max block size
    streaminfo += b"\x00\x00\x00" * 2  # min/max frame size unknown
    # 20b rate | 3b channels-1 | 5b bits-1 | 36b total samples
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | total
    streaminfo += packed.to_bytes(8, "big")
    streaminfo += bytes(16)  # MD5 unset
    meta = b"\x80\x00\x00\x22" + bytes(streaminfo)  # last-block flag
    return b"fLaC" + meta + b"".join(frames)


def make_adpcm_wav(
    n_samples: int, pred0: int, sample_rate: int = 8000
) -> bytes:
    """A REAL single-block mono IMA-ADPCM WAV (wFormatTag 0x0011),
    pure stdlib: fmt chunk with the cbSize=2 wSamplesPerBlock
    extension, a fact chunk carrying the true sample count (mandatory
    for compressed WAV), and a 4-byte block header whose predictor is
    the first output sample. The nibble stream alternates codes 1 and
    9: at step-table index 0 (step 7, where index stays clamped —
    index_table[1] = -1) code 1 is exactly +1 and code 9 exactly -1,
    so the decoded signal is the closed-form h, h+1, h, h+1, ... —
    while still exercising real deltas, the sign bit, low-nibble-first
    packing (0x91 bytes are asymmetric), and odd-count pad
    truncation."""
    import struct

    if n_samples < 1 or n_samples > 1 + 2 * (512 - 4):
        raise ValueError("make_adpcm_wav: single 512-byte block only")
    nibs = [1 if i % 2 == 0 else 9 for i in range(n_samples - 1)]
    if len(nibs) % 2:
        nibs.append(0)  # pad nibble, never consumed (fact count stops)
    body = bytes(
        nibs[i] | (nibs[i + 1] << 4) for i in range(0, len(nibs), 2)
    )
    block = struct.pack("<hBB", pred0, 0, 0) + body
    block_align = 512
    samples_per_block = 1 + 2 * (block_align - 4)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x0011,
        1,
        sample_rate,
        sample_rate * block_align // samples_per_block,
        block_align,
        4,
        2,
        samples_per_block,
    )
    return b"".join(
        [
            b"RIFF",
            struct.pack("<I", 4 + 8 + len(fmt) + 12 + 8 + len(block)),
            b"WAVE",
            b"fmt ",
            struct.pack("<I", len(fmt)),
            fmt,
            b"fact",
            struct.pack("<II", 4, n_samples),
            b"data",
            struct.pack("<I", len(block)),
            block,
        ]
    )


def decode_wav(b: bytes) -> tuple[int, int, int, int, int]:
    """REAL WAV decode, pure stdlib: walks the RIFF chunk list, reads
    the fmt chunk, and decodes the data chunk — 16-bit PCM int16
    samples, or mono IMA ADPCM (fmt 0x0011) through the full
    quantizer state machine (_decode_ima_adpcm) bounded by the fact
    chunk. Returns (sample_rate, channels, n_frames, sample_sum,
    peak_abs) with sample_sum the exact integer sum over every decoded
    sample and peak_abs the max absolute sample. Perceptual codecs
    (MP3/AAC/FLAC...) raise NotImplementedError — that is the ffmpeg
    integration point."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError(
            f"audio magic {b[:4]!r}: only RIFF/WAVE PCM decodes "
            "stdlib-side; compressed codecs need ffmpeg"
        )
    pos = 12
    rate = channels = bits = None
    fmt_code = block_align = fact_samples = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (length,) = struct.unpack_from("<I", b, pos + 4)
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", b, pos + 8)
            block_align = struct.unpack_from("<H", b, pos + 20)[0]
            bits = struct.unpack_from("<H", b, pos + 22)[0]
            if not (
                (fmt_code == 1 and bits == 16)
                or (fmt_code == 0x11 and bits == 4)
            ):
                raise NotImplementedError(
                    f"WAV format {fmt_code} / {bits}-bit: 16-bit PCM "
                    "and 4-bit IMA ADPCM implemented; other codecs "
                    "need ffmpeg"
                )
        elif cid == b"fact":
            (fact_samples,) = struct.unpack_from("<I", b, pos + 8)
        elif cid == b"data":
            data = b[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt_code == 0x11:  # IMA ADPCM: full quantizer state machine
        if channels != 1:
            raise NotImplementedError(
                "multi-channel IMA ADPCM (per-channel 4-byte "
                "interleave) not implemented"
            )
        if fact_samples is None:
            raise ValueError("compressed WAV missing the fact chunk")
        out, total, peak = _decode_ima_adpcm(data, block_align, fact_samples)
        return rate, channels, out, total, peak
    samples = np.frombuffer(data, dtype="<i2")
    n_frames = len(samples) // channels
    total = int(samples.astype(np.int64).sum())
    peak = int(np.abs(samples.astype(np.int64)).max()) if len(samples) else 0
    return rate, channels, n_frames, total, peak


def decode_real_audio(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Sample-level real audio decode (mapInPandas body): RIFF/PCM
    features per clip. Row-local, no shuffle; NULL payloads yield NULL
    features (quarantine-row policy shared with the image decoders)."""
    for pdf in batches:
        rows = {k: [] for k in (
            "doc_id", "n_bytes", "sample_rate", "channels", "n_samples",
            "duration_ms", "sample_sum", "peak_abs",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rows["doc_id"].append(doc_id)
            if payload is None:
                for k in ("n_bytes", "sample_rate", "channels",
                          "n_samples", "duration_ms", "sample_sum",
                          "peak_abs"):
                    rows[k].append(None)
                continue
            b = bytes(payload)
            rate, ch, n_frames, total, peak = _decode_identified(
                decode_flac if b[:4] == b"fLaC" else decode_wav, b, doc_id
            )
            rows["n_bytes"].append(len(b))
            rows["sample_rate"].append(rate)
            rows["channels"].append(ch)
            rows["n_samples"].append(n_frames)
            rows["duration_ms"].append(n_frames * 1000 // rate)
            rows["sample_sum"].append(total)
            rows["peak_abs"].append(peak)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "n_bytes": pd.Series(rows["n_bytes"], dtype="Int64"),
                "sample_rate": pd.Series(rows["sample_rate"], dtype="Int32"),
                "channels": pd.Series(rows["channels"], dtype="Int32"),
                "n_samples": pd.Series(rows["n_samples"], dtype="Int64"),
                "duration_ms": pd.Series(rows["duration_ms"], dtype="Int64"),
                "sample_sum": pd.Series(rows["sample_sum"], dtype="Int64"),
                "peak_abs": pd.Series(rows["peak_abs"], dtype="Int32"),
            }
        )


RESIZE_SCHEMA = "doc_id bigint, width int, height int, payload binary"


def make_resize(target_w: int, target_h: int):
    """Image-resize stage (mapInPandas body factory).

    Deterministic fake: "resizing" truncates/zero-pads the payload to
    target_w*target_h bytes — the real implementation swaps in
    PIL.Image.resize; batch shape, schema, and the row-local/no-shuffle
    contract are identical.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = target_w * target_h
        for pdf in batches:
            resized = pdf["payload"].map(
                lambda b: bytes(b[:n]) + b"\x00" * max(0, n - len(b))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": target_w,
                    "height": target_h,
                    "payload": resized,
                }
            )

    return resize


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame binary"


def make_frame_sampler(n_frames: int, frame_bytes: int = 16):
    """Video frame-sampling stage (1 row -> n_frames rows).

    Deterministic fake: evenly spaced byte-slices of the payload stand
    in for decoded frames (real impl: ffmpeg keyframe extraction). The
    1->N fan-out shape matches the UDTF contract, so downstream
    per-frame feature extraction composes unchanged.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_frame = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                total = len(payload)
                for i in range(n_frames):
                    start = (i * max(total - frame_bytes, 0)) // max(n_frames - 1, 1)
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_frame.append(bytes(payload[start : start + frame_bytes]))
            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame": out_frame}
            )

    return sample


@query(
    "multimodal_meta",
    oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       MD5(text) AS content_md5,
       source
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction (byte length + content hash) —
    pure JVM expressions over the payload, no Python, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("bigint")
        .alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        "source",
    )


@query(
    "multimodal_decode",
    oracle="""
SELECT doc_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       CAST('0x' || SUBSTR(MD5(text), 1, 8) AS BIGINT) AS checksum,
       CAST(CAST('0x' || SUBSTR(MD5(text), 1, 8) AS BIGINT) % 1920 AS INTEGER) AS width,
       CAST(CAST('0x' || SUBSTR(MD5(text), 1, 8) AS BIGINT) % 1080 AS INTEGER) AS height,
       'fake/raw' AS format
FROM documents
""",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas.

    The decoder body is Python-side by nature, but its fake features
    are md5-derived, so the full decode is oracle-checked in SQL (the
    real-codec path stays `decode_real`). Scale: row-local Arrow
    batches, no shuffle, linear in corpus bytes; on a cluster the
    payload column stays columnar end-to-end.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_payload(docs)
    return with_payload.mapInPandas(decode_features, FEATURE_SCHEMA)


_PIXEL_COLUMNS = (
    "doc_id", "width", "height", "format", "n_pixels", "pixel_sum",
    "mean_pixel",
)


class _CodecQuery(NamedTuple):
    """One synthesize->decode query: ``payload(doc_id)`` writes a real
    file, ``decode`` (a mapInPandas body yielding ``schema``) reads the
    bytes back, ``columns`` (None = all) projects the result, and
    ``oracle`` recomputes it in closed form from doc_id. ``doc`` is the
    query's docstring (the OPERATORS.md summary is its first line)."""

    name: str
    doc: str
    payload: Callable[[int], bytes]
    oracle: str
    decode: Callable = decode_real_pixels
    schema: str = REAL_PIXEL_SCHEMA
    columns: tuple[str, ...] | None = _PIXEL_COLUMNS


_MEDIA_MAKERS = (make_bmp, make_ppm, make_png, make_pgm)

# Decoded RGB sum of one constant-Y block over the image's constant
# chroma, through the IDENTICAL conversion the decoder pins (same
# literals, same operation order, floor(x + 0.5), clip to 0..255).
_RGB_SUM_SQL = """LEAST(255, GREATEST(0,
               FLOOR({y} + 1.402 * (cr - 128.0) + 0.5)))
         + LEAST(255, GREATEST(0,
               FLOOR({y} - 0.344136 * (cb - 128.0)
                        - 0.714136 * (cr - 128.0) + 0.5)))
         + LEAST(255, GREATEST(0,
               FLOOR({y} + 1.772 * (cb - 128.0) + 0.5)))"""


def _checkerboard_jpeg_oracle(
    bw: str, bh: str, channels: int = 1
) -> str:
    """Oracle of make_jpeg's checkerboard over a ``bw`` x ``bh`` 8x8
    block grid (SQL over doc_id): n_even blocks decode to the even
    value, the rest to the odd one — the luma levels themselves for
    grayscale, their RGB sums for 3-channel color."""
    block_sum = "{y}" if channels == 1 else _RGB_SUM_SQL
    return f"""
SELECT doc_id,
       CAST(8 * bw AS INTEGER) AS width,
       CAST(8 * bh AS INTEGER) AS height,
       'jpeg' AS format,
       CAST(64 * bw * bh AS BIGINT) AS n_pixels,
       CAST(64 * (n_even * s_even + (bw * bh - n_even) * s_odd)
            AS BIGINT) AS pixel_sum,
       CAST(64 * (n_even * s_even + (bw * bh - n_even) * s_odd)
            AS DOUBLE) / ({channels} * 64 * bw * bh) AS mean_pixel
FROM (
    SELECT doc_id, bw, bh,
           (bw * bh + (bw % 2) * (bh % 2)) // 2 AS n_even,
           {block_sum.format(y="ya")} AS s_even,
           {block_sum.format(y="yb")} AS s_odd
    FROM (SELECT doc_id,
                 {bw} AS bw,
                 {bh} AS bh,
                 doc_id % 256 AS ya,
                 (doc_id * 7 + 13) % 256 AS yb,
                 (doc_id * 31 + 7) % 256 AS cb,
                 (doc_id * 17 + 3) % 256 AS cr
          FROM documents))
"""


_CODEC_QUERIES = (
    _CodecQuery(
        name="multimodal_decode_real",
        doc="""REAL-codec decode end-to-end, down to the PIXELS: synthesize a
    genuine image file per doc (BMP / PPM / PNG / PGM cycling on
    doc_id % 4, dimensions and fill byte derived from doc_id), then
    decode the actual bytes back with the stdlib codec —
    BMP padding-stripped raster, netpbm raster, PNG via zlib inflate +
    full five-filter scanline reversal (decode_pixels). The oracle
    recomputes byte size (BMP 4-byte row padding, netpbm ASCII header
    lengths, PNG's closed-form stored-deflate size 68 + h*(3w+1)),
    dimensions, AND the exact pixel sum / mean (every sample byte is
    the doc's fill value doc_id % 256, so pixel_sum =
    fill * channels * w * h in closed form) — a wrong filter reversal,
    stride, or padding slip changes pixel_sum and fails the hash. Both
    stages are chained row-local mapInPandas — one scan, no shuffle,
    payloads never leave their partition.""",
        payload=lambda d: _MEDIA_MAKERS[d % 4](1 + d % 64, 1 + d % 48, d),
        oracle="""
SELECT doc_id,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 54 + ((3 * w + 3) // 4) * 4 * h
            WHEN 1 THEN 9 + LENGTH(CAST(w AS VARCHAR)) + LENGTH(CAST(h AS VARCHAR)) + 3 * w * h
            WHEN 2 THEN 68 + h * (3 * w + 1)
            ELSE 9 + LENGTH(CAST(w AS VARCHAR)) + LENGTH(CAST(h AS VARCHAR)) + w * h
       END AS BIGINT) AS n_bytes,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
            WHEN 2 THEN 'png' ELSE 'pgm' END AS format,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST((doc_id % 256) * ch * w * h AS BIGINT) AS pixel_sum,
       CAST((doc_id % 256) * ch * w * h AS DOUBLE) / (ch * w * h)
           AS mean_pixel
FROM (SELECT doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h,
             CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 3 END AS ch
      FROM documents)
""",
        columns=None,
    ),
    _CodecQuery(
        name="multimodal_decode_gif",
        doc="""ENTROPY-CODED decode end-to-end: synthesize a genuine GIF89a per
    doc (checkerboard raster so the LZW table builds real multi-symbol
    entries, dimensions and both fill values derived from doc_id), then
    decode the actual bytes back — block walk, sub-block reassembly,
    full variable-width LZW inflate, palette lookup (_decode_gif_pixels
    via decode_pixels). The oracle recomputes the exact pixel sum in
    closed form (the checkerboard puts ceil(w*h/2) cells on the even
    color), so a code-width off-by-one, a sub-block seam slip, or a
    KwKwK mishandling changes pixel_sum and fails the hash. Both stages
    chained row-local mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_gif(1 + d % 40, 1 + d % 30, d),
        oracle="""
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       'gif' AS format,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(3 * (n_even * a + (w * h - n_even) * b) AS BIGINT)
           AS pixel_sum,
       CAST(3 * (n_even * a + (w * h - n_even) * b) AS DOUBLE)
           / (3 * w * h) AS mean_pixel
FROM (SELECT doc_id, w, h, a, b, (w * h + 1) // 2 AS n_even
      FROM (SELECT doc_id,
                   1 + doc_id % 40 AS w,
                   1 + doc_id % 30 AS h,
                   doc_id % 256 AS a,
                   (doc_id * 7 + 13) % 256 AS b
            FROM documents))
""",
    ),
    _CodecQuery(
        name="multimodal_decode_jpeg",
        doc="""DCT-CODEC decode end-to-end: synthesize a genuine baseline
    grayscale JPEG per doc (block-checkerboard raster with a 3-MCU
    restart interval, dimensions and fills derived from doc_id), then
    decode the actual bytes back — marker walk, restart-segmented
    unstuffing, full DC+AC Huffman decode, de-zigzag, dequantize, real
    8x8 IDCT (_decode_jpeg_pixels via decode_pixels). Constant 8x8
    blocks under a DC quant step of 8 make the lossy pipeline exactly
    invertible (DC of a constant-v block is 8v; round(8v/8) = v), so
    the oracle recomputes the pixel sum in closed form — a Huffman
    category slip, a restart predictor leak, a zigzag/dequant mixup, or
    an IDCT normalization error changes pixel_sum and fails the hash.
    The checkerboard of block-level DC deltas exercises multiple
    Huffman size categories, byte-seam packing, and 0xFF stuffing.
    Both stages chained row-local mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_jpeg(
            8 * (1 + d % 6), 8 * (1 + d % 4), d, restart_interval=3
        ),
        oracle=_checkerboard_jpeg_oracle("1 + doc_id % 6", "1 + doc_id % 4"),
    ),
    _CodecQuery(
        name="multimodal_decode_progressive",
        doc="""PROGRESSIVE (SOF2) JPEG decode end-to-end: synthesize a genuine
    multi-scan progressive JPEG per doc — the raster arrives as a DC
    scan at successive-approximation Al=1, a DC refinement scan of raw
    bits, and a spectral-selection AC scan whose all-zero band packs
    into one EOBn run under a custom mid-file Huffman table (the
    progressive-only code baseline JPEG doesn't have) — then decode
    the actual bytes back through the full multi-scan coefficient
    accumulation (_decode_jpeg_pixels). Same checkerboard and
    quantization convention as the baseline gate, so the oracle keeps
    the same closed form; a wrong shift direction in the point
    transform, a dropped refinement bit, a misparsed EOBRUN, or a
    table-rebinding slip changes pixel_sum and fails the hash. The AC
    successive-approximation refinement path (never emitted by this
    encoder) is pinned by hand-assembled multi-scan streams in tests,
    including an EOB run spanning blocks with in-run correction bits.
    Both stages chained row-local mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_jpeg_progressive(
            8 * (1 + d % 6), 8 * (1 + d % 4), d
        ),
        oracle=_checkerboard_jpeg_oracle("1 + doc_id % 6", "1 + doc_id % 4"),
    ),
    _CodecQuery(
        name="multimodal_decode_lossless",
        doc="""LOSSLESS (SOF3) JPEG decode end-to-end — the predictive codec
    DNG/raw-camera files carry: synthesize a genuine lossless JPEG per
    doc over a pixel-level ramp, CYCLING ALL SEVEN Annex H predictor
    selections by doc_id, then decode the actual bytes back —
    Huffman-coded differences, modulo-65536 arithmetic, half-range
    seed and the row-0/column-0 boundary predictor rules. Lossless
    means the oracle's closed-form sum ((64*fill + 2240) per 8x8
    block: the ramp mass 3*sum(x%8) + 7*sum(y%8) = (3+7)*28*8)
    holds for EVERY predictor — a boundary-rule slip, a predictor
    table transposition, or a modulo fold error changes pixel_sum for
    some doc_id residue class and fails the hash. Annex-H conformance
    (not just encode/decode inverse consistency) is pinned by a
    hand-computed-diff bitstream test. Both stages chained row-local
    mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_jpeg_lossless(
            8 * (1 + d % 5), 8 * (1 + d % 3), d, sel=1 + d % 7
        ),
        oracle="""
SELECT doc_id,
       CAST(8 * bw AS INTEGER) AS width,
       CAST(8 * bh AS INTEGER) AS height,
       'jpeg' AS format,
       CAST(64 * bw * bh AS BIGINT) AS n_pixels,
       CAST((64 * f + 2240) * bw * bh AS BIGINT) AS pixel_sum,
       CAST((64 * f + 2240) * bw * bh AS DOUBLE)
           / (64 * bw * bh) AS mean_pixel
FROM (SELECT doc_id,
             1 + doc_id % 5 AS bw,
             1 + doc_id % 3 AS bh,
             doc_id % 64 AS f
      FROM documents)
""",
    ),
    _CodecQuery(
        name="multimodal_decode_color",
        doc="""COLOR JPEG decode end-to-end: synthesize a genuine 4:4:4
    baseline JPEG per doc (luma checkerboard + constant chroma derived
    from doc_id, 2-MCU restart interval), then decode the actual bytes
    back — interleaved Y/Cb/Cr MCUs with per-component predictors,
    full Huffman/dequant/IDCT, and the T.871 YCbCr->RGB conversion
    pinned to floor(x + 0.5) rounding. The oracle recomputes the exact
    RGB pixel sum in closed form through the IDENTICAL conversion
    expression (same literals, same operation order, FLOOR + LEAST/
    GREATEST), so a predictor cross-wire, an MCU interleave slip, or a
    rounding-mode divergence changes pixel_sum and fails the hash.
    mean_pixel divides by 3*w*h (three samples per pixel). Both stages
    chained row-local mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_jpeg(
            8 * (1 + d % 5), 8 * (1 + d % 3), d, restart_interval=2,
            sampling=(1, 1),
        ),
        oracle=_checkerboard_jpeg_oracle(
            "1 + doc_id % 5", "1 + doc_id % 3", channels=3
        ),
    ),
    _CodecQuery(
        name="multimodal_decode_subsampled",
        doc="""CHROMA-SUBSAMPLED JPEG decode end-to-end: synthesize a genuine
    4:2:0 baseline JPEG per doc (2x2 luma sampling — four Y blocks
    then Cb then Cr per 16x16 MCU, the factors every camera ships;
    luma checkerboard + constant chroma from doc_id, 2-MCU restart
    interval), then decode the actual bytes back — the T.81
    multi-block MCU interleave, per-component sample grids,
    replication upsampling to full resolution, and the same pinned
    floor(x + 0.5) YCbCr->RGB conversion. Constant chroma makes the
    half-resolution path exactly invertible, so the oracle keeps the
    4:4:4 closed form; an interleave slip, a predictor cross-wire
    between the four Y blocks, or an upsample misalignment changes
    pixel_sum and fails the hash. Both stages chained row-local
    mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_jpeg(
            16 * (1 + d % 3), 16 * (1 + d % 2), d, restart_interval=2,
            sampling=(2, 2),
        ),
        # the luma block grid is 2mw x 2mh MCUs' worth (both even)
        oracle=_checkerboard_jpeg_oracle(
            "2 * (1 + doc_id % 3)", "2 * (1 + doc_id % 2)", channels=3
        ),
    ),
    _CodecQuery(
        name="multimodal_audio_real",
        doc="""REAL audio decode end-to-end, down to the SAMPLES: synthesize a
    genuine 16-bit PCM WAV per doc (frame count, channel count, and
    constant sample value derived from doc_id), then decode the actual
    RIFF bytes back — chunk walk, fmt parse, int16 sample decode
    (decode_wav). The oracle recomputes byte size (44-byte header +
    2 bytes/sample), sample-rate/channel metadata, duration, and the
    exact integer sample sum and peak from doc_id alone, so the whole
    encode->decode roundtrip is hash-gated; a chunk-alignment or
    endianness slip changes sample_sum and fails the hash. Both stages
    are chained row-local mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_wav(
            n_samples=1 + d % 500, sample_rate=8000, channels=1 + d % 2,
            fill=d,
        ),
        oracle="""
SELECT doc_id,
       CAST(44 + 2 * f * ch AS BIGINT) AS n_bytes,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS channels,
       CAST(f AS BIGINT) AS n_samples,
       CAST((f * 1000) // 8000 AS BIGINT) AS duration_ms,
       CAST((doc_id % 1000) * f * ch AS BIGINT) AS sample_sum,
       CAST(doc_id % 1000 AS INTEGER) AS peak_abs
FROM (SELECT doc_id, 1 + doc_id % 500 AS f, 1 + doc_id % 2 AS ch
      FROM documents)
""",
        decode=decode_real_audio,
        schema=AUDIO_SCHEMA,
        columns=None,
    ),
    _CodecQuery(
        name="multimodal_audio_adpcm",
        doc="""COMPRESSED audio decode end-to-end: synthesize a genuine mono
    IMA-ADPCM WAV per doc (wFormatTag 0x0011, cbSize fmt extension,
    mandatory fact chunk, 4-byte block header whose predictor is the
    first output sample), then decode the actual bytes back through
    the full quantizer state machine — step/index tables, int16 and
    index clamping, LOW-nibble-first unpacking, fact-bounded pad
    truncation. The alternating 1/9 nibble stream sits at the step
    table's index-0 fixed point (+1/-1 deltas), so the decoded signal
    is closed-form h, h+1, h, ... and the oracle recomputes byte size
    (64 + n//2), the exact sample sum (h*n + n//2), and the peak from
    doc_id alone; a step-table typo, a nibble-order swap (0x91 bytes
    are asymmetric), a sign-bit slip, or an off-by-one in the fact
    bound changes sample_sum and fails the hash. The general state
    machine (all 89 steps, clamps, multi-block headers) is pinned by a
    reference-model sweep in tests. Both stages chained row-local
    mapInPandas — one scan, no shuffle.""",
        payload=lambda d: make_adpcm_wav(
            n_samples=1 + d % 900, pred0=100 + d % 800
        ),
        oracle="""
SELECT doc_id,
       CAST(64 + n // 2 AS BIGINT) AS n_bytes,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
       CAST(h * n + n // 2 AS BIGINT) AS sample_sum,
       CAST(CASE WHEN n > 1 THEN h + 1 ELSE h END AS INTEGER) AS peak_abs
FROM (SELECT doc_id, 1 + doc_id % 900 AS n, 100 + doc_id % 800 AS h
      FROM documents)
""",
        decode=decode_real_audio,
        schema=AUDIO_SCHEMA,
        columns=None,
    ),
    _CodecQuery(
        name="multimodal_audio_flac",
        doc="""FLAC decode end-to-end: synthesize a genuine fLaC container per
    doc (STREAMINFO metadata, one frame with sync code, block-size and
    rate codes, UTF-8 frame number, REAL CRC-8 header and CRC-16 frame
    checksums, a constant 16-bit mono subframe), then decode the
    actual bytes back (decode_flac). A constant subframe stores its
    value ONCE regardless of block length — which is why every
    payload is exactly 55 bytes while carrying up to 1015 samples —
    so the oracle recomputes size, count, exact sample sum, and peak
    from doc_id alone; a CRC polynomial slip, a block-size table
    error, a sign-extension bug, or a STREAMINFO misparse changes the
    output and fails the hash. A second frame per doc is a FIXED
    order-1 predictor whose Rice-coded residuals (+1 each) decode to
    an arithmetic ramp — the real entropy path: unary/binary Rice
    codes, zigzag unfolding, partitioned parameters, predictor
    reconstruction — all inside the same closed-form sum. The VERBATIM
    path, wasted bits, higher predictor orders, partition orders > 0,
    the escape code, arbitrary-LPC subframes (quantized coefficients,
    arithmetic shift), and all three stereo decorrelation modes are
    pinned by reference-model unit tests — decode_flac is a COMPLETE
    FLAC decoder. Both stages chained row-local mapInPandas — one
    scan, no shuffle.""",
        payload=lambda d: make_flac(
            n_samples=16 + d % 1000,
            value=(d % 2001) - 1000,
            fixed_ramp=(d % 500, 8 + d % 200),
        ),
        oracle="""
SELECT doc_id,
       CAST(65 + (41 + 3 * (m - 1)) // 8 AS BIGINT) AS n_bytes,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS channels,
       CAST(n + m AS BIGINT) AS n_samples,
       CAST(((n + m) * 1000) // 8000 AS BIGINT) AS duration_ms,
       CAST(v * n + m * base + m * (m - 1) // 2 AS BIGINT) AS sample_sum,
       CAST(GREATEST(ABS(v), base + m - 1) AS INTEGER) AS peak_abs
FROM (SELECT doc_id,
             16 + doc_id % 1000 AS n,
             doc_id % 2001 - 1000 AS v,
             doc_id % 500 AS base,
             8 + doc_id % 200 AS m
      FROM documents)
""",
        decode=decode_real_audio,
        schema=AUDIO_SCHEMA,
        columns=None,
    ),
)


def _register_codec_query(spec: _CodecQuery) -> None:
    """Register ``spec`` as ``(spark, sf_dir) -> DataFrame``: a doc_id
    scan, the encode stage, the decode stage, the optional projection —
    both stages chained row-local mapInPandas, one scan, no shuffle."""
    payload = spec.payload

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [payload(d) for d in ids]}
            )

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        out = docs.mapInPandas(
            encode, "doc_id bigint, payload binary"
        ).mapInPandas(spec.decode, spec.schema)
        return out if spec.columns is None else out.select(*spec.columns)

    encode.__name__ = encode.__qualname__ = f"{spec.name}_encode"
    run.__name__ = run.__qualname__ = spec.name
    run.__doc__ = spec.doc
    query(spec.name, oracle=spec.oracle)(run)


for _spec in _CODEC_QUERIES:
    _register_codec_query(_spec)


from .._serde import pickle_by_value as _pbv  # noqa: E402
_pbv(__name__)


_N_FRAMES = 4
_FRAME_BYTES = 16


@query(
    "multimodal_frame_sample",
    oracle=f"""
WITH src AS (
    SELECT doc_id, text,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS total
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       UPPER(hex(ENCODE(substring(text,
           CAST((i * GREATEST(total - {_FRAME_BYTES}, 0))
                // {_N_FRAMES - 1} AS BIGINT) + 1,
           {_FRAME_BYTES})))) AS frame_hex,
       CAST(LEAST({_FRAME_BYTES},
            total - (i * GREATEST(total - {_FRAME_BYTES}, 0))
                // {_N_FRAMES - 1}) AS BIGINT) AS frame_bytes
FROM src CROSS JOIN (SELECT UNNEST(range(0, {_N_FRAMES})) AS i) f
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling under the driver gate: each document's
    binary payload fans out to 4 evenly spaced 16-byte "frames"
    (ffmpeg keyframe extraction in a real deployment — the 1->N
    mapInPandas fan-out, schema, and batch shape are the real thing;
    only the slice body is the deterministic stand-in).

    Gated by frame CONTENT: the oracle recomputes each slice and
    compares hex digests. The oracle slices characters while the
    engine slices utf-8 bytes — identical for this ASCII corpus (the
    same ENCODE equivalence multimodal_decode's oracle relies on).
    NULL payloads are filtered at the source on both sides (a real
    sampler drops undecodable media to a quarantine path).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    frames = attach_payload(docs).mapInPandas(
        make_frame_sampler(_N_FRAMES, _FRAME_BYTES), FRAME_SCHEMA
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.upper(F.hex(F.col("frame"))).alias("frame_hex"),
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
    )
