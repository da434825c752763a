"""Multimodal column plumbing: binary payloads + typed metadata +
Arrow-batched decode — the decode body is a deterministic fake (no
media libs in this environment) but the schema/batching/partitioning
are the real integration surface."""

from __future__ import annotations

import pandas as pd
import pytest

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.operators.multimodal import (
    attach_payload,
    decode_features,
    decode_real,
)

registry.load_all()
Q = registry.QUERIES


def test_payload_schema(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wp = attach_payload(docs)
    dtypes = dict(wp.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["meta"].startswith("struct<")


def test_decode_is_deterministic(spark, sf_dir):
    a = sorted(r.asDict().items() for r in Q["multimodal_decode"](spark, sf_dir).collect())
    b = sorted(r.asDict().items() for r in Q["multimodal_decode"](spark, sf_dir).collect())
    assert a == b


def test_decode_features_batch_contract():
    """The mapInPandas body honors the declared FEATURE_SCHEMA on a
    plain pandas batch (what each Arrow batch looks like)."""
    import hashlib

    batch = pd.DataFrame({"doc_id": [1, 2], "payload": [b"abc", b"\x00\xff"]})
    out = pd.concat(list(decode_features(iter([batch]))))
    assert list(out.columns) == [
        "doc_id", "n_bytes", "checksum", "width", "height", "format",
    ]
    assert out["n_bytes"].tolist() == [3, 2]
    expected = [
        int(hashlib.md5(b).hexdigest()[:8], 16) for b in (b"abc", b"\x00\xff")
    ]
    assert out["checksum"].tolist() == expected
    assert out["width"].tolist() == [c % 1920 for c in expected]


def test_decode_matches_payload_bytes(spark, sf_dir):
    feats = {r["doc_id"]: r for r in Q["multimodal_decode"](spark, sf_dir).collect()}
    meta = {r["doc_id"]: r for r in Q["multimodal_meta"](spark, sf_dir).collect()}
    assert feats.keys() == meta.keys()
    for doc_id, f in feats.items():
        assert f["n_bytes"] == meta[doc_id]["n_bytes"]


def test_real_decoder_handles_empty_stream():
    """decode_real is a real decoder now (BMP/PPM, stdlib header
    parsing); an empty batch stream simply yields nothing. Unsupported
    codecs still raise — see
    test_decode_real_rejects_unsupported_codecs."""
    assert list(decode_real(iter([]))) == []


def test_resize_stage(spark, sf_dir):
    """Resize plumbing: fixed output dims, payload truncated/padded to
    exactly w*h bytes, row count preserved, no shuffle in the plan."""
    from simplemapreduceframework_spark.operators.multimodal import (
        RESIZE_SCHEMA,
        attach_payload,
        make_resize,
    )
    from simplemapreduceframework_spark.plans import n_exchanges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wp = attach_payload(docs)
    resized = wp.mapInPandas(make_resize(16, 8), RESIZE_SCHEMA)
    assert n_exchanges(resized) == 0
    rows = resized.collect()
    assert len(rows) == docs.count()
    assert all(len(r["payload"]) == 16 * 8 for r in rows)
    assert all((r["width"], r["height"]) == (16, 8) for r in rows)


def test_frame_sampler_fanout(spark, sf_dir):
    """Frame sampling: 1 row -> n_frames rows, deterministic slices."""
    from simplemapreduceframework_spark.operators.multimodal import (
        FRAME_SCHEMA,
        attach_payload,
        make_frame_sampler,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    wp = attach_payload(docs)
    frames = wp.mapInPandas(make_frame_sampler(4), FRAME_SCHEMA)
    rows = frames.collect()
    assert len(rows) == 20 * 4
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())
    # deterministic across runs
    again = sorted((r["doc_id"], r["frame_idx"], bytes(r["frame"])) for r in frames.collect())
    first = sorted((r["doc_id"], r["frame_idx"], bytes(r["frame"])) for r in rows)
    assert again == first


def test_decode_real_parses_bmp_and_ppm_headers():
    """The stdlib decoder must read back exactly what the synthesizers
    wrote, including BMP row padding in the byte count."""
    import pandas as pd

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_real,
        make_bmp,
        make_ppm,
    )

    bmp = make_bmp(17, 9)  # odd width -> padded rows
    ppm = make_ppm(123, 45)
    pdf = pd.DataFrame({"doc_id": [0, 1], "payload": [bmp, ppm]})
    [out] = list(decode_real(iter([pdf])))
    rows = {r.doc_id: r for r in out.itertuples()}
    assert (rows[0].width, rows[0].height, rows[0].format) == (17, 9, "bmp")
    assert rows[0].n_bytes == 54 + ((3 * 17 + 3) // 4) * 4 * 9
    assert (rows[1].width, rows[1].height, rows[1].format) == (123, 45, "ppm")
    assert rows[1].n_bytes == len(ppm)


def test_decode_real_topdown_bmp_and_commented_ppm():
    """Codec edge cases: top-down BMPs store negative height; PPM
    headers may carry '#' comments between tokens."""
    import struct

    import pandas as pd

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_real,
        make_bmp,
    )

    bmp = bytearray(make_bmp(8, 4))
    struct.pack_into("<i", bmp, 22, -4)  # top-down flag
    ppm = b"P6\n# synthetic comment\n8 4\n255\n" + bytes(3 * 8 * 4)
    pdf = pd.DataFrame({"doc_id": [0, 1], "payload": [bytes(bmp), ppm]})
    [out] = list(decode_real(iter([pdf])))
    assert list(out["width"]) == [8, 8]
    assert list(out["height"]) == [4, 4]


def test_decode_real_rejects_unsupported_codecs():
    """Audio (and anything else needing real media libs) must fail loud
    at the documented integration point, not silently fake features;
    a malformed JPEG fails identified, not with a raw struct error."""
    import pandas as pd
    import pytest

    from simplemapreduceframework_spark.operators.multimodal import decode_real

    wav = b"RIFF" + bytes(8) + b"WAVE" + bytes(32)
    pdf = pd.DataFrame({"doc_id": [0], "payload": [wav]})
    with pytest.raises(NotImplementedError):
        list(decode_real(iter([pdf])))

    truncated_jpeg = b"\xff\xd8\xff\xe0" + bytes(32)  # APP0 len 0, no SOF
    pdf = pd.DataFrame({"doc_id": [1], "payload": [truncated_jpeg]})
    with pytest.raises(ValueError, match="malformed"):
        list(decode_real(iter([pdf])))


def test_decode_real_parses_gif_and_jpeg_headers():
    """GIF logical-screen and JPEG SOF dimension markers decode with
    the stdlib walk (crafted minimal-but-valid headers)."""
    import struct

    import pandas as pd

    from simplemapreduceframework_spark.operators.multimodal import decode_real

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes([0, 0, 0]) + b";"
    # SOI + APP0(JFIF, len 16) + SOF0 (len 17, 3 components) + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + bytes([8])
        + struct.pack(">HH", 240, 360)  # height, width
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    pdf = pd.DataFrame({"doc_id": [0, 1], "payload": [gif, jpeg]})
    [out] = list(decode_real(iter([pdf])))
    rows = {int(r.doc_id): r for r in out.itertuples()}
    assert (rows[0].width, rows[0].height, rows[0].format) == (320, 200, "gif")
    assert (rows[1].width, rows[1].height, rows[1].format) == (360, 240, "jpeg")


def test_png_maker_is_real_png():
    """make_png emits a spec-valid PNG: correct signature, IHDR
    dimensions, CRCs, and a zlib stream that decompresses to the
    filtered scanlines — and its size matches the closed formula the
    oracle uses (68 + h*(3w+1))."""
    import struct
    import zlib

    from simplemapreduceframework_spark.operators.multimodal import (
        _parse_png,
        make_png,
    )

    w, h = 13, 7
    b = make_png(w, h, fill=42)
    assert b[:8] == b"\x89PNG\r\n\x1a\n"
    assert _parse_png(b) == (w, h)
    assert len(b) == 68 + h * (3 * w + 1)
    # IHDR CRC check
    ihdr_data = b[12:29]  # 'IHDR' + 13 bytes
    assert struct.unpack(">I", b[29:33])[0] == zlib.crc32(ihdr_data) & 0xFFFFFFFF
    # IDAT decompresses to h scanlines of (filter byte + 3w pixels)
    idat_len = struct.unpack(">I", b[33:37])[0]
    raw = zlib.decompress(b[41 : 41 + idat_len])
    assert len(raw) == h * (3 * w + 1)
    assert raw[0] == 0 and raw[1] == 42


def test_codec_roundtrip_property():
    """Property: any (width, height) in range roundtrips exactly
    through synth -> stdlib header parse, for both codecs and with
    arbitrary comment/whitespace noise in the PPM header."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from simplemapreduceframework_spark.operators.multimodal import (
        _parse_bmp,
        _parse_ppm,
        make_bmp,
        make_ppm,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=4096),
        h=st.integers(min_value=1, max_value=4096),
        comment=st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\n"
            ),
            max_size=20,
        ),
        ws=st.sampled_from([b" ", b"\n", b"\t", b"  \n"]),
    )
    def check(w, h, comment, ws):
        assert _parse_bmp(make_bmp(w, h)) == (w, h)
        assert _parse_ppm(make_ppm(w, h)) == (w, h)
        noisy = (
            b"P6"
            + ws
            + f"#{comment}\n".encode()
            + str(w).encode()
            + ws
            + f"#{comment}\n".encode()
            + str(h).encode()
            + ws
            + b"255\n"
        )
        assert _parse_ppm(noisy) == (w, h)

    check()


def test_decode_real_malformed_payload_is_identified():
    """A truncated payload of a SUPPORTED codec must raise an
    identified ValueError (doc id + size) from every decode loop — the
    header, pixel and audio decoders — not a raw struct/zlib/index
    error that fails the task with no doc id."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_real_audio,
        decode_real_pixels,
        make_jpeg,
        make_png,
        make_wav,
    )

    import re

    jpeg = make_jpeg(48, 16, 5, restart_interval=2)
    no_rst = re.sub(rb"\xff[\xd0-\xd7]", b"", jpeg)  # RSTn markers cut
    wav = make_wav(n_samples=10, sample_rate=8000, channels=1, fill=3)
    for decode, payload in (
        (decode_real, b"BM" + bytes(10)),
        (decode_real, b"P6\n12"),
        (decode_real_pixels, jpeg[: len(jpeg) // 2]),  # IndexError
        (decode_real_pixels, no_rst),  # StopIteration
        (decode_real_pixels, make_png(8, 8, 3)[:40]),  # zlib.error
        (decode_real_audio, wav[:30]),  # struct.error
    ):
        pdf = pd.DataFrame({"doc_id": [7], "payload": [payload]})
        with pytest.raises(ValueError, match="malformed .* doc 7"):
            list(decode(iter([pdf])))


def test_bmp_truncated_raster_raises():
    """A BMP shorter than its header's raster must not sum the rows it
    happens to have (the cut file decoded to pixel_sum 18, not 576)."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_bmp,
    )

    assert decode_pixels(make_bmp(8, 8, 3))[4] == 576
    with pytest.raises(ValueError, match="BMP raster truncated"):
        decode_pixels(make_bmp(8, 8, 3)[:60])


def test_netpbm_truncated_raster_raises():
    """Same for binary PPM/PGM: a raster cut short of width x height x
    channels bytes raises instead of decoding to a partial sum (57)."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_pgm,
        make_ppm,
    )

    for make in (make_ppm, make_pgm):
        assert decode_pixels(make(8, 8, 3))[4] > 57
        with pytest.raises(ValueError, match="netpbm raster truncated"):
            decode_pixels(make(8, 8, 3)[:30])


def test_flac_truncated_stream_raises():
    """FLAC frames ending before STREAMINFO's nonzero total sample count
    raise instead of reporting a clip with 0 of its 29 samples."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
        make_flac,
    )

    flac = make_flac(n_samples=20, value=3, fixed_ramp=(1, 9))
    assert decode_flac(flac)[2] == 29
    with pytest.raises(ValueError, match="FLAC frames end after 0 of 29"):
        decode_flac(flac[:40])


def test_flac_unknown_total_decodes_to_end_of_stream():
    """A STREAMINFO total-samples value of 0 means "unknown" (RFC 9639):
    the decoder reads frames to the end of the stream instead of
    stopping before the first one."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
        make_flac,
    )

    flac = bytearray(make_flac(n_samples=20, value=3, fixed_ramp=(1, 9)))
    # the 36-bit total is the low nibble of byte 21 plus bytes 22-25
    flac[21] &= 0xF0
    flac[22:26] = bytes(4)
    assert decode_flac(bytes(flac)) == (8000, 1, 29, 105, 9)


def test_decode_real_null_payload_yields_null_features():
    bmp_and_null = pd.DataFrame(
        {"doc_id": [0, 1], "payload": [None, __import__(
            "simplemapreduceframework_spark.operators.multimodal",
            fromlist=["make_bmp"],
        ).make_bmp(4, 4)]}
    )
    [out] = list(decode_real(iter([bmp_and_null])))
    assert out["width"].isna().tolist() == [True, False]
    assert out["format"].tolist()[1] == "bmp"


def test_jpeg_parser_skips_fill_bytes():
    """Spec-legal 0xFF padding between segments (JPEG B.1.1.2) must not
    derail the SOF dimension walk."""
    import struct

    import pandas as pd

    from simplemapreduceframework_spark.operators.multimodal import decode_real

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + bytes([8])
        + struct.pack(">HH", 120, 160)
        + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    jpeg = b"\xff\xd8" + app0 + b"\xff\xff\xff" + sof0 + b"\xff\xd9"
    pdf = pd.DataFrame({"doc_id": [0], "payload": [jpeg]})
    [out] = list(decode_real(iter([pdf])))
    r = next(out.itertuples())
    assert (r.width, r.height, r.format) == (160, 120, "jpeg")

    # the pixel decoders share that walk: a fill byte before the second
    # marker, the first SOS and EOI (right after entropy data) changes
    # nothing for baseline, color, progressive or lossless files
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
        make_jpeg_lossless,
        make_jpeg_progressive,
    )

    for j in (
        make_jpeg(24, 16, 5, restart_interval=2),
        make_jpeg(24, 16, 5, restart_interval=2, sampling=(1, 1)),
        make_jpeg(32, 16, 5, sampling=(2, 2)),
        make_jpeg_progressive(24, 16, 5),
        make_jpeg_lossless(16, 8, 5, sel=4),
    ):
        sos = j.find(b"\xff\xda")
        filled = (
            j[:2] + b"\xff" + j[2:sos] + b"\xff" + j[sos:-2] + b"\xff" + j[-2:]
        )
        assert decode_pixels(filled) == decode_pixels(j)


def _png_with_filters(pixels, filters):
    """Build a spec-valid 8-bit RGB PNG whose scanlines use the GIVEN
    filter types — the fixture that proves decode_pixels reverses all
    five filters, not just the filter-0 files make_png writes.
    ``pixels`` is rows x (3*width) raw sample bytes."""
    import struct
    import zlib

    h = len(pixels)
    w = len(pixels[0]) // 3
    ch = 3

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = bytes(3 * w)
    for row, ftype in zip(pixels, filters):
        line = bytearray(row)
        enc = bytearray(len(line))
        for i in range(len(line)):
            a = line[i - ch] if i >= ch else 0
            up = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (a + up) >> 1
            else:  # Paeth
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
            enc[i] = (line[i] - pred) & 0xFF
        raw += bytes([ftype]) + enc
        prev = bytes(row)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def test_decode_pixels_reverses_every_png_filter():
    """PNGs filtered with each of the five scanline filter types (and a
    mixed file using all of them) decode to the exact original pixel
    sum."""
    import random

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
    )

    rng = random.Random(42)
    w, h = 7, 5
    pixels = [
        bytes(rng.randrange(256) for _ in range(3 * w)) for _ in range(h)
    ]
    want = sum(sum(row) for row in pixels)
    for ftype in range(5):
        png = _png_with_filters(pixels, [ftype] * h)
        fmt, gw, gh, ch, total = decode_pixels(png)
        assert (fmt, gw, gh, ch) == ("png", w, h, 3)
        assert total == want, f"filter {ftype}"
    mixed = _png_with_filters(pixels, [0, 1, 2, 3, 4])
    assert decode_pixels(mixed)[4] == want


def test_decode_pixels_bmp_strips_row_padding():
    """A BMP whose width forces row padding must sum only real pixel
    bytes — padding bytes share the fill value, so a stride slip would
    inflate the sum."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_bmp,
        make_pgm,
        make_ppm,
        make_png,
    )

    # width 3 -> row 9 bytes padded to 12: 3 pad bytes per row
    fmt, w, h, ch, total = decode_pixels(make_bmp(3, 4, 200))
    assert (fmt, w, h, ch) == ("bmp", 3, 4, 3)
    assert total == 200 * 3 * 3 * 4
    assert decode_pixels(make_ppm(5, 2, 7)) == ("ppm", 5, 2, 3, 7 * 3 * 5 * 2)
    assert decode_pixels(make_pgm(5, 2, 9)) == ("pgm", 5, 2, 1, 9 * 5 * 2)
    assert decode_pixels(make_png(4, 3, 50)) == ("png", 4, 3, 3, 50 * 3 * 4 * 3)


def test_jpeg_rejects_differential_and_nonint_ratio():
    """Baseline, color, subsampled, progressive, and lossless all
    decode for real now; differential/hierarchical/arithmetic SOFs and
    non-integer upsampling ratios stay behind honest
    NotImplementedError gates — and MALFORMED hybrids (SOF2 whose
    single scan spans DC+AC; SOF3 whose scan carries predictor
    selection 0) must error, not decode garbage."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
        make_jpeg_lossless,
    )

    j = bytearray(make_jpeg(8, 8, 50))
    sof = j.find(b"\xff\xc0")
    j[sof + 1] = 0xC5  # flip baseline -> differential sequential
    with pytest.raises(NotImplementedError):
        decode_pixels(bytes(j))
    j[sof + 1] = 0xC3  # SOF3 + a baseline Ss=0 scan: invalid predictor
    with pytest.raises(ValueError, match="predictor selection"):
        decode_pixels(bytes(j))
    j[sof + 1] = 0xC2  # SOF2 + a baseline Ss=0..Se=63 scan: malformed
    with pytest.raises(ValueError, match="DC band"):
        decode_pixels(bytes(j))
    # 3x1 luma with 2x1 chroma: hmax=3 does not divide by sh=2
    sub = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">HBHHB", 17, 8, 8, 8, 3)
        + bytes([1, 0x31, 0, 2, 0x21, 1, 3, 0x11, 1])
    )
    with pytest.raises(NotImplementedError):
        decode_pixels(sub)
    # lossless with DRI + RSTn: Annex H restarts are not implemented
    lossless = make_jpeg_lossless(16, 8, 5)
    data = lossless.find(b"\xff\xda") + 10  # past the 1-component SOS
    assert 0xFF not in lossless[data : data + 2]
    restarted = (
        lossless[: data - 10]
        + b"\xff\xdd" + struct.pack(">HH", 4, 16)  # DRI: one row
        + lossless[data - 10 : data + 2]
        + b"\xff\xd0"
        + lossless[data + 2 :]
    )
    with pytest.raises(NotImplementedError, match="restart intervals"):
        decode_pixels(restarted)
    # a header the decoder cannot use fails by name, not KeyError
    bad = bytearray(make_jpeg(8, 8, 50))
    sos = bad.find(b"\xff\xda")
    bad[sos + 5] = 9  # the scan names component 9
    with pytest.raises(ValueError, match="component 9 not in the frame"):
        decode_pixels(bytes(bad))
    bad[sos + 5], bad[sos + 6] = 1, 0x11  # the scan binds tables never defined
    with pytest.raises(ValueError, match="undefined table"):
        decode_pixels(bytes(bad))


def test_jpeg_single_component_scan_walks_its_own_block_grid():
    """T.81 A.2.2: a single-component scan is non-interleaved and codes
    the component's own ceil(w/8) x ceil(h/8) block grid whatever its
    sampling factors, so a grayscale SOF declaring 2x2 sampling decodes
    exactly like the 1x1 original, baseline and progressive alike."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
        make_jpeg_progressive,
    )

    for make, sof_marker in ((make_jpeg, b"\xff\xc0"),
                             (make_jpeg_progressive, b"\xff\xc2")):
        for w, h in [(24, 8), (40, 24), (8, 8)]:
            j = make(w, h, 7)
            sampling = j.find(sof_marker) + 11  # first component's H<<4|V
            assert j[sampling] == 0x11
            patched = j[:sampling] + b"\x22" + j[sampling + 1 :]
            assert decode_pixels(patched) == decode_pixels(j), (make, w, h)


def test_jpeg_baseline_components_in_separate_scans():
    """T.81 allows a baseline frame's components in one scan each
    (non-interleaved): Y, Cb and Cr as three single-component scans
    decode exactly like make_jpeg's one interleaved scan. A component
    coded twice is refused by name."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_DC_EOB,
        _jpeg_scan_writer,
        decode_pixels,
        make_jpeg,
    )

    fill = 77
    j = make_jpeg(16, 8, fill, sampling=(1, 1))
    head = j[: j.find(b"\xff\xda")]
    levels = {
        1: [fill % 256, (fill * 7 + 13) % 256],  # the two checker blocks
        2: [(fill * 31 + 7) % 256] * 2,
        3: [(fill * 17 + 3) % 256] * 2,
    }
    scans = []
    for cid, values in levels.items():
        scan, emit, pad = _jpeg_scan_writer()
        pred = 0
        for v in values:
            emit(*_JPEG_DC_EOB[v - 128 - pred])  # DC difference, then EOB
            pred = v - 128
        pad()
        scans.append(
            b"\xff\xda" + struct.pack(">HB", 8, 1)
            + bytes([cid, 0x00, 0, 63, 0]) + bytes(scan)
        )
    assert decode_pixels(head + b"".join(scans) + b"\xff\xd9") == (
        decode_pixels(j)
    )
    with pytest.raises(ValueError, match="each component once"):
        decode_pixels(head + b"".join(scans + scans[:1]) + b"\xff\xd9")


def test_jpeg_16bit_quant_table_decodes_like_8bit():
    """A DQT with Pq=1 (16-bit big-endian entries, T.81 B.2.4.1) holding
    the same steps decodes exactly like make_jpeg's 8-bit table."""
    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_DQT,
        _JPEG_QAC,
        _JPEG_QDC,
        _jpeg_segment,
        decode_pixels,
        make_jpeg,
    )

    steps = [_JPEG_QDC] + [_JPEG_QAC] * 63
    wide = _jpeg_segment(
        0xDB, b"\x10" + b"".join(q.to_bytes(2, "big") for q in steps)
    )
    j = make_jpeg(24, 16, 9, sampling=(1, 1))
    assert decode_pixels(j.replace(_JPEG_DQT, wide)) == decode_pixels(j)


def test_jpeg_color_roundtrip_closed_form():
    """4:4:4 color encode->decode is bit-exact through the pinned
    floor(x+0.5) YCbCr->RGB conversion: the decoded RGB sum must match
    the closed form for odd/even block grids, chroma extremes wrapping
    through clipping, and restart intervals resetting all three
    predictors."""
    import math

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
    )

    def clip(v):
        return min(255, max(0, v))

    def rgbsum(y, cb, cr):
        r = clip(math.floor(y + 1.402 * (cr - 128.0) + 0.5))
        g = clip(
            math.floor(
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
            )
        )
        b = clip(math.floor(y + 1.772 * (cb - 128.0) + 0.5))
        return r + g + b

    for fill in [0, 77, 128, 255, 999, 3001]:
        for bw, bh, ri in [(1, 1, 0), (3, 2, 0), (5, 3, 2), (4, 4, 3)]:
            w, h = 8 * bw, 8 * bh
            ya, yb = fill % 256, (fill * 7 + 13) % 256
            cb, cr = (fill * 31 + 7) % 256, (fill * 17 + 3) % 256
            n_even = (bw * bh + (bw % 2) * (bh % 2)) // 2
            want = 64 * (
                n_even * rgbsum(ya, cb, cr)
                + (bw * bh - n_even) * rgbsum(yb, cb, cr)
            )
            j = make_jpeg(
                w, h, fill, restart_interval=ri, sampling=(1, 1)
            )
            assert decode_pixels(j) == ("jpeg", w, h, 3, want), (fill, bw, bh)


def test_jpeg_hand_pinned_bitstream():
    """8x8 fill=0: v=-128, DC diff=-128 -> size category 8 (standard
    DC code 111110), low bits 01111111 (v + 2^8 - 1), then EOB (AC
    code 1010), padded with 1s = F9 FE BF. Pins the MSB-first bit
    order, the canonical Huffman assignment, and the negative-value
    encoding against an external hand derivation."""
    from simplemapreduceframework_spark.operators.multimodal import (
        make_jpeg,
    )

    j = make_jpeg(8, 8, 0)
    sos = j.find(b"\xff\xda")
    scan = j[sos + 2 + 8 : -2]  # SOS header is 8 bytes; strip EOI
    assert scan == bytes([0xF9, 0xFE, 0xBF])


def test_jpeg_roundtrip_closed_form_with_restarts_and_stuffing():
    """Encode->decode is bit-exact for block-constant rasters (DC quant
    8 makes the quantized DC the level-shifted value itself); the
    closed-form sum covers odd/even block grids and every restart
    interval exercises RSTn predictor resets. (The two-value
    checkerboard's DC-delta bitstream never aligns to a 0xFF scan
    byte, so stuffing is exercised by the hand-assembled stream in
    test_jpeg_general_ac_decode_matches_direct_idct instead.)"""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
    )

    for fill in [0, 1, 77, 128, 200, 255, 1000]:
        for bw, bh, ri in [(1, 1, 0), (3, 1, 0), (2, 2, 1), (5, 3, 3),
                           (6, 4, 4), (3, 3, 2)]:
            w, h = 8 * bw, 8 * bh
            a, b = fill % 256, (fill * 7 + 13) % 256
            n_even = (bw * bh + (bw % 2) * (bh % 2)) // 2
            want = 64 * (n_even * a + (bw * bh - n_even) * b)
            j = make_jpeg(w, h, fill, restart_interval=ri)
            assert decode_pixels(j) == ("jpeg", w, h, 1, want)


def test_jpeg_general_ac_decode_matches_direct_idct():
    """The decoder is GENERAL, not just make_jpeg's inverse: a
    hand-assembled stream with nonzero AC coefficients (a run/size
    pair, a ZRL 16-zero skip) and a non-multiple-of-8 crop must decode
    to exactly the pixels of a directly computed dequant+IDCT of the
    same coefficient block. The coefficients are chosen so the scan
    contains a raw 0xFF byte — asserting the 0xFF00 stuffing round
    trip (writer stuffs, decoder unstuffs) actually runs."""
    import struct

    import numpy as np

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_ZIGZAG,
        _jpeg_huff_codes,
        decode_pixels,
    )

    # one 8x8 block, cropped to 6x5; quant table all 1s so AC values
    # pass through dequant unchanged
    w, h = 6, 5
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bits = []

    def emit(code, n):
        bits.extend((code >> (n - 1 - i)) & 1 for i in range(n))

    def emit_val(v):
        s = abs(v).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1)

    # zigzag coefficients: DC=-40; k=1: -16 (run 0, size 5); ZRL skips
    # k=2..17; k=18: 7 (run 0 after ZRL, size 3); EOB. This exact
    # combination packs a raw 0xFF into the scan (stuffing exercised).
    s, low = emit_val(-40)
    emit(*dc_codes[s])
    emit(low, s)
    s, low = emit_val(-16)
    emit(*ac_codes[(0 << 4) | s])
    emit(low, s)
    emit(*ac_codes[0xF0])  # ZRL
    s, low = emit_val(7)
    emit(*ac_codes[(0 << 4) | s])
    emit(low, s)
    emit(*ac_codes[0x00])  # EOB
    while len(bits) % 8:
        bits.append(1)
    scan = bytearray()
    for i in range(0, len(bits), 8):
        byte = int("".join(map(str, bits[i : i + 8])), 2)
        scan.append(byte)
        if byte == 0xFF:
            scan.append(0)
    j = b"".join(
        [
            b"\xff\xd8",
            b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64),
            b"\xff\xc0"
            + struct.pack(">HBHHBBBB", 11, 8, h, w, 1, 1, 0x11, 0),
            b"\xff\xc4"
            + struct.pack(">HB", 31, 0x00)
            + bytes(_JPEG_DC_BITS)
            + bytes(_JPEG_DC_VALS),
            b"\xff\xc4"
            + struct.pack(">HB", 181, 0x10)
            + bytes(_JPEG_AC_BITS)
            + bytes(_JPEG_AC_VALS),
            b"\xff\xda" + struct.pack(">HBBBBBB", 8, 1, 1, 0, 0, 63, 0),
            bytes(scan),
            b"\xff\xd9",
        ]
    )
    assert b"\xff\x00" in bytes(scan)  # stuffing path really ran
    # direct reference: dequant (q=1) + IDCT of the same coefficients
    F = np.zeros(64)
    F[_JPEG_ZIGZAG[0]] = -40
    F[_JPEG_ZIGZAG[1]] = -16
    F[_JPEG_ZIGZAG[18]] = 7
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    A = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    A[0, :] /= np.sqrt(2)
    px = np.clip(np.round(A.T @ F.reshape(8, 8) @ A) + 128, 0, 255)
    want = int(px[:h, :w].sum())
    assert decode_pixels(j) == ("jpeg", w, h, 1, want)


def test_lzw_hand_pinned_bitstream():
    """A hand-derived LZW stream: indices [1,1,1] at min code size 2.
    Codes: CLEAR(4), 1, 6 (the [1,1] entry built from the first pair),
    EOI(5) — all 3-bit, LSB-first packed = 0x8C 0x0B. Pins both the
    bit order and the encode-side table build against an external
    derivation, not just against our own decoder."""
    from simplemapreduceframework_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    enc = _lzw_encode(bytes([1, 1, 1]), min_code_size=2)
    assert enc == bytes([0x8C, 0x0B])
    assert _lzw_decode(enc, 2) == bytes([1, 1, 1])


def test_lzw_roundtrip_grows_width_and_freezes_table():
    """Roundtrip data large and varied enough to push the code width
    through 9->12 bits and hit the frozen-at-4096 regime (the two
    places an off-by-one desyncs encoder and decoder), plus the
    classic KwKwK self-reference pattern."""
    import random

    from simplemapreduceframework_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(7)
    big = bytes(rng.randrange(256) for _ in range(40000))
    assert _lzw_decode(_lzw_encode(big, 8), 8) == big
    # KwKwK: cScSc with buf=cS at the self-referencing emission
    kwk = b"ababa" * 50
    assert _lzw_decode(_lzw_encode(kwk, 8), 8) == kwk
    # small alphabet at small code size grows width fast
    small = bytes(rng.randrange(4) for _ in range(5000))
    assert _lzw_decode(_lzw_encode(small, 2), 2) == small


def test_decode_pixels_gif_checkerboard_and_interlaced():
    """make_gif's checkerboard decodes to the closed-form pixel sum
    (3 * (ceil(wh/2)*a + floor(wh/2)*b)) — in sequential AND interlaced
    storage (a sum can't see row order; the placement test below
    can)."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_gif,
    )

    fill = 77
    a, b = fill % 256, (fill * 7 + 13) % 256
    for w, h in [(1, 1), (5, 3), (40, 30)]:
        n_even = (w * h + 1) // 2
        expect = 3 * (n_even * a + (w * h - n_even) * b)
        assert decode_pixels(make_gif(w, h, fill)) == ("gif", w, h, 3, expect)
        assert decode_pixels(make_gif(w, h, fill, interlace=True)) == (
            "gif", w, h, 3, expect,
        )


def test_gif_deinterlace_places_every_row():
    """Row placement, which a pixel SUM cannot see: a row-gradient
    raster (row y filled with index y) stored interlaced must decode
    with row y = y for every y — any pass/stride slip misplaces rows.
    Checked via the display-order index raster across heights covering
    all four passes and the degenerate 1-2 row cases."""
    import struct

    import numpy as np

    from simplemapreduceframework_spark.operators.multimodal import (
        _decode_gif_image,
        _gif_interlace_order,
        _lzw_encode,
    )

    for w, h in [(3, 1), (3, 2), (4, 7), (5, 16), (2, 29)]:
        order = _gif_interlace_order(h)
        assert sorted(order) == list(range(h))  # a permutation
        rows = [bytes([y] * w) for y in range(h)]
        stored = b"".join(rows[y] for y in order)
        lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        gct = bytes(v for i in range(256) for v in (i, i, i))
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
        lzw = _lzw_encode(stored, 8)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            part = lzw[i : i + 255]
            blocks.append(len(part))
            blocks += part
        blocks.append(0)
        g = b"GIF89a" + lsd + gct + desc + b"\x08" + bytes(blocks) + b"\x3b"
        iw, ih, indices, _pal = _decode_gif_image(g)
        raster = np.asarray(indices).reshape(ih, iw)
        for y in range(h):
            assert list(raster[y]) == [y] * w, (w, h, y)


def test_decode_wav_roundtrip_and_chunk_walk():
    """WAV decode recovers rate/channels/frames and exact sample sums;
    an extra chunk before fmt/data (chunk-walk exercise) and odd-length
    word alignment are handled; compressed magic is rejected."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_wav,
        make_wav,
    )

    rate, ch, n, total, peak = decode_wav(make_wav(100, 8000, 2, fill=7))
    assert (rate, ch, n) == (8000, 2, 100)
    assert total == 7 * 100 * 2 and peak == 7
    # insert a LIST chunk with an odd length before fmt: the walker
    # must skip it (word-aligned) and still find fmt + data
    wav = make_wav(10, 8000, 1, fill=3)
    chunks = wav[12:]  # fmt + data chunks, after RIFF<size>WAVE
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    body = b"WAVE" + odd + chunks
    patched = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, n, total, peak = decode_wav(patched)
    assert (rate, ch, n, total) == (8000, 1, 10, 30)
    with pytest.raises(NotImplementedError):
        decode_wav(b"ID3\x04" + b"\x00" * 40)  # mp3
    with pytest.raises(NotImplementedError):
        decode_wav(b"fLaC" + b"\x00" * 40)


def test_decode_wav_negative_samples_sum_exactly():
    """Hand-built WAV with mixed-sign samples: int16 decode must sum
    and peak them exactly (an unsigned misread would explode the sum)."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_wav,
    )

    samples = [-32768, 32767, -1, 1, 0, -500]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, n, total, peak = decode_wav(wav)
    assert (rate, ch, n) == (16000, 1, 6)
    assert total == sum(samples)
    assert peak == 32768


def _rgb_sum_of(y, cb, cr):
    import math

    r = min(255, max(0, math.floor(y + 1.402 * (cr - 128.0) + 0.5)))
    g = min(
        255,
        max(
            0,
            math.floor(
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
            ),
        ),
    )
    b = min(255, max(0, math.floor(y + 1.772 * (cb - 128.0) + 0.5)))
    return r + g + b


def test_jpeg_420_roundtrip_closed_form():
    """4:2:0 encode->decode is bit-exact: four-Y-block MCU interleave,
    per-component predictors across restart resets, replication
    upsampling of constant chroma — swept over fills (incl. chroma
    extremes wrapping through clipping) and MCU grid shapes."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
    )

    for fill in (0, 50, 127, 128, 200, 255, 77, 3):
        for (w, h) in ((16, 16), (48, 16), (32, 32), (16, 48)):
            for ri in (0, 1, 2, 5):
                fmt, W, H, ch, psum = decode_pixels(
                    make_jpeg(
                        w, h, fill, restart_interval=ri, sampling=(2, 2)
                    )
                )
                ya, yb = fill % 256, (fill * 7 + 13) % 256
                cb, cr = (fill * 31 + 7) % 256, (fill * 17 + 3) % 256
                bw, bh = w // 8, h // 8
                n_even = (bw * bh + (bw % 2) * (bh % 2)) // 2
                want = 64 * (
                    n_even * _rgb_sum_of(ya, cb, cr)
                    + (bw * bh - n_even) * _rgb_sum_of(yb, cb, cr)
                )
                assert (fmt, W, H, ch) == ("jpeg", w, h, 3)
                assert psum == want


def test_jpeg_422_decodes_beyond_encoder_dialect():
    """The decoder handles sampling factors no codec query emits: a
    4:2:2 stream (2x1 luma, 16x8 MCUs) with a
    DISTINCT value per luma block — placement-sensitive, so a
    transposed interleave or row/column-swapped upsample changes the
    sum."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
    )

    w, h = 32, 16  # 2x2 MCUs of 16x8 -> luma block grid 4x2
    y_blocks = [[10, 40, 90, 160], [250, 200, 130, 60]]
    fill = 250
    cb, cr = (fill * 31 + 7) % 256, (fill * 17 + 3) % 256  # 77, 157
    payload = make_jpeg(w, h, fill, blocks=y_blocks, sampling=(2, 1))
    fmt, W, H, ch, psum = decode_pixels(payload)
    want = 64 * sum(
        _rgb_sum_of(v % 256, cb, cr) for row in y_blocks for v in row
    )
    assert (fmt, W, H, ch) == ("jpeg", w, h, 3)
    assert psum == want


def test_jpeg_progressive_roundtrip_matches_baseline():
    """make_jpeg_progressive delivers the same raster as make_jpeg in
    three scans (DC at Al=1, DC refinement, AC band as one EOBRUN with
    a custom mid-file EOBn table): the progressive decode must equal
    the baseline decode exactly for every geometry and fill."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg,
        make_jpeg_progressive,
    )

    for w, h, fill in [
        (8, 8, 50),
        (16, 8, 7),
        (24, 16, 123),
        (48, 32, 200),
        (8, 24, 0),
        (40, 40, 255),
    ]:
        base = decode_pixels(make_jpeg(w, h, fill))
        prog = decode_pixels(make_jpeg_progressive(w, h, fill))
        assert prog == base, (w, h, fill, prog, base)


def test_jpeg_progressive_ac_refinement_matches_direct_idct():
    """The AC successive-approximation path, which the synthesizing
    encoder never emits (its ACs are zero): a hand-assembled four-scan
    stream — DC first (Al=1), DC refinement, AC first at Al=1 (with a
    ZRL skip), AC refinement at Ah=1/Al=0 carrying a NEW +-1 insertion
    AND correction bits for both previously-nonzero coefficients (one
    inside the insertion run, one under the closing EOB run) — must
    decode to exactly the direct dequant+IDCT of the final
    coefficients, on a non-multiple-of-8 crop."""
    import struct

    import numpy as np

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_ZIGZAG,
        _jpeg_huff_codes,
        decode_pixels,
    )

    w, h = 6, 5
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def coded(emitter):
        bits = []

        def emit(code, n):
            bits.extend((code >> (n - 1 - i)) & 1 for i in range(n))

        emitter(emit)
        while len(bits) % 8:
            bits.append(1)
        scan = bytearray()
        for i in range(0, len(bits), 8):
            byte = int("".join(map(str, bits[i : i + 8])), 2)
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0)
        return bytes(scan)

    def emit_val(v):
        s = abs(v).bit_length()
        return s, (v if v >= 0 else v + (1 << s) - 1)

    # final coefficients (zigzag): DC=-40, k1=-16, k2=+1, k18=7
    def dc_first(emit):  # sends -40 >> 1 = -20 as the diff
        s, low = emit_val(-20)
        emit(*dc_codes[s])
        emit(low, s)

    def dc_refine(emit):  # bit 0 of -40 (two's complement) = 0
        emit(0, 1)

    def ac_first(emit):  # Al=1: k1 -> -8, k2 -> 0 (invisible), k18 -> 3
        s, low = emit_val(-8)
        emit(*ac_codes[(0 << 4) | s])
        emit(low, s)
        emit(*ac_codes[0xF0])  # ZRL skips k2..k17
        s, low = emit_val(3)
        emit(*ac_codes[(0 << 4) | s])
        emit(low, s)
        emit(*ac_codes[0x00])  # EOB

    def ac_refine(emit):  # Ah=1, Al=0
        # insert +1 at k2: rs=0x01, sign bit 1, then the correction
        # bit for nonzero-history k1 (|−16| gains no bit: 0) read as
        # the decoder passes it
        emit(*ac_codes[0x01])
        emit(1, 1)  # sign: +p1
        emit(0, 1)  # correction bit for k1 (-16 stays -16)
        # EOB run covering the block remainder: correction bit for
        # k18 (6 -> 7) rides inside the EOB-run scan-over
        emit(*ac_codes[0x00])
        emit(1, 1)  # correction bit for k18

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    j = b"".join(
        [
            b"\xff\xd8",
            b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64),
            b"\xff\xc2"
            + struct.pack(">HBHHBBBB", 11, 8, h, w, 1, 1, 0x11, 0),
            b"\xff\xc4"
            + struct.pack(">HB", 31, 0x00)
            + bytes(_JPEG_DC_BITS)
            + bytes(_JPEG_DC_VALS),
            b"\xff\xc4"
            + struct.pack(">HB", 181, 0x10)
            + bytes(_JPEG_AC_BITS)
            + bytes(_JPEG_AC_VALS),
            sos(0, 0, 0, 1),
            coded(dc_first),
            sos(0, 0, 1, 0),
            coded(dc_refine),
            sos(1, 63, 0, 1),
            coded(ac_first),
            sos(1, 63, 1, 0),
            coded(ac_refine),
            b"\xff\xd9",
        ]
    )
    F = np.zeros(64)
    F[_JPEG_ZIGZAG[0]] = -40
    F[_JPEG_ZIGZAG[1]] = -16
    F[_JPEG_ZIGZAG[2]] = 1
    F[_JPEG_ZIGZAG[18]] = 7
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    A = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    A[0, :] /= np.sqrt(2)
    px = np.clip(np.round(A.T @ F.reshape(8, 8) @ A) + 128, 0, 255)
    want = int(px[:h, :w].sum())
    assert decode_pixels(j) == ("jpeg", w, h, 1, want)


def test_jpeg_progressive_color_interleaved_dc_scan():
    """Progressive COLOR: a hand-assembled 3-component file whose DC
    scan is INTERLEAVED (one MCU, per-component predictors) and whose
    AC bands arrive as three single-component EOB scans — must decode
    to exactly the same pixels as the equivalent single-block baseline
    color file (make_jpeg 8x8 at 4:4:4 shares the same constants and the
    same pinned YCbCr conversion)."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QAC,
        _JPEG_QDC,
        _jpeg_huff_codes,
        decode_pixels,
        make_jpeg,
    )

    fill = 77
    ya = fill % 256
    cb = (fill * 31 + 7) % 256
    cr = (fill * 17 + 3) % 256
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def coded(emitter):
        bits = []

        def emit(code, n):
            bits.extend((code >> (n - 1 - i)) & 1 for i in range(n))

        emitter(emit)
        while len(bits) % 8:
            bits.append(1)
        scan = bytearray()
        for i in range(0, len(bits), 8):
            byte = int("".join(map(str, bits[i : i + 8])), 2)
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0)
        return bytes(scan)

    def emit_val(emit, v):
        s = abs(v).bit_length()
        emit(*dc_codes[s])
        if s:
            emit(v if v >= 0 else v + (1 << s) - 1, s)

    def dc_interleaved(emit):  # full precision (Ah=0, Al=0)
        for v in (ya - 128, cb - 128, cr - 128):
            emit_val(emit, v)  # predictors start at 0 per component

    def ac_eob(emit):
        emit(*ac_codes[0x00])

    qtable = bytes([_JPEG_QDC] + [_JPEG_QAC] * 63)
    j = b"".join(
        [
            b"\xff\xd8",
            b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + qtable,
            b"\xff\xc2"
            + struct.pack(">HBHHB", 17, 8, 8, 8, 3)
            + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
            b"\xff\xc4"
            + struct.pack(">HB", 31, 0x00)
            + bytes(_JPEG_DC_BITS)
            + bytes(_JPEG_DC_VALS),
            b"\xff\xc4"
            + struct.pack(">HB", 181, 0x10)
            + bytes(_JPEG_AC_BITS)
            + bytes(_JPEG_AC_VALS),
            # interleaved DC scan: all three components, MCU order
            b"\xff\xda"
            + struct.pack(">HB", 12, 3)
            + bytes([1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0]),
            coded(dc_interleaved),
        ]
        + [
            seg
            for cid in (1, 2, 3)
            for seg in (
                b"\xff\xda"
                + struct.pack(">HB", 8, 1)
                + bytes([cid, 0x00, 1, 63, 0]),
                coded(ac_eob),
            )
        ]
        + [b"\xff\xd9"]
    )
    assert decode_pixels(j) == decode_pixels(
        make_jpeg(8, 8, fill, sampling=(1, 1))
    )


def test_jpeg_progressive_refinement_eobrun_spans_blocks():
    """A refinement EOB run covering MORE than the current block: two
    blocks, the run opens in block 0 after an insertion (covering its
    remainder's correction bit) and swallows block 1 whole — whose own
    nonzero-history coefficient still takes a correction bit inside
    the run. Decoded pixels must equal the direct IDCT of both final
    blocks."""
    import struct

    import numpy as np

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_ZIGZAG,
        _jpeg_huff_codes,
        decode_pixels,
    )

    w, h = 16, 8  # two full blocks
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    # custom AC table (the Annex K baseline table has no EOBn>0
    # codes — progressive files ship their own): the 7 symbols these
    # scans need, canonical 3-bit codes
    ac_bits = [0, 0, 7] + [0] * 13
    ac_vals = [0x00, 0x01, 0x02, 0x04, 0x10, 0x22, 0xF0]
    ac_codes = _jpeg_huff_codes(ac_bits, ac_vals)

    def coded(emitter):
        bits = []

        def emit(code, n):
            bits.extend((code >> (n - 1 - i)) & 1 for i in range(n))

        emitter(emit)
        while len(bits) % 8:
            bits.append(1)
        scan = bytearray()
        for i in range(0, len(bits), 8):
            byte = int("".join(map(str, bits[i : i + 8])), 2)
            scan.append(byte)
            if byte == 0xFF:
                scan.append(0)
        return bytes(scan)

    def emit_val(emit, codes, v):
        s = abs(v).bit_length()
        emit(*codes[s])
        if s:
            emit(v if v >= 0 else v + (1 << s) - 1, s)

    # final coefficients (zigzag):
    #   block 0: DC=-40, k1=-16, k2=+1, k18=7
    #   block 1: DC=24,  k3=-5
    def dc_first(emit):  # Al=1 diffs: -20, then 12 - (-20) = 32
        emit_val(emit, dc_codes, -20)
        emit_val(emit, dc_codes, 32)

    def dc_refine(emit):  # bits 0 of -40 and 24
        emit(0, 1)
        emit(0, 1)

    def ac_first(emit):  # Al=1: b0: -8 @k1, ZRL, 3 @k18; b1: -2 @k3
        emit_val_ac = lambda run, v: (
            emit(*ac_codes[(run << 4) | abs(v).bit_length()]),
            emit(
                v if v >= 0 else v + (1 << abs(v).bit_length()) - 1,
                abs(v).bit_length(),
            ),
        )
        emit_val_ac(0, -8)
        emit(*ac_codes[0xF0])
        emit_val_ac(0, 3)
        emit(*ac_codes[0x00])  # EOB block 0
        emit_val_ac(2, -2)  # block 1: run 2 zeros (k1,k2) then k3
        emit(*ac_codes[0x00])  # EOB block 1
    def ac_refine(emit):  # Ah=1, Al=0
        # block 0: insert +1 at k2 (corr bit for k1 = 0 on the way),
        # then EOB run r=1 (eobrun = 2 + extra bit 0): covers block
        # 0's remainder (corr bit for k18 = 1) AND all of block 1
        # (corr bit for its k3: |-5| bit0 = 1)
        emit(*ac_codes[0x01])
        emit(1, 1)  # sign of the k2 insertion
        emit(0, 1)  # correction bit for k1 (-16)
        emit(*ac_codes[0x10])  # EOB, r=1
        emit(0, 1)  # extra bits: eobrun = 2 + 0
        emit(1, 1)  # correction bit for block-0 k18 (6 -> 7)
        emit(1, 1)  # correction bit for block-1 k3 (-4 -> -5)

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    j = b"".join(
        [
            b"\xff\xd8",
            b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64),
            b"\xff\xc2"
            + struct.pack(">HBHHBBBB", 11, 8, h, w, 1, 1, 0x11, 0),
            b"\xff\xc4"
            + struct.pack(">HB", 31, 0x00)
            + bytes(_JPEG_DC_BITS)
            + bytes(_JPEG_DC_VALS),
            b"\xff\xc4"
            + struct.pack(">HB", 2 + 1 + 16 + len(ac_vals), 0x10)
            + bytes(ac_bits)
            + bytes(ac_vals),
            sos(0, 0, 0, 1),
            coded(dc_first),
            sos(0, 0, 1, 0),
            coded(dc_refine),
            sos(1, 63, 0, 1),
            coded(ac_first),
            sos(1, 63, 1, 0),
            coded(ac_refine),
            b"\xff\xd9",
        ]
    )
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    A = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    A[0, :] /= np.sqrt(2)

    def block_sum(coeffs):
        F = np.zeros(64)
        for k, v in coeffs.items():
            F[_JPEG_ZIGZAG[k]] = v
        return int(
            np.clip(np.round(A.T @ F.reshape(8, 8) @ A) + 128, 0, 255).sum()
        )

    # AC first at Al=1 leaves block-1 k3 at -2<<1 = -4; the in-run
    # correction takes it to -5
    want = block_sum({0: -40, 1: -16, 2: 1, 18: 7}) + block_sum(
        {0: 24, 3: -5}
    )
    assert decode_pixels(j) == ("jpeg", w, h, 1, want)


def test_adpcm_state_machine_matches_reference_model():
    """The decoder's quantizer transition must equal an independent
    table-driven model (per-(step, nibble) delta table precomputed
    with the bit-test formula) over random nibble streams that drive
    the index across its full range — including int16 clamping at
    both rails and index clamping at 0 and 88."""
    import random
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
        decode_wav,
    )

    # independent model: precomputed delta per (index, nibble)
    delta_tab = [
        [
            (s >> 3)
            + ((s >> 2) if n & 1 else 0)
            + ((s >> 1) if n & 2 else 0)
            + (s if n & 4 else 0)
            for n in range(16)
        ]
        for s in _IMA_STEPS
    ]

    rng = random.Random(7)
    for trial in range(20):
        n_samples = rng.randrange(1, 400)
        pred0 = rng.randrange(-32768, 32768)
        idx0 = rng.randrange(0, 89)
        nibs = [rng.randrange(16) for _ in range(n_samples - 1)]
        # model
        pred, idx = pred0, idx0
        samples = [pred]
        for nib in nibs:
            d = delta_tab[idx][nib]
            pred = pred - d if nib & 8 else pred + d
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
            samples.append(pred)
        want_sum = sum(samples)
        want_peak = max(abs(s) for s in samples)
        # hand-build the wav (block_align fits one block)
        padded = nibs + ([0] if len(nibs) % 2 else [])
        body = bytes(
            padded[i] | (padded[i + 1] << 4)
            for i in range(0, len(padded), 2)
        )
        block = struct.pack("<hBB", pred0, idx0, 0) + body
        ba = 512
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, 8000, 4096, ba, 4, 2, 1 + 2 * (ba - 4)
        )
        wav = b"".join(
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
        got = decode_wav(wav)
        assert got == (8000, 1, n_samples, want_sum, want_peak), (
            trial, got, (want_sum, want_peak),
        )


def test_adpcm_multiblock_resets_state_per_header():
    """Each block header re-initializes predictor AND index: two
    blocks whose second header jumps the state must decode as two
    independent runs, not a continuation."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_wav,
    )

    ba = 8  # 4-byte header + 4 data bytes = 9 samples per block
    spb = 1 + 2 * (ba - 4)
    # block 1: pred 100, idx 0, nibbles all 1 (+1 each at step 7)
    b1 = struct.pack("<hBB", 100, 0, 0) + bytes([0x11] * 4)
    # block 2: pred -500, idx 0, nibbles all 9 (-1 each)
    b2 = struct.pack("<hBB", -500, 0, 0) + bytes([0x99] * 4)
    data = b1 + b2
    n = 2 * spb
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4096, ba, 4, 2, spb)
    wav = b"".join(
        [
            b"RIFF",
            struct.pack("<I", 4 + 8 + len(fmt) + 12 + 8 + len(data)),
            b"WAVE",
            b"fmt ",
            struct.pack("<I", len(fmt)),
            fmt,
            b"fact",
            struct.pack("<II", 4, n),
            b"data",
            struct.pack("<I", len(data)),
            data,
        ]
    )
    want_sum = sum(100 + i for i in range(spb)) + sum(
        -500 - i for i in range(spb)
    )
    assert decode_wav(wav) == (8000, 1, n, want_sum, 500 + spb - 1)


def test_adpcm_nibble_order_and_gates():
    """Low-nibble-first is load-bearing: byte 0x91 decodes +1 then -1;
    a swapped decoder would emit -1 then +1 and change the running sum
    at every odd position. Also: stereo ADPCM and unknown codecs stay
    behind NotImplementedError."""
    import struct

    import pytest

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_wav,
        make_adpcm_wav,
    )

    # n=3: samples h, h+1, h -> sum 3h+1. High-nibble-first would give
    # h, h-1, h -> sum 3h-1.
    assert decode_wav(make_adpcm_wav(3, 1000))[3] == 3001
    wav = bytearray(make_adpcm_wav(3, 1000))
    # flip channels to 2 in the fmt chunk -> documented gate
    struct.pack_into("<H", wav, 22, 2)
    with pytest.raises(NotImplementedError, match="multi-channel"):
        decode_wav(bytes(wav))
    wav = bytearray(make_adpcm_wav(3, 1000))
    struct.pack_into("<H", wav, 20, 0x55)  # unknown codec tag
    with pytest.raises(NotImplementedError, match="WAV format"):
        decode_wav(bytes(wav))


def test_flac_roundtrip_and_verbatim():
    """Constant and verbatim subframes decode sample-exactly, the
    frame counters accumulate across frames, and the 55-byte constant
    payload really is constant-size regardless of sample count."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
        make_flac,
    )

    assert len(make_flac(16, 5)) == len(make_flac(1015, -32000)) == 55
    vb = [((i * 37) % 4001) - 2000 for i in range(64)]
    got = decode_flac(make_flac(10, 7, verbatim=vb))
    assert got == (8000, 1, 74, 70 + sum(vb), 2000)


def test_flac_crc_and_gates():
    """Both CRCs are really verified (a flipped sample byte breaks
    CRC-16; a flipped header byte breaks CRC-8), and the predictive
    subframe types / side stereo raise the documented gates."""
    import pytest

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
        make_flac,
    )

    good = make_flac(16, 1000)
    corrupt = bytearray(good)
    corrupt[-3] ^= 0x40  # sample byte inside the frame body
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(corrupt))
    corrupt = bytearray(good)
    corrupt[-9] ^= 0x01  # block-size field inside the frame header
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(corrupt))
    # a RESERVED subframe type (2): flip the subframe header and
    # re-stamp both CRCs so ONLY the type check can fire (FIXED and
    # LPC types decode for real now)
    from simplemapreduceframework_spark.operators.multimodal import (
        _crc8_flac,
        _crc16_flac,
    )

    hacked = bytearray(good)
    frame_start = len(good) - 13
    hacked[frame_start + 8] = 0b00000100  # pad 0, type 2 (reserved)
    hacked[frame_start + 7] = _crc8_flac(
        bytes(hacked[frame_start : frame_start + 7])
    )
    import struct

    struct.pack_into(
        ">H",
        hacked,
        len(hacked) - 2,
        _crc16_flac(bytes(hacked[frame_start:-2])),
    )
    with pytest.raises(ValueError, match="reserved FLAC subframe"):
        decode_flac(bytes(hacked))


def test_flac_wasted_bits_shift():
    """The wasted-bits-per-sample flag (unary count after the subframe
    header) must left-shift decoded values back: a constant subframe
    storing value>>2 with 2 wasted bits decodes to the original
    value."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _crc8_flac,
        _crc16_flac,
        decode_flac,
    )

    n, value = 20, -4096  # divisible by 4: representable with 2 wasted
    hdr = bytearray(b"\xff\xf8")
    hdr.append((0x7 << 4) | 0x4)
    hdr.append((0x0 << 4) | (0x4 << 1))
    hdr.append(0)
    hdr += struct.pack(">H", n - 1)
    hdr.append(_crc8_flac(bytes(hdr)))
    bits = []

    def emit(v, nb):
        bits.extend((v >> (nb - 1 - i)) & 1 for i in range(nb))

    emit(0b0000000, 7)  # pad + CONSTANT type
    emit(1, 1)  # wasted-bits flag set
    emit(0b01, 2)  # unary: one 0 then terminating 1 -> 2 wasted bits
    emit((value >> 2) & 0x3FFF, 14)  # 16 - 2 effective bits
    while len(bits) % 8:
        bits.append(0)
    body = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    frame = bytes(hdr) + body
    frame += struct.pack(">H", _crc16_flac(frame))
    streaminfo = struct.pack(">HH", 16, 65535) + b"\x00" * 6
    streaminfo += ((8000 << 44) | (0 << 41) | (15 << 36) | n).to_bytes(
        8, "big"
    ) + bytes(16)
    flac = b"fLaC" + b"\x80\x00\x00\x22" + streaminfo + frame
    assert decode_flac(flac) == (8000, 1, n, value * n, abs(value))


def test_flac_fixed_rice_matches_reference_model():
    """The FIXED+Rice path is GENERAL, not just make_flac's ramp: a
    hand-built frame with predictor order 2, partition order 1 (two
    partitions with different Rice parameters, the first shortened by
    the warmup), negative residuals, and an ESCAPE partition (raw
    5-bit twos-complement residuals) must reconstruct exactly the
    samples a pure-Python predictor model computes."""
    import random
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _crc8_flac,
        _crc16_flac,
        decode_flac,
    )

    rng = random.Random(3)
    n = 32  # blocksize; partition order 1 -> two partitions of 16
    order = 2
    warm = [100, 103]
    res_a = [rng.randrange(-6, 7) for _ in range(16 - order)]
    res_b = [rng.randrange(-10, 11) for _ in range(16)]  # escape part

    # reference reconstruction: x(i) = e(i) + 2x(i-1) - x(i-2)
    samples = list(warm)
    for e in res_a + res_b:
        samples.append(e + 2 * samples[-1] - samples[-2])
    want_sum = sum(samples)
    want_peak = max(abs(s) for s in samples)

    hdr = bytearray(b"\xff\xf8")
    hdr.append((0x7 << 4) | 0x4)
    hdr.append((0x0 << 4) | (0x4 << 1))
    hdr.append(0)
    hdr += struct.pack(">H", n - 1)
    hdr.append(_crc8_flac(bytes(hdr)))
    bits = []

    def emit(v, nb):
        bits.extend((v >> (nb - 1 - i)) & 1 for i in range(nb))

    emit(0b0, 1)  # pad
    emit(8 + order, 6)  # FIXED order 2
    emit(0, 1)  # no wasted bits
    for w in warm:
        emit(w & 0xFFFF, 16)
    emit(0b00, 2)  # 4-bit Rice parameters
    emit(1, 4)  # partition order 1
    emit(3, 4)  # partition 1: Rice k=3
    for e in res_a:
        z = (abs(e) << 1) - 1 if e < 0 else e << 1  # zigzag fold
        q, r = z >> 3, z & 7
        emit(0, q)  # q zero bits
        emit(1, 1)  # terminator
        emit(r, 3)
    emit(0xF, 4)  # partition 2: ESCAPE
    emit(5, 5)  # raw width 5
    for e in res_b:
        emit(e & 0x1F, 5)
    while len(bits) % 8:
        bits.append(0)
    body = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    frame = bytes(hdr) + body
    frame += struct.pack(">H", _crc16_flac(frame))
    streaminfo = struct.pack(">HH", 16, 65535) + b"\x00" * 6
    streaminfo += ((8000 << 44) | (0 << 41) | (15 << 36) | n).to_bytes(
        8, "big"
    ) + bytes(16)
    flac = b"fLaC" + b"\x80\x00\x00\x22" + streaminfo + frame
    assert decode_flac(flac) == (8000, 1, n, want_sum, want_peak)


def _flac_frame_bits(n, ch_code, body_bits):
    """Test-local FLAC frame assembler: header (16-bit trailing block
    size, 8 kHz, 16-bit samples, the given channel-assignment code),
    bit-emitted body, CRC-8/CRC-16 stamped."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _crc8_flac,
        _crc16_flac,
    )

    hdr = bytearray(b"\xff\xf8")
    hdr.append((0x7 << 4) | 0x4)
    hdr.append((ch_code << 4) | (0x4 << 1))
    hdr.append(0)
    hdr += struct.pack(">H", n - 1)
    hdr.append(_crc8_flac(bytes(hdr)))
    bits = []

    def emit(v, nb):
        bits.extend((v >> (nb - 1 - i)) & 1 for i in range(nb))

    body_bits(emit)
    while len(bits) % 8:
        bits.append(0)
    body = bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    frame = bytes(hdr) + body
    return frame + struct.pack(">H", _crc16_flac(frame))


def _flac_wrap(n_total, channels, frame):
    import struct

    streaminfo = struct.pack(">HH", 16, 65535) + b"\x00" * 6
    streaminfo += (
        (8000 << 44) | ((channels - 1) << 41) | (15 << 36) | n_total
    ).to_bytes(8, "big") + bytes(16)
    return b"fLaC" + b"\x80\x00\x00\x22" + streaminfo + frame


def _emit_rice(emit, residuals, k):
    for e in residuals:
        z = (abs(e) << 1) - 1 if e < 0 else e << 1
        q, r = z >> k, z & ((1 << k) - 1)
        emit(0, q) if q else None
        emit(1, 1)
        if k:
            emit(r, k)


def test_flac_lpc_subframe_matches_reference_model():
    """Arbitrary-LPC decode: a hand-built order-2 LPC subframe with
    quantized coefficients and a nonzero shift must reconstruct
    x(i) = e(i) + ((c0*x(i-1) + c1*x(i-2)) >> shift) exactly —
    including the arithmetic (sign-preserving) right shift on a
    negative accumulator."""
    import random

    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
    )

    rng = random.Random(11)
    n, order, prec, shift = 24, 2, 6, 4
    coefs = [29, -13]  # 6-bit signed quantized coefficients
    warm = [-40, 35]
    res = [rng.randrange(-5, 6) for _ in range(n - order)]
    samples = list(warm)
    for e in res:
        acc = coefs[0] * samples[-1] + coefs[1] * samples[-2]
        samples.append(e + (acc >> shift))

    def body(emit):
        emit(0b0, 1)
        emit(32 + order - 1, 6)  # LPC order 2
        emit(0, 1)
        for w in warm:
            emit(w & 0xFFFF, 16)
        emit(prec - 1, 4)
        emit(shift & 0x1F, 5)
        for c in coefs:
            emit(c & ((1 << prec) - 1), prec)
        emit(0b00, 2)
        emit(0, 4)  # partition order 0
        emit(2, 4)  # Rice parameter k=2
        _emit_rice(emit, res, 2)

    flac = _flac_wrap(n, 1, _flac_frame_bits(n, 0, body))
    assert decode_flac(flac) == (
        8000, 1, n, sum(samples), max(abs(s) for s in samples),
    )


def test_flac_stereo_decorrelation_all_three_modes():
    """LEFT_SIDE, RIGHT_SIDE, and MID_SIDE frames (constant subframes
    for clarity; the side channel carries its extra bit) must
    reconstruct the same (left, right) pair a reference computation
    produces."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_flac,
    )

    n = 10
    left, right = 1000, -250
    side = left - right  # 1250
    mid = (left + right) >> 1  # 375

    def mk(ch_code, c0, c1, extra_on):
        def body(emit):
            for v, extra in ((c0, extra_on == 0), (c1, extra_on == 1)):
                emit(0b00000000, 8)  # CONSTANT, no waste
                emit(v & 0x1FFFF, 17 if extra else 16)

        return _flac_wrap(n, 2, _flac_frame_bits(n, ch_code, body))

    want = (8000, 2, n, (left + right) * n, max(abs(left), abs(right)))
    assert decode_flac(mk(8, left, side, 1)) == want  # LEFT_SIDE
    assert decode_flac(mk(9, side, right, 0)) == want  # RIGHT_SIDE
    assert decode_flac(mk(10, mid, side, 1)) == want  # MID_SIDE


def test_jpeg_lossless_roundtrip_all_predictors():
    """Every Annex H predictor selection (1-7) must losslessly invert
    on the closed-form ramp raster, for several geometries."""
    from simplemapreduceframework_spark.operators.multimodal import (
        decode_pixels,
        make_jpeg_lossless,
    )

    for sel in range(1, 8):
        for w, h, fill in [(8, 8, 5), (24, 16, 63), (40, 8, 0)]:
            f = fill % 64
            want = (64 * f + 2240) * (w // 8) * (h // 8)
            assert decode_pixels(make_jpeg_lossless(w, h, fill, sel=sel)) == (
                "jpeg", w, h, 1, want,
            ), (sel, w, h)


def test_jpeg_lossless_hand_computed_stream_conformance():
    """Annex-H CONFORMANCE, not just encoder/decoder inverse
    consistency (a predictor bug shared by both sides would cancel in
    a roundtrip): a 2x2 raster's diffs are computed BY HAND here for
    predictor 4 (a+b-c) with the H.1.2.1 boundary rules, emitted as a
    raw bitstream, and the decoder must reproduce the exact pixels.

    raster [[100, 102], [107, 113]]:
      (0,0): pred = 1<<7 = 128       -> diff = -28
      (1,0): pred = a = 100          -> diff = +2
      (0,1): pred = b(above) = 100   -> diff = +7
      (1,1): pred = a+b-c = 107+102-100 = 109 -> diff = +4
    """
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_huff_codes,
        decode_pixels,
    )

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    bits = []

    def emit(code, n):
        bits.extend((code >> (n - 1 - i)) & 1 for i in range(n))

    for diff in (-28, 2, 7, 4):
        s = abs(diff).bit_length()
        emit(*dc_codes[s])
        emit(diff if diff >= 0 else diff + (1 << s) - 1, s)
    while len(bits) % 8:
        bits.append(1)
    scan = bytearray()
    for i in range(0, len(bits), 8):
        byte = int("".join(map(str, bits[i : i + 8])), 2)
        scan.append(byte)
        if byte == 0xFF:
            scan.append(0)
    j = b"".join(
        [
            b"\xff\xd8",
            b"\xff\xc3"
            + struct.pack(">HBHHB", 11, 8, 2, 2, 1)
            + bytes([1, 0x11, 0]),
            b"\xff\xc4"
            + struct.pack(">HB", 31, 0x00)
            + bytes(_JPEG_DC_BITS)
            + bytes(_JPEG_DC_VALS),
            b"\xff\xda"
            + struct.pack(">HB", 8, 1)
            + bytes([1, 0x00, 4, 0, 0]),  # predictor selection 4
            bytes(scan),
            b"\xff\xd9",
        ]
    )
    assert decode_pixels(j) == ("jpeg", 2, 2, 1, 100 + 102 + 107 + 113)


def test_adpcm_truncated_final_block_partial_decode():
    """A data chunk cut mid-block-header (< 4 bytes left) must return
    the partial (out, total, peak) decoded so far — the documented
    graceful-truncation contract (advisor r8) — never raise from an
    unguarded header unpack."""
    import struct

    from simplemapreduceframework_spark.operators.multimodal import (
        _decode_ima_adpcm,
    )

    block = struct.pack("<hBB", 100, 0, 0) + bytes(4)  # 1+8 samples
    full = _decode_ima_adpcm(block, 8, 100)
    assert full[0] == 9  # header sample + 8 zero nibbles
    # 2 trailing bytes: shorter than one header -> ignored, not a crash
    assert _decode_ima_adpcm(block + b"\x01\x02", 8, 100) == full
    assert _decode_ima_adpcm(b"\x01\x02", 8, 10) == (0, 0, 0)


def test_flac_reserved_rate_and_size_codes_reject():
    """Frame-header sample-rate code 15 (invalid) and sample-size code
    3 (reserved) must REJECT — not silently fall back to STREAMINFO
    defaults (advisor r8). Codes are patched into a valid stream with
    both CRCs re-stamped so only the code check can fire."""
    import struct

    import pytest

    from simplemapreduceframework_spark.operators.multimodal import (
        _crc8_flac,
        _crc16_flac,
        decode_flac,
        make_flac,
    )

    good = make_flac(16, 1000)
    frame_start = len(good) - 13

    def patch(byte_off: int, mutate) -> bytes:
        hacked = bytearray(good)
        hacked[frame_start + byte_off] = mutate(hacked[frame_start + byte_off])
        hacked[frame_start + 7] = _crc8_flac(
            bytes(hacked[frame_start : frame_start + 7])
        )
        struct.pack_into(
            ">H",
            hacked,
            len(hacked) - 2,
            _crc16_flac(bytes(hacked[frame_start:-2])),
        )
        return bytes(hacked)

    # byte 2 = bs_code<<4 | sr_code: force sr_code 15
    with pytest.raises(ValueError, match="sample-rate code 15"):
        decode_flac(patch(2, lambda b: (b & 0xF0) | 0x0F))
    # byte 3 = ch_code<<4 | ss_code<<1 | reserved: force ss_code 3
    with pytest.raises(ValueError, match="sample-size code 3"):
        decode_flac(patch(3, lambda b: (b & 0xF1) | (3 << 1)))


def test_jpeg_huff_table_cache_keeps_hot_table_past_cap(monkeypatch):
    """Past its cap the decode-table cache evicts one entry per new
    spec instead of clearing: a hot table (the Annex K DC table every
    file in a batch uses) keeps its one built object through a flood
    of distinct one-off specs, and the cache never exceeds the cap."""
    from simplemapreduceframework_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_JPEG_HUFF_TABLE_CACHE", {})
    bits, vals = mm._JPEG_DC_BITS, mm._JPEG_DC_VALS
    hot = mm._jpeg_huff_decode_table(bits, vals)
    for i in range(1, 2 * mm._JPEG_HUFF_TABLE_CAP):
        mm._jpeg_huff_decode_table(bits, [v + i for v in vals])
        assert mm._jpeg_huff_decode_table(bits, vals) is hot
        assert len(mm._JPEG_HUFF_TABLE_CACHE) <= mm._JPEG_HUFF_TABLE_CAP


# Encoder equivalence: sha256 over the concatenated payloads each codec
# query's encode stage writes for doc_id 0..3999, pinned at the commit
# that introduced this test. Any codec refactor must keep every byte.
# Never edit these digests; a mismatch means the encoders changed.
_ENCODER_DIGESTS = {
    "multimodal_decode_real": (
        "a840b35ece034f084031db6f6398495728a554edb08112c67dd0dc663a55be3d"
    ),
    "multimodal_decode_gif": (
        "0ec3aab98af928db533610bf102cc9adc89a300de7a090ae82b2101fa7a27d14"
    ),
    "multimodal_decode_jpeg": (
        "961a25ba4f8fd5f9951f1012820d1b3baec67d5600c49769f06ed3e18a2e0731"
    ),
    "multimodal_decode_progressive": (
        "57e37790b076c0e6a3b516720cd07afdc646f95b2fc3fb22877f62c185955adb"
    ),
    "multimodal_decode_lossless": (
        "43a6b1750c86418c4c96534e5b7f04d281f65f38b8fe29ef4e98ae0399f3fe26"
    ),
    "multimodal_decode_color": (
        "a6877be9cb636f7a87f9deeb53fa47878d01567ad608fb3f8a3dcdc07fdd3526"
    ),
    "multimodal_decode_subsampled": (
        "5eb77386f76e9423a47b32a663be3f336b2f29cb07daa40d4a7ec0bb984425e0"
    ),
    "multimodal_audio_real": (
        "45a45ef35a2c6fb971a03d37fc6ceeb2a0b6d2cb356c24262ec9982cbe67da47"
    ),
    "multimodal_audio_adpcm": (
        "4444e49475c6a832359f36ecbe8c97e049e6990df061b170a528ed8069929349"
    ),
    "multimodal_audio_flac": (
        "74b53480fd7d3f591aa4423a67a20a0ec1acf8db8422e10e482821e3217a68f8"
    ),
}
_BLOCKS_GRID_DIGEST = (
    "7407c158dcf76a5f99a7f15ce0befe0370fb8401601e97cb79b3a2f0de2d5667"
)
_JPEG_422_DIGEST = (
    "a95e61b9a87692789604a78cbeb659f85b5275ddccf84747984bd830901055ab"
)
_JPEG_440_DIGEST = (
    "2e5468fb3c161454442d8137c376acb573d7964440768218841ac28fbb0b2299"
)


class _PlanRecorder:
    """Stands in for the documents frame: records every mapInPandas
    body a query chains, so its encode stage runs without Spark."""

    def __init__(self):
        self.bodies = []

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.bodies.append(fn)
        return self


def _sha256(payloads) -> str:
    import hashlib

    return hashlib.sha256(b"".join(payloads)).hexdigest()


@pytest.mark.parametrize("name", sorted(_ENCODER_DIGESTS))
def test_codec_query_encoder_bytes_unchanged(name, monkeypatch):
    from simplemapreduceframework_spark.operators import multimodal as mm

    rec = _PlanRecorder()
    monkeypatch.setattr(mm, "load_table", lambda *a, **k: rec)
    Q[name](None, None)
    encode = rec.bodies[0]
    batch = pd.DataFrame({"doc_id": pd.Series(range(4000), dtype="int64")})
    payloads = [p for out in encode(iter([batch])) for p in out["payload"]]
    assert len(payloads) == 4000
    assert _sha256(payloads) == _ENCODER_DIGESTS[name]


def _luma_grid(bw, bh):
    return [[(37 * bx + 91 * by + 5) % 256 for bx in range(bw)]
            for by in range(bh)]


def test_jpeg_blocks_and_sampled_encoder_bytes_unchanged():
    """The explicit-grid writer and the 4:2:2 / 4:4:0 sampling layouts
    (no codec query emits them) keep their exact bytes too."""
    from simplemapreduceframework_spark.operators.multimodal import make_jpeg

    grid = _luma_grid(7, 5)
    assert _sha256(
        [make_jpeg(56, 40, 9, restart_interval=2, blocks=grid)]
    ) == _BLOCKS_GRID_DIGEST
    fill = 250  # chroma Cb = 77, Cr = 157
    assert _sha256(
        [make_jpeg(48, 24, fill, blocks=_luma_grid(6, 3), sampling=(2, 1))]
    ) == _JPEG_422_DIGEST
    assert _sha256(
        [make_jpeg(24, 48, fill, blocks=_luma_grid(3, 6), sampling=(1, 2))]
    ) == _JPEG_440_DIGEST


# Decoder equivalence: sha256 over repr(decode_pixels(payload)) + "\n"
# for doc_id 0..3999 of each JPEG codec query, and over the explicit-grid
# and 4:2:2 / 4:4:0 files above, pinned at the commit that introduced
# this test. Never edit these digests; a mismatch means a decoder's
# output changed.
_DECODER_DIGESTS = {
    "multimodal_decode_jpeg": (
        "fa3849ee4405f6c0828018af63a617ca8e8839dd00499578dda639a6044391e5"
    ),
    "multimodal_decode_color": (
        "7f9cf67b9a8affce159c0b4f8e37fb1772da19b11d557d97390d48581c402064"
    ),
    "multimodal_decode_subsampled": (
        "55ee39f6244a7880dac466b2ae40f16ce5492fe556bfdb985cde19b8fe566ac5"
    ),
    "multimodal_decode_progressive": (
        "fa3849ee4405f6c0828018af63a617ca8e8839dd00499578dda639a6044391e5"
    ),
    "multimodal_decode_lossless": (
        "66a5920b48de79b27008cf17bc94d757c8a16d81ef4ee66ae279e7a80be8e210"
    ),
    "make_jpeg_blocks_sampled": (
        "0dcf5fbf797a4a0317948e1635a17fd06bd19000a8a09e44b54e54d371406354"
    ),
}


@pytest.mark.parametrize("name", sorted(_DECODER_DIGESTS))
def test_jpeg_decoder_output_unchanged(name):
    import hashlib

    from simplemapreduceframework_spark.operators import multimodal as mm

    if name == "make_jpeg_blocks_sampled":
        payloads = [
            mm.make_jpeg(56, 40, 9, restart_interval=2, blocks=_luma_grid(7, 5)),
            mm.make_jpeg(48, 24, 250, blocks=_luma_grid(6, 3), sampling=(2, 1)),
            mm.make_jpeg(24, 48, 250, blocks=_luma_grid(3, 6), sampling=(1, 2)),
        ]
    else:
        [spec] = [s for s in mm._CODEC_QUERIES if s.name == name]
        payloads = (spec.payload(d) for d in range(4000))
    text = "".join(f"{mm.decode_pixels(p)!r}\n" for p in payloads)
    assert hashlib.sha256(text.encode()).hexdigest() == _DECODER_DIGESTS[name]
