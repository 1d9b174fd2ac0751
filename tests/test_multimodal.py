"""Multimodal decode seam: stub plumbing for the oracle, real codecs live.

The stub path is oracle-verified (mm_decode_stub in the registry); these
tests pin the seam itself — ``decode_image`` is always the REAL codec
path (builtin BMP/PPM decoders in-container; Pillow widens coverage when
present) and corrupt payloads NULL out instead of failing the batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_worker_spark.functions.imagecodec import (
    decode_bmp,
    decode_ppm,
    encode_bmp,
    encode_ppm,
    sniff_format,
)
from data_ingestion_worker_spark.operators.multimodal import (
    HAS_PIL,
    decode_image,
    decode_image_real,
    mm_decode_real,
)

#: 2x3 RGB test card, distinct channel values per pixel (top-to-bottom).
RGB_2X3 = bytes((
    255, 0, 0,    0, 255, 0,
    0, 0, 255,    10, 20, 30,
    200, 100, 50, 1, 2, 3,
))


def test_seam_is_always_the_real_codec_path():
    assert decode_image is decode_image_real


def test_payload_kernel_repeats_doc_id_per_row_in_schema_order():
    """The kernel decorator: a payload's rows each carry its doc_id, a
    payload may yield 0 or many rows (a NULL payload still reaches the
    per-payload function), an empty batch yields an empty frame, and
    columns come out in the schema's order."""
    import pandas as pd

    from data_ingestion_worker_spark.operators.multimodal import (
        _payload_kernel,
    )

    @_payload_kernel("doc_id bigint, tag string, n int")
    def fan_out(b):
        """One row per payload byte; a NULL payload gives one NULL row."""
        if b is None:
            return [("null", None)]
        return [(b.decode(), i) for i in range(len(b))]

    assert fan_out.__name__ == "fan_out"
    assert fan_out.__doc__.startswith("One row per payload byte")
    batches = [
        pd.DataFrame({"doc_id": [7, 8, 9], "payload": [b"abc", b"", None]}),
        pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                      "payload": pd.Series([], dtype="object")}),
    ]
    full, empty = fan_out(iter(batches))
    assert list(full.columns) == ["doc_id", "tag", "n"]
    rows = [tuple(None if pd.isna(v) else v for v in r)
            for r in full.itertuples(index=False, name=None)]
    assert rows == [(7, "abc", 0), (7, "abc", 1), (7, "abc", 2),
                    (9, "null", None)]
    assert list(empty.columns) == ["doc_id", "tag", "n"] and empty.empty


def test_bmp_pixel_roundtrip():
    img = decode_bmp(encode_bmp(2, 3, RGB_2X3))
    assert (img.width, img.height, img.mode, img.format) == (2, 3, "RGB",
                                                             "BMP")
    assert img.pixels == RGB_2X3  # bottom-up storage re-flipped correctly


def test_bmp_odd_width_row_padding():
    """Width 3 gives a 9-byte row padded to 12 — stride handling must not
    shear pixels across rows."""
    rgb = bytes(range(3 * 2 * 3))  # 3x2
    img = decode_bmp(encode_bmp(3, 2, rgb))
    assert img.pixels == rgb


def _bmp_with_dib(width, height, bpp, pixel_rows, palette=b""):
    """Hand-assemble a BMP (any bpp / row order) for decoder edge paths."""
    import struct

    stride = ((bpp * width + 31) // 32) * 4
    body = b"".join(row.ljust(stride, b"\x00") for row in pixel_rows)
    pixel_offset = 14 + 40 + len(palette)
    header = struct.pack("<2sIHHI", b"BM", pixel_offset + len(body), 0, 0,
                         pixel_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
                      len(body), 2835, 2835, len(palette) // 4, 0)
    return header + dib + palette + body


def test_bmp_top_down_negative_height():
    """Negative DIB height = rows stored top-down; decoder must NOT flip."""
    rows = [bytes((0, 0, 255, 0, 255, 0)),      # BGR: red px, green px
            bytes((255, 0, 0, 1, 2, 3))]        # blue px, (3,2,1) px
    img = decode_bmp(_bmp_with_dib(2, -2, 24, rows))
    assert (img.width, img.height) == (2, 2)
    assert img.pixels == bytes((255, 0, 0, 0, 255, 0,   # row0 as stored
                                0, 0, 255, 3, 2, 1))


def test_bmp_8bit_palette_resolves_to_rgb():
    palette = bytes((255, 0, 0, 0)) + bytes((0, 255, 0, 0))  # BGRX: blue, green
    rows = [bytes((0, 1)), bytes((1, 0))]       # bottom-up storage
    img = decode_bmp(_bmp_with_dib(2, 2, 8, rows, palette))
    assert img.mode == "P"
    # Stored bottom-up: decoded top row is the LAST stored row.
    assert img.pixels == bytes((0, 255, 0, 0, 0, 255,
                                0, 0, 255, 0, 255, 0))


def test_bmp_32bit_preserves_alpha():
    rows = [bytes((10, 20, 30, 40))]            # BGRA -> RGBA
    img = decode_bmp(_bmp_with_dib(1, 1, 32, rows))
    assert img.mode == "RGBA"
    assert img.pixels == bytes((30, 20, 10, 40))


def test_bmp_rejects_out_of_range_palette_index():
    palette = bytes((0, 0, 0, 0))               # 1 color only
    with pytest.raises(ValueError):
        decode_bmp(_bmp_with_dib(1, 1, 8, [bytes((5,))], palette))


def test_ppm_pixel_roundtrip():
    img = decode_ppm(encode_ppm(2, 3, RGB_2X3))
    assert (img.width, img.height, img.mode, img.format) == (2, 3, "RGB",
                                                             "PPM")
    assert img.pixels == RGB_2X3


def test_codec_roundtrip_property():
    """Any RGB buffer survives encode->decode bit-exactly, for every
    width/height (odd widths exercise BMP row padding)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def run(data):
        w = data.draw(st.integers(1, 8))
        h = data.draw(st.integers(1, 8))
        rgb = data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3))
        from data_ingestion_worker_spark.functions.pngcodec import (
            decode_png,
            encode_png,
        )
        for enc, dec in ((encode_bmp, decode_bmp),
                         (encode_ppm, decode_ppm),
                         (encode_png, decode_png)):
            img = dec(enc(w, h, rgb))
            assert (img.width, img.height, img.pixels) == (w, h, rgb)

    run()


def test_codec_rejects_malformed_payloads():
    assert sniff_format(b"not an image") is None
    for bad in (b"BM" + b"\x00" * 10,              # truncated header
                encode_bmp(2, 3, RGB_2X3)[:-4],    # truncated pixels
                b"P6\n2 x\n255\n" + RGB_2X3,       # non-numeric field
                b"P6\n2 3\n65535\n" + RGB_2X3):    # 16-bit maxval
        with pytest.raises(ValueError):
            decode_bmp(bad) if bad[:2] == b"BM" else decode_ppm(bad)


def test_real_decode_reads_bmp_ppm_and_isolates_corrupt_rows(spark):
    """Real in-container decode: a 2x3 BMP and a 2x3 PPM come back with
    true dimensions; a corrupt payload yields NULL metadata (T10)."""
    rows = [
        (1, bytearray(encode_bmp(2, 3, RGB_2X3))),
        (2, bytearray(encode_ppm(2, 3, RGB_2X3))),
        (3, bytearray(b"not an image")),
        (4, None),  # NULL payload: TypeError path must also NULL out
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r["doc_id"]: r for r in mm_decode_real(spark, df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (2, 3)
    assert out[1]["format"] == "BMP" and out[1]["mode"] == "RGB"
    assert (out[2]["width"], out[2]["height"]) == (2, 3)
    assert out[2]["format"] == "PPM"
    assert out[3]["width"] is None and out[3]["mode"] is None
    assert out[4]["width"] is None and out[4]["mode"] is None


def _fake_pil(monkeypatch, opened):
    """Install a minimal fake ``PIL`` module so the Pillow seam executes
    even in containers without the dependency."""
    import sys
    import types

    class _Img:
        width, height, mode, format = 2, 3, "RGB", "PNG"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def _open(buf):
        opened.append(buf.read())
        return _Img()

    image_mod = types.SimpleNamespace(open=_open)
    pil_mod = types.ModuleType("PIL")
    pil_mod.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil_mod)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)


def test_pillow_seam_executes_with_monkeypatched_module(monkeypatch):
    """The HAS_PIL=True branch is not a dead path: with a fake PIL
    installed, non-builtin payloads route to Pillow while BMP/PPM still
    take the builtin codecs (sniff-first routing)."""
    import pandas as pd

    from data_ingestion_worker_spark.operators import multimodal as mm

    opened: list[bytes] = []
    _fake_pil(monkeypatch, opened)
    monkeypatch.setattr(mm, "HAS_PIL", True)
    batch = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "payload": [b"\x89PNG fake", encode_bmp(2, 3, RGB_2X3), None],
    })
    (out,) = list(mm.decode_image_real(iter([batch])))
    by_id = out.set_index("doc_id")
    # PNG-ish payload went through the (fake) Pillow probe...
    assert by_id.loc[1, "format"] == "PNG" and opened == [b"\x89PNG fake"]
    # ...BMP bypassed Pillow entirely (sniffed to the builtin codec)...
    assert by_id.loc[2, "format"] == "BMP"
    # ...and a NULL payload NULLs out on any seam.
    assert by_id.loc[3, "format"] is None


def test_real_decode_reads_png_builtin(spark):
    """A genuinely compressed PNG decodes through the seam with NO
    Pillow: the builtin zlib-backed codec owns the format in-container
    (sniff-first routing sends it there even when Pillow exists)."""
    from data_ingestion_worker_spark.functions.pngcodec import encode_png

    df = spark.createDataFrame([(1, bytearray(encode_png(2, 3, RGB_2X3)))],
                               "doc_id bigint, payload binary")
    out = mm_decode_real(spark, df).collect()[0]
    assert (out["width"], out["height"], out["format"]) == (2, 3, "PNG")


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
def test_real_decode_reads_jpeg_via_pillow(spark):
    """With Pillow present the seam covers formats with no builtin
    codec (JPEG — DEFLATE-free, so stdlib zlib cannot help)."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (2, 3)).save(buf, format="JPEG")
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                               "doc_id bigint, payload binary")
    out = mm_decode_real(spark, df).collect()[0]
    assert (out["width"], out["height"], out["format"]) == (2, 3, "JPEG")


def test_stub_oracle_path_unchanged(spark, sf_dir):
    """mm_decode_stub keeps the deterministic stub regardless of codecs."""
    from data_ingestion_worker_spark.operators.multimodal import (
        mm_decode_stub,
    )
    row = mm_decode_stub(spark, sf_dir).filter(F.col("doc_id") == 0) \
        .collect()[0]
    assert row["fake_width"] is not None and row["payload_sha"] is not None


def test_wav_roundtrip_and_chunk_walk():
    import struct

    from data_ingestion_worker_spark.functions.audiocodec import (
        decode_wav,
        encode_wav,
    )

    pcm = bytes(range(16))                    # 4 stereo 16-bit frames
    wav = decode_wav(encode_wav(16000, 2, pcm))
    assert (wav.sample_rate, wav.channels, wav.bits_per_sample,
            wav.n_frames) == (16000, 2, 16, 4)
    assert wav.pcm == pcm
    assert wav.duration_us == 4 * 1_000_000 // 16000

    # A LIST metadata chunk between fmt and data must be skipped.
    raw = encode_wav(8000, 1, pcm)
    fmt_end = 12 + 8 + 16
    meta = b"LIST" + struct.pack("<I", 4) + b"INFO"
    padded = (raw[:fmt_end] + meta + raw[fmt_end:])
    padded = b"RIFF" + struct.pack("<I", len(padded) - 8) + padded[8:]
    wav2 = decode_wav(padded)
    assert (wav2.sample_rate, wav2.n_frames) == (8000, 8)
    assert wav2.pcm == pcm


def test_wav_rejects_malformed():
    import struct

    import pytest as _pytest

    from data_ingestion_worker_spark.functions.audiocodec import (
        decode_wav,
        encode_wav,
    )

    good = encode_wav(8000, 1, bytes(8))
    non_pcm = bytearray(good)
    non_pcm[20:22] = struct.pack("<H", 3)     # IEEE float format code
    for bad in (b"RIFX" + good[4:],           # bad magic
                good[:-3],                    # truncated data chunk
                bytes(non_pcm),
                good[:12]):                   # no chunks at all
        with _pytest.raises(ValueError):
            decode_wav(bytes(bad))


def test_avi_roundtrip_and_junk_chunk_skip():
    import struct

    from data_ingestion_worker_spark.functions.videocodec import (
        decode_avi,
        encode_avi,
    )

    f1, f2 = bytes(range(12)), bytes(range(100, 112))   # 2x2 RGB frames
    avi = decode_avi(encode_avi(2, 2, [f1, f2], fps=12))
    assert (avi.width, avi.height, avi.fps, avi.n_frames) == (2, 2, 12, 2)
    assert avi.frames == (f1, f2)

    # Odd width exercises DIB row stride (9 -> 12 bytes per row).
    f3 = bytes(range(9))
    assert decode_avi(encode_avi(3, 1, [f3])).frames == (f3,)

    # A JUNK chunk between hdrl and movi must be skipped.
    raw = encode_avi(2, 2, [f1])
    movi_at = raw.index(b"LIST", raw.index(b"movi") - 8)
    junk = b"JUNK" + struct.pack("<I", 6) + b"junkda"
    padded = raw[:movi_at] + junk + raw[movi_at:]
    padded = b"RIFF" + struct.pack("<I", len(padded) - 8) + padded[8:]
    assert decode_avi(padded).frames == (f1,)


def test_avi_with_audio_stream_is_decodable():
    """An interleaved audio stream (strh 'auds' + 16-byte WAVEFORMATEX
    strf) must be ignored, not rejected as an undersized video strf."""
    import struct

    from data_ingestion_worker_spark.functions.videocodec import (
        decode_avi,
        encode_avi,
    )

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    f1 = bytes(range(12))
    raw = encode_avi(2, 2, [f1], fps=10)
    # Build an audio strl: strh(fccType='auds') + 16-byte WAVEFORMATEX.
    strh = (b"auds" + b"\x00" * 52)
    strf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    strl = chunk(b"LIST", b"strl" + chunk(b"strh", strh)
                 + chunk(b"strf", strf))
    # Splice it into hdrl (after the video strl, before hdrl's end).
    hdrl_at = raw.index(b"hdrl") - 4          # LIST header start
    hdrl_size = struct.unpack_from("<I", raw, hdrl_at + 4)[0]
    hdrl_end = hdrl_at + 8 + hdrl_size
    spliced = bytearray(raw[:hdrl_end] + strl + raw[hdrl_end:])
    struct.pack_into("<I", spliced, hdrl_at + 4, hdrl_size + len(strl))
    struct.pack_into("<I", spliced, 4, len(spliced) - 8)
    avi = decode_avi(bytes(spliced))
    assert (avi.width, avi.height, avi.fps) == (2, 2, 10)
    assert avi.frames == (f1,)


def test_avi_rejects_malformed():
    import struct

    import pytest as _pytest

    from data_ingestion_worker_spark.functions.videocodec import (
        decode_avi,
        encode_avi,
    )

    good = encode_avi(2, 2, [bytes(range(12))])
    compressed = bytearray(good)
    strf_at = good.index(b"strf") + 8
    compressed[strf_at + 16: strf_at + 20] = struct.pack("<I", 0x44495658)
    for bad in (b"RIFF" + good[4:8] + b"WAVE" + good[12:],  # wrong form
                good[:-5],                                  # truncated movi
                bytes(compressed),                          # non-BI_RGB
                good[:12]):                                 # no chunks
        with _pytest.raises(ValueError):
            decode_avi(bytes(bad))


# ---------------------------------------------------------------------------
# PNG codec (functions/pngcodec.py)


def _png_raw(ihdr_fields, idat_scanlines, plte=None):
    """Hand-assemble a PNG from raw IHDR fields + pre-filtered scanline
    bytes — lets tests drive every filter type and color type directly."""
    import struct
    import zlib

    from data_ingestion_worker_spark.functions.pngcodec import (
        PNG_SIG,
        _chunk,
    )

    out = PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields))
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(idat_scanlines)) \
        + _chunk(b"IEND", b"")


def test_png_all_filter_types_unfilter_per_spec():
    """Decode must invert the spec's FORWARD filter definitions: the
    test filters known pixels itself (Sub/Up/Average/Paeth as RFC 2083
    writes them) and asserts the decoder recovers the original bytes."""
    from data_ingestion_worker_spark.functions.pngcodec import decode_png

    w, h, bpp = 4, 5, 3
    stride = w * bpp
    rgb = bytes((r * stride + i) * 37 % 256
                for r in range(h) for i in range(stride))
    rows = [rgb[r * stride:(r + 1) * stride] for r in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    filtered = bytearray()
    for r, row in enumerate(rows):
        ft = r % 5  # one of each filter type across the 5 rows
        prev = rows[r - 1] if r else bytes(stride)
        filtered.append(ft)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: left, 2: up,
                    3: (left + up) >> 1, 4: paeth(left, up, ul)}[ft]
            filtered.append((row[i] - pred) & 0xFF)

    img = decode_png(_png_raw((w, h, 8, 2, 0, 0, 0), bytes(filtered)))
    assert (img.width, img.height, img.mode, img.format) == (w, h, "RGB",
                                                             "PNG")
    assert img.pixels == rgb


def test_png_gray_palette_rgba_color_types():
    from data_ingestion_worker_spark.functions.pngcodec import decode_png

    # grayscale 2x2 expands each sample to RGB
    gray = decode_png(_png_raw((2, 2, 8, 0, 0, 0, 0),
                               b"\x00\x10\x20" + b"\x00\x30\x40"))
    assert gray.mode == "L"
    assert gray.pixels == bytes((0x10,) * 3 + (0x20,) * 3
                                + (0x30,) * 3 + (0x40,) * 3)
    # palette 2x1 resolves indices through PLTE
    pal = decode_png(_png_raw((2, 1, 8, 3, 0, 0, 0), b"\x00\x01\x00",
                              plte=b"\x01\x02\x03\x0a\x0b\x0c"))
    assert pal.mode == "P"
    assert pal.pixels == b"\x0a\x0b\x0c\x01\x02\x03"
    # RGBA 1x1 passes alpha through
    rgba = decode_png(_png_raw((1, 1, 8, 6, 0, 0, 0), b"\x00\x01\x02\x03\x7f"))
    assert rgba.mode == "RGBA"
    assert (rgba.pixels, rgba.bytes_per_pixel) == (b"\x01\x02\x03\x7f", 4)


def test_png_rejects_malformed():
    import pytest as _pytest

    from data_ingestion_worker_spark.functions.pngcodec import (
        decode_png,
        encode_png,
    )

    good = encode_png(2, 2, bytes(range(12)))
    corrupt_crc = good[:-5] + bytes([good[-5] ^ 0xFF]) + good[-4:]
    cases = [
        b"\x89PNG\r\n\x1a\nXX",                      # truncated chunks
        good[:20],                                    # cut mid-IHDR
        corrupt_crc,                                  # IEND CRC flipped
        _png_raw((2, 1, 8, 2, 0, 0, 0), b"\x07" + bytes(6)),   # filter 7
        _png_raw((2, 1, 8, 2, 0, 0, 1), b"\x00" + bytes(6)),   # interlaced
        _png_raw((2, 1, 16, 2, 0, 0, 0), b"\x00" + bytes(12)),  # 16-bit
        _png_raw((2, 1, 8, 3, 0, 0, 0), b"\x00\x05\x00",
                 plte=b"\x01\x02\x03"),               # palette idx OOR
        _png_raw((2, 1, 8, 2, 0, 0, 0), bytes(3)),    # bad inflate size
    ]
    for bad in cases:
        with _pytest.raises(ValueError):
            decode_png(bad)
    # and a flipped byte inside IDAT breaks the chunk CRC
    idat_at = good.index(b"IDAT") + 4
    broken = good[:idat_at] + bytes([good[idat_at] ^ 0xFF]) \
        + good[idat_at + 1:]
    with _pytest.raises(ValueError):
        decode_png(broken)


def test_png_routes_through_builtin_sniff():
    from data_ingestion_worker_spark.functions.imagecodec import (
        decode_builtin,
        sniff_format,
    )
    from data_ingestion_worker_spark.functions.pngcodec import encode_png

    payload = encode_png(2, 3, RGB_2X3)
    assert sniff_format(payload) == "PNG"
    img = decode_builtin(payload)
    assert (img.width, img.height, img.format, img.pixels) == (2, 3, "PNG",
                                                               RGB_2X3)


def test_unsupported_builtin_profile_falls_through_to_pillow(monkeypatch):
    """A valid-but-exotic PNG the builtin codec rejects (Adam7
    interlace) must still reach Pillow when present — owning the magic
    may not shrink coverage below Pillow-alone."""
    import pandas as pd

    from data_ingestion_worker_spark.operators import multimodal as mm

    interlaced = _png_raw((2, 1, 8, 2, 0, 0, 1), b"\x00" + bytes(6))
    opened: list[bytes] = []
    _fake_pil(monkeypatch, opened)
    monkeypatch.setattr(mm, "HAS_PIL", True)
    batch = pd.DataFrame({"doc_id": [1], "payload": [interlaced]})
    out = next(mm.decode_image_real(iter([batch])))
    assert out.loc[0, "format"] == "PNG" and opened == [interlaced]
    # and without Pillow the same payload NULLs out instead of raising
    monkeypatch.setattr(mm, "HAS_PIL", False)
    out2 = next(mm.decode_image_real(iter([batch])))
    assert out2.loc[0, "width"] is None or pd.isna(out2.loc[0, "width"])


def test_image_ahash_bits_match_decoded_pixels(spark, sf_dir):
    """aHash bits recomputed from independently decoded pixels; bucket
    keeper flags must pick exactly the min doc per bucket."""
    import hashlib
    from collections import defaultdict

    from data_ingestion_worker_spark.functions.imagecodec import (
        decode_bmp, encode_bmp,
    )
    from data_ingestion_worker_spark.operators.multimodal import (
        _hash64_py, mm_image_ahash_dedup,
    )
    from data_ingestion_worker_spark.tables import load_table

    rows = mm_image_ahash_dedup(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    expect = {}
    for d in docs:
        b = d.text.encode()
        h64 = _hash64_py(b)
        w, h = 1 + h64 % 3, 1 + h64 % 2
        raw = hashlib.sha256(b).digest()[: w * h * 3]
        px = decode_bmp(encode_bmp(w, h, raw)).pixels
        n = w * h
        lum = [299 * px[3 * p] + 587 * px[3 * p + 1] + 114 * px[3 * p + 2]
               for p in range(n)]
        s = sum(lum)
        ah = sum(1 << p for p in range(n) if lum[p] * n > s)
        expect[d.doc_id] = (w, h, ah)
    buckets = defaultdict(list)
    for did, key in expect.items():
        buckets[key].append(did)
    assert len(rows) == len(docs)
    for r in rows:
        w, h, ah = expect[r.doc_id]
        assert (r.width, r.height, r.ahash) == (w, h, ah), r.doc_id
        members = buckets[(w, h, ah)]
        assert r.n_bucket == len(members)
        assert r.is_keeper == int(r.doc_id == min(members))


def test_audio_trim_silence_semantics():
    """Direct batch-fn contract: silence—loud—silence trims to the loud
    core (interior quiet frames kept), all-silent trims to empty."""
    import struct

    import pandas as pd

    from data_ingestion_worker_spark.operators.multimodal import (
        SILENCE_THRESHOLD, _hash64_py, audio_trim_silence,
    )
    import hashlib

    # Find a payload whose derived WAV is mono with >=3 frames, then
    # check the gate against a python recompute of the SAME derivation.
    payload = None
    for i in range(200):
        cand = f"doc {i}".encode()
        h64 = _hash64_py(cand)
        if 1 + h64 % 2 == 1 and 1 + h64 % 5 >= 3:
            payload = cand
            break
    assert payload is not None
    [out] = audio_trim_silence(
        iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})])
    )
    r = out.iloc[0]
    h64 = _hash64_py(payload)
    nf = 1 + h64 % 5
    pcm = hashlib.sha256(payload).digest()[: nf * 2]
    vals = struct.unpack(f"<{nf}h", pcm)
    loud = [abs(v) >= SILENCE_THRESHOLD for v in vals]
    idx = [i for i, keep in enumerate(loud) if keep]
    start = idx[0] if idx else nf
    end = idx[-1] + 1 if idx else 0
    assert r.n_frames == nf
    assert r.silent_frames == loud.count(False)
    assert (r.trim_start, r.trim_end_excl) == (start, end)
    assert r.trimmed_hex == pcm[start * 2:end * 2].hex()
    assert len(r.trimmed_hex) == 4 * max(0, end - start)


def test_png_header_parse_fields_match_decoder(spark, sf_dir):
    """The relationally-parsed IHDR fields must agree with what the
    actual PNG decoder reads from the same bytes (decoder as the
    independent recompute), and the parse must be pure column algebra
    (no BatchEvalPython after the encode seam)."""
    from data_ingestion_worker_spark.functions.imagecodec import (
        decode_builtin,
    )
    from data_ingestion_worker_spark.operators.multimodal import (
        PNG_BYTES_SCHEMA, mm_png_header_parse, png_encode_only, with_payload,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.doc_id: r for r in mm_png_header_parse(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    pngs = with_payload(docs).mapInPandas(
        png_encode_only, PNG_BYTES_SCHEMA).collect()
    assert len(got) == len(pngs)
    for row in pngs:
        img = decode_builtin(bytes(row.png))
        r = got[row.doc_id]
        assert (r.width, r.height) == (img.width, img.height)
        assert r.magic_ok and r.ihdr_len == 13
        assert r.bit_depth == 8 and r.color_type == 2
        assert r.framing_ok

    plan = mm_png_header_parse(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    # exactly one Python stage (the encode seam), and it precedes the
    # projection: the header parse itself adds no Python evaluation.
    assert plan.count("ArrowEvalPython") <= 1
    assert "BatchEvalPython" not in plan


def test_wav_header_parse_fields_match_decoder(spark, sf_dir):
    """LE-parsed fmt/data fields must agree with the actual RIFF
    decoder reading the same bytes; geometry identity data_len =
    n_frames·block_align must hold on every row."""
    from data_ingestion_worker_spark.functions.audiocodec import decode_wav
    from data_ingestion_worker_spark.operators.multimodal import (
        WAV_BYTES_SCHEMA, mm_wav_header_parse, wav_encode_only, with_payload,
    )
    from data_ingestion_worker_spark.tables import load_table

    got = {r.doc_id: r for r in mm_wav_header_parse(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    wavs = with_payload(docs).mapInPandas(
        wav_encode_only, WAV_BYTES_SCHEMA).collect()
    assert len(got) == len(wavs)
    for row in wavs:
        wav = decode_wav(bytes(row.wav))
        r = got[row.doc_id]
        assert r.riff_ok and r.wave_ok
        assert (r.channels, r.sample_rate) == (wav.channels,
                                               wav.sample_rate)
        assert r.n_frames == wav.n_frames
        assert r.audio_format == 1 and r.bits_per_sample == 16
        assert r.data_len == r.n_frames * r.block_align


def test_avi_mjpeg_roundtrip_and_frame_isolation():
    """MJPEG-in-AVI (r7): every 00dc chunk is an independent baseline
    JPEG.  Pins (a) strict decode_avi == per-frame decode_jpeg over the
    demuxed payloads (two decode routes, same pixels), (b) corrupting
    one frame's SOI fails ONLY that frame on the demux route while the
    strict route rejects the whole file."""
    import numpy as np
    import pytest as _pytest

    from data_ingestion_worker_spark.functions.jpegcodec import decode_jpeg
    from data_ingestion_worker_spark.functions.videocodec import (
        decode_avi,
        demux_avi_mjpeg,
        encode_avi_mjpeg,
    )

    w, h = 12, 10
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    frames = []
    for i in range(3):
        arr = np.stack([(xx * 5 + i * 30) % 256, (yy * 7 + i * 10) % 256,
                        (xx + yy + i) % 256], axis=-1).astype(np.uint8)
        frames.append(arr.tobytes())
    avi = encode_avi_mjpeg(w, h, frames, fps=10, quality=90)
    vid = decode_avi(avi)
    assert (vid.width, vid.height, vid.fps, vid.n_frames) == (w, h, 10, 3)
    dw, dh, fps, payloads = demux_avi_mjpeg(avi)
    assert (dw, dh, fps, len(payloads)) == (w, h, 10, 3)
    for i, p in enumerate(payloads):
        assert p[:2] == b"\xff\xd8"          # real JPEG per chunk
        assert decode_jpeg(p).pixels == vid.frames[i]
    # Lossy tolerance against the source frames.
    for dec, orig in zip(vid.frames, frames):
        d = np.frombuffer(dec, np.uint8).astype(int)
        o = np.frombuffer(orig, np.uint8).astype(int)
        assert int(np.abs(d - o).max()) <= 24

    # Corrupt the SECOND frame's SOI: demux isolates, strict rejects.
    pos = avi.find(b"00dc")
    pos = avi.find(b"00dc", pos + 1)
    bad = bytearray(avi)
    bad[pos + 8] ^= 0xFF
    bad[pos + 9] ^= 0xFF
    _w, _h, _fps, pl2 = demux_avi_mjpeg(bytes(bad))
    decoded = []
    for i, p in enumerate(pl2):
        try:
            decode_jpeg(p)
            decoded.append(i)
        except ValueError:
            pass
    assert decoded == [0, 2]                 # frame 1 poisoned, alone
    with _pytest.raises(ValueError):
        decode_avi(bytes(bad))


def test_avi_mjpeg_rejects_cross_contract_streams():
    """A DIB AVI through demux_avi_mjpeg and geometry-lying MJPG frames
    through decode_avi must both raise."""
    import struct

    import pytest as _pytest

    from data_ingestion_worker_spark.functions.jpegcodec import encode_jpeg
    from data_ingestion_worker_spark.functions.videocodec import (
        decode_avi,
        demux_avi_mjpeg,
        encode_avi,
        encode_avi_mjpeg,
    )

    dib = encode_avi(2, 2, [bytes(range(12))])
    with _pytest.raises(ValueError):
        demux_avi_mjpeg(dib)

    # Frame geometry must match the container header: rebuild a
    # 2x2-declared MJPG stream whose single 00dc body is an 8x8 JPEG.
    jpeg_8x8 = encode_jpeg(8, 8, bytes(192))
    mj = encode_avi_mjpeg(2, 2, [bytes(12)], fps=10)
    movi_at = mj.index(b"LIST", mj.index(b"movi") - 8)
    movi_body = b"movi" + b"00dc" + struct.pack("<I", len(jpeg_8x8)) \
        + jpeg_8x8 + (b"\x00" if len(jpeg_8x8) & 1 else b"")
    out = mj[:movi_at] + b"LIST" \
        + struct.pack("<I", len(movi_body)) + movi_body
    out = b"RIFF" + struct.pack("<I", len(out) - 8) + out[8:]
    with _pytest.raises(ValueError):
        decode_avi(out)
