"""PNG critical-chunk codec (round 6): pixel-exact decode like the
PPM/BMP suites, all five scanline filters, the non-RGB color types,
corruption honesty (CRC / truncation / unsupported variants raise,
never silent wrong pixels), and the pipeline-level proof that
``extract_features`` takes the REAL-pixel path on a PNG fixture."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import (
    multimodal as MM,
)


def _rgb(w: int, h: int, seed: int = 7) -> bytes:
    """Deterministic pseudo-random RGB raster."""
    rng = np.arange(w * h * 3, dtype=np.int64)
    return ((rng * 2654435761 + seed * 97) % 256).astype(np.uint8).tobytes()


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_from_scanlines(
    w: int, h: int, color: int, scanlines: bytes, plte: bytes | None = None,
    depth: int = 8, interlace: int = 0,
) -> bytes:
    out = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    )
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(scanlines)) + _chunk(b"IEND", b"")


# ---------------------------------------------------------------------------
# round-trip + filter coverage
# ---------------------------------------------------------------------------


def test_encode_decode_roundtrip_pixel_exact():
    w, h = 13, 9  # non-square, odd stride
    rgb = _rgb(w, h)
    payload = MM.encode_png(w, h, rgb)
    assert payload.startswith(b"\x89PNG\r\n\x1a\n")
    dw, dh, drgb = MM.decode_image(payload)
    assert (dw, dh) == (w, h)
    assert drgb == rgb


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_each_scanline_filter_reconstructs(ftype):
    """Hand-filter a known raster with one filter type per row and
    check the decoder inverts it exactly (the encoder only emits
    filter 0, so filters 1-4 need fixtures built here)."""
    w, h = 7, 5
    rgb = _rgb(w, h, seed=ftype)
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w * 3).astype(np.int32)
    bpp = 3
    lines = []
    prev = np.zeros(w * 3, dtype=np.int32)
    for r in range(h):
        cur = arr[r]
        if ftype == 0:
            filt = cur
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            filt = (cur - left) & 0xFF
        elif ftype == 2:  # Up
            filt = (cur - prev) & 0xFF
        elif ftype == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            filt = (cur - (left + prev) // 2) & 0xFF
        else:  # Paeth
            filt = np.empty(w * 3, dtype=np.int32)
            for x in range(w * 3):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                filt[x] = (int(cur[x]) - pred) & 0xFF
        lines.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())
        prev = cur
    payload = _png_from_scanlines(w, h, 2, b"".join(lines))
    dw, dh, drgb = MM.decode_image(payload)
    assert (dw, dh, drgb) == (w, h, rgb)


# ---------------------------------------------------------------------------
# color types
# ---------------------------------------------------------------------------


def test_grayscale_replicates_channels():
    w, h = 4, 3
    gray = bytes(range(w * h))
    scan = b"".join(b"\x00" + gray[r * w : (r + 1) * w] for r in range(h))
    _, _, rgb = MM.decode_image(_png_from_scanlines(w, h, 0, scan))
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    assert (arr[:, :, 0] == arr[:, :, 1]).all() and (arr[:, :, 1] == arr[:, :, 2]).all()
    assert arr[:, :, 0].tobytes() == gray


def test_rgba_drops_alpha():
    w, h = 3, 2
    rgb = _rgb(w, h)
    a3 = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    rgba = np.concatenate(
        [a3, np.full((h, w, 1), 128, dtype=np.uint8)], axis=2
    )
    scan = b"".join(
        b"\x00" + rgba[r].tobytes() for r in range(h)
    )
    _, _, out = MM.decode_image(_png_from_scanlines(w, h, 6, scan))
    assert out == rgb


def test_palette_lookup():
    w, h = 4, 2
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = bytes([0, 1, 2, 1, 2, 0, 1, 0])
    scan = b"".join(b"\x00" + idx[r * w : (r + 1) * w] for r in range(h))
    _, _, rgb = MM.decode_image(_png_from_scanlines(w, h, 3, scan, plte=plte))
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    assert arr[0, 0].tolist() == [255, 0, 0]
    assert arr[0, 1].tolist() == [0, 255, 0]
    assert arr[1, 0].tolist() == [0, 0, 255]


def test_gray_alpha_color_type_4():
    w, h = 3, 2
    gray = bytes([10, 20, 30, 40, 50, 60])
    ga = b"".join(bytes([g, 200]) for g in gray)
    scan = b"".join(b"\x00" + ga[r * w * 2 : (r + 1) * w * 2] for r in range(h))
    _, _, rgb = MM.decode_image(_png_from_scanlines(w, h, 4, scan))
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    assert arr[:, :, 0].tobytes() == gray


# ---------------------------------------------------------------------------
# honesty: corruption and unsupported variants raise
# ---------------------------------------------------------------------------


def test_crc_corruption_raises():
    payload = bytearray(MM.encode_png(4, 4, _rgb(4, 4)))
    # flip one bit inside the IDAT data region
    idat_at = payload.index(b"IDAT")
    payload[idat_at + 6] ^= 0x40
    with pytest.raises(NotImplementedError, match="CRC"):
        MM.decode_image(bytes(payload))


def test_truncated_idat_raises():
    payload = MM.encode_png(4, 4, _rgb(4, 4))
    with pytest.raises(NotImplementedError):
        MM.decode_image(payload[: len(payload) - 20])


@pytest.mark.parametrize(
    "kw,match",
    [
        # 8 and 16 decode since round 9; sub-byte depths stay honest
        ({"depth": 4}, "bit depth"),
        ({"interlace": 7}, "interlace method"),
    ],
)
def test_unsupported_variants_raise(kw, match):
    w, h = 2, 2
    scan = b"".join(b"\x00" + bytes(6) for _ in range(h))
    with pytest.raises(NotImplementedError, match=match):
        MM.decode_image(_png_from_scanlines(w, h, 2, scan, **kw))


# ---------------------------------------------------------------------------
# round 9: Adam7 interlace + 16-bit depth
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("bit_depth", [8, 16])
@pytest.mark.parametrize("dims", [(37, 23), (1, 1), (7, 3), (2, 9)])
def test_adam7_and_16bit_round_trip_exact(interlace, bit_depth, dims):
    """Every (interlace, depth) combination round-trips pixel-exactly:
    Adam7's seven passes filter independently and scatter on the
    standard lattice (tiny dims exercise EMPTY passes); 16-bit widens
    by v*257 so the high-byte downconversion inverts it perfectly."""
    import random

    w, h = dims
    rng = random.Random(w * 100 + h)
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    payload = MM.encode_png(w, h, rgb, interlace=interlace, bit_depth=bit_depth)
    assert MM.decode_image(payload) == (w, h, rgb)


def test_adam7_scatter_is_positionally_correct():
    """A coordinate-encoded image catches any pass-lattice mistake:
    pixel (x, y) carries its own coordinates in its channels."""
    w, h = 19, 13
    rgb = bytes(
        v for y in range(h) for x in range(w) for v in (x * 13 % 256, y * 17 % 256, (x + y) % 256)
    )
    assert MM.decode_image(MM.encode_png(w, h, rgb, interlace=True)) == (w, h, rgb)


def test_palette_index_out_of_range_raises():
    plte = bytes([1, 2, 3])  # one entry
    scan = b"\x00" + bytes([5, 0])
    with pytest.raises(NotImplementedError, match="palette"):
        MM.decode_image(_png_from_scanlines(2, 1, 3, scan, plte=plte))


# ---------------------------------------------------------------------------
# pipeline: extract_features / resize take the REAL-pixel path on PNG
# ---------------------------------------------------------------------------


def _media_row(media_id: int, payload: bytes, w: int, h: int, mime: str):
    return (media_id, None, payload, ("image", mime, w, h, None))


def test_extract_features_real_pixels_on_png(spark):
    """The same raster as PNG and as PPM must produce IDENTICAL
    feature vectors — proof the PNG payload takes the decoded-pixel
    branch, not the pseudo-feature fallback (which hashes container
    bytes and would differ between the two encodings)."""
    w, h = 16, 12
    rgb = _rgb(w, h)
    rows = [
        _media_row(1, MM.encode_png(w, h, rgb), w, h, "image/png"),
        _media_row(2, MM.encode_ppm(w, h, rgb), w, h, "image/x-portable-pixmap"),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {
        r.media_id: r.feature
        for r in MM.extract_features(media, feature_dim=8).collect()
    }
    assert feats[1] == feats[2]
    # sanity: mean-channel features are real fractions, not hash noise
    assert all(0.0 <= v <= 6.0 for v in feats[1])


def test_resize_images_handles_png(spark):
    w, h = 10, 8
    rgb = _rgb(w, h)
    media = spark.createDataFrame(
        [_media_row(1, MM.encode_png(w, h, rgb), w, h, "image/png")],
        MM.MEDIA_SCHEMA,
    )
    out = MM.resize_images(media, max_side=5).collect()
    assert len(out) == 1
    ow, oh, orgb = MM.decode_image(bytes(out[0].payload))
    assert (ow, oh) == (5, 4)
    assert orgb == MM.resize_rgb(rgb, w, h, 5, 4)


# ---------------------------------------------------------- sub-byte depths


def test_subbyte_gray_depths_rescale_exactly():
    """1/2/4-bit grayscale (round-9 continuation): MSB-first unpack +
    the exact 255/(2^d-1) rescale (255, 85, 17 — all integers)."""
    import numpy as np

    rng = np.random.default_rng(21)
    for d in (1, 2, 4):
        maxv = (1 << d) - 1
        for w, h in [(1, 1), (7, 5), (16, 4), (33, 9)]:
            vals = rng.integers(0, maxv + 1, size=w * h).tolist()
            p = MM.encode_png_packed(w, h, vals, bit_depth=d)
            dw, dh, rgb = MM.decode_image(p)
            want = bytes(v * (255 // maxv) for v in vals for _ in range(3))
            assert (dw, dh) == (w, h) and rgb == want, (d, w, h)


def test_subbyte_palette_depths():
    import numpy as np

    rng = np.random.default_rng(22)
    pal = bytes(rng.integers(0, 256, size=16 * 3, dtype=np.uint8))
    for d in (1, 2, 4):
        n = 1 << d
        vals = rng.integers(0, n, size=21).tolist()
        p = MM.encode_png_packed(7, 3, vals, bit_depth=d, palette=pal[: n * 3])
        assert MM.decode_image(p)[2] == b"".join(
            pal[3 * v : 3 * v + 3] for v in vals
        )


def test_subbyte_rgb_is_illegal():
    """Sub-byte depths are only defined for gray/palette — a 2-bit
    truecolor IHDR must be rejected, not misdecoded."""
    import struct
    import zlib

    p = bytearray(MM.encode_png_packed(4, 4, [0] * 16, bit_depth=2))
    # patch IHDR color type to 2 (truecolor) and fix the CRC
    ihdr_at = p.index(b"IHDR")
    body = bytearray(p[ihdr_at + 4 : ihdr_at + 17])
    body[9] = 2
    crc = zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF
    p[ihdr_at + 4 : ihdr_at + 17] = body
    p[ihdr_at + 17 : ihdr_at + 21] = struct.pack(">I", crc)
    with pytest.raises(NotImplementedError):
        MM.decode_image(bytes(p))


def test_encode_png_packed_validation():
    with pytest.raises(ValueError):
        MM.encode_png_packed(2, 2, [0, 1, 2], bit_depth=2)  # wrong count
    with pytest.raises(ValueError):
        MM.encode_png_packed(2, 1, [0, 4], bit_depth=2)  # out of range
    with pytest.raises(ValueError):
        MM.encode_png_packed(1, 1, [0], bit_depth=3)
    with pytest.raises(ValueError):
        MM.encode_png_packed(1, 1, [0], bit_depth=1, palette=b"\x01\x02")


# ---------------------------------------------------------------------------
# map_rows: the one Arrow-batch boundary every codec stage goes through
# ---------------------------------------------------------------------------


def test_map_rows_int64_max_next_to_null_in_one_batch(spark):
    """An int64 of 2^63-1 and a NULL in the SAME Arrow batch. A frame
    built with pandas' dtype inference turns that column into float64,
    which cannot hold 2^63-1, and the Arrow conversion fails; map_rows'
    object-dtype columns carry both values unchanged."""
    big = 2**63 - 1
    df = spark.createDataFrame([(0,), (1,), (2,)], "k long").coalesce(1)
    out = MM.map_rows(
        df,
        lambda k: [(k, None if k == 1 else big - k)],
        "k long, h long",
    )
    assert sorted(out.collect()) == [(0, big), (1, None), (2, big - 2)]


def test_map_rows_binary_round_trips_byte_identical(spark):
    payloads = [bytes(range(256)), b"", b"\x00\xff" * 1000, None]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "id long, payload binary"
    ).coalesce(1)
    out = MM.map_rows(df, lambda i, p: [(i, p)], "id long, payload binary")
    got = {r["id"]: r["payload"] for r in out.collect()}
    assert got == dict(enumerate(payloads))


def test_map_rows_empty_partitions(spark):
    """Empty input partitions (and a fully empty input) yield no rows
    and keep the declared schema, whatever ``fn`` would return."""
    df = spark.range(3, numPartitions=8)
    schema = "id long, feature array<double>"
    out = MM.map_rows(df, lambda i: [(i, [float(i), 0.5])], schema)
    assert sorted(out.collect()) == [(i, [float(i), 0.5]) for i in range(3)]
    empty = MM.map_rows(df.filter(F.lit(False)), lambda i: [(i, [1.0])], schema)
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<id:bigint,feature:array<double>>"


def test_map_rows_drops_and_fans_out(spark):
    """``fn`` returns ``[]`` to drop a row and several rows to fan out."""
    df = spark.createDataFrame([(0,), (1,), (3,)], "n int").coalesce(1)
    out = MM.map_rows(
        df, lambda n: [(n, j) for j in range(n)], "n int, j int"
    )
    assert sorted(out.collect()) == [(1, 0), (3, 0), (3, 1), (3, 2)]
