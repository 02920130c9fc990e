"""GIF codec (functions/gif.py): LZW roundtrips across the full code-width
range, a hand-built bitstream with pinned bytes, interlace reorder,
transparency/disposal compositing pins, header-only meta, a ctypes
differential fuzz in BOTH directions against the REAL giflib when the
host ships it (our encoder → giflib decoder, giflib encoder → our
decoder — the latter exercises giflib's mid-stream Clear emission), and
the Spark mapInPandas wiring for stills, animation frame-sampling, and
the metadata catalog."""

from __future__ import annotations

import ctypes
import random

import pytest

from agenticknowledgegraphconstructionsystem_spark.functions.gif import (
    decode_gif,
    decode_gif_frames,
    encode_gif,
    gif_meta,
    lzw_decode,
    lzw_encode,
)

BLACK, RED, GREEN, BLUE = (0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)
PAL4 = [BLACK, RED, GREEN, BLUE]


def _rgb(pal, rows):
    return [[pal[i] for i in r] for r in rows]


# ---------------------------------------------------------------------------
# LZW core
# ---------------------------------------------------------------------------


def test_lzw_roundtrip_all_min_code_sizes():
    random.seed(11)
    for mcs in (2, 4, 8):
        nvals = 1 << mcs
        for n in (1, 2, 100, 5000):
            data = bytes(random.randrange(nvals) for _ in range(n))
            assert lzw_decode(lzw_encode(data, mcs), mcs, n) == data


def test_lzw_table_freeze_past_4096_entries():
    """>4096 distinct strings forces the deferred-clear regime: the
    table freezes at 12-bit codes and both sides must keep going."""
    random.seed(12)
    data = bytes(random.randrange(256) for _ in range(30_000))
    enc = lzw_encode(data, 8)
    assert lzw_decode(enc, 8, len(data)) == data
    run = bytes([7]) * 30_000  # maximal-compression path (KwKwK chains)
    assert lzw_decode(lzw_encode(run, 8), 8, len(run)) == run


def test_lzw_errors():
    with pytest.raises(ValueError, match="truncated"):
        lzw_decode(b"", 2, 4)
    with pytest.raises(ValueError, match="minimum code size"):
        lzw_decode(b"\x00", 1, 1)
    # code far beyond the table frontier: 7-bit garbage after a clear
    with pytest.raises(ValueError):
        lzw_decode(b"\xfc\xff\xff", 2, 9)


# ---------------------------------------------------------------------------
# Container: roundtrip, hand-built pin, interlace, compositing
# ---------------------------------------------------------------------------


def test_own_encoder_roundtrip():
    random.seed(13)
    for w, h, ncol in [(1, 1, 2), (3, 2, 4), (16, 16, 256), (33, 7, 5)]:
        pal = [tuple(random.randrange(256) for _ in range(3)) for _ in range(ncol)]
        rows = [[random.randrange(ncol) for _ in range(w)] for _ in range(h)]
        g = encode_gif((w, h), [{"rows": rows}], global_palette=pal)
        assert decode_gif(g) == (w, h, _rgb(pal, rows))
        assert gif_meta(g) == (w, h, 1, 0)


def test_hand_built_stream_pins_bit_layout():
    """2x2, 4-color global table, pixels [0,1,2,1].  The LZW data bytes
    44 14 05 are hand-packed: clear(100)+0(000)+1(001) LSB-first =
    0x44; 1-bit tail of code 1, 2(010), then the width bump to 4 bits
    lands exactly here so 1 is written 1000 = 0x14; eoi 0101 = 0x05.
    Pins the bit order, the width-change timing, and the block walk
    against bytes a third-party encoder would produce."""
    payload = (
        b"GIF89a"
        + b"\x02\x00\x02\x00"  # screen 2x2
        + b"\x81\x00\x00"  # GCT present, 4 entries; bg 0; aspect 0
        + bytes(v for c in PAL4 for v in c)
        + b"\x2c\x00\x00\x00\x00\x02\x00\x02\x00\x00"  # image desc 2x2@0,0
        + b"\x02"  # LZW min code size
        + b"\x03\x44\x14\x05\x00"  # one 3-byte sub-block + terminator
        + b"\x3b"
    )
    assert decode_gif(payload) == (2, 2, [[BLACK, RED], [GREEN, RED]])
    # and our encoder regenerates those exact LZW bytes
    assert encode_gif((2, 2), [{"rows": [[0, 1], [2, 1]]}], global_palette=PAL4) == payload


def test_interlace_reorder():
    """9 rows, one color per row: file order must be the 4-pass
    0,8 / 4 / 2,6 / 1,3,5,7 sequence, display order restored."""
    pal = [(i * 28, 0, 0) for i in range(9)] + [(0, 0, 0)] * 7
    rows = [[y] * 3 for y in range(9)]
    g = encode_gif((3, 9), [{"rows": rows, "interlace": True}], global_palette=pal)
    w, h, rgb = decode_gif(g)
    assert (w, h) == (3, 9)
    assert rgb == _rgb(pal, rows)
    gp = encode_gif((3, 9), [{"rows": rows}], global_palette=pal)
    assert decode_gif(gp)[2] == rgb  # same pixels either way
    assert g != gp  # but genuinely different file row order


def test_transparency_and_disposal_compositing():
    """4 frames over a 3x3 canvas: delay, transparent index, disposal 3
    (restore previous) and disposal 2 (restore background) — each
    composited canvas pinned by hand."""
    frames = [
        {"rows": [[1] * 3] * 3, "delay_cs": 10, "disposal": 1},
        {"rows": [[2, 3]], "left": 1, "top": 1, "transparent": 3,
         "disposal": 3, "delay_cs": 5},
        {"rows": [[3]], "disposal": 2},
        {"rows": [[2]], "left": 2, "top": 2},
    ]
    g = encode_gif((3, 3), frames, global_palette=PAL4, bg_index=0)
    w, h, out = decode_gif_frames(g)
    assert (w, h) == (3, 3)
    delays = [d for d, _ in out]
    assert delays == [100, 50, 0, 0]
    f1, f2, f3, f4 = (rgb for _, rgb in out)
    assert f1 == [[RED] * 3] * 3
    assert f2 == [[RED] * 3, [RED, GREEN, RED], [RED] * 3]  # idx 3 transparent
    assert f3 == [[BLUE, RED, RED], [RED, RED, RED], [RED] * 3]  # disposal 3 restored f1 first
    assert f4 == [[BLACK, RED, RED], [RED, RED, RED], [RED, RED, GREEN]]  # disposal 2 blanked (0,0)
    assert gif_meta(g) == (3, 3, 4, 150)


def test_local_palette_overrides_global():
    local = [(10, 20, 30), (40, 50, 60)]
    g = encode_gif(
        (2, 1),
        [{"rows": [[0, 1]], "palette": local}],
        global_palette=PAL4,
    )
    assert decode_gif(g) == (2, 1, [[(10, 20, 30), (40, 50, 60)]])


def test_decode_errors():
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    with pytest.raises(ValueError, match="no image blocks"):
        decode_gif(b"GIF89a\x01\x00\x01\x00\x00\x00\x00\x3b")
    with pytest.raises(ValueError, match="unknown GIF block"):
        gif_meta(b"GIF89a\x01\x00\x01\x00\x00\x00\x00\x99")
    # image block escaping the logical screen
    bad = encode_gif((2, 2), [{"rows": [[0, 1]], "left": 1, "top": 1}],
                     global_palette=PAL4)
    with pytest.raises(ValueError, match="escapes"):
        decode_gif(bad)
    # palette index beyond the (unpadded would be 2-entry, padded 2) table
    with pytest.raises(ValueError, match="palette index"):
        decode_gif(encode_gif((1, 1), [{"rows": [[3]],
                                        "palette": [(1, 1, 1), (2, 2, 2)]}]))


# ---------------------------------------------------------------------------
# Differential vs the real giflib
# ---------------------------------------------------------------------------


class _GifColorType(ctypes.Structure):
    _fields_ = [("Red", ctypes.c_ubyte), ("Green", ctypes.c_ubyte),
                ("Blue", ctypes.c_ubyte)]


class _ColorMapObject(ctypes.Structure):
    _fields_ = [("ColorCount", ctypes.c_int), ("BitsPerPixel", ctypes.c_int),
                ("SortFlag", ctypes.c_bool),
                ("Colors", ctypes.POINTER(_GifColorType))]


class _GifImageDesc(ctypes.Structure):
    _fields_ = [("Left", ctypes.c_int), ("Top", ctypes.c_int),
                ("Width", ctypes.c_int), ("Height", ctypes.c_int),
                ("Interlace", ctypes.c_bool),
                ("ColorMap", ctypes.POINTER(_ColorMapObject))]


class _ExtensionBlock(ctypes.Structure):
    _fields_ = [("ByteCount", ctypes.c_int),
                ("Bytes", ctypes.POINTER(ctypes.c_ubyte)),
                ("Function", ctypes.c_int)]


class _SavedImage(ctypes.Structure):
    _fields_ = [("ImageDesc", _GifImageDesc),
                ("RasterBits", ctypes.POINTER(ctypes.c_ubyte)),
                ("ExtensionBlockCount", ctypes.c_int),
                ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock))]


class _GifFileType(ctypes.Structure):
    _fields_ = [("SWidth", ctypes.c_int), ("SHeight", ctypes.c_int),
                ("SColorResolution", ctypes.c_int),
                ("SBackGroundColor", ctypes.c_int),
                ("AspectByte", ctypes.c_ubyte),
                ("SColorMap", ctypes.POINTER(_ColorMapObject)),
                ("ImageCount", ctypes.c_int), ("Image", _GifImageDesc),
                ("SavedImages", ctypes.POINTER(_SavedImage)),
                ("ExtensionBlockCount", ctypes.c_int),
                ("ExtensionBlocks", ctypes.POINTER(_ExtensionBlock)),
                ("Error", ctypes.c_int), ("UserData", ctypes.c_void_p),
                ("Private", ctypes.c_void_p)]


_INPUT_FUNC = ctypes.CFUNCTYPE(
    ctypes.c_int, ctypes.POINTER(_GifFileType),
    ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int,
)
_OUTPUT_FUNC = ctypes.CFUNCTYPE(
    ctypes.c_int, ctypes.c_void_p, ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int,
)


def _libgif():
    try:
        lib = ctypes.CDLL("libgif.so.7")
    except OSError:
        return None
    lib.DGifOpen.restype = ctypes.POINTER(_GifFileType)
    lib.DGifOpen.argtypes = [ctypes.c_void_p, _INPUT_FUNC,
                             ctypes.POINTER(ctypes.c_int)]
    lib.DGifSlurp.argtypes = [ctypes.POINTER(_GifFileType)]
    lib.DGifCloseFile.argtypes = [ctypes.POINTER(_GifFileType),
                                  ctypes.POINTER(ctypes.c_int)]
    lib.EGifOpen.restype = ctypes.c_void_p
    lib.EGifOpen.argtypes = [ctypes.c_void_p, _OUTPUT_FUNC,
                             ctypes.POINTER(ctypes.c_int)]
    lib.GifMakeMapObject.restype = ctypes.POINTER(_ColorMapObject)
    lib.GifMakeMapObject.argtypes = [ctypes.c_int,
                                     ctypes.POINTER(_GifColorType)]
    lib.EGifPutScreenDesc.argtypes = [ctypes.c_void_p] + [ctypes.c_int] * 4 + [
        ctypes.POINTER(_ColorMapObject)]
    lib.EGifPutImageDesc.argtypes = [ctypes.c_void_p] + [ctypes.c_int] * 4 + [
        ctypes.c_bool, ctypes.POINTER(_ColorMapObject)]
    lib.EGifPutLine.argtypes = [ctypes.c_void_p,
                                ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int]
    lib.EGifCloseFile.argtypes = [ctypes.c_void_p, ctypes.POINTER(ctypes.c_int)]
    return lib


def _giflib_decode(lib, payload: bytes):
    """DGifSlurp → [(left, top, w, h, display-order raster, palette)];
    giflib 5's slurp de-interlaces, so rasters compare directly."""
    buf = {"data": payload, "pos": 0}

    def reader(_gf, dst, want):
        n = min(want, len(buf["data"]) - buf["pos"])
        ctypes.memmove(dst, buf["data"][buf["pos"]:buf["pos"] + n], n)
        buf["pos"] += n
        return n

    cb = _INPUT_FUNC(reader)
    err = ctypes.c_int(0)
    gf = lib.DGifOpen(None, cb, ctypes.byref(err))
    assert gf, f"DGifOpen error {err.value}"
    assert lib.DGifSlurp(gf) == 1, f"DGifSlurp error {gf.contents.Error}"
    g = gf.contents
    frames = []
    for i in range(g.ImageCount):
        si = g.SavedImages[i]
        d = si.ImageDesc
        raster = ctypes.string_at(si.RasterBits, d.Width * d.Height)
        cm = d.ColorMap if d.ColorMap else g.SColorMap
        pal = [
            (cm.contents.Colors[j].Red, cm.contents.Colors[j].Green,
             cm.contents.Colors[j].Blue)
            for j in range(cm.contents.ColorCount)
        ]
        frames.append((d.Left, d.Top, d.Width, d.Height, raster, pal))
    out = (g.SWidth, g.SHeight, frames)
    lib.DGifCloseFile(gf, ctypes.byref(err))
    return out


def _giflib_encode(lib, w, h, pal, rows) -> bytes:
    out = bytearray()

    def writer(_gf, src, n):
        out.extend(ctypes.string_at(src, n))
        return n

    cb = _OUTPUT_FUNC(writer)
    err = ctypes.c_int(0)
    gf = lib.EGifOpen(None, cb, ctypes.byref(err))
    assert gf, f"EGifOpen error {err.value}"
    colors = (_GifColorType * len(pal))(*[_GifColorType(*c) for c in pal])
    cm = lib.GifMakeMapObject(len(pal), colors)
    assert cm
    assert lib.EGifPutScreenDesc(gf, w, h, 8, 0, cm) == 1
    assert lib.EGifPutImageDesc(gf, 0, 0, w, h, False, None) == 1
    for r in rows:
        line = (ctypes.c_ubyte * w)(*r)
        assert lib.EGifPutLine(gf, line, w) == 1
    assert lib.EGifCloseFile(gf, ctypes.byref(err)) == 1
    return bytes(out)


@pytest.mark.skipif(_libgif() is None, reason="libgif not on this host")
def test_differential_our_encoder_to_giflib():
    """Our LZW width/clear timing must be readable by the real giflib —
    random, gradient, tiled and interlaced payloads, multi-frame."""
    lib = _libgif()
    random.seed(21)
    for w, h, ncol, interlace in [
        (1, 1, 2, False), (7, 3, 4, False), (37, 23, 16, False),
        (37, 23, 16, True), (64, 64, 256, False), (64, 64, 256, True),
        (200, 100, 256, False),  # forces 12-bit codes + table freeze
    ]:
        nbits = max(1, (ncol - 1).bit_length())
        pal = [tuple(random.randrange(256) for _ in range(3))
               for _ in range(1 << nbits)]
        rows = [[random.randrange(ncol) for _ in range(w)] for _ in range(h)]
        g = encode_gif((w, h), [{"rows": rows, "interlace": interlace}],
                       global_palette=pal)
        sw, sh, frames = _giflib_decode(lib, g)
        assert (sw, sh) == (w, h)
        left, top, fw, fh, raster, gpal = frames[0]
        assert (left, top, fw, fh) == (0, 0, w, h)
        assert raster == bytes(v for r in rows for v in r)
        assert gpal == pal
    # multi-frame with offsets and a local palette
    g = encode_gif(
        (5, 5),
        [
            {"rows": [[1] * 5] * 5, "delay_cs": 3},
            {"rows": [[0, 1]], "left": 2, "top": 3,
             "palette": [(9, 9, 9), (7, 7, 7)]},
        ],
        global_palette=PAL4,
    )
    _, _, frames = _giflib_decode(_libgif(), g)
    assert len(frames) == 2
    assert frames[1][:4] == (2, 3, 2, 1)
    assert frames[1][4] == b"\x00\x01"
    assert frames[1][5] == [(9, 9, 9), (7, 7, 7)]


@pytest.mark.skipif(_libgif() is None, reason="libgif not on this host")
def test_differential_giflib_encoder_to_us():
    """The reverse direction: real giflib-compressed streams (its own
    width timing, hash-table compressor, and mid-stream Clear emission
    on table overflow) must decode pixel-exactly in our decoder."""
    lib = _libgif()
    random.seed(22)
    for w, h, ncol in [(1, 1, 2), (5, 4, 4), (64, 64, 256),
                       (311, 200, 7), (256, 128, 256)]:
        nbits = max(1, (ncol - 1).bit_length())
        pal = [tuple(random.randrange(256) for _ in range(3))
               for _ in range(1 << nbits)]
        rows = [[random.randrange(ncol) for _ in range(w)] for _ in range(h)]
        payload = _giflib_encode(lib, w, h, pal, rows)
        assert decode_gif(payload) == (w, h, _rgb(pal, rows))
        assert gif_meta(payload) == (w, h, 1, 0)


# ---------------------------------------------------------------------------
# Spark wiring
# ---------------------------------------------------------------------------


def test_decode_images_real_gif_through_mapinpandas(spark):
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        _bmp_features,
        decode_images,
    )

    random.seed(31)
    pal = [tuple(random.randrange(256) for _ in range(3)) for _ in range(16)]
    payloads = {
        1: encode_gif((16, 16), [{"rows": [[random.randrange(16)] * 16
                                           for _ in range(16)]}],
                      global_palette=pal),
        2: encode_gif((8, 4), [{"rows": [[(x + y) % 16 for x in range(8)]
                                         for y in range(4)],
                                "interlace": True}],
                      global_palette=pal),
    }
    media = spark.createDataFrame(
        [(k, "image", "image/gif", p, "{}") for k, p in payloads.items()],
        schema="media_id long, kind string, mime string, payload binary, meta string",
    )
    got = {r["media_id"]: r for r in
           decode_images(media, dim=8, fake=False).collect()}
    for k, p in payloads.items():
        want = _bmp_features(p, 8)
        assert got[k]["n_bytes"] == want[0]
        assert (got[k]["width"], got[k]["height"]) == (want[1], want[2])
        assert got[k]["features"] == pytest.approx(want[3])


def test_video_frame_sampling_animated_gif(spark):
    """Animated GIF through decode_video_frames(fake=False): a real
    compressed codec in the frame-sample path — every 2nd composited
    frame, integer Rec.601 luma, pinned by hand."""
    from agenticknowledgegraphconstructionsystem_spark.operators.multimodal import (
        decode_video_frames,
    )

    frames = [{"rows": [[i % 4] * 2] * 2, "delay_cs": 4} for i in range(5)]
    g = encode_gif((2, 2), frames, global_palette=PAL4)
    media = spark.createDataFrame(
        [(1, "video", "image/gif", g, "{}")],
        schema="media_id long, kind string, mime string, payload binary, meta string",
    )
    got = sorted(
        decode_video_frames(media, every_n=2, fake=False).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in got] == [0, 2, 4]
    assert all((r["width"], r["height"]) == (2, 2) for r in got)
    # frame 0: all BLACK -> luma 0; frame 2: all GREEN -> 587*255//1000;
    # frame 4: all BLACK again
    lum_green = (0 * 299 + 255 * 587 + 0 * 114) // 1000
    assert [bytes(r["y_plane"]) for r in got] == [
        bytes(4), bytes([lum_green] * 4), bytes(4)]
    assert [r["y_mean_x1000"] for r in got] == [0, lum_green * 1000, 0]
