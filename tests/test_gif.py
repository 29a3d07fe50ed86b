"""GIF codec: lossless roundtrips (single frame, animated, interlaced,
full 256-color palettes), the decoder's LZW table-growth path driven
by an independent test-side compressor, loud failure on truncation /
corruption / unsupported compositing, and multimodal wiring.

The fixture encoder deliberately emits fixed-width LZW (CLEAR before
every width-growth point), so the table-growth branch is exercised
here by a REAL compressing LZW implementation written against the
spec (not shared with the decoder).
"""

import struct

import numpy as np
import pytest

from dataflow_python_etl_spark.operators import codecs
from dataflow_python_etl_spark.operators.codecs import (
    decode_gif,
    decode_gif_frames,
    encode_gif,
)
from dataflow_python_etl_spark.operators.multimodal import decode_image_meta


def _img(seed=5, h=23, w=31, colors=6):
    rng = np.random.default_rng(seed)
    return (rng.integers(0, colors, (h, w, 3)) * (255 // max(colors - 1, 1))).astype(
        np.uint8
    )


def test_single_frame_roundtrip_exact():
    img = _img()
    enc = encode_gif(img)
    assert codecs.sniff_format(enc) == "image/gif"
    assert np.array_equal(decode_gif(enc), img)


def test_interlaced_roundtrip_exact():
    img = _img(seed=9)
    assert np.array_equal(decode_gif(encode_gif(img, interlace=True)), img)


def test_full_256_color_palette():
    base = np.arange(256, dtype=np.uint8).reshape(16, 16)
    img = np.stack([base, base[::-1], base.T], axis=-1)
    assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_animated_frames_roundtrip_exact():
    img = _img()
    frames = [img, np.roll(img, 5, axis=0), np.roll(img, 3, axis=1)]
    dec = decode_gif_frames(encode_gif(frames, delay_cs=5))
    assert len(dec) == 3
    assert all(np.array_equal(a, b) for a, b in zip(dec, frames))


def test_too_many_colors_rejected_at_encode():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)  # ~4k colors
    with pytest.raises(ValueError, match="256"):
        encode_gif(img)


def _lzw_compress(min_code: int, idx: np.ndarray) -> bytes:
    """Spec LZW with a GROWING table (unlike the fixture encoder):
    variable-width LSB-first codes, width+1 when the next emitted code
    would not fit — mirrors the decoder's len(table)==1<<width rule."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    acc = nbits = 0
    out = bytearray()

    def put(code: int, w: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear, width)
    run = b""
    for v in idx:
        c = bytes([int(v)])
        if run + c in table:
            run += c
            continue
        put(table[run], width)
        if next_code < 4096:
            table[run + c] = next_code
            next_code += 1
            # decoder widens once ITS table (which tracks next_code
            # exactly) reaches 1<<width — mirror that timing here
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        run = c
    put(table[run], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_decoder_table_growth_against_independent_compressor():
    # enough repeated structure that the dictionary really compresses
    rng = np.random.default_rng(3)
    idx = np.tile(rng.integers(0, 4, 64), 40).astype(np.uint8)  # 2560 px
    h, w = 40, 64
    data = _lzw_compress(2, idx)
    # wrap in a minimal single-frame GIF: 4-color global palette
    pal = bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)  # 2-bit GCT
    gif += pal
    gif += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    gif += bytes([2])
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        gif += bytes([len(block)]) + block
    gif += b"\x00\x3b"
    out = decode_gif(bytes(gif))
    expect = np.frombuffer(pal, np.uint8).reshape(4, 3)[idx.reshape(h, w)]
    assert np.array_equal(out, expect)
    # and the stream really grew past the initial width (compressed
    # well under 1 byte/pixel — fixed-width would be ~3/8 byte/px min)
    assert len(data) < len(idx) // 3


def test_truncation_and_garbage_are_loud():
    enc = encode_gif(_img())
    with pytest.raises(ValueError):
        decode_gif(enc[: len(enc) // 2])
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTAGIF" + bytes(40))


def test_partial_canvas_frames_stay_gated():
    enc = bytearray(encode_gif(_img()))
    # shift the image descriptor's width down by one: now a partial
    # frame → the decoder must refuse to composite, not guess
    pos = enc.index(b"\x2c")
    w = struct.unpack_from("<H", enc, pos + 5)[0]
    struct.pack_into("<H", enc, pos + 5, w - 1)
    with pytest.raises((NotImplementedError, ValueError)):
        decode_gif(bytes(enc))


def test_multimodal_kernel_wiring():
    img = _img(h=20, w=28)
    meta = decode_image_meta(encode_gif(img), real_decode=True)
    assert meta["format"] == "image/gif"
    assert (meta["width"], meta["height"]) == (28, 20)


def test_spark_frame_sampling_real_gif(spark):
    from dataflow_python_etl_spark.operators.multimodal import sample_frames

    img = _img(h=12, w=16)
    anim = [np.roll(img, k, axis=0) for k in range(6)]
    payload = encode_gif(anim, delay_cs=4)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = sample_frames(df, n_frames=3, frame_ms=40, real_decode=True).collect()
    assert [r.frame_idx for r in rows] == [0, 1, 2]
    # evenly spaced across the 6 source frames: 0, 2/3 rounds, 5
    assert [r.ts_ms for r in rows] == [0, 80, 200] or [r.ts_ms for r in rows] == [0, 120, 200]
    # each sampled frame decodes back to the exact source frame
    for r in rows:
        src = anim[r.ts_ms // 40]
        assert np.array_equal(codecs.decode_pnm(bytes(r.frame)), src)
    # non-GIF containers stay gated in real mode
    bad = spark.createDataFrame(
        [(2, bytearray(b"\x00\x00\x00\x18ftypmp42" + bytes(64)))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        sample_frames(bad, n_frames=2, real_decode=True).collect()


def test_gif_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(1, 40), st.integers(1, 40), st.integers(2, 256),
        st.booleans(), st.integers(0, 2**32 - 1),
    )
    def prop(h, w, colors, interlace, seed):
        rng = np.random.default_rng(seed)
        # palette of `colors` distinct RGB values, image indexes them
        pal = rng.choice(256 ** 3, size=colors, replace=False)
        pal = np.stack([pal >> 16, (pal >> 8) & 255, pal & 255], -1).astype(np.uint8)
        img = pal[rng.integers(0, colors, (h, w))]
        assert np.array_equal(decode_gif(encode_gif(img, interlace=interlace)), img)

    prop()


def test_lzw_base_table_is_immutable():
    assert isinstance(codecs._lzw_base(256), tuple)
