"""Pure-Python BMP/PPM codec round-trips (no Spark needed) — the real
decode path behind the multimodal suite (operators/multimodal.py)."""

from __future__ import annotations

import pytest

from executor_u1mindexer_spark.operators import multimodal as MM


def _pixels(w: int, h: int, seed: int = 0) -> bytes:
    return bytes((seed * 7 + i) % 256 for i in range(w * h * 3))


def test_ppm_roundtrip():
    px = _pixels(4, 3, seed=5)
    w, h, out = MM.decode_ppm(MM.encode_ppm(4, 3, px))
    assert (w, h) == (4, 3)
    assert out == px


@pytest.mark.parametrize("w,h", [(4, 3), (3, 2), (5, 1), (2, 2)])
def test_bmp_roundtrip_with_row_padding(w, h):
    # widths not divisible by 4 exercise the row-padding logic
    px = _pixels(w, h, seed=9)
    ww, hh, out = MM.decode_bmp(MM.encode_bmp(w, h, px))
    assert (ww, hh) == (w, h)
    assert out == px


def test_decode_image_meta_dispatch_and_sum():
    px = _pixels(2, 2, seed=1)
    for payload, fmt in [
        (MM.encode_ppm(2, 2, px), "ppm"),
        (MM.encode_bmp(2, 2, px), "bmp"),
    ]:
        meta = MM.decode_image_meta(payload)
        assert meta == {
            "format": fmt,
            "width": 2,
            "height": 2,
            "pixel_sum": sum(px),
        }


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_scanline_filter(filter_type):
    """The forward filter in encode_png and the unfilter in decode_png are
    independent implementations of RFC 2083 §6 — a roundtrip mismatch on
    any filter type means one of them is wrong."""
    px = _pixels(5, 4, seed=filter_type + 3)
    payload = MM.encode_png(5, 4, px, filter_type=filter_type)
    w, h, ch, out = MM.decode_png(payload)
    assert (w, h, ch) == (5, 4, 3)
    assert out == px


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (6, 4)])
def test_png_color_types(color_type, ch):
    px = bytes((11 * i + 7) % 256 for i in range(3 * 2 * ch))
    w, h, got_ch, out = MM.decode_png(
        MM.encode_png(3, 2, px, color_type=color_type, filter_type=4)
    )
    assert (w, h, got_ch) == (3, 2, ch)
    assert out == px


def test_png_meta_dispatch():
    px = _pixels(2, 2, seed=1)
    meta = MM.decode_image_meta(MM.encode_png(2, 2, px, filter_type=1))
    assert meta == {"format": "png", "width": 2, "height": 2, "pixel_sum": sum(px)}


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    # 16-bit depth header
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        MM.decode_png(bad)


def test_malformed_payloads_raise():
    with pytest.raises(ValueError):
        MM.decode_image_meta(b"\x00NOTANIMAGE")
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n2 2\n127\n" + b"\x00" * 12)  # unsupported maxval
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n4 4\n255\n" + b"\x00" * 3)  # truncated


def test_wav_roundtrip_mono_and_stereo():
    for ch in (1, 2):
        samples = [((i * 17) % 65536) - 32768 for i in range(12 * ch)]
        wav = MM.encode_wav(16000, ch, samples)
        meta = MM.decode_wav(wav)
        assert meta["sample_rate"] == 16000
        assert meta["n_channels"] == ch
        assert meta["bit_depth"] == 16
        assert meta["n_frames"] == 12
        assert meta["sum_abs"] == sum(abs(s) for s in samples)
        assert meta["duration_us"] == 12 * 1_000_000 // 16000


def test_wav_parser_skips_junk_chunks():
    samples = [100, -100, 32767, -32768]
    plain = MM.decode_wav(MM.encode_wav(8000, 1, samples, junk_chunk=False))
    junked = MM.decode_wav(MM.encode_wav(8000, 1, samples, junk_chunk=True))
    assert plain == junked


def test_wav_malformed_raises():
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFXzzzzWAVE")
    with pytest.raises(ValueError):
        # fmt missing entirely
        MM.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")
    # declared data size exceeds the buffer -> ValueError, not struct.error
    wav = MM.encode_wav(8000, 1, [1, -1, 2, -2])
    truncated = wav[:-4]
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_wav(truncated)


def test_video_index_roundtrip_and_sampling_arith():
    cks = [(f * 31) % 2147483647 for f in range(23)]
    fps, out = MM.decode_video_index(MM.encode_video_index(30, cks))
    assert fps == 30
    assert out == cks
    sampled = list(range(0, 23, 5))
    assert sampled == [0, 5, 10, 15, 20]  # ceil(23/5) = 5 frames
    with pytest.raises(ValueError):
        MM.decode_video_index(b"XXXX\x00\x00\x00\x00\x00\x00\x00\x00")


from hypothesis import given, settings, strategies as st


@settings(max_examples=50, deadline=None)
@given(
    sr=st.sampled_from([8000, 16000, 44100]),
    ch=st.integers(1, 2),
    frames=st.integers(0, 100),
    seed=st.integers(0, 2**31),
    junk=st.booleans(),
)
def test_wav_roundtrip_property(sr, ch, frames, seed, junk):
    samples = [((seed + i * 7919) % 65536) - 32768 for i in range(frames * ch)]
    meta = MM.decode_wav(MM.encode_wav(sr, ch, samples, junk_chunk=junk))
    assert meta["sample_rate"] == sr
    assert meta["n_channels"] == ch
    assert meta["n_frames"] == frames
    assert meta["sum_abs"] == sum(abs(s) for s in samples)
    assert meta["duration_us"] == frames * 1_000_000 // sr


@settings(max_examples=50, deadline=None)
@given(
    fps=st.integers(1, 120),
    cks=st.lists(st.integers(0, 2**32 - 1), max_size=200),
)
def test_video_index_roundtrip_property(fps, cks):
    got_fps, got = MM.decode_video_index(MM.encode_video_index(fps, cks))
    assert got_fps == fps and got == cks


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 8),
    h=st.integers(1, 6),
    seed=st.integers(0, 255),
    filter_type=st.integers(0, 4),
)
def test_png_roundtrip_property(w, h, seed, filter_type):
    px = bytes((seed * 31 + i) % 256 for i in range(w * h * 3))
    ww, hh, _, out = MM.decode_png(MM.encode_png(w, h, px, filter_type=filter_type))
    assert (ww, hh) == (w, h) and out == px


# --- JPEG (operators/jpeg.py) ----------------------------------------------

from executor_u1mindexer_spark.operators import jpeg as J


def test_jpeg_constant_gray_roundtrips_exactly():
    # every 8x8 block constant -> only the integer DC survives -> exact
    for v in (0, 37, 128, 255):
        for w, h in ((2, 2), (6, 4), (16, 9)):
            px = bytes([v]) * (w * h)
            ww, hh, ch, out = J.decode_jpeg(J.encode_jpeg(w, h, px, channels=1))
            assert (ww, hh, ch) == (w, h, 1)
            assert out == px


def test_jpeg_meta_dispatch():
    px = bytes([91]) * (3 * 4)
    meta = MM.decode_image_meta(J.encode_jpeg(3, 4, px, channels=1))
    assert meta == {"format": "jpeg", "width": 3, "height": 4, "pixel_sum": 91 * 12}


def test_jpeg_unsupported_variants_raise():
    base = J.encode_jpeg(4, 4, bytes(16), channels=1)
    # flip SOF0 -> SOF9 (arithmetic coding): decoder must refuse loudly
    # (SOF2 progressive is SUPPORTED since r05 — see the tests below)
    arith = base.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(NotImplementedError, match="arithmetic"):
        J.decode_jpeg(arith)
    # NON-INTEGER sampling ratio (Y 3/1 vs Cb 2/1): refuse loudly. Integer
    # layouts (4:4:4 / 4:2:2 / 4:2:0) are supported since r05.
    color = J.encode_jpeg(4, 4, bytes(48), channels=3)
    idx = color.index(b"\xff\xc0")
    hv1 = idx + 2 + 2 + 6 + 1  # marker+len, prec/h/w/nc, comp1 id -> h/v byte
    hv2 = hv1 + 3
    weird = bytearray(color)
    weird[hv1], weird[hv2] = 0x31, 0x21
    with pytest.raises(NotImplementedError, match="non-integer sampling"):
        J.decode_jpeg(bytes(weird))
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x01notajpeg")
    with pytest.raises(ValueError):  # SOI but no SOS
        J.decode_jpeg(b"\xff\xd8\xff\xd9")
    with pytest.raises(ValueError):
        J.encode_jpeg(2, 2, bytes(3), channels=1)  # wrong byte count
    with pytest.raises(ValueError):
        J.encode_jpeg(2, 2, bytes(12), channels=3, subsampling="422")


def test_jpeg_gray_declared_factors_are_ignored():
    # T.81 A.2.2: a single-component scan is non-interleaved — its MCU is
    # one data unit, so a gray stream declaring 2x2 factors decodes the same
    px = bytes([91]) * 16
    base = J.encode_jpeg(4, 4, px, channels=1)
    idx = base.index(b"\xff\xc0")
    hv_off = idx + 2 + 2 + 6 + 1
    declared22 = base[:hv_off] + bytes([0x22]) + base[hv_off + 1 :]
    assert J.decode_jpeg(declared22) == J.decode_jpeg(base)


def test_jpeg_quant_table_tradeoff():
    # a coarse quant table still decodes to the right shape, just lossier
    px = bytes((i * 13 + 5) % 256 for i in range(8 * 8))
    coarse = J.encode_jpeg(8, 8, px, channels=1, quant=[16] * 64)
    w, h, ch, out = J.decode_jpeg(coarse)
    assert (w, h, ch) == (8, 8, 1)
    err = max(abs(a - b) for a, b in zip(out, px))
    assert err <= 64  # lossy but sane
    fine = J.decode_jpeg(J.encode_jpeg(8, 8, px, channels=1))[3]
    assert max(abs(a - b) for a, b in zip(fine, px)) <= err


@settings(max_examples=40, deadline=None)
@given(w=st.integers(1, 20), h=st.integers(1, 20), seed=st.integers(0, 2**31))
def test_jpeg_gray_roundtrip_property(w, h, seed):
    # all-ones quant: loss is only coefficient rounding; |err| <= 2 per px
    px = bytes(((seed >> (i % 16)) + i * 97) % 256 for i in range(w * h))
    ww, hh, ch, out = J.decode_jpeg(J.encode_jpeg(w, h, px, channels=1))
    assert (ww, hh, ch) == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(out, px)) <= 2


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 12), h=st.integers(1, 12), seed=st.integers(0, 2**31))
def test_jpeg_color_roundtrip_property(w, h, seed):
    # color adds YCbCr<->RGB float rounding on top: |err| <= 4 per channel
    px = bytes(((seed >> (i % 16)) + i * 31) % 256 for i in range(w * h * 3))
    ww, hh, ch, out = J.decode_jpeg(J.encode_jpeg(w, h, px, channels=3))
    assert (ww, hh, ch) == (w, h, 3)
    assert max(abs(a - b) for a, b in zip(out, px)) <= 4


def test_jpeg_420_constant_color_roundtrips_exactly():
    # constant within every 16x16 MCU: chroma box-average of a constant is
    # the constant, replication restores it -> exact, like 4:4:4 blocks
    for r, g, b in ((0, 0, 0), (255, 255, 255), (13, 200, 77), (91, 7, 250)):
        for w, h in ((2, 3), (16, 16), (20, 11), (33, 17)):
            px = bytes([r, g, b]) * (w * h)
            ww, hh, ch, out = J.decode_jpeg(
                J.encode_jpeg(w, h, px, channels=3, subsampling="420")
            )
            assert (ww, hh, ch) == (w, h, 3)
            assert out == px


@settings(max_examples=25, deadline=None)
@given(w=st.integers(1, 12), h=st.integers(1, 12), seed=st.integers(0, 2**31))
def test_jpeg_420_roundtrip_matches_boxavg_replicate_property(w, h, seed):
    # 4:2:0 is lossy on arbitrary images BY DESIGN (chroma carries 1/4 the
    # samples); the correctness contract is against the analytic model:
    # decode == rgb(Y full-res, chroma 2x2 box-averaged then replicated),
    # up to DCT coefficient rounding (|err| <= 4 per channel, as 4:4:4)
    import numpy as np

    px = bytes(((seed >> (i % 16)) + i * 31) % 256 for i in range(w * h * 3))
    ww, hh, ch, out = J.decode_jpeg(
        J.encode_jpeg(w, h, px, channels=3, subsampling="420")
    )
    assert (ww, hh, ch) == (w, h, 3)
    rgb = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(np.float64)
    ycc = J._rgb_to_ycbcr(rgb)
    pad = J._pad_to(ycc[..., 0], 16).shape
    y = ycc[..., 0]
    planes = [y]
    for c in (1, 2):
        p = J._pad_to(ycc[..., c], 16)
        p = p.reshape(pad[0] // 2, 2, pad[1] // 2, 2).mean(axis=(1, 3))
        planes.append(np.repeat(np.repeat(p, 2, 0), 2, 1)[:h, :w])
    yy, cb, cr = planes
    exp = np.stack(
        [
            yy + 1.402 * (cr - 128.0),
            yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
            yy + 1.772 * (cb - 128.0),
        ],
        axis=-1,
    )
    exp = np.clip(np.rint(exp), 0, 255)
    got = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(np.float64)
    assert np.abs(got - exp).max() <= 4


def test_jpeg_420_meta_dispatch():
    # the suite's id%8==7 generation rule in closed form
    did = 7
    w, h = did % 5 + 2, did % 3 + 2
    color = bytes([did * 7 % 256, did * 11 % 256, did * 13 % 256])
    meta = MM.decode_image_meta(
        J.encode_jpeg(w, h, color * (w * h), channels=3, subsampling="420")
    )
    assert meta == {
        "format": "jpeg",
        "width": w,
        "height": h,
        "pixel_sum": w * h * sum(color),
    }


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    seed=st.integers(0, 2**31),
    mode=st.sampled_from(["gray", "color", "420", "coarse"]),
)
def test_jpeg_progressive_decodes_identically_to_baseline(w, h, seed, mode):
    # the progressive encoder arranges the SAME quantized coefficients into
    # multiple scans (spectral selection + successive approximation), so
    # decode must be BIT-IDENTICAL to the baseline stream of the same
    # image — a differential oracle against the already-property-tested
    # baseline codec. "coarse" drives long EOB runs / ZRL-in-refinement.
    kw = {"channels": 1}
    n = w * h
    if mode == "color":
        kw = {"channels": 3}
        n *= 3
    elif mode == "420":
        kw = {"channels": 3, "subsampling": "420"}
        n *= 3
    elif mode == "coarse":
        kw = {"channels": 1, "quant": [32] * 64}
    px = bytes(((seed >> (i % 16)) + i * 31) % 256 for i in range(n))
    assert J.decode_jpeg(J.encode_jpeg_progressive(w, h, px, **kw)) == J.decode_jpeg(
        J.encode_jpeg(w, h, px, **kw)
    )


def test_jpeg_progressive_constant_color_420_exact_and_dispatches():
    # the suite's id%16==15 generation rule: progressive 4:2:0 constant
    # color roundtrips exactly and the metadata dispatch sees it as jpeg
    did = 15
    w, h = did % 5 + 2, did % 3 + 2
    color = bytes([did * 7 % 256, did * 11 % 256, did * 13 % 256])
    pay = J.encode_jpeg_progressive(w, h, color * (w * h), channels=3, subsampling="420")
    ww, hh, ch, out = J.decode_jpeg(pay)
    assert (ww, hh, ch) == (w, h, 3)
    assert out == color * (w * h)
    meta = MM.decode_image_meta(pay)
    assert meta == {"format": "jpeg", "width": w, "height": h, "pixel_sum": w * h * sum(color)}


@settings(max_examples=15, deadline=None)
@given(
    # >= 17 so even the 4:2:0 16x16-MCU grid has >= 2 MCUs (a single-MCU
    # image has no restart boundary to mark)
    w=st.integers(17, 48),
    h=st.integers(17, 48),
    seed=st.integers(0, 2**31),
    dri=st.integers(1, 4),
    color=st.booleans(),
)
def test_jpeg_restart_intervals_roundtrip(w, h, seed, dri, color):
    # DRI + RSTn markers (byte-aligned, predictors/EOB runs reset) must not
    # change decoded pixels, in either framing — previously the decoder's
    # restart path was dead code because no encoder emitted it
    kw = {"channels": 3, "subsampling": "420"} if color else {"channels": 1}
    n = w * h * (3 if color else 1)
    px = bytes(((seed >> (i % 16)) + i * 31) % 256 for i in range(n))
    plain = J.decode_jpeg(J.encode_jpeg(w, h, px, **kw))
    rst = J.encode_jpeg(w, h, px, restart_interval=dri, **kw)
    # a marker is only WRITTEN when some MCU index in 1..n_mcus-1 crosses a
    # dri boundary, i.e. when n_mcus > dri (4:2:0 color MCUs are 16x16, so
    # e.g. w=h=17, dri=4 gives exactly 4 MCUs and zero markers — still a
    # valid stream, just nothing to assert presence of)
    mcu_side = 16 if color else 8
    n_mcus = -(-w // mcu_side) * -(-h // mcu_side)
    if n_mcus > dri:
        assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))
    assert J.decode_jpeg(rst) == plain
    assert (
        J.decode_jpeg(J.encode_jpeg_progressive(w, h, px, restart_interval=dri, **kw))
        == plain
    )


def test_jpeg_multiscan_and_undeclared_tables_raise_loudly():
    import struct

    color = J.encode_jpeg(4, 4, bytes(48), channels=3)
    # rewrite SOS to cover only component 1 (a legal non-interleaved
    # layout this decoder does not support): must be loud, not a KeyError
    idx = color.index(b"\xff\xda")
    (old_len,) = struct.unpack_from(">H", color, idx + 2)
    new_sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    oneScan = color[:idx] + new_sos + color[idx + 2 + old_len :]
    with pytest.raises(NotImplementedError, match="multi-scan"):
        J.decode_jpeg(oneScan)

    gray = J.encode_jpeg(2, 2, bytes(4), channels=1)
    # point the scan at huffman table 1, which no DHT declared
    idx = gray.index(b"\xff\xda")
    tt_off = idx + 2 + 2 + 1 + 1  # marker, len, ns, comp id -> table byte
    bad = gray[:tt_off] + bytes([0x11]) + gray[tt_off + 1 :]
    with pytest.raises(ValueError, match="undeclared huffman"):
        J.decode_jpeg(bad)


# -- GIF (operators/gif.py) --------------------------------------------------

from executor_u1mindexer_spark.operators import gif as G


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31),
    ncolors=st.integers(1, 256),
    interlace=st.booleans(),
)
def test_gif_roundtrip(w, h, seed, ncolors, interlace):
    # palette-bounded pixels: exactly <= ncolors unique RGB triples
    px = bytearray()
    for i in range(w * h):
        c = ((seed >> (i % 13)) + i * 37) % ncolors
        px += bytes(((c * 7) % 256, (c * 11) % 256, (c * 13) % 256))
    ww, hh, ch, out = G.decode_gif(G.encode_gif(w, h, bytes(px), interlace=interlace))
    assert (ww, hh, ch) == (w, h, 3)
    assert out == bytes(px)


@settings(max_examples=10, deadline=None)
@given(n=st.integers(1, 30000), alpha=st.integers(1, 256), seed=st.integers(0, 2**31))
def test_gif_lzw_roundtrip_crosses_width_boundaries(n, alpha, seed):
    # long low-entropy streams push the dictionary through every code
    # width and (at the high end) the 4096-entry CLEAR/reset
    data = bytes(((seed >> (i % 17)) + i * 31) % alpha for i in range(n))
    mcs = max(2, (alpha - 1).bit_length())
    assert G.lzw_decode(G.lzw_encode(data, mcs), mcs) == data


def test_gif_dispatches_through_decode_image_meta():
    px = bytes((i * 3) % 256 for i in range(4 * 3 * 3))
    meta = MM.decode_image_meta(G.encode_gif(4, 3, px))
    assert meta == {
        "format": "gif", "width": 4, "height": 3, "pixel_sum": sum(px)
    }


def test_gif_rejects_too_many_colors():
    # 257 unique colors cannot fit a GIF palette
    px = b"".join(bytes((i % 256, i // 256, 0)) for i in range(257))
    with pytest.raises(ValueError, match="256 unique colors"):
        G.encode_gif(257, 1, px)


def test_gif_loud_on_corrupt_payloads():
    good = G.encode_gif(3, 2, bytes(range(18)))
    with pytest.raises(ValueError, match="not a GIF"):
        G.decode_gif(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError, match="no image data"):
        G.decode_gif(good[:13] + b"\x3b")
    # truncated LZW data: cut the stream inside the data sub-blocks
    with pytest.raises(ValueError):
        G.decode_gif(good[:-10] + b"\x00\x3b")


def test_gif_skips_extension_blocks():
    # splice a graphic-control extension before the image descriptor
    good = G.encode_gif(2, 2, bytes(range(12)))
    idx = good.index(b"\x2c")
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = good[:idx] + gce + good[idx:]
    assert G.decode_gif(spliced) == G.decode_gif(good)


# -- animated GIF (r06): disposal compositing --------------------------------


def test_gif_animated_full_disposal_matrix():
    """Hand-computed 4x4 canvas expectations for every disposal mode and
    transparency — the exhaustive small case the closed-form suite oracle
    summarizes."""
    w = h = 4
    A, B, C, BG = 10, 20, 30, 5
    frames = [
        # full screen A, keep
        dict(left=0, top=0, w=w, h=h, rgb=bytes([A] * 48), disposal=1, delay_cs=7),
        # 2x2 patch at (1,1): B with one transparent pixel, restore-previous
        dict(left=1, top=1, w=2, h=2,
             rgb=bytes([B] * 3 + [1, 2, 3] + [B] * 6),
             disposal=3, delay_cs=2, transparent_color=(1, 2, 3)),
        # top row C, restore-background
        dict(left=0, top=0, w=w, h=1, rgb=bytes([C] * 12), disposal=2, delay_cs=3),
        # bottom row B, no disposal
        dict(left=0, top=3, w=w, h=1, rgb=bytes([B] * 12), disposal=0, delay_cs=4),
    ]
    payload = G.encode_gif_animated(w, h, frames, bg_color=(BG, BG, BG))
    sw, sh, out = G.decode_gif_frames(payload)
    assert (sw, sh) == (w, h) and len(out) == 4
    assert [d for d, _ in out] == [7, 2, 3, 4]

    def gray_canvas(rows):
        return bytes(v for row in rows for v in row for _ in range(3))

    f0 = gray_canvas([[A] * 4] * 4)
    # patch: (1,1)=B, (2,1)=transparent->A, (1,2)=B, (2,2)=B
    f1 = gray_canvas([[A, A, A, A], [A, B, A, A], [A, B, B, A], [A, A, A, A]])
    f2 = gray_canvas([[C] * 4, [A] * 4, [A] * 4, [A] * 4])  # previous restored
    f3 = gray_canvas([[BG] * 4, [A] * 4, [A] * 4, [B] * 4])  # row0 -> background
    assert out[0][1] == f0
    assert out[1][1] == f1
    assert out[2][1] == f2
    assert out[3][1] == f3


def test_gif_animated_rejects_out_of_screen_frames():
    with pytest.raises(ValueError, match="outside the logical screen"):
        G.encode_gif_animated(
            4, 4,
            [dict(left=3, top=0, w=2, h=1, rgb=bytes(6), disposal=0, delay_cs=1)],
        )


def test_gif_first_frame_view_composites_subrect_over_background():
    """decode_gif on an animation whose FIRST frame is a sub-rectangle
    (the case r05 rejected) now composites it over the background."""
    frames = [dict(left=1, top=1, w=1, h=1, rgb=bytes([200] * 3),
                   disposal=0, delay_cs=0)]
    payload = G.encode_gif_animated(3, 3, frames, bg_color=(10, 10, 10))
    w, h, ch, rgb = G.decode_gif(payload)
    assert (w, h, ch) == (3, 3, 3)
    assert sum(rgb) == 3 * (9 * 10 - 10 + 200)


def test_gif_single_frame_encoder_still_roundtrips_through_frames_api():
    px = bytes((i * 5) % 256 for i in range(6 * 2 * 3))
    sw, sh, out = G.decode_gif_frames(G.encode_gif(6, 2, px))
    assert (sw, sh, len(out)) == (6, 2, 1)
    assert out[0][1] == px


def test_resize_nearest_semantics():
    from executor_u1mindexer_spark.operators.multimodal import resize_nearest

    # 4x2 RGB raster with per-pixel distinct bytes
    w, h = 4, 2
    px = bytes(range(w * h * 3))
    thumb = resize_nearest(px, w, h, 2, 2)
    # (tx*4)//2 -> sx in {0, 2}; (ty*2)//2 -> sy in {0, 1}
    want = b"".join(
        px[(sy * w + sx) * 3 : (sy * w + sx) * 3 + 3]
        for sy in (0, 1) for sx in (0, 2)
    )
    assert thumb == want
    # identity resize
    assert resize_nearest(px, w, h, w, h) == px
    # upscale replicates nearest pixels and keeps total size tw*th*3
    up = resize_nearest(px, w, h, 8, 4)
    assert len(up) == 8 * 4 * 3
    import pytest as _p

    with _p.raises(ValueError, match="channel bytes"):
        resize_nearest(px[:-1], w, h, 2, 2)


# --- lossy-container header metadata (r09, operators/containers.py) --------

from executor_u1mindexer_spark.operators import containers as C


def test_lossy_header_roundtrip_full_lane_cycle():
    """Every (lane, parity, dim) combination of the generation rule
    re-parses to the closed form the oracle states."""
    for did in range(90):  # covers id%9, id%5, id%3, id%2 jointly
        w, h = did % 9 + 1, did % 5 + 1
        filler = bytes((did * 7 + i) % 256 for i in range(8))
        lane, odd = did % 3, did % 2 == 1
        if lane == 0:
            p = C.encode_webp_vp8(w, h, filler=filler)
        elif lane == 1:
            p = C.encode_webp_vp8(w, h, extended=True, alpha=odd, filler=filler)
        else:
            p = C.encode_avif(w, h, alpha=odd, filler=filler)
        got = C.parse_lossy_container_header(p)
        # r10 widened the parser dict with the chunk/property fields;
        # this lane cycle pins the original metadata subset
        assert {k: got[k] for k in
                ("container", "codec", "width", "height", "has_alpha")} == {
            "container": "avif" if lane == 2 else "webp",
            "codec": "av01" if lane == 2 else "vp8",
            "width": w,
            "height": h,
            "has_alpha": lane != 0 and odd,
        }, did


def test_vp8x_canvas_takes_precedence_over_frame_dims():
    """Hand-spliced container: VP8X canvas 7x9 around a 3x2 VP8 frame —
    the spec says canvas dims are authoritative."""
    import struct

    frame = C._riff_chunk(b"VP8 ", C._vp8_chunk_payload(3, 2, b"\x00" * 4))
    vp8x = C._riff_chunk(
        b"VP8X",
        bytes([0]) + b"\x00\x00\x00" + (6).to_bytes(3, "little") + (8).to_bytes(3, "little"),
    )
    body = vp8x + frame
    p = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    m = C.parse_lossy_container_header(p)
    assert (m["width"], m["height"]) == (7, 9)
    assert m["has_alpha"] is False


def test_vp8_14bit_dims_masked_from_upscale_bits():
    """The 16-bit dim fields carry a 2-bit upscale code in the top bits;
    the parser must mask to 14 bits. Patch the scale bits by hand."""
    p = bytearray(C.encode_webp_vp8(16383, 1))
    off = p.index(b"\x9d\x01\x2a") + 3
    p[off + 1] |= 0xC0  # upscale code 3 on width
    m = C.parse_lossy_container_header(bytes(p))
    assert (m["width"], m["height"]) == (16383, 1)


def test_lossy_header_parser_is_loud():
    good_webp = C.encode_webp_vp8(4, 3)
    # corrupt the VP8 start code
    bad = bytearray(good_webp)
    bad[bad.index(b"\x9d\x01\x2a")] = 0x9C
    with pytest.raises(ValueError, match="start code"):
        C.parse_lossy_container_header(bytes(bad))
    # interframe (non-key) first frame
    bad = bytearray(good_webp)
    bad[bad.index(b"VP8 ") + 8] |= 1
    with pytest.raises(ValueError, match="keyframe"):
        C.parse_lossy_container_header(bytes(bad))
    # RIFF size disagreeing with the payload
    bad = bytearray(good_webp)
    bad[4] ^= 0xFF
    with pytest.raises(ValueError, match="RIFF size"):
        C.parse_lossy_container_header(bytes(bad))
    # truncated chunk: inner size field claims more bytes than exist
    # (outer RIFF size left consistent so the walk reaches the chunk)
    import struct as _s

    bad = bytearray(good_webp)
    i = bad.index(b"VP8 ") + 4
    bad[i : i + 4] = _s.pack("<I", _s.unpack("<I", bytes(bad[i : i + 4]))[0] + 8)
    with pytest.raises(ValueError, match="truncated"):
        C.parse_lossy_container_header(bytes(bad))
    # lossless bitstream routed to the wrong parser
    from executor_u1mindexer_spark.operators.webp import encode_webp

    with pytest.raises(ValueError, match="VP8L"):
        C.parse_lossy_container_header(encode_webp(2, 2, bytes(12)))
    # avif missing ispe
    import struct

    ftyp = C._box(b"ftyp", b"avif" + struct.pack(">I", 0) + b"avif")
    with pytest.raises(ValueError, match="ispe"):
        C.parse_lossy_container_header(ftyp + C._fullbox(b"meta", b""))
    # non-avif brand
    heic = C._box(b"ftyp", b"heic" + struct.pack(">I", 0) + b"heic")
    with pytest.raises(ValueError, match="brand"):
        C.parse_lossy_container_header(heic)
    # not a container at all
    with pytest.raises(ValueError, match="unrecognized"):
        C.parse_lossy_container_header(b"\x89PNG\r\n\x1a\nrest")


def test_avif_aux_urn_must_be_alpha():
    """An auxC property with a non-alpha urn (e.g. depth) must NOT set
    has_alpha."""
    import struct

    p = C.encode_avif(5, 4, alpha=True)
    depth_urn = b"urn:mpeg:mpegB:cicp:systems:auxiliary:depth\x00"
    assert len(depth_urn) == len(C.ALPHA_URN)
    p2 = p.replace(C.ALPHA_URN, depth_urn)
    assert p2 != p
    m = C.parse_lossy_container_header(p2)
    assert m["has_alpha"] is False and (m["width"], m["height"]) == (5, 4)


def test_encoder_guards():
    with pytest.raises(ValueError, match="14 bits"):
        C.encode_webp_vp8(16384, 1)
    with pytest.raises(ValueError, match="extended"):
        C.encode_webp_vp8(4, 4, alpha=True)


# --- container chunk/property metadata (r10, VERDICT r09 #7) ----------------


def test_container_props_roundtrip_icc_exif_irot_imir_pixi():
    # extended WebP with ICC + a real TIFF EXIF payload
    p = C.encode_webp_vp8(
        5, 4, extended=True, icc=bytes(20),
        exif=C.encode_tiff_exif(7, big_endian=True, pad=4),
    )
    m = C.parse_lossy_container_header(p)
    assert (m["has_icc"], m["icc_bytes"], m["has_exif"], m["exif_bytes"]) == (
        True, 20, True, 30,
    )
    assert (m["exif_byte_order"], m["exif_orientation"]) == ("MM", 7)
    assert m["rotation_ccw"] is None and m["bit_depth"] is None
    # AVIF with every r10 property
    p = C.encode_avif(
        6, 2, alpha=True, rotation_ccw=3, mirror_axis=1, channel_bits=(10, 10, 10)
    )
    m = C.parse_lossy_container_header(p)
    assert (m["rotation_ccw"], m["mirror_axis"], m["n_channels"], m["bit_depth"]) == (
        3, 1, 3, 10,
    )
    assert m["has_alpha"] is True
    # defaults: no irot box -> rotation 0, no imir -> None, no pixi -> None
    m = C.parse_lossy_container_header(C.encode_avif(2, 2))
    assert (m["rotation_ccw"], m["mirror_axis"], m["n_channels"]) == (0, None, None)


def test_container_props_validation_and_flag_crosscheck():
    # metadata chunks require the extended container
    with pytest.raises(ValueError, match="extended"):
        C.encode_webp_vp8(2, 2, icc=bytes(4))
    with pytest.raises(ValueError, match="irot"):
        C.encode_avif(2, 2, rotation_ccw=4)
    with pytest.raises(ValueError, match="imir"):
        C.encode_avif(2, 2, mirror_axis=2)
    with pytest.raises(ValueError, match="pixi"):
        C.encode_avif(2, 2, channel_bits=(0,))
    # non-uniform pixi depths are refused by the parser
    with pytest.raises(ValueError, match="non-uniform"):
        C.parse_lossy_container_header(
            C.encode_avif(2, 2, channel_bits=(8, 10, 8))
        )
    # VP8X flag byte disagreeing with present chunks is loud both ways
    p = bytearray(C.encode_webp_vp8(3, 3, extended=True, icc=bytes(8)))
    flag_off = p.index(b"VP8X") + 8
    p[flag_off] &= ~0x20 & 0xFF  # clear the ICC flag, chunk still present
    with pytest.raises(ValueError, match="VP8X flags"):
        C.parse_lossy_container_header(bytes(p))
    p = bytearray(C.encode_webp_vp8(3, 3, extended=True))
    p[p.index(b"VP8X") + 8] |= 0x08  # declare EXIF with no EXIF chunk
    with pytest.raises(ValueError, match="VP8X flags"):
        C.parse_lossy_container_header(bytes(p))
    # ICC chunk inside a simple (non-VP8X) container
    simple = C.encode_webp_vp8(3, 3)
    body = simple[12:]
    injected = C._riff_chunk(b"ICCP", bytes(4)) + body
    import struct as _s

    dirty = b"RIFF" + _s.pack("<I", 4 + len(injected)) + b"WEBP" + injected
    with pytest.raises(ValueError, match="simple"):
        C.parse_lossy_container_header(dirty)


def test_exif_tiff_roundtrip_both_byte_orders():
    # every orientation x both byte orders x pad sizes
    for o in range(1, 9):
        for big in (False, True):
            p = C.encode_tiff_exif(o, big_endian=big, pad=o % 3)
            m = C.parse_tiff_exif(p)
            assert m == {"byte_order": "MM" if big else "II", "orientation": o}
    with pytest.raises(ValueError, match="orientation"):
        C.encode_tiff_exif(0)
    with pytest.raises(ValueError, match="orientation"):
        C.encode_tiff_exif(9)


def test_exif_tiff_parser_is_loud():
    good = C.encode_tiff_exif(3, big_endian=True)
    bad = bytearray(good)
    bad[0:2] = b"XX"
    with pytest.raises(ValueError, match="byte-order"):
        C.parse_tiff_exif(bytes(bad))
    bad = bytearray(good)
    bad[3] ^= 0xFF  # magic (big-endian: bytes 2-3 hold 42)
    with pytest.raises(ValueError, match="magic"):
        C.parse_tiff_exif(bytes(bad))
    # orientation entry with a wrong type must not silently parse
    bad = bytearray(good)
    # entry starts at ifd_off+2; type is entry bytes 2-3 (BE here)
    import struct as _s

    ifd_off = _s.unpack_from(">I", bytes(bad), 4)[0]
    _s.pack_into(">H", bad, ifd_off + 2 + 2, 4)  # type LONG, not SHORT
    with pytest.raises(ValueError, match="type"):
        C.parse_tiff_exif(bytes(bad))
    # the value sits under the DECLARED byte order: an MM payload parsed
    # as written must give the same orientation as its II twin
    assert (
        C.parse_tiff_exif(C.encode_tiff_exif(6, big_endian=True))["orientation"]
        == C.parse_tiff_exif(C.encode_tiff_exif(6, big_endian=False))["orientation"]
    )


@pytest.mark.parametrize("color_type", [0, 2, 3, 6])
@pytest.mark.parametrize("filter_type", range(5))
def test_png_adam7_roundtrip_all_filters(color_type, filter_type):
    """Adam7 interlace (r11): every pass is filtered independently and
    scattered back by the pass geometry — roundtrip across all color
    types and filters, on sizes that exercise empty passes (1x1 has six
    empty passes) and ragged pass widths."""
    import random

    rng = random.Random(20260815 + color_type * 5 + filter_type)
    for w, h in ((1, 1), (2, 3), (5, 4), (8, 8), (9, 7)):
        if color_type == 3:
            px = bytes(rng.choice((0, 17, 34, 200)) for _ in range(w * h * 3))
            want_ch, want = 3, px
        else:
            ch = MM._PNG_CHANNELS[color_type]
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            want_ch, want = ch, px
        p = MM.encode_png(
            w, h, px, color_type=color_type, filter_type=filter_type, interlace=True
        )
        assert MM.decode_png(p) == (w, h, want_ch, want)


def test_png_indexed_roundtrip_and_gates():
    """Indexed PNG (r11): PLTE lookup returns the original RGB raster;
    >256 distinct colors and tRNS payloads raise loudly."""
    px = bytes((7 * i) % 256 for i in range(6 * 4 * 3))
    p = MM.encode_png(6, 4, px, color_type=3, filter_type=4)
    assert MM.decode_png(p) == (6, 4, 3, px)

    many = bytes(
        b for i in range(300) for b in (i % 256, (i // 256) % 256, 7)
    )  # 300 distinct colors in a 300x1 image
    with pytest.raises(ValueError, match="<= 256 distinct colors"):
        MM.encode_png(300, 1, many, color_type=3)

    # splice a tRNS chunk into a valid indexed PNG -> loud gate
    base = MM.encode_png(2, 2, bytes(12), color_type=3)
    iend = base.index(b"IEND") - 4
    trns = MM._png_chunk(b"tRNS", b"\x80")
    with pytest.raises(ValueError, match="tRNS"):
        MM.decode_png(base[:iend] + trns + base[iend:])
