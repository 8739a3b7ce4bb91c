"""Multimodal-column operators — opaque binary payloads with typed metadata.

The Jina Document (reference executor.py:6) carries arbitrary bytes next to
text/embedding/tags; Spark-side the equivalent is a BinaryType column with
struct metadata. The image/audio decode libraries are NOT in this container,
so the decode step is STUBBED (clearly-marked NotImplementedError, or a
deterministic fake) while everything Spark-owns — schema, Arrow batch
transfer, mapInPandas signature, partitioning — is real and tested.

Scale notes: binary payloads ride the columnar path (parquet BYTE_ARRAY,
Arrow Binary); mapInPandas streams Arrow batches so a 100 TB decode job is
bounded by batch size, not partition size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ID_COL = "doc_id"
BIN_COL = "img"

BINARY_META_SCHEMA = "doc_id long, n_bytes int, first_byte int, fake_width int, fake_height int"


def attach_fake_binary(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in payload: the 16 md5 bytes of the text column
    (the fixture has no real image bytes; this keeps every downstream step
    oracle-checkable)."""
    return docs.withColumn("payload", F.unhex(F.md5(F.col("text"))))


def extract_binary_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over a binary column (mapInPandas).

    The "decode" is a deterministic fake (dimensions derived from leading
    bytes) — swap `_fake_decode` for a real PIL/librosa call when the
    libraries exist. The plumbing (binary -> pandas bytes -> typed struct
    rows) is the production shape.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[ID_COL],
                    "n_bytes": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0]),
                    "fake_width": payloads.map(lambda b: b[0] % 64 + 1),
                    "fake_height": payloads.map(lambda b: b[1] % 64 + 1),
                }
            )

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(df.select(ID_COL, "payload")).mapInPandas(
        extract, schema=BINARY_META_SCHEMA
    )


# -- real pure-Python codecs for uncompressed formats ------------------------
#
# PPM (P6) and 24-bit BI_RGB BMP need no image library: the formats are a
# text/struct header plus raw RGB bytes. Encoding + decoding them for real
# makes the multimodal decode path end-to-end exercisable (and oracle-
# checkable) despite PIL being absent.


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """P6 binary PPM: ASCII header then w*h*3 RGB bytes, top-down raster."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"expected {width * height * 3} pixel bytes, got {len(pixels)}")
    return f"P6\n{width} {height}\n255\n".encode() + pixels


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP from top-down raster RGB bytes.
    BMP stores rows bottom-up as BGR with each row padded to 4 bytes."""
    import struct

    if len(pixels) != width * height * 3:
        raise ValueError(f"expected {width * height * 3} pixel bytes, got {len(pixels)}")
    row_size = (width * 3 + 3) & ~3
    image_size = row_size * height
    rows = []
    for r in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for c in range(width):
            i = (r * width + c) * 3
            row += bytes((pixels[i + 2], pixels[i + 1], pixels[i]))  # BGR
        row += b"\x00" * (row_size - width * 3)
        rows.append(bytes(row))
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + image_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    return header + info + b"".join(rows)


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse P6 PPM → (width, height, top-down raster RGB bytes)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = 3 whitespace-separated tokens after the magic, then ONE
    # whitespace byte, then binary data (comments not supported — the
    # encoder never writes them)
    pos, tokens = 2, []
    while len(tokens) < 3:
        while payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"only maxval 255 supported, got {maxval}")
    pixels = payload[pos : pos + width * height * 3]
    if len(pixels) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, pixels


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse 24-bit BI_RGB BMP → (width, height, top-down raster RGB)."""
    import struct

    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp}, compression={compression})")
    row_size = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for r in range(height):
        src = data_offset + (height - 1 - r) * row_size  # stored bottom-up
        for c in range(width):
            b, g, rr = payload[src + c * 3 : src + c * 3 + 3]
            i = (r * width + c) * 3
            out[i], out[i + 1], out[i + 2] = rr, g, b
    return width, height, bytes(out)


# -- real pure-Python PNG codec (zlib is stdlib) -----------------------------
#
# PNG is "compressed" only in the DEFLATE sense — zlib + the five scanline
# filters of the PNG spec (RFC 2083 §6) are all it takes for the baseline
# non-interlaced 8-bit case, no image library needed. Supports color type
# 0 (gray), 2 (RGB), 6 (RGBA) at bit depth 8; interlaced/paletted/16-bit
# payloads raise loudly.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}
# Adam7 interlace passes (PNG spec §8.2): (x_start, x_step, y_start, y_step).
# Pass sub-images are filtered INDEPENDENTLY; empty passes contribute no
# bytes at all (not even filter bytes).
_ADAM7 = (
    (0, 8, 0, 8),
    (4, 8, 0, 8),
    (0, 4, 4, 8),
    (2, 4, 0, 4),
    (0, 2, 2, 4),
    (1, 2, 0, 2),
    (0, 1, 1, 2),
)


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_filter_block(pixels: bytes, width: int, height: int, ch: int,
                      filter_type: int) -> bytearray:
    """Forward-filter one raster block into (stride+1)*height stream bytes
    (prior row = previous row of the SAME block — passes filter
    independently, which is why this is a helper)."""
    stride = width * ch
    raw = bytearray()
    prior = bytes(stride)
    for r in range(height):
        row = pixels[r * stride : (r + 1) * stride]
        raw.append(filter_type)
        for x in range(stride):
            left = row[x - ch] if x >= ch else 0
            up = prior[x]
            ul = prior[x - ch] if x >= ch else 0
            if filter_type == 0:
                f = row[x]
            elif filter_type == 1:
                f = (row[x] - left) % 256
            elif filter_type == 2:
                f = (row[x] - up) % 256
            elif filter_type == 3:
                f = (row[x] - (left + up) // 2) % 256
            elif filter_type == 4:
                f = (row[x] - _paeth(left, up, ul)) % 256
            else:
                raise ValueError(f"unknown PNG filter {filter_type}")
            raw.append(f)
        prior = row
    return raw


def _adam7_geometry(width: int, height: int):
    """Non-empty Adam7 passes as (x0, xs, y0, ys, pass_w, pass_h)."""
    out = []
    for x0, xs, y0, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs
        ph = (height - y0 + ys - 1) // ys
        if pw > 0 and ph > 0:
            out.append((x0, xs, y0, ys, pw, ph))
    return out


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    *,
    color_type: int = 2,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Minimal valid PNG from a top-down 8-bit raster. filter_type applies
    the given PNG filter to every scanline (0=None..4=Paeth) — the encoder
    computes the forward filter so all five decode paths are exercisable in
    roundtrip tests without an external reference image.

    r11: ``interlace=True`` writes Adam7 (each of the seven passes is a
    sub-image filtered independently; empty passes emit nothing), and
    ``color_type=3`` writes an INDEXED PNG — input stays the RGB raster,
    the encoder builds the PLTE from the distinct colors in
    first-occurrence order (<= 256 required) and streams 1-byte indices."""
    import struct
    import zlib as _z

    plte = b""
    if color_type == 3:
        if len(pixels) != width * height * 3:
            raise ValueError("indexed PNG input must be an RGB raster")
        palette: dict[bytes, int] = {}
        idx = bytearray()
        for i in range(0, len(pixels), 3):
            c = pixels[i : i + 3]
            if c not in palette:
                if len(palette) == 256:
                    raise ValueError("indexed PNG needs <= 256 distinct colors")
                palette[c] = len(palette)
            idx.append(palette[c])
        plte = b"".join(palette)  # insertion order == index order
        pixels, ch = bytes(idx), 1
    else:
        ch = _PNG_CHANNELS[color_type]
        if len(pixels) != width * height * ch:
            raise ValueError(
                f"expected {width * height * ch} pixel bytes, got {len(pixels)}"
            )
    if not interlace:
        raw = _png_filter_block(pixels, width, height, ch, filter_type)
    else:
        raw = bytearray()
        for x0, xs, y0, ys, pw, ph in _adam7_geometry(width, height):
            sub = bytearray()
            for py in range(ph):
                y = y0 + py * ys
                for px_i in range(pw):
                    x = x0 + px_i * xs
                    o = (y * width + x) * ch
                    sub += pixels[o : o + ch]
            raw += _png_filter_block(bytes(sub), pw, ph, ch, filter_type)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    chunks = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        chunks += _png_chunk(b"PLTE", plte)
    return chunks + _png_chunk(b"IDAT", _z.compress(bytes(raw))) + _png_chunk(b"IEND", b"")


def _png_unfilter_block(raw: bytes, w: int, h: int, ch: int):
    """Unfilter one (stride+1)*h stream block → (h, stride) uint8 array.
    Sub and Up are vectorized (per-channel cumsum / vector add), Average
    and Paeth walk the row (sequential left-dependency is inherent to
    the spec)."""
    import numpy as np

    stride = w * ch
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG scanline data size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int32)
        if ft == 0:
            recon = row
        elif ft == 1:  # Sub: per-channel cumsum
            recon = np.cumsum(row.reshape(w, ch), axis=0).reshape(stride) % 256
        elif ft == 2:  # Up
            recon = (row + prior) % 256
        elif ft == 3:  # Average
            recon = row.copy()
            for x in range(stride):
                left = recon[x - ch] if x >= ch else 0
                recon[x] = (row[x] + (left + prior[x]) // 2) % 256
        elif ft == 4:  # Paeth
            recon = row.copy()
            for x in range(stride):
                left = int(recon[x - ch]) if x >= ch else 0
                ul = int(prior[x - ch]) if x >= ch else 0
                recon[x] = (row[x] + _paeth(left, int(prior[x]), ul)) % 256
        else:
            raise ValueError(f"unknown PNG filter byte {ft}")
        out[r] = recon
        prior = recon.astype(np.int32)
    return out


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse a PNG → (width, height, channels, top-down raster).

    8-bit gray / RGB / RGBA / INDEXED (PLTE, r11), non-interlaced or
    Adam7-interlaced (r11 — each pass unfiltered independently, pixels
    scattered back by the pass geometry; empty passes carry no bytes).
    Indexed rasters return as RGB after palette lookup. 16-bit /
    sub-8-bit depths and tRNS-transparent palettes raise loudly."""
    import struct
    import zlib as _z

    import numpy as np

    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG payload")
    pos, idat, meta, plte = 8, bytearray(), None, None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or color_type not in (0, 2, 3, 6) or interlace not in (0, 1):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color_type={color_type}, "
                    f"interlace={interlace}); 8-bit gray/RGB/RGBA/indexed only"
                )
            meta = (w, h, color_type, interlace)
        elif tag == b"PLTE":
            plte = bytes(body)
        elif tag == b"tRNS":
            raise ValueError("unsupported PNG: tRNS transparency on palette")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, color_type, interlace = meta
    ch = 1 if color_type == 3 else _PNG_CHANNELS[color_type]
    if color_type == 3 and (plte is None or len(plte) % 3):
        raise ValueError("indexed PNG missing/malformed PLTE")
    raw = _z.decompress(bytes(idat))
    if interlace == 0:
        out = _png_unfilter_block(raw, w, h, ch)
    else:
        out = np.zeros((h, w * ch), dtype=np.uint8)
        off = 0
        for x0, xs, y0, ys, pw, ph in _adam7_geometry(w, h):
            blk_len = (pw * ch + 1) * ph
            sub = _png_unfilter_block(raw[off : off + blk_len], pw, ph, ch)
            off += blk_len
            ys_idx = np.arange(ph) * ys + y0
            xs_idx = np.arange(pw) * xs + x0
            sub3 = sub.reshape(ph, pw, ch)
            for ci in range(ch):
                out[np.ix_(ys_idx, xs_idx * ch + ci)] = sub3[:, :, ci]
        if off != len(raw):
            raise ValueError("PNG Adam7 stream size mismatch")
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("indexed PNG references a color past the PLTE")
        rgb = pal[idx]  # (h, w, 3)
        return w, h, 3, rgb.tobytes()
    return w, h, ch, out.tobytes()


def decode_image_px(payload: bytes) -> tuple[str, int, int, bytes]:
    """Dispatch on magic bytes -> (format, width, height, channel bytes
    in top-down raster order). The raster is RGB for the lossless
    containers and whatever the codec produced for JPEG (gray or RGB —
    both flow through the sum/resize consumers unchanged)."""
    from executor_u1mindexer_spark.operators.jpeg import decode_jpeg

    from executor_u1mindexer_spark.operators.gif import decode_gif

    if payload.startswith(b"P6"):
        fmt, (w, h, px) = "ppm", decode_ppm(payload)
    elif payload.startswith(b"BM"):
        fmt, (w, h, px) = "bmp", decode_bmp(payload)
    elif payload.startswith(_PNG_MAGIC):
        fmt, (w, h, _ch, px) = "png", decode_png(payload)
    elif payload.startswith(b"\xff\xd8"):
        fmt, (w, h, _ch, px) = "jpeg", decode_jpeg(payload)
    elif payload.startswith(b"GIF8"):
        fmt, (w, h, _ch, px) = "gif", decode_gif(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from executor_u1mindexer_spark.operators.webp import decode_webp_rgb

        fmt, (w, h, px) = "webp", decode_webp_rgb(payload)
    else:
        raise ValueError(
            "unrecognized image payload (expected P6 PPM, BMP, PNG, GIF, "
            "WebP, or JPEG)"
        )
    return fmt, w, h, px


def decode_image_meta(payload: bytes) -> dict:
    """Dispatch on magic bytes; returns format/width/height/pixel_sum where
    pixel_sum is the sum of all channel bytes in top-down raster order
    (identical for the same RGB image in any lossless container; for JPEG
    it is the sum over the DECODED raster — exact for block-constant
    images under the default all-ones quant table, see operators/jpeg.py)."""
    fmt, w, h, px = decode_image_px(payload)
    return {"format": fmt, "width": w, "height": h, "pixel_sum": sum(px)}


def resize_nearest(px: bytes, w: int, h: int, tw: int, th: int, ch: int = 3) -> bytes:
    """Nearest-neighbor resize of a top-down raster: thumbnail pixel
    (tx, ty) samples source (tx*w DIV tw, ty*h DIV th) — pure integer
    coordinate mapping, so the result (and any sum over it) is exact and
    engine-independent. The thumbnailing step of a 100 TB image corpus."""
    if len(px) != w * h * ch:
        raise ValueError(f"expected {w * h * ch} channel bytes, got {len(px)}")
    out = bytearray()
    for ty in range(th):
        sy = ty * h // th
        for tx in range(tw):
            sx = tx * w // tw
            i = (sy * w + sx) * ch
            out += px[i : i + ch]
    return bytes(out)


THUMB_META_SCHEMA = (
    "doc_id long, format string, src_w int, src_h int, "
    "thumb_w int, thumb_h int, thumb_pixel_sum long"
)


def thumbnail_metadata(df: DataFrame) -> DataFrame:
    """Decode + nearest-neighbor thumbnail + typed metadata in ONE Arrow
    pass (mapInPandas) — decode and feature-extract fused so payloads
    are touched once; the integer coordinate mapping keeps the
    thumbnail's pixel_sum closed-form for the oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "format": [], "src_w": [], "src_h": [],
                "thumb_w": [], "thumb_h": [], "thumb_pixel_sum": [],
            }
            for did, payload in zip(pdf[ID_COL], pdf[BIN_COL]):
                fmt, w, h, px = decode_image_px(bytes(payload))
                ch = len(px) // (w * h)
                thumb = resize_nearest(px, w, h, 2, 2, ch)
                rows["doc_id"].append(did)
                rows["format"].append(fmt)
                rows["src_w"].append(w)
                rows["src_h"].append(h)
                rows["thumb_w"].append(2)
                rows["thumb_h"].append(2)
                rows["thumb_pixel_sum"].append(sum(thumb))
            yield pd.DataFrame(rows)

    return df.select(ID_COL, BIN_COL).mapInPandas(run, schema=THUMB_META_SCHEMA)


def attach_synthetic_images(docs: DataFrame) -> DataFrame:
    """Deterministic test images derived ONLY from the id: width = id%5+2,
    height = id%3+2; container cycles id%4 → PPM / BMP / PNG / JPEG, with
    the PPM lane further split on id%8 == 4 → GIF (palette+LZW; lossless,
    so it carries the same RGB bytes and the same pixel_sum; id%16 == 12
    additionally exercises 4-pass interlace) and the PNG lane split on
    id%8 == 6 → id%16 == 6 INDEXED (PLTE) / id%16 == 14 Adam7 INTERLACED
    (r11; both lossless, same bytes, same pixel_sum).
    Lossless containers carry RGB channel byte i = (id*7 + i) % 256
    (top-down raster; the PNG scanline filter cycles id%5 so every
    unfilter path decodes under the oracle). JPEG — lossy in general — is
    given a CONSTANT image, which the codecs roundtrip EXACTLY under the
    all-ones quant table (operators/jpeg.py): every block is constant so
    the only nonzero coefficient is the DC. The JPEG slot itself
    alternates on id%8: 3 → baseline 4:4:4 grayscale of value (id*7)%256;
    7 → 4:2:0 chroma-subsampled CONSTANT COLOR (r,g,b) = (id*7, id*11,
    id*13) % 256 — the dominant real-world sampling layout, exercising
    the 16x16 MCU interleave + chroma box-average + upsample path
    (roundtrip verified exhaustively over the full id cycle) — with the
    4:2:0 slot further split on id%16: 7 → baseline (SOF0), 15 →
    PROGRESSIVE (SOF2, multi-scan spectral selection + successive
    approximation; decodes to the identical pixels, so the oracle formula
    is untouched). So an oracle can state the decoded metadata for every
    container in closed form without itself decoding anything."""
    from executor_u1mindexer_spark.operators.gif import encode_gif
    from executor_u1mindexer_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[ID_COL]:
                did = int(did)
                w, h = did % 5 + 2, did % 3 + 2
                px = bytes((did * 7 + i) % 256 for i in range(w * h * 3))
                kind = did % 4
                if kind == 0:
                    # the PPM lane splits on id%8: 4 -> GIF (palette+LZW,
                    # lossless, same RGB bytes so the closed-form pixel_sum
                    # is untouched; interlace cycles on id%16 == 12)
                    if did % 8 == 4:
                        payloads.append(
                            encode_gif(w, h, px, interlace=(did % 16 == 12))
                        )
                    else:
                        payloads.append(encode_ppm(w, h, px))
                elif kind == 1:
                    payloads.append(encode_bmp(w, h, px))
                elif kind == 2:
                    # the PNG lane splits on id%8: 2 -> baseline with the
                    # filter cycling id%5; 6 -> id%16==6 INDEXED (PLTE,
                    # decoder maps back to the same RGB raster) and
                    # id%16==14 Adam7 INTERLACED — both lossless, so the
                    # closed-form pixel_sum oracle is untouched (r11)
                    if did % 8 == 6:
                        payloads.append(
                            encode_png(
                                w, h, px,
                                color_type=3 if did % 16 == 6 else 2,
                                filter_type=did % 5,
                                interlace=(did % 16 == 14),
                            )
                        )
                    else:
                        payloads.append(encode_png(w, h, px, filter_type=did % 5))
                elif did % 8 == 3:
                    gray = bytes([did * 7 % 256]) * (w * h)
                    payloads.append(encode_jpeg(w, h, gray, channels=1))
                else:  # did % 8 == 7: constant-color 4:2:0 (15 -> progressive)
                    color = bytes([did * 7 % 256, did * 11 % 256, did * 13 % 256])
                    enc = encode_jpeg_progressive if did % 16 == 15 else encode_jpeg
                    payloads.append(
                        enc(w, h, color * (w * h), channels=3, subsampling="420")
                    )
                ids.append(did)
            yield pd.DataFrame({ID_COL: ids, "img": payloads})

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(docs.select(ID_COL)).mapInPandas(
        gen, schema=f"{ID_COL} long, img binary"
    )


def attach_synthetic_webp(docs: DataFrame) -> DataFrame:
    """Deterministic LOSSLESS WebP (VP8L) payloads from the id alone:
    w = id%6+3, h = id%4+3, RGB channel byte i = (id*7 + i) % 256 —
    the SAME pixel formula as the other lossless containers, so the
    oracle's closed-form pixel_sum is identical in structure. The
    encode lane cycles so every VP8L decode path runs under the oracle:

      id%4 == 0: plain, 4-bit color cache + LZ77;
      id%4 == 1: id%8 == 1 -> subtract-green + LZ77,
                 id%8 == 5 -> cross-channel color transform;
      id%4 == 2: id%8 == 2 -> spatial predictor transform (mode sweep),
                 id%8 == 6 -> subtract-green + predictor + meta prefix
                              codes (two entropy groups);
      id%4 == 3: color-indexing (palette; bundling kicks in whenever
                 the image has <= 16 distinct colors).

    Every lane is lossless by construction, so a decoder bug in ANY
    path (a prefix-code misread, a wrong predictor neighbor, a palette
    delta slip, a cache-index clash) diverges from the closed form."""
    from executor_u1mindexer_spark.operators.webp import encode_webp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[ID_COL]:
                did = int(did)
                w, h = did % 6 + 3, did % 4 + 3
                px = bytes((did * 7 + i) % 256 for i in range(w * h * 3))
                kind = did % 4
                if kind == 0:
                    enc = encode_webp(w, h, px, cache_bits=4)
                elif kind == 1:
                    if did % 8 == 1:
                        enc = encode_webp(w, h, px, transforms=("subtract_green",))
                    else:
                        enc = encode_webp(w, h, px, transforms=("color",))
                elif kind == 2:
                    if did % 8 == 2:
                        enc = encode_webp(w, h, px, transforms=("predictor",))
                    else:
                        enc = encode_webp(
                            w, h, px,
                            transforms=("subtract_green", "predictor"),
                            meta_split=True,
                        )
                else:
                    enc = encode_webp(w, h, px, transforms=("palette",))
                payloads.append(enc)
                ids.append(did)
            yield pd.DataFrame({ID_COL: ids, "img": payloads})

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(docs.select(ID_COL)).mapInPandas(
        gen, schema=f"{ID_COL} long, img binary"
    )


def attach_synthetic_animations(docs: DataFrame) -> DataFrame:
    """Deterministic 4-frame animated GIFs derived ONLY from the id —
    built to exercise every GIF89a compositing rule with a closed-form
    per-frame pixel_sum (screen w = id%5+4, h = id%3+4; grays c0..c3 =
    id*3/7/11/13 % 256; c0 is the background color):

    frame 0: full-screen c1, disposal KEEP, delay id%10+1 cs;
    frame 1: inset patch at (1,1) size (w-2)x(h-2) — even columns c2,
             odd columns TRANSPARENT (c1 shows through), disposal
             RESTORE-PREVIOUS, so the patch must vanish afterwards;
    frame 2: top row c3, disposal RESTORE-BACKGROUND, so row 0 becomes
             the background color c0 afterwards;
    frame 3: bottom row c2, disposal none.

    A decoder that mis-handles transparency, either restore mode, or
    sub-rectangle placement diverges from the oracle's closed form."""
    from executor_u1mindexer_spark.operators.gif import encode_gif_animated

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[ID_COL]:
                did = int(did)
                w, h = did % 5 + 4, did % 3 + 4
                c0, c1 = did * 3 % 256, did * 7 % 256
                c2, c3 = did * 11 % 256, did * 13 % 256
                pw, ph = w - 2, h - 2
                tcol = (1, 2, 3)  # never equals an r=g=b gray
                patch = bytearray()
                for _r in range(ph):
                    for c in range(pw):
                        patch += bytes([c2] * 3) if c % 2 == 0 else bytes(tcol)
                frames = [
                    dict(left=0, top=0, w=w, h=h, rgb=bytes([c1] * (3 * w * h)),
                         disposal=1, delay_cs=did % 10 + 1),
                    dict(left=1, top=1, w=pw, h=ph, rgb=bytes(patch),
                         disposal=3, delay_cs=2, transparent_color=tcol),
                    dict(left=0, top=0, w=w, h=1, rgb=bytes([c3] * (3 * w)),
                         disposal=2, delay_cs=3),
                    dict(left=0, top=h - 1, w=w, h=1, rgb=bytes([c2] * (3 * w)),
                         disposal=0, delay_cs=4),
                ]
                payloads.append(
                    encode_gif_animated(w, h, frames, bg_color=(c0, c0, c0))
                )
                ids.append(did)
            yield pd.DataFrame({ID_COL: ids, "anim": payloads})

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(docs.select(ID_COL)).mapInPandas(
        gen, schema=f"{ID_COL} long, anim binary"
    )


ANIM_META_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, width int, height int, "
    "delay_cs int, pixel_sum long"
)


def decode_gif_animation_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL multi-frame decode: one typed row per DISPLAYED
    frame (1->many mapInPandas explosion, like the video sampler) with
    the fully composited canvas's pixel_sum — the feature-extraction
    shape for 'decode 100 TB of animations'."""
    from executor_u1mindexer_spark.operators.gif import decode_gif_frames

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "n_frames": [], "width": [],
                "height": [], "delay_cs": [], "pixel_sum": [],
            }
            for did, payload in zip(pdf[ID_COL], pdf["anim"]):
                sw, sh, frames = decode_gif_frames(bytes(payload))
                for fi, (delay, rgb) in enumerate(frames):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(fi)
                    rows["n_frames"].append(len(frames))
                    rows["width"].append(sw)
                    rows["height"].append(sh)
                    rows["delay_cs"].append(delay)
                    rows["pixel_sum"].append(sum(rgb))
            yield pd.DataFrame(rows)

    return df.select(ID_COL, "anim").mapInPandas(decode, schema=ANIM_META_SCHEMA)


DECODED_META_SCHEMA = "doc_id long, format string, width int, height int, pixel_sum long"


def decode_images_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of BMP/PPM payloads via mapInPandas —
    the production shape for 'decode 100 TB of images': binary rides the
    columnar path, Python sees bounded Arrow batches, output is a typed row
    per image."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "format": [], "width": [], "height": [], "pixel_sum": []}
            for did, payload in zip(pdf[ID_COL], pdf[BIN_COL]):
                meta = decode_image_meta(bytes(payload))
                rows["doc_id"].append(did)
                rows["format"].append(meta["format"])
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["pixel_sum"].append(meta["pixel_sum"])
            yield pd.DataFrame(rows)

    return df.select(ID_COL, BIN_COL).mapInPandas(decode, schema=DECODED_META_SCHEMA)


def multimodal_join(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """documents ⋈ embeddings on doc_id = vec_id — one row per document with
    text + vector + metadata (the Jina Document shape as a DataFrame)."""
    return docs.join(emb, docs.doc_id == emb.vec_id, "inner").drop("vec_id")


# --- audio: real RIFF/WAVE PCM16 codec (pure Python, like the image path) --
#
# The reference never decodes audio (bytes are opaque in the Jina Document,
# executor.py:6); this is the [NOT IN REFERENCE] audio leg of the multimodal
# mandate. The codec is REAL — a chunk-walking RIFF parser — only the
# payloads are synthesized (no audio fixtures in the container).


def encode_wav(
    sample_rate: int, n_channels: int, samples: list[int], junk_chunk: bool = False
) -> bytes:
    """Minimal RIFF/WAVE writer: PCM16-LE, interleaved `samples` (len must
    be a multiple of n_channels). With junk_chunk, a LIST chunk precedes
    fmt — real WAV files carry such chunks, and the parser must skip them."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * n_channels * 2,  # byte rate
        n_channels * 2,  # block align
        16,  # bits per sample
    )
    chunks = b""
    if junk_chunk:
        body = b"INFOISFT" + b"graft\x00"
        chunks += b"LIST" + struct.pack("<I", len(body)) + body
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(payload: bytes) -> dict:
    """Chunk-walking RIFF/WAVE parser: skips unknown chunks (LIST, fact, …),
    honors word alignment (odd-sized chunks are padded), and reads PCM16
    frames. Returns sample_rate / n_channels / bit_depth / n_frames /
    duration_us / sum_abs."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack("<I", payload[4:8])[0]
    sr = ch = bits = None
    frames = 0
    sum_abs = 0
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            _, ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            if ch is None:
                raise ValueError("data chunk before fmt")
            if len(body) < size:
                # declared size exceeds the buffer: body is a silently-short
                # slice; keep the malformed-payload contract (ValueError,
                # like every other corruption mode) instead of struct.error
                raise ValueError("truncated data chunk")
            n = size // 2
            vals = struct.unpack(f"<{n}h", body[: n * 2])
            frames += n // ch
            sum_abs += sum(abs(v) for v in vals)
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if sr is None:
        raise ValueError("missing fmt chunk")
    return {
        "sample_rate": sr,
        "n_channels": ch,
        "bit_depth": bits,
        "n_frames": frames,
        "duration_us": frames * 1_000_000 // sr,
        "sum_abs": sum_abs,
    }


def attach_synthetic_audio(docs: DataFrame) -> DataFrame:
    """Deterministic WAV payloads from the id alone: channels = id%2+1,
    sample_rate = 8000*(id%3+1), frames = id%40+5, interleaved sample i =
    ((id*131 + i*17) % 65536) - 32768; every 4th doc gets a LIST junk chunk
    (exercises the parser's chunk-skip). Closed form ⇒ the oracle states the
    decoded metadata without decoding."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[ID_COL]:
                did = int(did)
                ch, sr, frames = did % 2 + 1, 8000 * (did % 3 + 1), did % 40 + 5
                samples = [
                    ((did * 131 + i * 17) % 65536) - 32768 for i in range(frames * ch)
                ]
                payloads.append(encode_wav(sr, ch, samples, junk_chunk=did % 4 == 0))
                ids.append(did)
            yield pd.DataFrame({ID_COL: ids, "wav": payloads})

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(docs.select(ID_COL)).mapInPandas(
        gen, schema=f"{ID_COL} long, wav binary"
    )


AUDIO_META_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, bit_depth int,"
    " n_frames long, duration_us long, sum_abs long"
)


def decode_audio_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched WAV decode via mapInPandas — same 100 TB shape as the
    image kernel: binary stays columnar, Python sees bounded batches."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "sample_rate": [], "n_channels": [], "bit_depth": [],
                "n_frames": [], "duration_us": [], "sum_abs": [],
            }
            for did, payload in zip(pdf[ID_COL], pdf["wav"]):
                meta = decode_wav(bytes(payload))
                rows["doc_id"].append(did)
                for k in ("sample_rate", "n_channels", "bit_depth", "n_frames",
                          "duration_us", "sum_abs"):
                    rows[k].append(meta[k])
            yield pd.DataFrame(rows)

    return df.select(ID_COL, "wav").mapInPandas(decode, schema=AUDIO_META_SCHEMA)


# --- video: frame-index container + every-Nth frame sampling ---------------
#
# Real video decode needs ffmpeg (absent here); what Spark owns — the
# container walk, the sampling policy, the row explosion (one output row per
# SAMPLED frame from one input row) — is real. The container is a minimal
# length-prefixed frame index ("GFV1": magic, n_frames, fps, then one u32
# checksum per frame), the shape a demuxer's index table has.


def encode_video_index(fps: int, checksums: list[int]) -> bytes:
    import struct

    head = b"GFV1" + struct.pack("<II", len(checksums), fps)
    return head + b"".join(struct.pack("<I", c) for c in checksums)


def decode_video_index(payload: bytes) -> tuple[int, list[int]]:
    """-> (fps, per-frame checksums)."""
    import struct

    if payload[:4] != b"GFV1":
        raise ValueError("not a GFV1 index")
    n, fps = struct.unpack("<II", payload[4:12])
    return fps, list(struct.unpack(f"<{n}I", payload[12 : 12 + 4 * n]))


def attach_synthetic_video(docs: DataFrame) -> DataFrame:
    """Deterministic frame index from the id: n_frames = id%24+8,
    fps = 10*(id%3+1), checksum of frame f = (id*997 + f*31) % 2147483647."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf[ID_COL]:
                did = int(did)
                n, fps = did % 24 + 8, 10 * (did % 3 + 1)
                cks = [(did * 997 + f * 31) % 2147483647 for f in range(n)]
                payloads.append(encode_video_index(fps, cks))
                ids.append(did)
            yield pd.DataFrame({ID_COL: ids, "video": payloads})

    from executor_u1mindexer_spark.operators.dedup import _spread

    return _spread(docs.select(ID_COL)).mapInPandas(
        gen, schema=f"{ID_COL} long, video binary"
    )


FRAME_SAMPLE_SCHEMA = "doc_id long, frame_idx int, ts_ms long, checksum long"


def sample_video_frames(df: DataFrame, every: int = 5) -> DataFrame:
    """Every-Nth-frame sampling: one input row (video) -> ceil(n/every)
    output rows (sampled frames with timestamps). mapInPandas handles the
    1->many explosion without collecting; at 100 TB the output row count is
    n_frames/every — bounded fan-out, no shuffle."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "frame_idx": [], "ts_ms": [], "checksum": []}
            for did, payload in zip(pdf[ID_COL], pdf["video"]):
                fps, cks = decode_video_index(bytes(payload))
                for f in range(0, len(cks), every):
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(f)
                    rows["ts_ms"].append(f * 1000 // fps)
                    rows["checksum"].append(cks[f])
            yield pd.DataFrame(rows)

    return df.select(ID_COL, "video").mapInPandas(sample, schema=FRAME_SAMPLE_SCHEMA)
