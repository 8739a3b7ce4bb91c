"""Multimodal suite: text + vector + binary payloads in one schema
(operators/multimodal.py). The binary "decode" is the documented
deterministic fake — the Arrow/mapInPandas plumbing is the real artifact;
its oracle recomputes the same bytes from md5 hex in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from executor_u1mindexer_spark import tables
from executor_u1mindexer_spark.functions import vector as V
from executor_u1mindexer_spark.operators import multimodal as MM


def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")
    out = MM.multimodal_join(docs, emb)
    return out.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        V.norm(V.as_double_array("embedding")).alias("emb_norm"),
    )


def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed metadata through Arrow batches (mapInPandas)."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.extract_binary_metadata(MM.attach_fake_binary(docs))


def multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: synthesize deterministic
    PPM/BMP/PNG/JPEG bytes per doc (container cycles id%4; the PNG
    scanline filter cycles id%5 so all five unfilter paths run; the JPEG
    slot alternates id%8=3 → 4:4:4 grayscale and id%8=7 → 4:2:0
    chroma-subsampled constant color, both MCU-constant so the baseline
    huffman+DCT codec of operators/jpeg.py roundtrips them exactly), then
    parse headers, DEFLATE streams, entropy-coded segments, and pixel
    data with the pure-Python codecs. The oracle states the decoded
    metadata in closed form from the generation rule — if a decoder
    misreads a header, drops row padding, unfilters a scanline wrong,
    mis-orders the 4:2:0 MCU interleave, or mis-dequantizes a DC
    coefficient, width/height/pixel_sum diverge."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.decode_images_metadata(MM.attach_synthetic_images(docs))


def multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize deterministic RIFF/WAVE
    PCM16 payloads per doc (every 4th carries a LIST junk chunk the parser
    must skip), then chunk-walk the container and integrate the samples
    (operators/multimodal.py decode_wav). The oracle states the decoded
    metadata in closed form from the generation rule — a misread header,
    unskipped chunk, or sign error in the PCM unpack diverges sum_abs."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.decode_audio_metadata(MM.attach_synthetic_audio(docs))


def multimodal_sample_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-5th-frame sampling over a synthesized frame-index container:
    one row per SAMPLED frame (1->many mapInPandas explosion), timestamps
    from the fps in the container header."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.sample_video_frames(MM.attach_synthetic_video(docs), every=5)


def multimodal_decode_gif_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode with GIF89a disposal compositing (r06,
    closing the r05 'first frame only' gate, gif.py): 4 deterministic
    frames per doc exercising sub-rectangle placement, transparency,
    restore-to-previous AND restore-to-background, one row per DISPLAYED
    frame with the composited canvas's pixel_sum. The oracle states every
    frame's sum in closed form from the generation rule — a decoder that
    draws the patch in the wrong place, keeps transparent pixels, or
    botches either restore mode diverges on some frame."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.decode_gif_animation_metadata(MM.attach_synthetic_animations(docs))


def multimodal_decode_webp_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode end-to-end (r07, closing VERDICT
    r06 #5): synthesize deterministic RIFF/WEBP-wrapped VP8L bytes per
    doc — the encode lane cycles over color cache + LZ77, subtract-green,
    cross-channel color transform, the 14-mode spatial predictor, meta
    prefix codes, and color-indexing with bit-bundling (see
    operators/multimodal.py attach_synthetic_webp) — then decode the
    prefix-coded, transformed bitstream with the pure-Python VP8L
    decoder (operators/webp.py). Every lane is lossless with the SAME
    pixel formula as the other lossless containers, so the oracle states
    width/height/pixel_sum in closed form; any decode divergence in any
    lane breaks it."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.decode_images_metadata(MM.attach_synthetic_webp(docs))


def multimodal_thumbnail_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor 2x2 thumbnail in one Arrow pass (r07,
    operators/multimodal.py thumbnail_metadata) over the same 4-container
    synthetic image cycle as multimodal_decode_image. The resize is pure
    integer coordinate mapping (tx*w DIV tw), so the thumbnail pixel_sum
    has a closed form the oracle states per lane — a decoder or resize
    off-by-one in ANY container diverges."""
    docs = tables.load(spark, sf_dir, "documents")
    return MM.thumbnail_metadata(MM.attach_synthetic_images(docs))


def multimodal_lossy_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-container HEADER metadata (r09, VERDICT r08 #5): synthesize
    spec-conformant lossy payloads per doc — simple WebP whose ``VP8 ``
    chunk carries a real RFC 6386 keyframe header, extended WebP with
    VP8X canvas dims + ALPH alpha, and ISOBMFF AVIF with an ispe
    property + auxC alpha urn (operators/containers.py) — then re-parse
    (container, codec, width, height, has_alpha) from header structure
    alone. No entropy decoding anywhere: full lossy reconstruction stays
    behind the loud gate in webp.decode_webp with its documented
    rationale. The oracle states the parsed metadata in closed form from
    the generation rule — a wrong chunk offset, endianness slip, masked
    14-bit read, canvas-minus-one error, or missed auxC diverges."""
    docs = tables.load(spark, sf_dir, "documents")
    from executor_u1mindexer_spark.operators import containers as C

    return C.extract_lossy_header_metadata(C.attach_synthetic_lossy(docs))


def multimodal_container_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container chunk/property metadata (r10, VERDICT r09 #7): extends
    the lossy-header lane with the WebP metadata chunks (ICCP/EXIF, with
    VP8X feature-flag cross-check) and the AVIF HEIF item properties
    (irot rotation, imir mirror, pixi channel structure) — all pure
    public byte layout, no entropy decoding, gated reconstruction
    untouched. The oracle states every field in closed form from the
    generation rule (attach_synthetic_container_props docstring); the
    parser cross-checks the VP8X flag byte against the chunks actually
    present, so an encoder/parser disagreement raises instead of
    passing."""
    docs = tables.load(spark, sf_dir, "documents")
    from executor_u1mindexer_spark.operators import containers as C

    return C.extract_container_properties(
        C.attach_synthetic_container_props(docs)
    )


QUERIES = {
    "multimodal_join": multimodal_join,
    "multimodal_binary_metadata": multimodal_binary_metadata,
    "multimodal_decode_image": multimodal_decode_image,
    "multimodal_decode_audio": multimodal_decode_audio,
    "multimodal_sample_video_frames": multimodal_sample_video_frames,
    "multimodal_decode_gif_animation": multimodal_decode_gif_animation,
    "multimodal_decode_webp_lossless": multimodal_decode_webp_lossless,
    "multimodal_thumbnail_meta": multimodal_thumbnail_meta,
    "multimodal_lossy_header_meta": multimodal_lossy_header_meta,
    "multimodal_container_properties": multimodal_container_properties,
}


# animation rule (attach_synthetic_animations): w=id%5+4, h=id%3+4, grays
# c0..c3 = id*3/7/11/13 % 256 (c0 = background); frame sums:
#   f0: full c1                              -> 3*w*h*c1
#   f1: patch (w-2)x(h-2), even cols c2, odd cols transparent over c1
#       -> 3*(w*h*c1 - pw*ph*c1 + ph*(ceil(pw/2)*c2 + floor(pw/2)*c1))
#   f2: (previous restored) top row c3      -> 3*(w*h*c1 - w*c1 + w*c3)
#   f3: (row 0 restored to bg c0) bottom row c2
#       -> 3*(w*h*c1 + w*(c0 + c2 - 2*c1))
_W, _H = "(d.doc_id % 5 + 4)", "(d.doc_id % 3 + 4)"
_C0, _C1 = "((d.doc_id * 3) % 256)", "((d.doc_id * 7) % 256)"
_C2, _C3 = "((d.doc_id * 11) % 256)", "((d.doc_id * 13) % 256)"
_PW, _PH = f"({_W} - 2)", f"({_H} - 2)"

_GIF_ANIM_ORACLE = f"""
SELECT d.doc_id,
       CAST(t.f AS INT) AS frame_idx,
       CAST(4 AS INT) AS n_frames,
       CAST({_W} AS INT) AS width,
       CAST({_H} AS INT) AS height,
       CAST(CASE t.f WHEN 0 THEN d.doc_id % 10 + 1 WHEN 1 THEN 2
                     WHEN 2 THEN 3 ELSE 4 END AS INT) AS delay_cs,
       CAST(3 * (CASE t.f
         WHEN 0 THEN {_W} * {_H} * {_C1}
         WHEN 1 THEN {_W} * {_H} * {_C1} - {_PW} * {_PH} * {_C1}
                     + {_PH} * ((({_PW} + 1) // 2) * {_C2}
                                + ({_PW} // 2) * {_C1})
         WHEN 2 THEN {_W} * {_H} * {_C1} - {_W} * {_C1} + {_W} * {_C3}
         ELSE {_W} * {_H} * {_C1} + {_W} * ({_C0} + {_C2} - 2 * {_C1})
       END) AS BIGINT) AS pixel_sum
FROM documents d, unnest(range(4)) AS t(f)
"""

ORACLES = {
    "multimodal_join": """
SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
       sqrt(list_reduce(list_transform(
              list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE))),
              x -> x[1]*x[2]), (s,y) -> s+y)) AS emb_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    # payload = unhex(md5(text)): n_bytes is always 16; byte k is hex pair k
    "multimodal_binary_metadata": """
SELECT doc_id,
       16 AS n_bytes,
       CAST('0x' || substr(md5(text), 1, 2) AS INT) AS first_byte,
       CAST('0x' || substr(md5(text), 1, 2) AS INT) % 64 + 1 AS fake_width,
       CAST('0x' || substr(md5(text), 3, 2) AS INT) % 64 + 1 AS fake_height
FROM documents
""",
    # image generation rule: w = id%5+2, h = id%3+2; lossless containers
    # (id%4 in 0..2) carry RGB byte i = (id*7 + i) % 256; the JPEG slot
    # (id%4=3) alternates: id%8=3 is constant gray (id*7)%256 in 4:4:4,
    # id%8=7 is constant color ((id*7)%256, (id*11)%256, (id*13)%256) in
    # 4:2:0 — both exactly roundtripped (block/MCU-constant, all-ones
    # quant) — so the decoded metadata has this closed form (no decoding
    # in the oracle)
    "multimodal_decode_image": """
SELECT doc_id,
       CASE WHEN doc_id % 8 = 4 THEN 'gif'
            WHEN doc_id % 4 = 0 THEN 'ppm' WHEN doc_id % 4 = 1 THEN 'bmp'
            WHEN doc_id % 4 = 2 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(doc_id % 5 + 2 AS INT) AS width,
       CAST(doc_id % 3 + 2 AS INT) AS height,
       CAST(CASE WHEN doc_id % 8 = 3
            THEN (doc_id % 5 + 2) * (doc_id % 3 + 2) * ((doc_id * 7) % 256)
            WHEN doc_id % 8 = 7
            THEN (doc_id % 5 + 2) * (doc_id % 3 + 2)
                 * ((doc_id * 7) % 256 + (doc_id * 11) % 256 + (doc_id * 13) % 256)
            ELSE list_sum(list_transform(
                   range(0, (doc_id % 5 + 2) * (doc_id % 3 + 2) * 3),
                   i -> (doc_id * 7 + i) % 256))
       END AS BIGINT) AS pixel_sum
FROM documents
""",
    # audio generation rule: channels = id%2+1, rate = 8000*(id%3+1),
    # frames = id%40+5, interleaved sample i = ((id*131 + i*17) % 65536)
    # - 32768 — closed form, no decoding in the oracle
    "multimodal_decode_audio": """
SELECT doc_id,
       CAST(8000 * (doc_id % 3 + 1) AS INT) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INT) AS n_channels,
       CAST(16 AS INT) AS bit_depth,
       CAST(doc_id % 40 + 5 AS BIGINT) AS n_frames,
       CAST((doc_id % 40 + 5) * 1000000 // (8000 * (doc_id % 3 + 1)) AS BIGINT) AS duration_us,
       CAST(list_sum(list_transform(
              range(0, (doc_id % 40 + 5) * (doc_id % 2 + 1)),
              i -> abs(((doc_id * 131 + i * 17) % 65536) - 32768))) AS BIGINT) AS sum_abs
FROM documents
""",
    # video index rule: n_frames = id%24+8, fps = 10*(id%3+1), checksum of
    # frame f = (id*997 + f*31) % 2147483647; sampled f = 0,5,10,...
    "multimodal_sample_video_frames": """
SELECT d.doc_id,
       CAST(t.i * 5 AS INT) AS frame_idx,
       CAST(t.i * 5 * 1000 // (10 * (d.doc_id % 3 + 1)) AS BIGINT) AS ts_ms,
       CAST((d.doc_id * 997 + t.i * 5 * 31) % 2147483647 AS BIGINT) AS checksum
FROM documents d, unnest(range(0, (d.doc_id % 24 + 8 + 4) // 5)) AS t(i)
""",
    "multimodal_decode_gif_animation": _GIF_ANIM_ORACLE,
    # VP8L generation rule (attach_synthetic_webp): w = id%6+3, h = id%4+3,
    # RGB byte i = (id*7 + i) % 256, always lossless regardless of the
    # per-id encode lane — closed form, no decoding in the oracle
    "multimodal_decode_webp_lossless": """
SELECT doc_id,
       'webp' AS format,
       CAST(doc_id % 6 + 3 AS INT) AS width,
       CAST(doc_id % 4 + 3 AS INT) AS height,
       CAST(list_sum(list_transform(
              range(0, (doc_id % 6 + 3) * (doc_id % 4 + 3) * 3),
              i -> (doc_id * 7 + i) % 256)) AS BIGINT) AS pixel_sum
FROM documents
""",
    # thumbnail rule: tw = th = 2, nearest-neighbor sample at
    # (tx*w)//2, (ty*h)//2. Lossless lanes (3 channels): sum over the 12
    # thumbnail channel bytes of the generation formula; constant-JPEG
    # lanes: 4 thumbnail pixels of the constant (1-channel gray for
    # id%8=3, 3-channel color for id%8=7)
    # lossy-container rule (attach_synthetic_lossy): w = id%9+1,
    # h = id%5+1; lane id%3 -> simple webp / extended webp / avif;
    # alpha only in the extended lanes and only for odd ids — closed
    # form, the oracle never parses a byte
    "multimodal_lossy_header_meta": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 2 THEN 'avif' ELSE 'webp' END AS container,
       CASE WHEN doc_id % 3 = 2 THEN 'av01' ELSE 'vp8' END AS codec,
       CAST(doc_id % 9 + 1 AS INT) AS width,
       CAST(doc_id % 5 + 1 AS INT) AS height,
       (doc_id % 3 <> 0 AND doc_id % 2 = 1) AS has_alpha
FROM documents
""",
    # container-properties rule (attach_synthetic_container_props): lane
    # id%3 as the lossy rule; extended webp: ICCP of 16+id%8 bytes iff
    # id%4=1, and iff id%4=2 an EXIF chunk holding a REAL one-entry TIFF
    # (26+id%8 bytes; orientation 1+(id//4)%8; byte order II/MM by
    # (id//4)%2); avif: irot angle id%4, imir axis id%2 iff id%5=0,
    # always 3-channel pixi with uniform depth 8+2*((id//3)%3)
    "multimodal_container_properties": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 2 THEN 'avif' ELSE 'webp' END AS container,
       (doc_id % 3 <> 0 AND doc_id % 2 = 1) AS has_alpha,
       (doc_id % 3 = 1 AND doc_id % 4 = 1) AS has_icc,
       (doc_id % 3 = 1 AND doc_id % 4 = 2) AS has_exif,
       CASE WHEN doc_id % 3 = 1 AND doc_id % 4 = 1
            THEN CAST(16 + doc_id % 8 AS INT) END AS icc_bytes,
       CASE WHEN doc_id % 3 = 1 AND doc_id % 4 = 2
            THEN CAST(26 + doc_id % 8 AS INT) END AS exif_bytes,
       CASE WHEN doc_id % 3 = 1 AND doc_id % 4 = 2
            THEN CASE WHEN (doc_id // 4) % 2 = 1 THEN 'MM' ELSE 'II' END
       END AS exif_byte_order,
       CASE WHEN doc_id % 3 = 1 AND doc_id % 4 = 2
            THEN CAST(1 + (doc_id // 4) % 8 AS INT) END AS exif_orientation,
       CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 4 AS INT) END AS rotation_ccw,
       CASE WHEN doc_id % 3 = 2 AND doc_id % 5 = 0
            THEN CAST(doc_id % 2 AS INT) END AS mirror_axis,
       CASE WHEN doc_id % 3 = 2 THEN CAST(3 AS INT) END AS n_channels,
       CASE WHEN doc_id % 3 = 2
            THEN CAST(8 + 2 * ((doc_id // 3) % 3) AS INT) END AS bit_depth
FROM documents
""",
    "multimodal_thumbnail_meta": """
SELECT doc_id,
       CASE WHEN doc_id % 8 = 4 THEN 'gif'
            WHEN doc_id % 4 = 0 THEN 'ppm' WHEN doc_id % 4 = 1 THEN 'bmp'
            WHEN doc_id % 4 = 2 THEN 'png' ELSE 'jpeg' END AS format,
       CAST(doc_id % 5 + 2 AS INT) AS src_w,
       CAST(doc_id % 3 + 2 AS INT) AS src_h,
       CAST(2 AS INT) AS thumb_w,
       CAST(2 AS INT) AS thumb_h,
       CAST(CASE WHEN doc_id % 8 = 3
            THEN 4 * ((doc_id * 7) % 256)
            WHEN doc_id % 8 = 7
            THEN 4 * ((doc_id * 7) % 256 + (doc_id * 11) % 256
                      + (doc_id * 13) % 256)
            ELSE list_sum(list_transform(range(0, 12), k ->
                 (doc_id * 7
                  + ((((k // 6) * (doc_id % 3 + 2)) // 2)
                       * (doc_id % 5 + 2)
                     + (((k % 6) // 3) * (doc_id % 5 + 2)) // 2) * 3
                  + k % 3) % 256))
       END AS BIGINT) AS thumb_pixel_sum
FROM documents
""",
}
