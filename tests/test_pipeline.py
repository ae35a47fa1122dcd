"""End-to-end pipeline tests through Spark: cascade parity between the
pure kernels and the DataFrame path, payload integrity (PSNR + caption
byte-equality), and determinism across parallelism.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from osml10n_spark.engine.localize import localize
from osml10n_spark.imaging import decode_image, phash64, psnr
from osml10n_spark.kernels import get_placename_from_tags
from osml10n_spark.sources.datagen import generate_images

N = 400
SEED = 42


@pytest.fixture(scope="module")
def images(spark):
    df = generate_images(spark, N, seed=SEED).cache()
    df.count()
    yield df
    df.unpersist()


def test_localize_matches_pure_kernels(spark, images):
    out = localize(images, "de").select("image_id", "caption", "tags",
                                        "lon", "lat", "caption_l10n")
    rows = out.collect()
    assert len(rows) == N
    mismatches = []
    for r in rows:
        exp = get_placename_from_tags(r.image_id, dict(r.tags), False, "\n",
                                      "de", [r.lon, r.lat, r.lon, r.lat])
        if exp != r.caption_l10n:
            mismatches.append((r.caption, r.caption_l10n, exp))
    assert not mismatches, mismatches[:5]


def test_payload_integrity(spark, images):
    out = localize(images, "en").select("image_id", "bytes", "w", "h", "fmt",
                                        "caption", "phash").collect()
    src = {r.image_id: r for r in images.collect()}
    for r in out:
        s = src[r.image_id]
        assert r.caption == s.caption                    # byte equality
        assert bytes(r.bytes) == bytes(s.bytes)
        pix = decode_image(bytes(r.bytes), r.fmt)
        assert pix.shape == (r.h, r.w, 3)
        assert phash64(pix) == r.phash or r.fmt == "jpegq"


def test_jpegq_psnr_above_40db():
    rng = np.random.default_rng(1)
    from osml10n_spark.imaging import encode_image
    for _ in range(20):
        pix = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        dec = decode_image(encode_image(pix, "jpegq"), "jpegq")
        assert psnr(pix, dec) >= 40.0
    for fmt in ("bmp", "raw"):
        pix = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
        assert (decode_image(encode_image(pix, fmt), fmt) == pix).all()


def test_determinism_across_parallelism(spark):
    a = generate_images(spark, 200, seed=7, with_images=False, partitions=2)
    b = generate_images(spark, 200, seed=7, with_images=False, partitions=13)
    ra = localize(a, "de", add_cells=True).select(
        "image_id", "caption_l10n", "cell_id", "tile_id").collect()
    rb = localize(b, "de", add_cells=True).select(
        "image_id", "caption_l10n", "cell_id", "tile_id").collect()
    assert sorted(map(tuple, ra)) == sorted(map(tuple, rb))


def test_cells_and_tiles_populated(spark, images):
    out = localize(images, "en")
    row = out.agg(F.countDistinct("cell_id").alias("cells"),
                  F.countDistinct("tile_id").alias("tiles"),
                  F.sum(F.when(F.col("caption_l10n") == "", 1).otherwise(0))
                  .alias("empties")).collect()[0]
    assert row.cells > 10
    assert row.tiles > 10
    assert row.empties == 0


@pytest.mark.parametrize("target,street", [("en", False), ("fr", False),
                                           ("es", True), ("pt", True)])
def test_localize_language_matrix(spark, images, target, street):
    """Spark-vs-kernel parity across target languages and both entry
    points (place/street) — the de/placename case is covered above.
    One extra row with NULL tags localizes to ''."""
    from osml10n_spark.kernels import (get_placename_from_tags,
                                       get_streetname_from_tags)
    null_tags = images.limit(1).withColumn("image_id", F.lit("null-tags")) \
        .withColumn("tags", F.lit(None).cast("map<string,string>"))
    out = localize(images.unionByName(null_tags), target, is_street=street) \
        .select("image_id", "tags", "lon", "lat", "caption_l10n")
    fn = get_streetname_from_tags if street else get_placename_from_tags
    sep = " - " if street else "\n"
    bad = []
    rows = out.collect()
    assert [r.caption_l10n for r in rows if r.tags is None] == [""]
    for r in rows:
        if r.tags is None:
            continue
        exp = fn(r.image_id, dict(r.tags), False, sep, target,
                 [r.lon, r.lat, r.lon, r.lat])
        if exp != r.caption_l10n:
            bad.append((r.image_id, r.caption_l10n, exp))
    assert not bad, bad[:5]


def test_png_codec_roundtrip_and_filter_inversion():
    """Real PNG codec: filter-0 encode roundtrips byte-exact; the
    decoder inverts ALL five scanline filters (a conformant stream
    built by forward-filtering each type); CRC corruption raises."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from osml10n_spark.imaging import (_paeth, _PNG_SIG, _png_chunk,
                                       decode_image, encode_image)
    rng = np.random.default_rng(3)
    pix = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    enc = encode_image(pix, "png")
    assert np.array_equal(decode_image(enc, "png"), pix)

    def forward_filter(img, ftypes):
        h, w, _ = img.shape
        stride, bpp = w * 3, 3
        flat = img.reshape(h, stride).astype(int)
        out = b""
        for y in range(h):
            f = ftypes[y % len(ftypes)]
            prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
            cur = flat[y]
            line = np.zeros(stride, dtype=int)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                pred = (0 if f == 0 else left if f == 1
                        else prev[x] if f == 2
                        else (left + prev[x]) >> 1 if f == 3
                        else _paeth(left, prev[x], ul))
                line[x] = (cur[x] - pred) & 0xFF
            out += bytes([f]) + bytes(line.astype(np.uint8))
        return out

    h, w = 11, 9
    pix2 = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    raw = forward_filter(pix2, [0, 1, 2, 3, 4])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    stream = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
              + _png_chunk(b"IDAT", zlib.compress(raw))
              + _png_chunk(b"IEND", b""))
    assert np.array_equal(decode_image(stream, "png"), pix2)

    bad = bytearray(enc)
    bad[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_image(bytes(bad), "png")

    # truncation anywhere inside a chunk raises ValueError, never
    # struct.error (callers treat ValueError as "corrupt payload")
    for cut in (len(enc) - 3, len(enc) - 10, 20, 12):
        with pytest.raises(ValueError):
            decode_image(enc[:cut], "png")


def test_jpeg_codec_psnr_above_40db():
    """Real baseline-JFIF codec (jpegcodec.py): every datagen visual
    AND a uniform-noise worst case round-trip at PSNR ≥ 40dB at the
    default quality; non-multiple-of-8 dims handled; flat images come
    back exact; the bitstream is a real marker stream (SOI/DQT/SOF0/
    DHT/SOS markers present, byte-stuffed entropy data)."""
    import numpy as np

    from osml10n_spark.imaging import encode_image
    from osml10n_spark.sources.datagen import visual_for_id

    for i in range(12):
        _w, _h, _f, pix = visual_for_id(31, i, 0.0)
        enc = encode_image(pix, "jpeg")
        dec = decode_image(enc, "jpeg")
        assert dec.shape == pix.shape
        assert psnr(pix, dec) >= 40.0
    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, size=(61, 53, 3), dtype=np.uint8)  # non-×8
    enc = encode_image(noise, "jpeg")
    assert psnr(noise, decode_image(enc, "jpg")) >= 40.0
    for marker in (b"\xff\xd8", b"\xff\xdb", b"\xff\xc0", b"\xff\xc4",
                   b"\xff\xda", b"\xff\xd9"):
        assert marker in enc
    flat = np.full((24, 16, 3), 130, np.uint8)
    assert (decode_image(encode_image(flat, "jpeg"), "jpeg") == flat).all()


def test_jpeg_decoder_rejects_unsupported_and_corrupt():
    """Subset policy mirrors the PNG decoder: explicit ValueError on
    progressive/subsampled/truncated streams, never struct.error."""
    import numpy as np

    from osml10n_spark.imaging import encode_image

    pix = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    enc = bytearray(encode_image(pix, "jpeg"))
    with pytest.raises(ValueError, match="SOI"):
        decode_image(b"\x00\x01" + bytes(enc[2:]), "jpeg")
    prog = bytearray(enc)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2                      # pretend progressive
    with pytest.raises(ValueError, match="baseline"):
        decode_image(bytes(prog), "jpeg")
    sub = bytearray(enc)
    # component 1 sampling byte inside SOF0: len(2)+prec(1)+dims(4)+nc(1)
    sub[sof + 2 + 8 + 1] = 0x22               # pretend 4:2:0
    with pytest.raises(ValueError, match="sampling"):
        decode_image(bytes(sub), "jpeg")
    for cut in (len(enc) // 2, 6, 30):
        with pytest.raises(ValueError):
            decode_image(bytes(enc[:cut]), "jpeg")


def test_generate_images_jpeg_every_keeps_draws_stable(spark):
    """jpeg_every re-containers every k-th row as real lossy JPEG: the
    stored phash stays keyed to the SOURCE pixels (column unchanged vs
    the default corpus), decoded pixels reconstruct at ≥40dB, and
    every other row is byte-identical to the default corpus."""
    import numpy as np

    from osml10n_spark.sources.datagen import generate_images, visual_for_id

    base = {r.image_id: (r.fmt, r.phash, bytes(r.bytes))
            for r in generate_images(spark, 30, seed=11).collect()}
    rows = generate_images(spark, 30, seed=11, jpeg_every=5).collect()
    n_jpeg = 0
    for r in rows:
        assert r.phash == base[r.image_id][1]
        rid = int(r.image_id.split("_")[1])
        if rid % 5 == 0:
            assert r.fmt == "jpeg"
            n_jpeg += 1
            dec = decode_image(bytes(r.bytes), "jpeg")
            _w, _h, _f, src = visual_for_id(11, rid, 0.0)
            assert psnr(src, dec) >= 40.0
        else:
            assert (r.fmt, bytes(r.bytes)) == \
                (base[r.image_id][0], base[r.image_id][2])
    assert n_jpeg == 6


def test_generate_images_png_every_preserves_pixels(spark):
    """png_every re-containers every k-th row as real PNG without
    touching pixels: phash column unchanged vs the default corpus, and
    the png payload decodes back to the identical pixel array."""
    import numpy as np

    from osml10n_spark.imaging import decode_image, phash64
    from osml10n_spark.sources.datagen import generate_images
    base = {r.image_id: (r.fmt, r.phash)
            for r in generate_images(spark, 40, seed=7).collect()}
    rows = generate_images(spark, 40, seed=7, png_every=4).collect()
    n_png = 0
    for r in rows:
        assert r.phash == base[r.image_id][1]     # pixels untouched
        if int(r.image_id.split("_")[1]) % 4 == 0:
            assert r.fmt == "png"
            n_png += 1
            pix = decode_image(bytes(r.bytes), "png")
            assert phash64(pix) == r.phash
            assert (pix.shape[1], pix.shape[0]) == (r.w, r.h)
        else:
            assert r.fmt == base[r.image_id][0]   # container untouched
    assert n_png == 10
