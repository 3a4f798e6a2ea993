"""Round-8 stdlib baseline JPEG codec (operators/jpeg.py) — the PNG
codec's round-7 test pattern: round-trips, exactness constructions,
edge sizes, subsampling, and clean rejection of unsupported streams."""

import numpy as np
import pytest

from mindsdb_spark.operators.jpeg import decode_jpeg, encode_jpeg


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255**2 / mse) if mse else float("inf")


def test_constant_gray_is_exact():
    img = np.full((24, 40), 128, dtype=np.uint8)
    w, h, ch, out = decode_jpeg(encode_jpeg(img.tobytes(), 40, 24, 1, quality=90))
    assert (w, h, ch) == (40, 24, 1)
    o = np.frombuffer(out, np.uint8).reshape(24, 40)
    assert int(np.abs(o.astype(int) - 128).max()) == 0


def test_even_tiles_quality50_bit_exact():
    """The d57 construction: constant 8x8 tiles with EVEN values at
    quality=50 (q_dc=16) survive DCT→quant→Huffman→IDCT losslessly."""
    rng = np.random.default_rng(7)
    tiles = (2 * rng.integers(0, 128, (4, 6))).astype(np.uint8)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    w, h, ch, out = decode_jpeg(encode_jpeg(img.tobytes(), 48, 32, 1, quality=50))
    o = np.frombuffer(out, np.uint8).reshape(32, 48)
    assert np.array_equal(o, img)


def test_gray_gradient_high_quality_roundtrip():
    yy, xx = np.mgrid[0:37, 0:53]  # non-multiple-of-8 dims
    img = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    w, h, ch, out = decode_jpeg(encode_jpeg(img.tobytes(), 53, 37, 1, quality=95))
    assert (w, h) == (53, 37)
    o = np.frombuffer(out, np.uint8).reshape(37, 53)
    assert _psnr(img, o) > 40


def test_rgb_444_and_420_roundtrip():
    yy, xx = np.mgrid[0:33, 0:47]
    img = np.stack(
        [(yy * 2 + 30) % 200 + 20, (xx * 2 + 50) % 200 + 20, (yy + xx) % 200 + 20],
        -1,
    ).astype(np.uint8)
    for subsample, floor in ((False, 45), (True, 40)):
        jb = encode_jpeg(img.tobytes(), 47, 33, 3, quality=92, subsample=subsample)
        w, h, ch, out = decode_jpeg(jb)
        assert (w, h, ch) == (47, 33, 3)
        o = np.frombuffer(out, np.uint8).reshape(33, 47, 3)
        assert _psnr(img, o) > floor, (subsample, _psnr(img, o))


def test_quality_monotone_size():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, (32, 32), dtype=np.uint8)
    sizes = [len(encode_jpeg(img.tobytes(), 32, 32, 1, quality=q))
             for q in (10, 50, 95)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_bad_inputs_rejected():
    with pytest.raises(ValueError, match="raster size"):
        encode_jpeg(b"\x00" * 10, 8, 8, 1)
    with pytest.raises(ValueError, match="channels"):
        encode_jpeg(b"\x00" * 128, 8, 8, 2)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_progressive_sof2_rejected_cleanly():
    img = np.full((8, 8), 99, dtype=np.uint8)
    jb = bytearray(encode_jpeg(img.tobytes(), 8, 8, 1))
    i = jb.find(b"\xFF\xC0")
    jb[i + 1] = 0xC2  # masquerade as progressive
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(jb))


def test_decode_media_real_jpeg_path():
    from mindsdb_spark.operators.multimodal import decode_media

    img = np.full((16, 16), 100, dtype=np.uint8)
    feats = decode_media(encode_jpeg(img.tobytes(), 16, 16, 1, quality=90),
                         "image/jpeg")
    assert feats[:3] == [16.0, 16.0, 1.0]
    assert abs(feats[3] - 100.0) < 1.5


def test_resize_images_real_png_and_jpeg(spark):
    """resize_images(fake=False) really resamples PNG and JPEG payloads on
    the executors and re-encodes in the same container (round-8: the
    stdlib codecs retire the resize stub)."""
    from mindsdb_spark.operators.jpeg import decode_jpeg
    from mindsdb_spark.operators.multimodal import (
        decode_png, encode_png, resize_images,
    )

    yy, xx = np.mgrid[0:32, 0:48]
    img = ((yy * 4 + xx * 3) % 256).astype(np.uint8)
    png = encode_png(img.tobytes(), 48, 32, 1)
    jpg = encode_jpeg(img.tobytes(), 48, 32, 1, quality=95)
    media = spark.createDataFrame(
        [(1, bytearray(png), "image/png", 48, 32),
         (2, bytearray(jpg), "image/jpeg", 48, 32)],
        "media_id long, content binary, mime string, meta_width long, meta_height long",
    )
    out = {r["media_id"]: r for r in resize_images(media, 24, 16, fake=False).collect()}
    # expected nearest-neighbor downsample of the ORIGINAL raster
    ys = np.minimum((np.arange(16) * 32) // 16, 31)
    xs = np.minimum((np.arange(24) * 48) // 24, 47)
    exp = img[ys][:, xs]

    w, h, ch, raster = decode_png(bytes(out[1]["content"]))
    assert (w, h, ch) == (24, 16, 1)
    assert np.array_equal(np.frombuffer(raster, np.uint8).reshape(16, 24), exp)

    w, h, ch, raster = decode_jpeg(bytes(out[2]["content"]))
    assert (w, h, ch) == (24, 16, 1)
    got = np.frombuffer(raster, np.uint8).reshape(16, 24)
    assert _psnr(exp, got) > 30  # JPEG is lossy; structure must survive

    # non-image payloads still gate honestly
    bad = spark.createDataFrame(
        [(3, bytearray(b"ID3 not an image"), "audio/mpeg", None, None)],
        "media_id long, content binary, mime string, meta_width long, meta_height long",
    )
    with pytest.raises(Exception):
        resize_images(bad, 8, 8, fake=False).collect()
    assert resize_images(bad, 8, 8, fake=True).count() == 1


def test_decode_media_stages_skip_corrupt_payloads(spark):
    """Corrupt payloads drop their ROW, never the stage — the contract a
    100 TB corpus requires (same as downsample_block_mean's skip)."""
    from mindsdb_spark.operators.multimodal import (
        decode_jpeg_media, decode_png_media, encode_png,
    )

    img = np.full((8, 8), 77, dtype=np.uint8)
    good_jpg = encode_jpeg(img.tobytes(), 8, 8, 1)
    good_png = encode_png(img.tobytes(), 8, 8, 1)
    schema = ("media_id long, content binary, mime string, "
              "meta_width long, meta_height long")
    jm = spark.createDataFrame(
        [(1, bytearray(good_jpg), "image/jpeg", 8, 8),
         (2, bytearray(good_jpg[:20]), "image/jpeg", 8, 8),   # truncated
         (3, bytearray(b"\xff\xd8garbage"), "image/jpeg", 8, 8)],
        schema,
    )
    got = decode_jpeg_media(jm).collect()
    assert [r["media_id"] for r in got] == [1]
    pm = spark.createDataFrame(
        [(1, bytearray(good_png), "image/png", 8, 8),
         (2, bytearray(b"not a png"), "image/png", 8, 8)],
        schema,
    )
    got = decode_png_media(pm).collect()
    assert [r["media_id"] for r in got] == [1]


def test_wav_roundtrip_and_features():
    """Round-8 WAV codec: PCM in a RIFF container written by the stdlib
    ``wave`` module decodes bit-exactly, decode_media reads the real WAV
    header, and compressed formats gate cleanly."""
    import io
    import struct
    import wave

    from mindsdb_spark.operators.multimodal import decode_media, decode_wav

    def wav_bytes(pcm, rate, channels, bits):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(bits // 8)
            w.setframerate(rate)
            w.writeframes(pcm)
        return buf.getvalue()

    pcm = np.arange(-500, 500, dtype="<i2").tobytes()
    rate, ch, bits, out = decode_wav(wav_bytes(pcm, 8000, 1, 16))
    assert (rate, ch, bits) == (8000, 1, 16) and out == pcm
    # stereo 8-bit round-trip
    pcm8 = bytes(range(256)) * 2
    rate, ch, bits, out = decode_wav(wav_bytes(pcm8, 44100, 2, 8))
    assert (rate, ch, bits) == (44100, 2, 8) and out == pcm8
    # decode_media real WAV path
    feats = decode_media(wav_bytes(pcm, 8000, 1, 16), "audio/wav")
    assert feats == [8000.0, 1.0, 1000.0, 16.0]
    # compressed format tag gates honestly
    wav = bytearray(wav_bytes(pcm, 8000, 1, 16))
    i = wav.find(b"fmt ") + 8
    wav[i:i + 2] = struct.pack("<H", 85)  # MP3-in-WAV
    with pytest.raises(NotImplementedError, match="compressed"):
        decode_wav(bytes(wav))
