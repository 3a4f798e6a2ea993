"""Round-9 (verdict item 5): the media codecs COMPOSED end-to-end on
payloads derived from the repo's own markdown — not the synthetic
md5-seeded pixel formulas the d52-d57 probes use. Raster bytes / PCM
samples come from real prose utf-8, so the encoders see arbitrary
high-entropy content; the chains run decode → features → resize →
block-mean in single plans with every payload staying executor-side
(mapInPandas stages), exactly the 100 TB posture.

Operators exercised: encode_png / decode_png_media (lossless round-trip
on arbitrary bytes), resize_images(fake=False) (real nearest-neighbor),
downsample_block_mean, encode_jpeg / decode_jpeg_media (lossy, dims from
SOF0), audio_features on real-prose PCM."""

import hashlib
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from mindsdb_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    decode_jpeg_media,
    decode_png_media,
    downsample_block_mean,
    encode_png,
    resize_images,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
W, H = 32, 24  # raster dims; multiples of the block size below
N_SAMPLES = 1000  # PCM samples per doc (4 audio_features windows @ 250)

_RAW_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("content", BinaryType())]
)


def _text_raster(text: str, n: int) -> bytes:
    """Deterministic n bytes from real prose: utf-8 bytes tiled to length
    (md5-extended when the paragraph is shorter than the raster)."""
    b = text.encode("utf-8")
    while len(b) < n:
        b += hashlib.md5(b).digest()
    return b[:n]


@pytest.fixture(scope="module")
def realmedia_docs(spark):
    rows = []
    for fname in ("README.md", "SURVEY.md", "SCALE.md"):
        path = os.path.join(_REPO, fname)
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as f:
            raw = f.read()
        rows.extend(
            " ".join(p.split()) for p in raw.split("\n\n") if len(p.split()) > 5
        )
    assert len(rows) > 30, "expected a real corpus of markdown paragraphs"
    rows = rows[:40]
    return spark.createDataFrame(
        list(enumerate(rows)), "doc_id long, text string"
    ).localCheckpoint(eager=True)


def _media_from_text(spark, df, encode, mime, width, height, nbytes):
    """text → payload rows. Raster derivation is FIXTURE construction
    (driver-side, 40 tiny docs); the CODEC runs on the executors via
    mapInPandas — where a 100 TB corpus would run it. `encode` must only
    reference worker-importable modules (mindsdb_spark / stdlib):
    a test-module-level helper would hit ModuleNotFoundError on workers."""
    rows = [
        (r["doc_id"], _text_raster(r["text"], nbytes))
        for r in df.select("doc_id", "text").collect()
    ]
    raw = spark.createDataFrame(rows, _RAW_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": [encode(bytes(c)) for c in pdf["content"]],
                }
            )

    out = raw.mapInPandas(run, schema=_RAW_SCHEMA)
    return out.select(
        "media_id",
        "content",
        F.lit(mime).alias("mime"),
        F.lit(width).cast("long").alias("meta_width"),
        F.lit(height).cast("long").alias("meta_height"),
    )


def test_png_roundtrip_resize_blockmean_on_real_text(spark, realmedia_docs):
    """ONE plan: real-prose raster → PNG encode → decode → 8x8 block-mean;
    a second plan inserts a REAL resize between encode and decode. PNG is
    lossless, so the decoded raster must be byte-identical and the block
    means must equal exact local numpy pooling."""
    n = realmedia_docs.count()
    png = _media_from_text(
        spark, realmedia_docs,
        lambda r: encode_png(r, W, H, 1),
        "image/png", W, H, W * H,
    )
    decoded = decode_png_media(png)
    bm = downsample_block_mean(decoded, block=8)

    rows = bm.collect()
    assert len(rows) == n * (H // 8) * (W // 8)
    assert all(0.0 <= r["mean"] <= 255.0 for r in rows)

    # exact parity with local pooling for one real paragraph
    doc = realmedia_docs.filter("doc_id = 3").collect()[0]
    img = np.frombuffer(_text_raster(doc["text"], W * H), dtype=np.uint8)
    tiles = img.reshape(H // 8, 8, W // 8, 8).astype(np.int64).sum(axis=(1, 3))
    got = {
        (r["by"], r["bx"]): r["mean"] for r in rows if r["media_id"] == 3
    }
    for by in range(H // 8):
        for bx in range(W // 8):
            assert got[(by, bx)] == tiles[by, bx] / 64.0

    # lossless round-trip: decoded raster == source bytes (IHDR-true dims)
    dec = decoded.filter("media_id = 3").collect()[0]
    assert (dec["meta_width"], dec["meta_height"]) == (W, H)
    assert dec["mime"] == "image/x-gray8"
    assert bytes(dec["content"]) == img.tobytes()

    # real resize chained in-plan: PNG → resize → decode → dims + content
    rs = decode_png_media(resize_images(png, 16, 12, fake=False))
    r3 = rs.filter("media_id = 3").collect()[0]
    assert (r3["meta_width"], r3["meta_height"]) == (16, 12)
    ys = np.minimum((np.arange(12) * H) // 12, H - 1)
    xs = np.minimum((np.arange(16) * W) // 16, W - 1)
    expect = img.reshape(H, W)[ys][:, xs]
    assert bytes(r3["content"]) == expect.tobytes()
    assert rs.count() == n


def test_jpeg_decode_blockmean_on_real_text(spark, realmedia_docs):
    """Real-prose rasters through the from-scratch baseline JPEG codec at
    quality 90: lossy, so the invariant is dims-from-SOF0, full row
    survival, and block means within a quantization tolerance of the
    source pooling (q90 keeps high-frequency text noise bounded)."""
    from mindsdb_spark.operators.jpeg import encode_jpeg

    n = realmedia_docs.count()
    jpg = _media_from_text(
        spark, realmedia_docs,
        lambda r: encode_jpeg(r, W, H, 1, quality=90),
        "image/jpeg", W, H, W * H,
    )
    decoded = decode_jpeg_media(jpg)
    bm = downsample_block_mean(decoded, block=8).collect()
    assert len(bm) == n * (H // 8) * (W // 8)

    doc = realmedia_docs.filter("doc_id = 7").collect()[0]
    img = np.frombuffer(_text_raster(doc["text"], W * H), dtype=np.uint8)
    tiles = (
        img.reshape(H // 8, 8, W // 8, 8).astype(np.int64).sum(axis=(1, 3)) / 64.0
    )
    got = {(r["by"], r["bx"]): r["mean"] for r in bm if r["media_id"] == 7}
    for by in range(H // 8):
        for bx in range(W // 8):
            # DC of each 8x8 block quantizes at q_dc<=6 for quality 90:
            # the block MEAN survives within a few gray levels even though
            # individual pixels don't
            assert abs(got[(by, bx)] - tiles[by, bx]) < 8.0, (by, bx)

    d7 = decode_jpeg_media(jpg).filter("media_id = 7").collect()[0]
    assert (d7["meta_width"], d7["meta_height"]) == (W, H)


def test_audio_features_on_real_text(spark, realmedia_docs):
    """Real-prose PCM (centered int16 from utf-8 bytes) → audio_features.
    RMS checked exactly against local numpy (the int64-sum formula is
    deterministic)."""
    n = realmedia_docs.count()

    def _pcm(text: str) -> bytes:
        b = np.frombuffer(_text_raster(text, N_SAMPLES), dtype=np.uint8)
        return ((b.astype(np.int16) - 128) * 256).astype("<i2").tobytes()

    rows = [
        (r["doc_id"], _pcm(r["text"]))
        for r in realmedia_docs.select("doc_id", "text").collect()
    ]
    pcm = spark.createDataFrame(rows, _RAW_SCHEMA)
    feats = audio_features(pcm, window=250).collect()
    assert len(feats) == n * (N_SAMPLES // 250)
    assert all(r["rms"] >= 0.0 and 0.0 <= r["zcr"] <= 1.0 for r in feats)

    doc = realmedia_docs.filter("doc_id = 5").collect()[0]
    samples = np.frombuffer(_pcm(doc["text"]), dtype="<i2")
    for r in feats:
        if r["media_id"] != 5:
            continue
        seg = samples[r["win"] * 250 : (r["win"] + 1) * 250].astype(np.int64)
        assert r["rms"] == (int((seg * seg).sum()) / 250) ** 0.5


def test_corrupt_payloads_drop_rows_never_kill_the_stage(spark, realmedia_docs):
    """The 100 TB contract: damaged payloads are a certainty at corpus
    scale — truncated/garbage PNG and JPEG rows must DROP (decode skips
    them) while every valid row still flows through decode → block-mean.
    One plan, mixed valid + corrupt rows."""
    n = realmedia_docs.count()
    png = _media_from_text(
        spark, realmedia_docs,
        lambda r: encode_png(r, W, H, 1),
        "image/png", W, H, W * H,
    )
    corrupt = spark.createDataFrame(
        [
            (90001, b"\x89PNG\r\n\x1a\x08garbage"),     # bad magic tail
            (90002, b""),                               # empty payload
            (90003, b"\xff\xd8\xff\xe0truncated"),      # JPEG SOI then junk
        ],
        _RAW_SCHEMA,
    ).select(
        "media_id", "content", F.lit("image/png").alias("mime"),
        F.lit(W).cast("long").alias("meta_width"),
        F.lit(H).cast("long").alias("meta_height"),
    )
    mixed = png.unionByName(corrupt)
    decoded = decode_png_media(mixed)
    ids = {r["media_id"] for r in decoded.select("media_id").collect()}
    assert len(ids) == n
    assert not ids & {90001, 90002, 90003}
    bm = downsample_block_mean(decoded, block=8)
    assert bm.count() == n * (H // 8) * (W // 8)

    # a VALID png whose metadata lies about dimensions: decode trusts the
    # actual IHDR, so downstream block-mean still gets the true raster
    liar = png.limit(1).withColumn("meta_width", F.lit(9999).cast("long"))
    truth = decode_png_media(liar).collect()[0]
    assert (truth["meta_width"], truth["meta_height"]) == (W, H)
