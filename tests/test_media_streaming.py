"""Media pHash (mapInPandas over binary media) + the foreachBatch ingest stream."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.media import (
    MEDIA_SCHEMA,
    compute_media_phashes,
)


def _media_df(spark, n=20):
    rows = [
        (
            f"m{i:04d}",
            bytes([i % 251]) * (100 + i),
            {"mime": "image/png" if i % 2 else "image/jpeg", "width": 64,
             "height": 64, "n_bytes": 100 + i},
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_phash_mapinpandas(spark):
    media = _media_df(spark)
    out = compute_media_phashes(media.repartition(4, "media_ref"))
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["decode_ok"] for r in rows)
    assert all(isinstance(r["phash"], int) for r in rows)
    # deterministic across runs and partitionings
    again = {r["media_ref"]: r["phash"] for r in compute_media_phashes(media).collect()}
    assert {r["media_ref"]: r["phash"] for r in rows} == again


def test_media_null_content_flagged_not_crashed(spark):
    rows = [("mref", None, {"mime": "image/png", "width": 1, "height": 1, "n_bytes": 0})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = compute_media_phashes(media).collect()
    assert out[0]["decode_ok"] is False and out[0]["phash"] is None


def test_media_corrupt_bytes_flagged_not_crashed(spark):
    """Non-None corrupt payloads (empty bytes) must ALSO skip-don't-crash:
    the decode stub raises ValueError (size-0 reshape) for b'', which used
    to kill the whole task because only NotImplementedError was caught."""
    rows = [
        ("bad", b"", {"mime": "image/png", "width": 1, "height": 1, "n_bytes": 0}),
        ("ok", bytes(range(200)), {"mime": "image/png", "width": 8, "height": 8,
                                   "n_bytes": 200}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    ph = {r["media_ref"]: r for r in compute_media_phashes(media).collect()}
    assert ph["bad"]["decode_ok"] is False and ph["bad"]["phash"] is None
    assert ph["ok"]["decode_ok"] is True


def test_streaming_foreachbatch_increment(spark, docs500):
    """Incremental ingest: micro-batches flow through the batch normalize."""
    from mediachain_indexer_spark.operators.normalize import normalize_documents
    from mediachain_indexer_spark.streaming.incremental import incremental_dedupe_stream

    seen = {"rows": 0, "batches": 0}

    def process(batch_df, batch_id):
        seen["rows"] += normalize_documents(batch_df).count()
        seen["batches"] += 1

    with tempfile.TemporaryDirectory() as ckpt:
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", 50).load()
            .select(
                F.concat(F.lit("s"), F.col("value").cast("string")).alias("doc_id"),
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        F.lit("streamed doc").alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        F.lit(0).alias("offset"),
                    )
                ).alias("spans"),
            )
        )
        q = incremental_dedupe_stream(stream, process, ckpt).start()
        try:
            # rate source emits nothing at t=0; poll until rows flow through
            import time

            for _ in range(20):
                q.processAllAvailable()
                if seen["rows"] >= 1:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
    assert seen["batches"] >= 1 and seen["rows"] >= 1


def test_dct_phash_matches_naive_dct_reference():
    """The production pHash's 2-D DCT (matrix form) must equal the naive
    double-loop type-II DCT on random input, and the hash must be exactly
    the median-threshold of the 8×8 low-frequency block — pinning the
    imagehash.phash algorithm, independent of the decode stub."""
    import numpy as np

    from mediachain_indexer_spark.operators.media import _DCT_M, _phash_of_gray

    rng = np.random.RandomState(11)
    img = rng.rand(32, 32) * 255.0

    # naive unnormalized DCT-II along both axes
    N = 32
    ref = np.zeros((N, N))
    for k in range(N):
        for l in range(N):  # noqa: E741
            acc = 0.0
            for n in range(N):
                for m in range(N):
                    acc += (
                        img[n, m]
                        * np.cos(np.pi * k * (2 * n + 1) / (2 * N))
                        * np.cos(np.pi * l * (2 * m + 1) / (2 * N))
                    )
            ref[k, l] = 4.0 * acc
    fast = _DCT_M @ img @ _DCT_M.T
    assert np.allclose(fast, ref, rtol=1e-9, atol=1e-6)

    low = fast[:8, :8]
    bits = (low > np.median(low)).flatten()
    expect = 0
    for b in bits:
        expect = (expect << 1) | int(b)
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert _phash_of_gray(img) == expect
    # median threshold ⇒ exactly half the bits set (64 distinct coeffs a.s.)
    assert bin(expect & ((1 << 64) - 1)).count("1") == 32


def test_dct_phash_hamming_locality():
    """Small pixel perturbations flip few hash bits; unrelated images land
    ~32 bits apart (round-4 verdict #4: locality evidence for the DCT
    pHash, not the stub decoder)."""
    import numpy as np

    from mediachain_indexer_spark.operators.media import _phash_of_gray

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rng = np.random.RandomState(5)
    dists_near, dists_far = [], []
    for _ in range(20):
        img = rng.rand(32, 32) * 255.0
        h = _phash_of_gray(img)
        bumped = img.copy()
        bumped[rng.randint(32), rng.randint(32)] += 2.0  # one pixel, tiny
        dists_near.append(ham(h, _phash_of_gray(bumped)))
        other = rng.rand(32, 32) * 255.0
        dists_far.append(ham(h, _phash_of_gray(other)))
    assert max(dists_near) <= 8, dists_near
    assert np.mean(dists_far) > 20, dists_far


# ---------------------------------------------------------------------------
# real pure-numpy container decode (round-5: PPM/PGM/BMP are no longer stubs)
# ---------------------------------------------------------------------------
def _ppm_bytes(img_rgb):
    import numpy as np

    h, w, _ = img_rgb.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img_rgb.astype(np.uint8)
    ).tobytes()


def _pgm_bytes(img):
    import numpy as np

    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img.astype(np.uint8)
    ).tobytes()


def _bmp_bytes(img_rgb):
    """Minimal bottom-up 24-bit BI_RGB writer (BGR order, 4-byte row pad)."""
    import numpy as np

    h, w, _ = img_rgb.shape
    stride = (w * 3 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):
        row = img_rgb[y, :, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        pix += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(pix)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(pix)


def test_decode_pgm_roundtrip_exact():
    import numpy as np

    from mediachain_indexer_spark.operators.media import decode_image

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (40, 56)).astype(np.uint8)
    got = decode_image(_pgm_bytes(img))
    assert got.shape == (40, 56)
    assert np.array_equal(got, img.astype(np.float64))


def test_decode_ppm_bt601_luma():
    import numpy as np

    from mediachain_indexer_spark.operators.media import decode_image

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (33, 47, 3)).astype(np.uint8)
    got = decode_image(_ppm_bytes(img))
    want = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    assert np.allclose(got, want)


def test_decode_bmp_matches_ppm_of_same_pixels():
    import numpy as np

    from mediachain_indexer_spark.operators.media import decode_image

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (21, 30, 3)).astype(np.uint8)  # stride pad path
    got_bmp = decode_image(_bmp_bytes(img))
    got_ppm = decode_image(_ppm_bytes(img))
    assert np.allclose(got_bmp, got_ppm)


def test_compressed_magic_is_the_only_stub():
    import pytest as _pytest

    from mediachain_indexer_spark.operators.media import decode_image

    for magic in (b"\xff\xd8\xff\xe0" + b"x" * 60, b"\x89PNG\r\n\x1a\n" + b"x" * 60):
        with _pytest.raises(NotImplementedError):
            decode_image(magic)
    with _pytest.raises(ValueError):
        decode_image(b"\x00\x01\x02\x03" * 20)  # unrecognized, not a stub


def test_real_image_phash_hamming_locality(spark):
    """End-to-end through mapInPandas on REAL container bytes: a lightly
    noised copy of a structured image lands within Hamming 16 of the
    original; an unrelated image lands farther than the noised copy."""
    import numpy as np

    from mediachain_indexer_spark.operators.media import compute_media_phashes

    rng = np.random.default_rng(11)
    y, x = np.mgrid[0:64, 0:96]
    base = (128 + 90 * np.sin(x / 9.0) * np.cos(y / 13.0)).clip(0, 255)
    noised = (base + rng.normal(0, 4, base.shape)).clip(0, 255)
    other = rng.integers(0, 256, (64, 96)).astype(np.float64)

    rows = [
        ("base", _pgm_bytes(base), {"mime": "image/x-pgm", "width": 96, "height": 64, "n_bytes": 0}),
        ("noised", _pgm_bytes(noised), {"mime": "image/x-pgm", "width": 96, "height": 64, "n_bytes": 0}),
        ("other", _pgm_bytes(other), {"mime": "image/x-pgm", "width": 96, "height": 64, "n_bytes": 0}),
        ("jpegish", b"\xff\xd8\xff\xe0" + bytes(range(100)), {"mime": "image/jpeg", "width": 0, "height": 0, "n_bytes": 0}),
    ]
    from mediachain_indexer_spark.operators.media import MEDIA_SCHEMA as _MS

    out = {r["media_ref"]: r for r in compute_media_phashes(
        spark.createDataFrame(rows, _MS)).collect()}
    assert out["jpegish"]["decode_ok"] is False  # compressed: the one stub
    for ref in ("base", "noised", "other"):
        assert out[ref]["decode_ok"] is True
    d_noise = bin((out["base"]["phash"] ^ out["noised"]["phash"]) & (2**64 - 1)).count("1")
    d_other = bin((out["base"]["phash"] ^ out["other"]["phash"]) & (2**64 - 1)).count("1")
    assert d_noise <= 16
    assert d_other > d_noise


def test_corrupt_recognized_container_is_flagged_not_faked(spark):
    """A payload whose MAGIC is recognized but whose body is unparseable
    (truncated BMP, garbled PGM header) must surface as decode_ok=false —
    never be silently hashed via the deterministic sandbox fake, which is
    reserved for unrecognized containers (media.CorruptMediaError)."""
    import numpy as np
    import pytest as _pytest

    from mediachain_indexer_spark.operators.media import (
        MEDIA_SCHEMA as _MS,
        CorruptMediaError,
        compute_media_phashes,
        decode_image,
    )

    img = np.tile(np.arange(40) * 6, (40, 1)).astype(np.float64)
    good_bmp = _bmp_bytes(np.stack([img] * 3, axis=-1))
    truncated_bmp = good_bmp[: len(good_bmp) // 2]  # header ok, pixels cut
    bad_pgm = b"P5\n0 0\n255\n"  # zero dimensions

    with _pytest.raises(CorruptMediaError):
        decode_image(truncated_bmp)
    with _pytest.raises(CorruptMediaError):
        decode_image(bad_pgm)

    rows = [
        ("good", good_bmp, {"mime": "image/bmp", "width": 40, "height": 40, "n_bytes": 0}),
        ("trunc", truncated_bmp, {"mime": "image/bmp", "width": 40, "height": 40, "n_bytes": 0}),
        ("badpgm", bad_pgm, {"mime": "image/x-pgm", "width": 0, "height": 0, "n_bytes": 0}),
    ]
    out = {r["media_ref"]: r for r in compute_media_phashes(
        spark.createDataFrame(rows, _MS)).collect()}
    assert out["good"]["decode_ok"] is True
    assert out["trunc"]["decode_ok"] is False and out["trunc"]["phash"] is None
    assert out["badpgm"]["decode_ok"] is False and out["badpgm"]["phash"] is None


def test_resize_banner_shape_box_filters_the_large_axis():
    """One-axis-small inputs (a 16×1000 banner) must box-filter the LARGE
    axis, not point-sample it: on an 8-px-period texture a 1-pixel
    horizontal shift moves every box-filtered cell by < 3 gray levels,
    where point-sampling 32 of 1000 columns (the pre-fix behavior for this
    shape) moved cells by the full ±70 amplitude — aliasing that destroyed
    the downstream pHash's Hamming locality.  (The hash itself is not
    asserted here: a constant-vertical banner has near-zero variance in 56
    of the 64 low-frequency DCT coefficients, so its median-threshold bits
    are inherently noise-driven for ANY resampler.)"""
    import numpy as np

    from mediachain_indexer_spark.operators.media import _gray_to_32

    x = np.arange(1001, dtype=np.float64)
    row = 128 + 100 * np.sin(2 * np.pi * x / 8.0)
    banner = np.tile(row[:1000], (16, 1))
    shifted = np.tile(row[1:1001], (16, 1))

    g0, g1 = _gray_to_32(banner), _gray_to_32(shifted)
    assert g0.shape == g1.shape == (32, 32)
    d = float(np.abs(g0 - g1).max())
    assert d < 3.0, f"1-px shift moved a box-filtered cell by {d:.1f} levels"
