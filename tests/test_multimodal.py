"""Multimodal plumbing: schemas, determinism, 1->N frame explode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_vector_database_spark.sources import multimodal as mm


@pytest.fixture(scope="module")
def blobs(spark):
    df = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 600), (3, "z")], ["id", "text"])
    return mm.attach_blob(df)


def test_blob_meta(blobs):
    out = {r["id"]: r for r in mm.blob_meta(blobs).collect()}
    assert out[1]["blob_len"] == 100 and out[3]["blob_len"] == 1
    assert len(out[2]["blob_md5"]) == 32


def test_decode_schema_and_determinism(blobs):
    out1 = mm.decode_images(blobs).collect()
    out2 = mm.decode_images(blobs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert [f.name for f in mm.decode_images(blobs).schema.fields] == \
        ["id", "width", "height", "format"]
    for r in out1:
        assert 64 <= r["width"] <= 64 + 255
        assert r["format"] in ("png", "jpeg", "webp")


def test_feature_extract(blobs):
    feat = blobs.withColumn("f", mm.feature_extract_udf()(F.col("blob")))
    rows = feat.collect()
    for r in rows:
        assert len(r["f"]) == mm.FEATURE_DIM
        n = sum(x * x for x in r["f"])
        assert n == pytest.approx(1.0, abs=1e-5)


def test_frame_sampling(blobs):
    frames = mm.sample_frames(blobs, frame_bytes=256, stride=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r)
    # 600 bytes -> 3 frames (0,1,2), stride 2 keeps 0 and 2
    assert sorted(r["frame_no"] for r in by_id[2]) == [0, 2]
    assert len(bytes(by_id[2][0]["frame"])) == 256
    # tiny blob still yields frame 0
    assert [r["frame_no"] for r in by_id[3]] == [0]


class _FakeImage:
    def __init__(self, data):
        self.width = len(data) % 100 + 1
        self.height = len(data) % 50 + 1
        self.format = "PNG"

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


class _FakePIL:
    """PIL.Image-shaped module for the real decode branch."""

    @staticmethod
    def open(fp):
        return _FakeImage(fp.read())


def test_image_decode_kernel_real_branch():
    w, h, fmt = mm.image_decode_kernel(_FakePIL, b"x" * 123)
    assert (w, h, fmt) == (123 % 100 + 1, 123 % 50 + 1, "png")


def test_image_stub_kernel_deterministic():
    a = mm.image_stub_kernel(b"same-bytes")
    b = mm.image_stub_kernel(b"same-bytes")
    assert a == b and a[2] in ("png", "jpeg", "webp")


class _FakeResizableImage(_FakeImage):
    def __init__(self, data):
        super().__init__(data)
        self._data = data

    def resize(self, size):
        im = _FakeResizableImage(self._data)
        im.width, im.height = size
        return im

    def save(self, fp, format=None):
        assert format  # source format forwarded
        fp.write(bytes(self.width * self.height))


class _FakeResizingPIL:
    @staticmethod
    def open(fp):
        return _FakeResizableImage(fp.read())


def test_image_resize_kernel_real_branch():
    out = mm.image_resize_kernel(_FakeResizingPIL, b"img-bytes", 4, 3)
    assert out == bytes(12)


def test_resize_stub_kernel_contract():
    out = mm.resize_stub_kernel(b"abc", 4, 4)
    assert out == b"abcabcabcabcabca"[:16] and len(out) == 16
    assert mm.resize_stub_kernel(b"", 2, 2) == b"\x00" * 4


def test_resize_images_plumbing(blobs):
    out = mm.resize_images(blobs, width=8, height=8).collect()
    assert len(out) == blobs.count()
    for r in out:
        assert len(bytes(r["resized"])) == 64
        assert (r["out_w"], r["out_h"]) == (8, 8)


def test_image_kernels_with_real_pil(spark):
    """Smoke for the REAL PIL branch (the fake-module tests pin the
    contract; this lights up automatically wherever Pillow exists —
    skipped where it doesn't)."""
    import io

    Image = pytest.importorskip("PIL.Image")

    buf = io.BytesIO()
    Image.new("RGB", (20, 10), (200, 30, 30)).save(buf, format="PNG")
    png = buf.getvalue()

    w, h, fmt = mm.image_decode_kernel(Image, png)
    assert (w, h, fmt) == (20, 10, "png")

    resized = mm.image_resize_kernel(Image, png, 8, 6)
    with Image.open(io.BytesIO(resized)) as im:
        assert (im.width, im.height) == (8, 6)
        assert (im.format or "").lower() == "png"

    # end-to-end through the mapInPandas plumbing: executor-side
    # import finds the real library, so real dimensions come back
    df = spark.createDataFrame([(1, bytearray(png))], "id long, blob binary")
    [row] = mm.decode_images(df).collect()
    assert (row["width"], row["height"], row["format"]) == (20, 10, "png")


def test_window_rms_partial_windows_and_exact_math(spark):
    """window_rms: full + partial windows, integer-exact sum of
    squares, empty blob emits one zero window (the stub decode's
    1-row contract)."""
    import math

    from pyspark.sql import functions as F

    from rag_vector_database_spark.sources import multimodal

    df = spark.createDataFrame(
        [(1, "abc"), (2, "")], "id long, text string") \
        .withColumn("blob", F.encode("text", "UTF-8"))
    out = {(r.id, r.win): (r.n_samples, r.rms)
           for r in multimodal.window_rms(df, window=2).collect()}
    a, b, c = ord("a"), ord("b"), ord("c")
    assert out[(1, 0)] == (2, round(math.sqrt((a * a + b * b) / 2), 6))
    assert out[(1, 1)] == (1, round(math.sqrt(c * c / 1), 6))
    assert out[(2, 0)] == (0, 0.0)


def test_ahash_threshold_exact_above_int64_range():
    """The aHash threshold compares sums*L with tot*cnts, products that
    pass 2^63 for gigabyte blobs. Synthetic block statistics of 2 GB
    blobs (no real blob is built) must get the exact-integer answer."""
    import numpy as np

    n_blocks, size = 32, 2_000_000_000
    lens = np.array([size, size], dtype=np.int64)
    cnts = np.full((2, n_blocks), size // n_blocks, dtype=np.int64)
    means = np.random.default_rng(7).integers(0, 256, size=(2, n_blocks))
    # row 1: one block a unit above the blob mean, one a unit below
    means[1] = 128
    means[1, 3], means[1, 9] = 129, 127
    sums = cnts * means
    tot = sums.sum(axis=1)
    want = [[int(s) * int(n) > int(t) * int(c)
             for s, c in zip(srow, crow)]
            for srow, crow, n, t in zip(sums, cnts, lens, tot)]
    assert want[1] == [i == 3 for i in range(n_blocks)]
    # the plain int64 compare wraps on these inputs
    assert ((sums * lens[:, None]) > (tot[:, None] * cnts)).tolist() != want
    assert mm._above_mean_fn()(np, lens, sums, cnts).tolist() == want
    # 3.2 kB blobs with the same block means keep the int64 path
    small = mm._above_mean_fn()(np, lens // 625_000, sums // 625_000,
                                cnts // 625_000)
    assert small.dtype == bool and small.tolist() == want
