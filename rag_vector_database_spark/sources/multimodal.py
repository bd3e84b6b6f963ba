"""Multimodal column plumbing: image/audio/video as opaque binary.

A 100 TB training-data pipeline carries media as ``binary`` columns
with typed metadata alongside (BASELINE.json north star). The decode
libraries (PIL/ffmpeg/librosa) are NOT in this container, so the decode
kernels are stubbed deterministically — but everything Spark-side is
real and tested: schemas, Arrow batch shapes, ``mapInPandas``
signatures, partition behavior.

Layout convention: a media table is (id, blob binary, media_type
string, meta map<string,string>); derived features append columns.
At scale: store blobs in parquet with a small row-group size (blobs
dominate pages), partition by media_type, and keep feature extraction
in ``mapInPandas`` so one Arrow batch holds whole blobs (bound batch
bytes via spark.sql.execution.arrow.maxRecordsPerBatch).
"""

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, FloatType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

# Shared narrow-scan gate: a one-split parquet would otherwise push
# the WHOLE corpus through a single mapInPandas task (one Python
# worker, zero parallelism). Definition lives in functions.scanwidth
# (layer-neutral) so sources/ shares one implementation with
# operators/ without importing an operator module.
from ..functions.scanwidth import (
    estimated_scan_partitions as _estimated_scan_partitions,
    widen_narrow_scan as _widen_narrow_scan)


def image_decode_kernel(image_mod, blob: bytes) -> tuple[int, int, str | None]:
    """Real image decode against a PIL.Image-shaped module: open the byte
    stream, read (width, height, format). Module passed as a parameter so
    tests exercise this branch with a fake ``PIL`` even though the real
    library is absent from the container."""
    import io
    with image_mod.open(io.BytesIO(bytes(blob))) as im:
        fmt = (im.format or "").lower() or None
        return im.width, im.height, fmt


def image_stub_kernel(blob: bytes) -> tuple[int, int, str]:
    """Deterministic fallback when PIL is not installed: derive
    (width, height, format) from the blob's md5."""
    h = hashlib.md5(bytes(blob)).hexdigest()
    return (64 + int(h[:2], 16), 64 + int(h[2:4], 16),
            ["png", "jpeg", "webp"][int(h[4], 16) % 3])


def attach_blob(df: DataFrame, text_col: str = "text",
                blob_col: str = "blob") -> DataFrame:
    """Deterministic fake media: encode a text column as bytes. Stands in
    for reading real media files (sources.readers.read_binaries)."""
    return df.withColumn(blob_col, F.encode(F.col(text_col), "UTF-8"))


def blob_meta(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Cheap JVM-side blob metadata — no Python, no decode."""
    b = F.col(blob_col)
    return (df
            .withColumn("blob_len", F.length(b).cast("long"))
            .withColumn("blob_md5", F.md5(b)))


DECODE_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("format", StringType()),
])


def decode_images(df: DataFrame, id_col: str = "id",
                  blob_col: str = "blob") -> DataFrame:
    """Image decode via ``mapInPandas``. The real PIL kernel runs
    whenever ``PIL.Image`` imports on the executor; the deterministic
    stub (width/height/format from the blob's md5) is the ImportError
    fallback — either way the full Spark path (Arrow batches in, typed
    rows out, one Python worker per partition) is exercised."""
    cols = [id_col, blob_col]

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd
        try:
            from PIL import Image  # imported executor-side
        except ImportError:
            Image = None
        for pdf in batches:
            if Image is not None:
                rows = [image_decode_kernel(Image, b) for b in pdf[blob_col]]
            else:
                rows = [image_stub_kernel(b) for b in pdf[blob_col]]
            yield pd.DataFrame({
                "id": pdf[id_col],
                "width": pd.Series([r[0] for r in rows], dtype="int32"),
                "height": pd.Series([r[1] for r in rows], dtype="int32"),
                "format": [r[2] for r in rows],
            })

    return (_widen_narrow_scan(df.select(*cols))
            .mapInPandas(decode, DECODE_SCHEMA))


def image_resize_kernel(image_mod, blob: bytes,
                        width: int, height: int) -> bytes:
    """Real resize against a PIL.Image-shaped module: open, resize,
    re-encode in the source format (PNG when unknown)."""
    import io
    with image_mod.open(io.BytesIO(bytes(blob))) as im:
        out = io.BytesIO()
        im.resize((width, height)).save(out, format=im.format or "PNG")
        return out.getvalue()


def resize_stub_kernel(blob: bytes, width: int, height: int) -> bytes:
    """Deterministic fallback: tile/truncate the source bytes to exactly
    width*height bytes — preserves the 1-blob-in/1-blob-out shape and a
    size contract downstream stages can assert on."""
    b = bytes(blob)
    n = width * height
    if not b:
        return b"\x00" * n
    reps = -(-n // len(b))
    return (b * reps)[:n]


RESIZE_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("resized", BinaryType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
])


def resize_images(df: DataFrame, id_col: str = "id", blob_col: str = "blob",
                  width: int = 64, height: int = 64) -> DataFrame:
    """Image resize via ``mapInPandas`` — same gate discipline as
    decode_images: real PIL kernel when the library imports
    executor-side, deterministic stub on ImportError."""
    def resize(batches: Iterator) -> Iterator:
        import pandas as pd
        try:
            from PIL import Image
        except ImportError:
            Image = None
        for pdf in batches:
            if Image is not None:
                blobs = [image_resize_kernel(Image, b, width, height)
                         for b in pdf[blob_col]]
            else:
                blobs = [resize_stub_kernel(b, width, height)
                         for b in pdf[blob_col]]
            yield pd.DataFrame({
                "id": pdf[id_col],
                "resized": blobs,
                "out_w": pd.Series([width] * len(pdf), dtype="int32"),
                "out_h": pd.Series([height] * len(pdf), dtype="int32"),
            })

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(resize, RESIZE_SCHEMA))


FEATURE_DIM = 8
FEATURE_SCHEMA = ArrayType(FloatType())


def feature_extract_udf():
    """Deterministic embedding-ish features from blob bytes (pandas UDF;
    a real vision tower drops into the same signature)."""
    import numpy as np

    def one(b) -> list[float]:
        h = hashlib.md5(bytes(b)).digest()
        v = np.frombuffer(h[:FEATURE_DIM], dtype=np.uint8).astype("float64")
        n = float(np.sqrt((v * v).sum()))
        return list((v / n) if n else v)

    @F.pandas_udf(FEATURE_SCHEMA)
    def _feat(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(one)

    return _feat


FRAME_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("frame", BinaryType()),
])


def sample_frames(df: DataFrame, id_col: str = "id", blob_col: str = "blob",
                  frame_bytes: int = 256, stride: int = 2) -> DataFrame:
    """'Video' frame sampling: split a blob into fixed-size frames and
    keep every ``stride``-th — the plumbing of ffmpeg keyframe sampling
    (1 blob row -> N frame rows; typed, partition-local)."""
    def frames(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = {"id": [], "frame_no": [], "frame": []}
            # zip over the raw column arrays, not pdf.iterrows(): the
            # per-row Series materialization iterrows performs costs
            # more than the kernel itself (guide §4.2 — keep Python
            # row overheads out of the batch loop); values unchanged
            for rid, rb in zip(pdf[id_col].values, pdf[blob_col].values):
                b = bytes(rb)
                for i in range(0, max((len(b) + frame_bytes - 1) // frame_bytes, 1)):
                    if i % stride:
                        continue
                    out["id"].append(rid)
                    out["frame_no"].append(i)
                    out["frame"].append(b[i * frame_bytes:(i + 1) * frame_bytes])
            yield pd.DataFrame(out)

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(frames, FRAME_SCHEMA))


WINDOW_RMS_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("win", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("rms", DoubleType()),
])


def window_rms(df: DataFrame, id_col: str = "id", blob_col: str = "blob",
               window: int = 64) -> DataFrame:
    """'Audio' feature extraction: treat the blob as unsigned 8-bit PCM
    and emit per-window RMS energy — the librosa-style windowed
    feature kernel as an Arrow-batched numpy loop (1 blob row -> N
    window rows, partition-local, no shuffle). The sum of squares is
    computed in INTEGER arithmetic (exact regardless of numpy's
    summation order), and only the final divide+sqrt run in float64 —
    so any engine computing sum(s^2)/n the same way lands on the
    bit-identical double, which is what keeps this kernel inside the
    value-hash oracle gate. A real PCM decode replaces ``frombuffer``
    when an audio library is present; the windowing, schema, and
    batch shape are the production path either way."""
    def rms(batches: Iterator) -> Iterator:
        import math

        import numpy as np
        import pandas as pd
        for pdf in batches:
            # whole-batch vectorization (r15, guide §4.2): the byte
            # loop becomes one segment-keyed bincount — per-window
            # sum of squares accumulates in float64 (exact: squares
            # <= 255^2, 64 per window, far inside 2^53), identical
            # to the old integer per-chunk sum. Only the final
            # round(math.sqrt(ss/n), 6) stays a Python loop, over
            # WINDOW rows (64x fewer than bytes), so the double and
            # its CPython rounding are bit-identical to the old
            # per-row kernel.
            blobs = [bytes(x) for x in pdf[blob_col].values]
            n = len(blobs)
            lens = np.fromiter((len(b) for b in blobs),
                               dtype=np.int64, count=n)
            nwin = np.maximum(-(-lens // window), 1)
            base = np.zeros(n, dtype=np.int64)
            np.cumsum(nwin[:-1], out=base[1:])
            total_w = int(nwin.sum())
            ss = np.zeros(total_w)
            cnt = np.zeros(total_w, dtype=np.int64)
            total = int(lens.sum())
            if total:
                data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
                offs = np.zeros(n, dtype=np.int64)
                np.cumsum(lens[:-1], out=offs[1:])
                pos = (np.arange(total, dtype=np.int64)
                       - np.repeat(offs, lens))
                gkey = np.repeat(base, lens) + pos // window
                sq = data.astype(np.float64)
                sq *= sq
                ss = np.bincount(gkey, weights=sq, minlength=total_w)
                cnt = np.bincount(gkey, minlength=total_w)
            win = (np.arange(total_w, dtype=np.int64)
                   - np.repeat(base, nwin))
            rms_vals = [round(math.sqrt(s / c), 6) if c else 0.0
                        for s, c in zip(ss, cnt)]
            yield pd.DataFrame({
                "id": np.repeat(pdf[id_col].values, nwin),
                "win": win.astype(np.int32),
                "n_samples": cnt.astype(np.int32),
                "rms": rms_vals})

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(rms, WINDOW_RMS_SCHEMA))


AHASH_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("ahash", LongType()),
])


def ahash32(df: DataFrame, id_col: str = "id",
            blob_col: str = "blob", n_blocks: int = 32) -> DataFrame:
    """Perceptual average-hash over a binary blob — the pHash/aHash
    family used for image near-dup detection (resize to a tiny grid,
    threshold each cell against the global mean, pack the bits).

    The "resize" is a block partition of the byte stream: 0-based byte
    ``p`` of an ``L``-byte blob lands in block ``(p * n_blocks) // L``,
    so the ``n_blocks`` blocks tile the whole blob whatever its length
    (a real image decode would resample pixels the same way; the byte
    stream stands in — see the module docstring for the stub
    convention). Bit ``i`` is set iff block ``i``'s mean exceeds the
    blob mean, compared in INTEGER cross-multiplied form
    (``block_sum * L > total_sum * block_len``) so numpy's summation
    order cannot perturb a float — which keeps the kernel inside the
    value-hash oracle gate.

    1 blob row -> 1 (id, 32-bit hash) row, partition-local, zero
    shuffle: at 100 TB the hash table is ~12 bytes/blob and the
    banded self-join downstream (dedup.blob_ahash_pairs) never touches
    the blobs again."""
    bbs = _batched_block_stats_fn()
    above = _above_mean_fn()

    def kern(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            # whole-batch vectorization (r15, guide §4.2): one
            # segment-keyed bincount for the block sums, then the
            # threshold + bit-pack as batch-wide ops — bit i of
            # row r is set iff sums[r,i]*L > tot[r]*cnts[r,i], the
            # same integer cross-multiplied compare the per-row loop
            # made, exact at any blob size (see _above_mean_fn).
            blobs = [bytes(x) for x in pdf[blob_col].values]
            lens, sums, cnts = bbs(np, blobs, n_blocks)
            bits = above(np, lens, sums, cnts)
            w = np.int64(1) << np.arange(n_blocks, dtype=np.int64)
            h = (bits * w).sum(axis=1)
            yield pd.DataFrame({"id": pdf[id_col].values, "ahash": h})

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(kern, AHASH_SCHEMA))


AHASH64_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("ahash_lo", LongType()),
    StructField("ahash_hi", LongType()),
])


def ahash64(df: DataFrame, id_col: str = "id",
            blob_col: str = "blob") -> DataFrame:
    """64-block aHash (the production pHash width) as TWO non-negative
    32-bit halves — bit 63 of a single BIGINT would collide with the
    sign on one engine or the other, and two int columns keep every
    shift/xor/popcount in safely-positive territory on both. Same
    resize-threshold-pack definition as ahash32 (see there for the
    integer-exactness argument); the wider hash exists for CAPACITY:
    16-bit bands over 64 bits collide 256x less often than 8-bit
    bands over 32, which is what keeps banded near-dup blocking
    linear at corpus scale (dedup.phash_band_pairs)."""
    n_blocks = 64

    bbs = _batched_block_stats_fn()
    above = _above_mean_fn()

    def kern(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            # whole-batch vectorization — see ahash32; the two 32-bit
            # halves are packed from the low/high bit blocks
            # separately, so every weight stays < 2^32 in int64.
            blobs = [bytes(x) for x in pdf[blob_col].values]
            lens, sums, cnts = bbs(np, blobs, n_blocks)
            bits = above(np, lens, sums, cnts)
            w = np.int64(1) << np.arange(32, dtype=np.int64)
            lo = (bits[:, :32] * w).sum(axis=1)
            hi = (bits[:, 32:] * w).sum(axis=1)
            yield pd.DataFrame({"id": pdf[id_col].values,
                                "ahash_lo": lo, "ahash_hi": hi})

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(kern, AHASH64_SCHEMA))


def _above_mean_fn():
    """The aHash threshold: ``bits[r, i]`` is set iff block ``i`` of
    blob ``r`` has a mean above the blob's, compared in integer
    cross-multiplied form ``sums[r,i] * L[r] > tot[r] * cnts[r,i]``.
    The products grow like 255*L^2/n_blocks and pass 2^63 for blobs of
    about a gigabyte; a batch whose products could pass it is compared
    in exact Python ints (object arrays) instead of wrapping int64. A
    closure for the same pickling reason as ``_batched_block_stats_fn``."""
    def above_mean(np, lens, sums, cnts):
        tot = sums.sum(axis=1)
        if sums.size and max(int(sums.max()) * int(lens.max()),
                             int(tot.max()) * int(cnts.max())) >= 2 ** 63:
            lens, sums, tot, cnts = (a.astype(object)
                                     for a in (lens, sums, tot, cnts))
        return (sums * lens[:, None]) > (tot[:, None] * cnts)
    return above_mean


def _batched_block_stats_fn():
    """Whole-batch block statistics for the aHash / block-mean kernels,
    returned as a CLOSURE rather than a module-level helper: a
    mapInPandas kernel that referenced a module global would be
    cloudpickled BY REFERENCE (module + qualname), and an external
    driver's Python workers can't import this package — the same
    serialization gotcha sources/api_listing solves with
    register_pickle_by_value; a `<locals>` function pickles by value
    inside each kernel that captures it. Replaces the per-row numpy calls
    (frombuffer/arange/bincount per blob — ~8 small allocations per
    row) with ONE segment-keyed bincount over the concatenated batch
    (guide §4.2: hand whole batches to vectorized native code).

    Math per row is IDENTICAL to the per-row form: byte p of an
    L-byte blob lands in block (p*n_blocks)//L; per-block byte sums
    accumulate in float64 inside bincount exactly as before (exact —
    a block sum is < 255*L << 2^53) and are cast back to int64.
    Returns (lens, sums[n, n_blocks] int64, cnts[n, n_blocks] int64);
    empty blobs contribute all-zero rows, matching the old h=0 /
    zero-cells branches."""
    def batched_block_stats(np, blobs: list, n_blocks: int):
        n = len(blobs)
        lens = np.fromiter((len(b) for b in blobs), dtype=np.int64,
                           count=n)
        total = int(lens.sum())
        if not total:
            z = np.zeros((n, n_blocks), dtype=np.int64)
            return lens, z, z.copy()
        data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
        row = np.repeat(np.arange(n, dtype=np.int64), lens)
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        pos = np.arange(total, dtype=np.int64) - np.repeat(offs, lens)
        blk = (pos * n_blocks) // np.repeat(lens, lens)
        key = row * n_blocks + blk
        sums = np.bincount(key, weights=data,
                           minlength=n * n_blocks).astype(np.int64)
        cnts = np.bincount(key, minlength=n * n_blocks).astype(np.int64)
        return (lens, sums.reshape(n, n_blocks),
                cnts.reshape(n, n_blocks))
    return batched_block_stats


THUMB_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("in_len", IntegerType()),
    StructField("resized", BinaryType()),
    StructField("out_sum", LongType()),
    StructField("head0", IntegerType()),
    StructField("head1", IntegerType()),
    StructField("head2", IntegerType()),
    StructField("head3", IntegerType()),
])


def resize_blob(df: DataFrame, id_col: str = "id", blob_col: str = "blob",
                out_len: int = 64) -> DataFrame:
    """Media resize via block-mean resampling: byte ``p`` of an
    ``L``-byte blob lands in output cell ``(p * out_len) // L`` and
    each cell becomes the FLOOR of its block mean — the thumbnail/
    downsample step that precedes perceptual hashing or feature
    extraction (a real image decode would average pixels the same
    way; the byte stream stands in, see the module docstring). All
    arithmetic is integer (block_sum // block_len), so the resized
    bytes are reproducible bit-for-bit by any engine. 1 blob row ->
    1 (id, in_len, out_len-byte blob) row, partition-local, zero
    shuffle; at scale this is the map step that shrinks a media
    corpus ~L/out_len-fold before any shuffled analysis touches it.
    Cells with no source byte (L < out_len) are 0."""
    bbs = _batched_block_stats_fn()

    def kern(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            # whole-batch vectorization (r15): one segment bincount,
            # then cells = floor(block mean) batch-wide; a cell with
            # no source byte divides 0 by a clamped 1 -> 0, matching
            # the old zero-fill. Only the per-row bytes() packing of
            # the resized blob remains a Python loop.
            blobs = [bytes(x) for x in pdf[blob_col].values]
            lens, sums, cnts = bbs(np, blobs, out_len)
            cells = sums // np.maximum(cnts, 1)
            # integer invariants emitted alongside the blob: the
            # oracle-checkable face of the thumbnail (a binary
            # column itself can't cross the value-hash gate)
            yield pd.DataFrame({
                "id": pdf[id_col].values,
                "in_len": lens.astype(np.int32),
                "resized": [bytes(row) for row in
                            cells.astype(np.uint8)],
                "out_sum": cells.sum(axis=1),
                "head0": cells[:, 0].astype(np.int32),
                "head1": cells[:, 1].astype(np.int32),
                "head2": cells[:, 2].astype(np.int32),
                "head3": cells[:, 3].astype(np.int32)})

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(kern, THUMB_SCHEMA))


THUMB_VEC_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("cells", ArrayType(LongType())),
])


def thumb_vector(df: DataFrame, id_col: str = "id", blob_col: str = "blob",
                 out_len: int = 64) -> DataFrame:
    """The thumbnail as a VECTOR: the same integer block-mean cells
    as ``resize_blob`` (shared batched block-stats math) emitted as
    an ``array<long>`` instead of packed bytes — the "image encoder"
    half of cross-modal retrieval. Because the cells are
    integer-exact, any similarity computed over them (after an
    agreed normalization) is reproducible across engines, which is
    what lets a CLIP-style text<->image funnel sit inside the
    value-hash oracle gate. 1 blob -> 1 row, partition-local, zero
    shuffle; at scale this is the map step that shrinks a media
    corpus ~L/out_len-fold before the kNN ever shuffles anything."""
    bbs = _batched_block_stats_fn()

    def kern(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in batches:
            # whole-batch vectorization (r15) — same batched block
            # means as resize_blob, emitted as per-row lists.
            blobs = [bytes(x) for x in pdf[blob_col].values]
            _, sums, cnts = bbs(np, blobs, out_len)
            cells = sums // np.maximum(cnts, 1)
            yield pd.DataFrame({"id": pdf[id_col].values,
                                "cells": list(cells)})

    return (_widen_narrow_scan(df.select(id_col, blob_col))
            .mapInPandas(kern, THUMB_VEC_SCHEMA))
