"""Synthetic image source + codec plumbing for the images table
(BASELINE.json input_hint schema):

    images(image_id string, bytes binary, w int, h int, fmt string,
           caption string, phash long)

CODEC STATUS (both REAL since r6 — zero stub codecs on the image legs):

* fmt='png'  : REAL — a pure-stdlib PNG codec (``sources/png.py``:
  zlib deflate, adaptive scanline filtering, full filter-type 0-4
  reconstruction, CRC-checked chunks).  Bytes are standard PNG any
  decoder can read; decoded pixels are byte-exact (PSNR = inf).
* fmt='jpeg' : REAL — a pure-numpy baseline JPEG codec
  (``sources/jpeg.py``: 8x8 DCT, Annex-K quantization + Huffman
  tables, JFIF markers; batched, vectorized encode AND decode).
  Bytes are standard baseline JFIF any decoder can read (Pillow
  cross-check in tests/test_jpeg_codec.py runs wherever PIL exists);
  decoded pixels satisfy the input_hint's PSNR >= 40 dB invariant at
  the corpus encode quality (95) and at the re-encode acceptance
  cycle ``decode_stats`` checks.  Progressive/multi-component files
  fall through to Pillow when installed.

All Spark-side plumbing — binary column schema, Arrow batch shape,
``mapInPandas`` decode, the ``phash_from_bytes`` pandas UDF, partitioning —
is real and tested.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from fuzzymatch_spark.kernels.phash import dhash64, phash64
from fuzzymatch_spark.plans.parallelism import ensure_min_partitions
from fuzzymatch_spark.sources.jpeg import (
    jpeg_decode,
    jpeg_decode_batch,
    jpeg_encode,
    jpeg_encode_batch,
)
from fuzzymatch_spark.sources.png import (
    PNG_SIGNATURE,
    png_decode,
    png_encode,
    rgb_to_grey,
)

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

_MAGIC_PNG = b"FPNG"
_MAGIC_JPG = b"FJPG"


def encode_image(pixels: np.ndarray, fmt: str, quality: int = 90) -> bytes:
    """Encode a uint8 grayscale (h,w) or RGB (h,w,3) array.  PNG output
    is real standard PNG and JPEG output is real baseline JFIF (see CODEC
    STATUS above) — both pure numpy/stdlib, no third-party codec."""
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "jpeg":
        if pixels.ndim == 3:
            pixels = rgb_to_grey(pixels)
        return jpeg_encode(pixels, quality)
    raise NotImplementedError(f"unsupported format: {fmt}")


def decode_image(data: bytes) -> np.ndarray:
    """Decode to a 2-D uint8 grayscale array.

    Real PNG and baseline JPEG bytes (from these codecs or any conforming
    encoder) decode natively; RGB PNGs are converted to luma like
    Pillow's ``convert('L')``.  Legacy FPNG/FJPG stand-in containers
    still decode byte-exactly (pre-r6 stored fixtures).  Anything else
    (progressive JPEG, WebP, ...) falls through to Pillow when it is
    installed — that swap-in path needs no code change beyond
    `pip install pillow` (exercised by a mocked-PIL test in
    tests/test_images_phash.py since the real library is absent here)."""
    if data[:8] == PNG_SIGNATURE:
        return rgb_to_grey(png_decode(data))
    if data[:2] == b"\xff\xd8":
        try:
            return jpeg_decode(data)
        except Exception as e:  # progressive/multi-component/corrupt
            if not HAVE_PIL:
                raise NotImplementedError(
                    "JPEG bytes the baseline decoder cannot parse "
                    f"({type(e).__name__}: {e}); install Pillow"
                ) from e
    magic = data[:4]
    if magic == _MAGIC_PNG:
        w, h = struct.unpack("<HH", data[4:8])
        raw = zlib.decompress(data[8:])
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    if magic == _MAGIC_JPG:
        w, h, _step = struct.unpack("<HHB", data[4:9])
        raw = zlib.decompress(data[9:])
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    if HAVE_PIL:
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(data)).convert("L")
        return np.asarray(img, dtype=np.uint8)
    raise NotImplementedError(
        "unknown image container (PNG/baseline-JPEG decode natively; other"
        " codecs need Pillow)"
    )


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# One cached RandomState, RESEEDED per use: ``RandomState(seed)`` object
# construction measured 107 us on this numpy while ``rs.seed(seed)`` on a
# cached instance is 1.8 us with IDENTICAL draws (same legacy MT19937
# seeding) — the ctor was ~15% of the whole 1.4 ms/row image build.  The
# synthesis paths are single-threaded per Python worker; each use fully
# reseeds before drawing, so calls cannot contaminate each other.
_RS = np.random.RandomState(0)


def _reseeded(seed: int) -> np.random.RandomState:
    _RS.seed(seed)
    return _RS


def synth_pixels(image_id: str, w: int = 48, h: int = 48) -> np.ndarray:
    """Deterministic pixels seeded by image id: low-frequency random field
    (block-upscaled 6x6 grid, the kron shape) + mild noise so the DCT
    pHash is meaningful.  ``repeat`` replaces the original ``np.kron``
    (bit-identical integers, 23.5 -> 3.1 us) and the RNG is the cached
    reseeded instance — same draws, no 107 us ctor."""
    seed = int.from_bytes(hashlib.blake2b(image_id.encode(), digest_size=4).digest(), "little")
    rng = _reseeded(seed)
    base = rng.randint(0, 256, size=(6, 6))
    rep = (h // 6 + 1, w // 6 + 1)
    up = base.repeat(rep[0], axis=0).repeat(rep[1], axis=1)[:h, :w]
    noise = rng.randint(-8, 9, size=(h, w))
    return np.clip(up + noise, 0, 255).astype(np.uint8)


def _iter_images(rid: str, caption, seed: int, dup_fraction: float):
    """Deterministic per-doc image rows (+ optional near-dup twin): the
    single source of truth for both the full images table and the
    signature-only extraction, so their pHashes agree bit-for-bit.  The
    8th tuple slot is the tier-2 dHash digest — consumers of the 7-column
    input_hint schema simply ignore it."""
    px = synth_pixels(rid)
    h0, w0 = px.shape
    rng = np.random.RandomState(
        int.from_bytes(
            hashlib.blake2b((rid + str(seed)).encode(), digest_size=4).digest(),
            "little",
        )
    )
    fmt = "png" if rng.rand() < 0.5 else "jpeg"
    data = encode_image(px, fmt, quality=95)
    decoded = decode_image(data)
    ph = phash64(decoded)
    yield (f"img_{rid}", data, w0, h0, fmt, caption, ph, dhash64(decoded))
    if rng.rand() < dup_fraction:
        # near-dup twin: same pixels, lossy re-encode
        data2 = encode_image(px, "jpeg", quality=85)
        decoded2 = decode_image(data2)
        ph2 = phash64(decoded2)
        yield (
            f"img_{rid}_dup", data2, w0, h0, "jpeg", caption, ph2,
            dhash64(decoded2),
        )


def _batch_image_rows(
    rids, captions, seed: int, dup_fraction: float, want_dhash: bool = True
):
    """Batched equivalent of chaining ``_iter_images`` over the rows:
    identical rows in identical order (pinned by
    tests/test_images_phash.py), with the JPEG encode/decode legs routed
    through the chunked batch codec — the per-image fixed cost of the
    vectorized codec is what dominated the per-row path — and ALL hashes
    computed by the bit-identical batch kernels (``phash64_batch``:
    amortized numpy call overhead, ~1.4x over the scalar loop).

    ``want_dhash=False`` emits 7-slot rows without the tier-2 dHash
    digest: callers that never read slot 7 (``build_images_df``, the
    scaling bench's ``build_phash_df(with_dhash=False)``) skip its
    ~0.06 ms/image cost."""
    from fuzzymatch_spark.kernels.phash import dhash64_batch, phash64_batch

    prim = []
    for rid, caption in zip(rids, captions):
        px = synth_pixels(rid)
        rng = _reseeded(
            int.from_bytes(
                hashlib.blake2b(
                    (rid + str(seed)).encode(), digest_size=4
                ).digest(),
                "little",
            )
        )
        fmt = "png" if rng.rand() < 0.5 else "jpeg"
        has_twin = rng.rand() < dup_fraction
        prim.append((rid, caption, px, fmt, has_twin))
    jdata = jpeg_encode_batch([p[2] for p in prim if p[3] == "jpeg"], 95)
    jdec = jpeg_decode_batch(jdata)
    tdata = jpeg_encode_batch([p[2] for p in prim if p[4]], 85)
    tdec = jpeg_decode_batch(tdata)
    ji = ti = 0
    # assemble rows with decoded pixels first, hash once in batch at the end
    staged = []
    decoded_all = []
    for rid, caption, px, fmt, has_twin in prim:
        h0, w0 = px.shape
        if fmt == "jpeg":
            data, decoded = jdata[ji], jdec[ji]
            ji += 1
        else:
            data = encode_image(px, "png", quality=95)
            decoded = decode_image(data)
        staged.append((f"img_{rid}", data, w0, h0, fmt, caption))
        decoded_all.append(decoded)
        if has_twin:
            data2, dec2 = tdata[ti], tdec[ti]
            ti += 1
            staged.append((f"img_{rid}_dup", data2, w0, h0, "jpeg", caption))
            decoded_all.append(dec2)
    phs = phash64_batch(decoded_all)
    if want_dhash:
        dhs = dhash64_batch(decoded_all)
        return [
            s + (int(ph), int(dh))
            for s, ph, dh in zip(staged, phs, dhs)
        ]
    return [s + (int(ph),) for s, ph in zip(staged, phs)]


def build_images_df(
    spark: SparkSession,
    docs_df: DataFrame,
    id_col: str = "doc_id",
    caption_col: str = "text",
    dup_fraction: float = 0.25,
    seed: int = 42,
) -> DataFrame:
    """images table synthesized deterministically from a documents table:
    pixels seeded per id; a seeded fraction of rows get a near-dup twin
    (same pixels, lossy re-encode) — the planted positives for the pHash
    Hamming stage.  Runs distributed via ``mapInPandas``.
    """
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    docs_df = ensure_min_partitions(docs_df)

    def gen(batches):
        cols = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        for pdf in batches:
            out = {k: [] for k in cols}
            for row in _batch_image_rows(
                pdf[id_col].astype(str), pdf[caption_col], seed, dup_fraction,
                want_dhash=False,
            ):
                for k, v in zip(cols, row):
                    out[k].append(v)
            yield pd.DataFrame(out)

    return docs_df.select(id_col, caption_col).mapInPandas(gen, schema=schema)


def build_phash_df(
    spark: SparkSession,
    docs_df: DataFrame,
    id_col: str = "doc_id",
    caption_col: str = "text",
    dup_fraction: float = 0.25,
    seed: int = 42,
    with_dhash: bool = False,
) -> DataFrame:
    """Signature-only extraction: the SAME synth/encode/decode/pHash compute
    as ``build_images_df`` (shared row generator), emitting only
    (image_id, phash).

    This is the production shape of the signature stage at 10^12 rows:
    decode and hash WHERE THE BYTES LIVE, ship 8-byte signatures — the
    payload never crosses the Arrow boundary or enters the JVM.  Shipping
    ~1.5 KB blobs through Arrow only to project them away measurably
    saturates memory bandwidth at high core counts (the 8->32 scaling of
    the dedup job improves when this builder replaces the full table).
    """
    docs_df = ensure_min_partitions(docs_df)

    def gen(batches):
        for pdf in batches:
            ids: list = []
            phs: list = []
            dhs: list = []
            for row in _batch_image_rows(
                pdf[id_col].astype(str), pdf[caption_col], seed, dup_fraction,
                want_dhash=with_dhash,
            ):
                ids.append(row[0])
                phs.append(row[6])
                if with_dhash:
                    dhs.append(row[7])
            out = {"image_id": ids, "phash": phs}
            if with_dhash:
                out["dhash"] = dhs
            yield pd.DataFrame(out)

    schema = "image_id string, phash long" + (
        ", dhash long" if with_dhash else ""
    )
    return docs_df.select(id_col, caption_col).mapInPandas(gen, schema=schema)


def make_phash_udf():
    """bytes -> phash long, Arrow-batched (`input_hint`: pHash of decoded
    pixels, recomputable from the binary column)."""

    @F.pandas_udf(LongType())
    def phash_from_bytes(blobs: pd.Series) -> pd.Series:
        from fuzzymatch_spark.kernels.phash import phash64_batch

        out = np.zeros(len(blobs), dtype=np.int64)
        items = [
            (k, bytes(d)) for k, d in enumerate(blobs) if d is not None
        ]
        jpegs = [(k, d) for k, d in items if d[:2] == b"\xff\xd8"]
        others = [(k, d) for k, d in items if d[:2] != b"\xff\xd8"]
        pixels = jpeg_decode_batch([d for _, d in jpegs]) + [
            decode_image(d) for _, d in others
        ]
        if pixels:
            hashes = phash64_batch(pixels)
            for (k, _), h in zip(jpegs + others, hashes):
                out[k] = h
        return pd.Series(out)

    return phash_from_bytes


def make_image_digests_udf(grid: int = 3):
    """bytes -> struct(phash, dhash, cphash, tiles): EVERY stored digest
    the image-dedup ladder consumes, from ONE decode per image.

    The fused-single-pass doctrine from the caption pipeline's signature
    UDF applied to the image side: decode dominates the per-image cost
    (~1.1 ms JPEG / ~0.24 ms PNG vs 0.1-0.9 ms for all the hashing), so
    a caller that wants the Hamming leg (phash), the tier-2 verify
    (dhash), the mirror leg (cphash) and the tile-containment leg
    (tiles) from separate UDFs pays the decode up to four times.  This
    UDF decodes once (JPEG rows batch-decoded through the vectorized
    fast path) and emits all four digests; only ~ (3 + grid²) longs per
    image ever leave the scan.  Measured: 1.48x over the three separate
    UDF passes (min-of-3, 20k mixed png/jpeg rows, local[8]: 9.68 ->
    6.54 s; a noisier window drew 1.20x) — less than the decode multiple
    alone because the canonical hash's 8 DCT passes are a real share of
    the per-image cost.
    """
    from pyspark.sql.types import (
        ArrayType,
        LongType as _Long,
        StructField,
        StructType,
    )

    from fuzzymatch_spark.kernels.phash import (
        dhash64,
        phash64_canonical,
    )

    schema = StructType([
        StructField("phash", _Long()),
        StructField("dhash", _Long()),
        StructField("cphash", _Long()),
        StructField("tiles", ArrayType(_Long())),
    ])

    def digests(px):
        h, w = px.shape
        tiles = []
        for r in range(grid):
            for c in range(grid):
                y0, y1 = r * h // grid, (r + 1) * h // grid
                x0, x1 = c * w // grid, (c + 1) * w // grid
                tiles.append(phash64(px[y0:y1, x0:x1]))
        return {
            "phash": phash64(px),
            "dhash": dhash64(px),
            "cphash": phash64_canonical(px),
            "tiles": tiles,
        }

    @F.pandas_udf(schema)
    def image_digests_from_bytes(blobs: pd.Series) -> pd.DataFrame:
        out: list = [None] * len(blobs)
        items = [
            (k, bytes(d)) for k, d in enumerate(blobs) if d is not None
        ]
        jpegs = [(k, d) for k, d in items if d[:2] == b"\xff\xd8"]
        for (k, _), px in zip(
            jpegs, jpeg_decode_batch([d for _, d in jpegs])
        ):
            out[k] = digests(px)
        for k, d in items:
            if d[:2] != b"\xff\xd8":
                out[k] = digests(decode_image(d))
        # nullable Int64 extension arrays: a None row must NOT coerce
        # the hash columns to float64 (which silently rounds past 2^53)
        return pd.DataFrame({
            "phash": pd.array(
                [o["phash"] if o else None for o in out], dtype="Int64"
            ),
            "dhash": pd.array(
                [o["dhash"] if o else None for o in out], dtype="Int64"
            ),
            "cphash": pd.array(
                [o["cphash"] if o else None for o in out], dtype="Int64"
            ),
            "tiles": pd.Series(
                [o["tiles"] if o else None for o in out], dtype=object
            ),
        })

    return image_digests_from_bytes


def make_flip_png_udf():
    """bytes -> horizontally-mirrored image re-encoded as PNG (planted-
    twin generator for the mirror-dedup tests/driver entry; PNG so the
    flipped pixels round-trip exactly)."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def flip_png(blobs: pd.Series) -> pd.Series:
        return pd.Series([
            encode_image(
                np.ascontiguousarray(np.fliplr(decode_image(bytes(d)))),
                "png",
            )
            for d in blobs
        ])

    return flip_png


def make_canonical_phash_udf():
    """bytes -> dihedral-canonical phash long, Arrow-batched.

    ``phash64_canonical`` is exactly invariant under the 8 flip/rotation
    symmetries, so a mirrored or rotated re-post lands at Hamming 0 from
    its source and the existing banded Hamming join recovers it
    unchanged (``mirror_dup_pairs``).  Computed where the bytes live,
    like every digest."""
    from fuzzymatch_spark.kernels.phash import phash64_canonical

    @F.pandas_udf(LongType())
    def canonical_phash_from_bytes(blobs: pd.Series) -> pd.Series:
        out = np.zeros(len(blobs), dtype=np.int64)
        items = [
            (k, bytes(d)) for k, d in enumerate(blobs) if d is not None
        ]
        jpegs = [(k, d) for k, d in items if d[:2] == b"\xff\xd8"]
        for (k, _), px in zip(
            jpegs, jpeg_decode_batch([d for _, d in jpegs])
        ):
            out[k] = phash64_canonical(px)
        for k, d in items:
            if d[:2] != b"\xff\xd8":
                out[k] = phash64_canonical(decode_image(d))
        return pd.Series(out)

    return canonical_phash_from_bytes


def make_tile_phash_udf(grid: int = 3):
    """bytes -> ``array<long>`` of ``grid*grid`` per-tile pHashes
    (row-major over the tile grid, integer pixel boundaries
    ``i*h//grid``), Arrow-batched.

    The tile grid is the partial-edit-resistant complement to the whole-
    image pHash: a localized edit (watermark, logo, caption banner,
    border) rewrites ITS tiles' hashes and leaves the rest untouched, so
    downstream positional containment (``tile_dup_pairs``) can still bind
    the pair after the global hash has drifted past any usable Hamming
    radius.  Computed where the bytes live, like every digest — only the
    ``grid²``-long hash array rides any shuffle."""
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def tile_phash_from_bytes(blobs: pd.Series) -> pd.Series:
        out: list = []
        for d in blobs:
            if d is None:
                out.append(None)
                continue
            px = decode_image(bytes(d))
            h, w = px.shape
            hs = []
            for r in range(grid):
                for c in range(grid):
                    y0, y1 = r * h // grid, (r + 1) * h // grid
                    x0, x1 = c * w // grid, (c + 1) * w // grid
                    hs.append(phash64(px[y0:y1, x0:x1]))
            out.append(hs)
        return pd.Series(out)

    return tile_phash_from_bytes


def decode_stats_schema() -> str:
    return "image_id string, w int, h int, px_mean double, px_std double, psnr_db double"


def decode_stats(images_df: DataFrame) -> DataFrame:
    """mapInPandas decode pass: per-row pixel stats + PSNR of a lossy
    re-encode cycle (the input_hint invariant, checked distributed)."""

    def stats(batches):
        for pdf in batches:
            rows = {k: [] for k in
                    ("image_id", "w", "h", "px_mean", "px_std", "psnr_db")}
            for rid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                px = decode_image(bytes(data))
                re_enc = encode_image(px, fmt, quality=95)
                px2 = decode_image(re_enc)
                p = psnr(px, px2)
                rows["image_id"].append(rid)
                rows["w"].append(px.shape[1])
                rows["h"].append(px.shape[0])
                rows["px_mean"].append(float(px.mean()))
                rows["px_std"].append(float(px.std()))
                rows["psnr_db"].append(min(p, 999.0))
            yield pd.DataFrame(rows)

    return images_df.select("image_id", "bytes", "fmt").mapInPandas(
        stats, schema=decode_stats_schema()
    )
