"""Perceptual image hashing (pHash) and Hamming-LSH near-duplicate pairs.

The one duplicate class the text dedup stack cannot see: the SAME image
re-encoded (PNG <-> BMP <-> WebP-lossless <-> JPEG) or mildly perturbed
(brightness, sparse noise) — the dominant duplicate class in crawl data.
The classic pHash recipe (Zauner 2010, "Implementation and Benchmarking
of Perceptual Image Hash Functions"), re-expressed with EXACT integer
arithmetic so the whole pipeline — decode -> grayscale -> box-average
downsample -> 8x32 scaled-integer DCT -> median threshold -> 64-bit
hash — is deterministic and replayable bit-for-bit by a SQL oracle:

1. grayscale: ``77*R + 150*G + 29*B`` (the >>8 is dropped — the DCT and
   the median threshold are invariant under a positive uniform scale);
2. downsample to a 32x32 grid by integer box AVERAGE (``sum // count``,
   floor boundaries ``(k*n)//32``), so re-encodes of identical pixels
   hash identically regardless of codec;
3. forward DCT, but only the 8 lowest-frequency basis rows:
   ``F = C8 @ G @ C8.T`` with ``C8[u][x] = round(cos(pi*(2x+1)*u/64) *
   1024)`` — a scaled-INTEGER cosine table (exact int64 matmuls; max
   |F| ~ 7e13, far inside int64), mathematically identical to the full
   32x32 DCT cropped to its top-left 8x8 block;
4. drop the DC term (brightness invariance), take the LOWER MEDIAN of
   the remaining 63 coefficients (the 32nd smallest — no averaging
   division), emit bit k = 1 iff coefficient k > median, k in row-major
   (u,v) order. 63 bits -> always a non-negative int64.

Near-dup pairs reuse the SimHash Hamming-LSH shape
(``operators/dedup.py::simhash_pairs``) with one upgrade: 63 bits split
into 7 bands of 9 bits, so by pigeonhole ANY pair within Hamming
distance 6 shares at least one clean band — the banding is LOSSLESS for
the default threshold, not a recall trade. Candidates bucket-join on
(band_id, band_key) (one shuffle, never a corpus self-join) and verify
with JVM-side ``bit_count(xor)``.

100 TB posture: hashes are computed once per image in an Arrow
``mapInPandas`` pass. The hash is a fixed handful of numpy calls per
image (two ``reduceat`` passes for the grid, two int64 matmuls): about
0.2 ms for a 64x64 image on one core of a 4-vCPU VM. So the cost sits
in the stdlib decode: about 0.3 ms for a 64x64 PNG (zlib plus byte
slicing) but 6.6 ms for a 64x64 WebP-lossless one, whose pure-Python
VP8L decoder pays one table lookup per Huffman symbol, four symbols per
pixel (webp.py). The pair stage touches 64-bit signatures only
(8 bytes/image, not pixels), shuffles once on band keys, and the verify
join runs over the candidate set, never the corpus. Skewed bands (e.g.
flat images all hashing alike) are not capped: a cap would drop pairs
and break the lossless banding, so such a bucket pays its full pair
expansion.

Reference parity: the reference (jbgreenh/pmp-analytics) has no image
pipeline; this extends the north-star multimodal surface next to the
BMP/PNG/JPEG/GIF/WebP codecs (``multimodal.py``, ``jpeg.py``,
``webp.py``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PHASH_GRID = 32  # downsampled grid (classic pHash)
PHASH_LOWFREQ = 8  # low-frequency block kept
PHASH_BITS = PHASH_LOWFREQ * PHASH_LOWFREQ - 1  # 63: DC dropped
_DCT_SCALE = 1024  # keeps |F| < 2^47 for 16-bit grays — exact in int64

# C8[u][x] = round(cos(pi*(2x+1)*u/(2*32)) * 1024) — the first 8 rows of
# the 32-point DCT-II basis, scaled to integers. Computed once here and
# EMBEDDED as literals into the DuckDB oracle SQL (phash_oracle_cte), so
# both engines share the identical table by construction.
DCT8X32: list[list[int]] = [
    [
        int(round(math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_GRID)) * _DCT_SCALE))
        for x in range(PHASH_GRID)
    ]
    for u in range(PHASH_LOWFREQ)
]


def _gray_grid(width: int, height: int, rows: list[bytes], gh: int, gw: int):
    """The shared integer raster front half of BOTH detectors:
    packed-BGR rows -> grayscale 77R+150G+29B -> gh x gw integer
    box-average grid with floor boundaries (``(k*dim)//grid``) — ONE
    copy of the arithmetic the SQL oracles replay (_PHASH_GRAY_SQL), so
    the two hashes can never silently diverge from it.

    Box sums are two ``np.add.reduceat`` passes (rows into bands, then
    columns into boxes), floor-divided by the box sizes: a handful of
    numpy calls per image whatever the grid, exact in int64. The boxes
    are never empty, because both callers reject images smaller than
    their grid."""
    import numpy as np

    a = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(height, width, 3)
    a = a.astype(np.int64)
    gray = 77 * a[:, :, 2] + 150 * a[:, :, 1] + 29 * a[:, :, 0]  # BGR order
    yb = np.arange(gh + 1) * height // gh
    xb = np.arange(gw + 1) * width // gw
    sums = np.add.reduceat(np.add.reduceat(gray, yb[:-1], axis=0), xb[:-1], axis=1)
    return sums // (np.diff(yb)[:, None] * np.diff(xb)[None, :])


def phash64_bgr(width: int, height: int, rows: list[bytes]) -> int:
    """64-bit (63 used) perceptual hash of a decoded image in the stdlib
    codecs' ``(width, height, top-down packed-BGR rows)`` shape. Raises
    ValueError below 32x32 (nothing to downsample into the grid)."""
    import numpy as np

    n = PHASH_GRID
    if width < n or height < n:
        raise ValueError(f"phash64 needs >= {n}x{n} pixels, got {width}x{height}")
    g = _gray_grid(width, height, rows, n, n)
    c8 = np.asarray(DCT8X32, dtype=np.int64)
    f8 = c8 @ g @ c8.T  # exact: |F| <= (32*1024)^2 * 65280 / 1024 ~ 7e13
    vals = f8.ravel()[1:]  # row-major, DC dropped -> 63 coefficients
    med = np.sort(vals)[(PHASH_BITS - 1) // 2]  # lower median (32nd smallest)
    return _pack_bits(vals > med)


def _pack_bits(bits) -> int:
    """Bit k of the result is ``bits[k]``; at most 63 bits, so the hash
    is a non-negative int64."""
    import numpy as np

    return int((bits.astype(np.int64) << np.arange(len(bits), dtype=np.int64)).sum())


def decode_pixels_bgr(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode an image payload to the package's top-down packed-BGR row
    contract, NORMALIZING the one codec that returns RGB rows
    (``webp.webp_decode``) — without this swap, byte-identical pixels
    re-encoded PNG<->WebP would grayscale differently and the re-encoded
    duplicate would be invisible to the hash."""
    from pmp_analytics_spark.webp import webp_decode

    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        import numpy as np

        w, h, rgb_rows = webp_decode(payload)
        # vectorized channel swap (a per-pixel python generator here was
        # the dominant interpreter cost of the WebP ingest path)
        arr = np.frombuffer(b"".join(rgb_rows), dtype=np.uint8).reshape(h, w, 3)
        flipped = arr[:, :, ::-1].tobytes()
        stride = w * 3
        return w, h, [flipped[y * stride : (y + 1) * stride] for y in range(h)]
    from pmp_analytics_spark.jpeg import jpeg_decode
    from pmp_analytics_spark.multimodal import _bmp_decode, _gif_decode, _png_decode

    errs = []
    for codec in (_bmp_decode, _png_decode, jpeg_decode, _gif_decode):
        try:
            return codec(payload)
        except ValueError as e:
            errs.append(str(e))
    raise ValueError(f"no stdlib codec decodes this payload ({'; '.join(errs)})")


def phash_band_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bands: int = 7,
) -> DataFrame:
    """(id, band_id, band_key) Hamming-LSH rows for a pHash frame — the
    persistable BAND STORE (at 100 TB a table partitioned on (band_id,
    band_key), written once per image at its own ingest and maintained
    O(delta) under adds/removes; the CDC query pins maintained ==
    rebuilt). ``bands`` equal bit-slices; ceil(63/bands) bits each."""
    from pmp_analytics_spark.operators.dedup import _bit_band_rows

    bits_per_band = -(-PHASH_BITS // bands)  # ceil: 63/7 = 9
    return _bit_band_rows(sigs, id_col, hash_col, bands, bits_per_band)


def phash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    bands: int = 7,
) -> DataFrame:
    """Near-duplicate image pairs from a precomputed pHash frame:
    Hamming-LSH banding (``bands`` equal bit-slices of the 63-bit hash
    as bucket keys) -> bucket pair expansion -> exact
    ``bit_count(xor) <= max_hamming`` verify. With the defaults
    (7 bands x 9 bits, threshold 6 < 7) the banding is LOSSLESS by
    pigeonhole — every qualifying pair shares at least one unperturbed
    band — so the output equals the brute-force join's, at one shuffle
    on band keys instead of a corpus self-join.

    ``sigs`` is read three times (band rows and both verify sides), so
    callers pass a materialized frame: the declared queries pass the
    session's memoized fixture checkpoint."""
    from pmp_analytics_spark.operators.dedup import _bucket_pairs

    if max_hamming >= bands:
        raise ValueError(
            f"phash_pairs: max_hamming={max_hamming} needs > {max_hamming} "
            f"bands for lossless banding (got {bands})"
        )
    banded = phash_band_rows(sigs, id_col, hash_col, bands)
    cand = _bucket_pairs(banded, id_col, ["band_id", "band_key"])
    a = sigs.select(F.col(id_col).alias("id_a"), F.col(hash_col).alias("__h_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col(hash_col).alias("__h_b"))
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("hamming", F.bit_count(F.col("__h_a").bitwiseXOR(F.col("__h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


DHASH_GRID_H = 8  # rows
DHASH_GRID_W = 9  # cols: 8 horizontal comparisons per row


def dhash63_bgr(width: int, height: int, rows: list[bytes]) -> int:
    """63-bit difference hash (dHash): grayscale -> integer box-average
    to an 8x9 grid -> bit k = cell[i][j+1] > cell[i][j] (row-major,
    the 64th comparison dropped so the hash shares phash64_bgr's
    non-negative-63-bit contract and the SAME banding/pair machinery
    applies unchanged). The gradient-domain complement to the
    frequency-domain pHash: exactly invariant to uniform brightness
    shifts (both cells move together) and to any re-encode of identical
    pixels; coarser under smooth perturbation, cheaper to compute (no
    DCT). Same integer discipline — sums, floor boundaries, integer
    division — so a SQL oracle replays it exactly."""
    gh, gw = DHASH_GRID_H, DHASH_GRID_W
    if width < gw or height < gh:
        raise ValueError(f"dhash63 needs >= {gw}x{gh} pixels, got {width}x{height}")
    g = _gray_grid(width, height, rows, gh, gw)
    return _pack_bits((g[:, 1:] > g[:, :-1]).ravel()[:PHASH_BITS])
