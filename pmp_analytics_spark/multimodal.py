"""Multimodal column handling (extension surface, north star).

Media (image/audio/video) is modeled as an opaque ``binary`` payload
column plus a typed metadata struct — the layout a 100 TB training-data
pipeline uses (parquet binary columns with per-row metadata, processed by
Arrow-batched Python since media codecs are not JVM-side).

The Spark-side plumbing here is REAL and tested: payload schema, batch
iteration shape (``mapInPandas`` — one Arrow batch in, one out, never a
per-row Python hop), partitioning (``ensure_parallelism`` before the
Python stage), and deterministic byte-level features. Codecs are
three-tier: pillow/ffmpeg when installed (any format); a REAL
stdlib-only path for header+raster formats (uncompressed 24-bit BMP
decode/resize/re-encode, PCM WAV decode — ``_bmp_decode``/
``_bmp_resize``/``_wav_decode``, pure ``struct``) plus real
COMPRESSED formats — 8-bit RGB/RGBA PNG via stdlib zlib + scanline
unfiltering (``_png_decode``/``_png_encode``) and baseline-Huffman
JPEG via the from-the-spec DCT/Huffman codec in ``jpeg.py``
(``jpeg_decode``/``jpeg_encode``: 4:4:4/4:2:2/4:2:0, restart markers,
file-supplied tables, and PROGRESSIVE (SOF2) decode — spectral
selection + successive approximation, EOB runs, refinement scans);
and an honest ``NotImplementedError`` for the rest (arithmetic-coded
JPEG, MP3, ...) in codec-less environments. ``fake_frame_sample`` remains the deterministic
video-frame stand-in (no stdlib video container parser is worth hand-
rolling)."""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pmp_analytics_spark.operators.partitioning import ensure_parallelism

PAYLOAD_META_SCHEMA = StructType(
    [
        StructField("content_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("header_hex", StringType()),
        StructField("content_type", StringType()),
    ]
)


def attach_payload(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic fake media payload + metadata to each doc.

    Stands in for reading real media blobs (``spark.read.format
    ('binaryFile')`` or a parquet binary column at deployment): payload =
    utf-8 bytes of the text, metadata derived from byte length. Everything
    downstream (batching, feature extraction, dedup on payload hash) is
    the real pipeline.
    """
    n = F.octet_length(F.col(text_col)).cast("long")
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.when(F.col(id_col) % 2 == 0, F.lit("image/fake")).otherwise(F.lit("audio/fake")).alias(
                "content_type"
            ),
            (n % 640).cast("int").alias("width"),
            (n % 480).cast("int").alias("height"),
            n.alias("n_bytes"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Real codec paths, stdlib-only: uncompressed BMP (images) and PCM WAV
# (audio) are header+raster formats parseable with ``struct`` alone, so
# decode/resize/re-encode runs for real in codec-less containers.
# PNG adds a real compressed format on stdlib zlib (8-bit RGB/RGBA,
# non-interlaced, all five scanline filters), and baseline-Huffman JPEG
# decodes/encodes via the from-the-spec codec in ``jpeg.py`` (the format
# training corpora actually contain). Progressive JPEG / MP3 / ... still
# require pillow/ffmpeg and raise honestly when absent.
# ---------------------------------------------------------------------------


def _bmp_decode(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode an uncompressed 24-bit BMP (BITMAPINFOHEADER) to
    ``(width, height, rows)`` where ``rows[y]`` is the y-th row TOP-DOWN
    as packed BGR bytes (3*width). Raises ValueError on anything that is
    not a plain 24bpp/BI_RGB bottom-up-or-top-down BMP."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size, width, height_raw) = struct.unpack_from("<Iii", payload, 14)
    (planes, bpp) = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BI_RGB BMPs are stdlib-decodable")
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw
    if width <= 0 or height <= 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if pix_off + stride * height > len(payload):
        raise ValueError("truncated BMP pixel data")
    raw = [
        bytes(payload[pix_off + y * stride : pix_off + y * stride + width * 3])
        for y in range(height)
    ]
    rows = raw if top_down else raw[::-1]
    return width, height, rows


def _png_decode(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode an 8-bit non-interlaced truecolor PNG (color type 2 RGB or
    6 RGBA — alpha dropped) to the same ``(width, height, rows)`` shape
    as ``_bmp_decode`` (top-down packed BGR). PNG is a genuinely
    COMPRESSED format and still needs zero third-party code: the DEFLATE
    stream is stdlib ``zlib``; the per-scanline predictors (Sub/Up/
    Average/Paeth) are unfiltered here. Palette/gray/16-bit/interlaced
    variants raise ValueError (pillow's job where installed).

    The unfilter loop is per-byte Python — fine for the thumbnail-sized
    payloads this pipeline ships between Arrow batches; a pixel-heavy
    deployment installs pillow and never enters this path."""
    import struct
    import zlib

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = ctype = None
    # struct/zlib failures on truncated or corrupt chunks normalize to
    # ValueError so decode_image's honest-error contract holds for ANY
    # malformed payload, not just well-formed-but-unsupported ones.
    try:
        while pos + 8 <= len(payload):
            (length,) = struct.unpack_from(">I", payload, pos)
            tag = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length
            if tag == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or ctype not in (2, 6) or interlace != 0:
                    raise ValueError(
                        "only 8-bit non-interlaced RGB/RGBA PNGs are stdlib-decodable"
                    )
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
        if w is None or not idat or w <= 0 or h <= 0:
            raise ValueError("malformed PNG (missing IHDR/IDAT)")
        nch = 3 if ctype == 2 else 4
        stride = w * nch
        raw = zlib.decompress(idat)
    except (struct.error, zlib.error) as e:
        raise ValueError(f"corrupt PNG payload: {e}") from e
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG scanline payload length mismatch")

    rows: list[bytes] = []
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if f == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter type {f}")
        prev = line
        # RGB(A) -> packed BGR, matching the BMP decode contract
        bgr = bytearray(3 * w)
        bgr[0::3] = line[2::nch]
        bgr[1::3] = line[1::nch]
        bgr[2::3] = line[0::nch]
        rows.append(bytes(bgr))
    return w, h, rows


def _png_encode(width: int, height: int, rows: list[bytes]) -> bytes:
    """Encode top-down packed-BGR rows as an 8-bit RGB PNG (filter 0 on
    every scanline, one zlib stream) — the round-trip partner of
    ``_png_decode`` and a second real encoder next to ``_bmp_encode``."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    stride = width * 3
    bgr = b"".join(row[:stride] for row in rows)
    rgb = bytearray(len(bgr))
    rgb[0::3] = bgr[2::3]
    rgb[1::3] = bgr[1::3]
    rgb[2::3] = bgr[0::3]
    scan = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan, 6))
        + chunk(b"IEND", b"")
    )


def _bmp_encode(width: int, height: int, rows: list[bytes]) -> bytes:
    """Encode top-down BGR rows back to a bottom-up 24-bit BMP."""
    import struct

    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    pixels = b"".join(r + pad for r in rows[::-1])
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + pixels


def _nn_resize(
    w: int, h: int, rows: list[bytes], max_side: int
) -> tuple[int, int, list[bytes]]:
    """Nearest-neighbor downscale of top-down BGR rows (aspect-preserving,
    never upscales) — the shared raster core of every stdlib thumbnail."""
    scale = min(1.0, max_side / max(w, h))
    ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
    out_rows = []
    for oy in range(oh):
        src = rows[oy * h // oh]
        out_rows.append(
            b"".join(src[(ox * w // ow) * 3 : (ox * w // ow) * 3 + 3] for ox in range(ow))
        )
    return ow, oh, out_rows


def _bmp_resize(payload: bytes, max_side: int = 64) -> bytes:
    """Nearest-neighbor thumbnail of an uncompressed BMP, re-encoded as
    BMP — the full decode→resize→encode loop with zero third-party
    dependencies."""
    w, h, rows = _bmp_decode(payload)
    return _bmp_encode(*_nn_resize(w, h, rows, max_side))


def _stdlib_resize(payload: bytes, max_side: int = 64) -> bytes:
    """Format-preserving stdlib thumbnail: sniff BMP/PNG/JPEG by magic,
    decode → nearest-neighbor resize → re-encode in the SAME format (a
    thumbnail pipeline must not silently transcode its corpus).
    ValueError for payloads no stdlib codec reads."""
    from pmp_analytics_spark.jpeg import jpeg_decode, jpeg_encode

    if payload[:2] == b"BM":
        return _bmp_resize(payload, max_side)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_encode(*_nn_resize(*_png_decode(payload), max_side))
    if payload[:2] == b"\xff\xd8":
        return jpeg_encode(*_nn_resize(*jpeg_decode(payload), max_side))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return gif_encode(*_nn_resize(*_gif_decode(payload), max_side))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from pmp_analytics_spark.webp import webp_decode, webp_encode

        # re-encode keeps VP8L (lossless in, lossless out)
        return webp_encode(*_nn_resize(*webp_decode(payload), max_side))
    raise ValueError("no stdlib codec for this image format")


def _wav_decode(payload: bytes) -> dict:
    """Decode a PCM RIFF/WAV payload to
    ``{channels, sample_rate, bits, n_frames, samples}`` (``samples`` =
    interleaved ints for 8/16-bit PCM) by walking the RIFF chunks with
    ``struct`` — no wave-module file objects, no ffmpeg."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _, block_align, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError("only 8/16-bit PCM WAV is stdlib-decodable")
    n_frames = len(data) // block_align if block_align else 0
    if bits == 16:
        samples = list(struct.unpack(f"<{len(data) // 2}h", data[: (len(data) // 2) * 2]))
    else:
        samples = [b - 128 for b in data]  # 8-bit WAV is unsigned
    return {
        "channels": channels,
        "sample_rate": rate,
        "bits": bits,
        "n_frames": n_frames,
        "samples": samples,
    }


def _wav_encode(
    samples: list[int], channels: int = 1, sample_rate: int = 16_000, bits: int = 16
) -> bytes:
    """Encode interleaved PCM ints back to a RIFF/WAV payload — the
    round-trip partner of ``_wav_decode`` (8-bit samples are the decode
    contract's signed values, re-biased to unsigned on write)."""
    import struct

    if channels < 1 or len(samples) % channels:
        raise ValueError(
            f"{len(samples)} samples do not form whole frames of "
            f"{channels} channel(s)"
        )
    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    elif bits == 8:
        data = bytes((s + 128) & 0xFF for s in samples)
    else:
        raise ValueError("only 8/16-bit PCM WAV is stdlib-encodable")
    block_align = channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_image(payload: bytes) -> object:
    """Decode an image payload. Pillow when installed (any format);
    otherwise the stdlib BMP path (uncompressed 24-bit) — returns
    ``(width, height, rows)``. Compressed formats without pillow raise
    honestly."""
    try:  # pragma: no cover - pillow absent in this container
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload))
    except ImportError:
        pass
    from pmp_analytics_spark.jpeg import jpeg_decode
    from pmp_analytics_spark.webp import webp_decode

    errs = []
    for codec in (_bmp_decode, _png_decode, jpeg_decode, _gif_decode, webp_decode):
        try:
            return codec(payload)
        except ValueError as e:
            errs.append(str(e))
    raise NotImplementedError(
        "image decoding beyond uncompressed 24-bit BMP, 8-bit RGB/RGBA "
        "PNG, sequential/progressive Huffman JPEG, full-frame GIF, and "
        f"lossless WebP (VP8L) requires pillow ({'; '.join(errs)})"
    )


def decode_audio(payload: bytes) -> object:
    """Decode an audio payload. PCM WAV and FLAC decode stdlib-side
    (``_wav_decode`` / ``flac.flac_decode`` — same dict contract);
    psychoacoustic codecs (MP3, AAC, Vorbis) require a real DSP stack
    and raise honestly."""
    from pmp_analytics_spark.flac import flac_decode

    errs = []
    for codec in (_wav_decode, flac_decode):
        try:
            return codec(payload)
        except (ValueError, struct.error) as e:
            # struct.error: truncated RIFF/fmt chunks fail struct.unpack_from
            # before _wav_decode's own validation can reject them.
            errs.append(str(e))
    raise NotImplementedError(
        "audio decoding beyond PCM WAV and FLAC requires ffmpeg "
        f"({'; '.join(errs)})"
    )


def fake_frame_sample(payload: bytes, n_frames: int = 4) -> list[bytes]:
    """Deterministic stand-in for video frame sampling: n_frames equal
    byte-range slices of the payload (replace with real decoder output at
    deployment; keeps the downstream per-frame pipeline testable)."""
    if not payload:
        return []
    step = max(1, len(payload) // n_frames)
    return [payload[i * step : (i + 1) * step] for i in range(n_frames)]


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Resize an image payload (decode→resize→re-encode). Pillow when
    installed; the stdlib BMP path otherwise. The distributed shape is
    identical to extract_payload_features: mapInPandas batch in, batch
    out."""
    try:  # pragma: no cover - pillow absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        img.thumbnail((width, height))
        buf = io.BytesIO()
        img.save(buf, format=img.format or "PNG")
        return buf.getvalue()
    except ImportError:
        pass
    try:
        return _stdlib_resize(payload, max(width, height))
    except ValueError as e:
        raise NotImplementedError(
            f"image resize beyond BMP/PNG/JPEG requires pillow ({e})"
        ) from e


def _resize_backend():
    """Import-gated codec selection: pillow when the library exists;
    otherwise the stdlib path — a REAL decode→resize→re-encode for
    uncompressed BMP payloads, the deterministic byte-truncation fake
    for payloads no stdlib codec can read (keeps the distributed
    plumbing testable, and oracle-stable, in codec-less environments)."""
    try:  # pragma: no cover - pillow absent in this container
        from PIL import Image  # noqa: F401

        def real(payload: bytes, cap: int) -> bytes:
            import io

            img = Image.open(io.BytesIO(payload))
            img.thumbnail((64, 64))
            buf = io.BytesIO()
            img.save(buf, format=img.format or "PNG")
            return buf.getvalue()

        return real
    except ImportError:
        def stdlib_or_fake(payload: bytes, cap: int) -> bytes:
            if payload[:2] in (b"BM", b"\x89P", b"\xff\xd8") or payload[
                :6
            ] in (b"GIF87a", b"GIF89a") or (
                payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"
            ):
                try:
                    return _stdlib_resize(payload, 64)
                except ValueError:
                    pass
            return payload[:cap]

        return stdlib_or_fake


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("thumb_bytes", LongType()),
        StructField("thumb_md5", StringType()),
    ]
)


def resize_thumbnails(with_payload: DataFrame, cap_bytes: int = 256) -> DataFrame:
    """Distributed thumbnailing: mapInPandas batch in → per-doc thumbnail
    features out. The codec is import-gated (``_resize_backend``): pillow
    when present, the deterministic byte-truncation fake otherwise — the
    Spark-side shape (batching, schema, halved dimensions from the meta
    struct) is identical either way, so the pipeline is fully tested and
    oracle-checkable in this environment and swaps to real decoding with
    zero plan changes."""
    resize = _resize_backend()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            thumbs = [resize(bytes(p), cap_bytes) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_w": pdf["meta"].map(lambda m: m["width"] // 2).astype("int32"),
                    "out_h": pdf["meta"].map(lambda m: m["height"] // 2).astype("int32"),
                    "thumb_bytes": [len(t) for t in thumbs],
                    "thumb_md5": [hashlib.md5(t).hexdigest() for t in thumbs],
                }
            )

    return ensure_parallelism(with_payload).mapInPandas(batches, RESIZED_SCHEMA)


AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("offset", LongType()),
        StructField("n_bytes", LongType()),
        StructField("chunk_md5", StringType()),
    ]
)


def chunk_audio(
    with_payload: DataFrame, chunk_bytes: int = 400, stride: int = 300
) -> DataFrame:
    """Overlapping audio chunk windows (the ASR/feature-extraction
    pre-pass): one payload row in → ceil(n/stride) chunk rows out, each a
    ``chunk_bytes`` window at ``stride`` spacing (trailing partial window
    kept). Same mapInPandas fan-out shape as ``sample_frames``; a real
    pipeline decodes samples in the same loop. Purely map-side — a 100 TB
    audio corpus chunks with zero shuffles."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "chunk_idx": [], "offset": [], "n_bytes": [], "chunk_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                idx = 0
                for off in range(0, max(len(b), 1), stride):
                    chunk = b[off : off + chunk_bytes]
                    if not chunk:
                        break
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(idx)
                    out["offset"].append(off)
                    out["n_bytes"].append(len(chunk))
                    out["chunk_md5"].append(hashlib.md5(chunk).hexdigest())
                    idx += 1
            yield pd.DataFrame(out)

    return ensure_parallelism(with_payload).mapInPandas(batches, AUDIO_CHUNK_SCHEMA)



# ---------------------------------------------------------------------------
# MJPEG-in-AVI: the simplest REAL video container (RIFF 'AVI ' form,
# 'movi' LIST of '##dc' chunks, each a complete JPEG image for the
# MJPG codec) — so the per-frame pipeline (sample_frames) runs on real
# video fixtures with the existing from-the-spec JPEG decoder, the
# GIF/JPEG/WebP stdlib precedent extended to the video column. Public
# basis: the OpenDML/AVI RIFF form (Microsoft "AVI RIFF File
# Reference") and the motion-JPEG convention of one standalone JPEG
# per '##dc' chunk. Inter-frame codecs (H.264 & co.) reject honestly —
# motion compensation belongs to ffmpeg, not a stdlib walk.
# ---------------------------------------------------------------------------


def avi_mjpeg_frames(payload: bytes) -> list[bytes]:
    """Every video frame ('##dc'/'##db' chunk) in an AVI 'movi' list.
    ValueError when not an AVI; NotImplementedError when frames are not
    MJPEG (no stdlib decoder for inter-frame codecs)."""
    import struct as _struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    frames: list[bytes] = []

    def walk(data: bytes) -> None:
        pos = 0
        while pos + 8 <= len(data):
            tag = data[pos : pos + 4]
            (size,) = _struct.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + size]
            if tag == b"LIST" and len(body) >= 4:
                if body[:4] in (b"movi", b"hdrl", b"rec "):
                    walk(body[4:])
            elif tag[2:4] in (b"dc", b"db") and tag[:2].isdigit():
                frames.append(body)
            pos += 8 + size + (size & 1)

    walk(payload[12:])
    if not frames:
        raise ValueError("avi: no video frame chunks in 'movi'")
    for f in frames:
        if f[:2] != b"\xff\xd8":
            raise NotImplementedError(
                "avi: frame chunks are not MJPEG (no SOI marker) — "
                "inter-frame video codecs require ffmpeg"
            )
    return frames


def frame_sample(payload: bytes, n_frames: int = 4) -> list[bytes]:
    """Video frame sampling: REAL for MJPEG-in-AVI payloads (container
    walk + per-frame JPEG bytes, evenly strided down to ``n_frames``),
    the deterministic byte-range stand-in otherwise (keeps the
    downstream per-frame pipeline testable, and oracle-stable, for the
    text-byte fixtures)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        frames = avi_mjpeg_frames(payload)
        if len(frames) <= n_frames:
            return frames
        step = len(frames) / n_frames
        return [frames[int(i * step)] for i in range(n_frames)]
    return fake_frame_sample(payload, n_frames)


def avi_mjpeg_encode(
    width: int, height: int, jpeg_frames: list[bytes], fps: int = 10
) -> bytes:
    """Minimal-but-valid MJPEG AVI writer for fixtures: RIFF('AVI ')
    with hdrl (avih + one 'vids'/'MJPG' stream: strh + a
    BITMAPINFOHEADER strf), a movi LIST of '00dc' chunks, and an idx1
    index. Each input frame must be a standalone JPEG."""
    import struct as _struct

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return tag + _struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    n = len(jpeg_frames)
    maxb = max((len(f) for f in jpeg_frames), default=0)
    avih = _struct.pack(
        "<14I",
        1_000_000 // fps, maxb * fps, 0, 0x10, n, 0, 1, maxb,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + _struct.pack("<I2HI", 0, 0, 0, 0)
        + _struct.pack("<6I", 1, fps, 0, n, maxb, 0xFFFFFFFF)
        + _struct.pack("<I", 0)
        + _struct.pack("<4h", 0, 0, width, height)
    )
    strf = _struct.pack(
        "<I2i2H4s5I",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    movi = lst(b"movi", movi_body)
    idx = bytearray()
    off = 4  # offsets relative to the start of 'movi' list data
    for f in jpeg_frames:
        idx += b"00dc" + _struct.pack("<3I", 0x10, off, len(f))
        off += 8 + len(f) + (len(f) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + _struct.pack("<I", len(body)) + body

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(with_payload: DataFrame, n_frames: int = 4) -> DataFrame:
    """Per-frame fan-out: one payload row in → ``n_frames`` frame rows out,
    via ``mapInPandas`` (the Python-side set-returning shape). REAL
    frames for MJPEG-in-AVI payloads (``frame_sample`` walks the RIFF
    container and strides the '##dc' JPEG chunks); the deterministic
    byte-range stand-in for payloads with no stdlib video codec. Output
    rows carry per-frame byte features; empty payloads produce no rows.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i, frame in enumerate(frame_sample(bytes(payload), n_frames)):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return ensure_parallelism(with_payload).mapInPandas(batches, FRAME_SCHEMA)


def extract_payload_features(with_payload: DataFrame) -> DataFrame:
    """Byte-level features via ``mapInPandas`` — the real batch shape for
    media feature extraction (decode would slot into the same loop).

    Arrow hands each partition as an iterator of pandas batches; we emit
    one output batch per input batch — constant memory per task, no
    per-row Python calls, and the output schema is fixed/typed so the
    optimizer can prune downstream.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "header_hex": payloads.map(lambda b: b[:8].hex()),
                    "content_type": pdf["meta"].map(lambda m: m["content_type"]),
                }
            )

    return ensure_parallelism(with_payload).mapInPandas(batches, FEATURES_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("offset", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", DoubleType()),
        StructField("zcr", DoubleType()),
    ]
)

#: centering offset for byte-stream "samples": printable-ASCII payloads
#: sit in [32, 126], so 96 splits them into signed excursions the way a
#: DC-removal pass would — stated here once, replicated in the oracle.
AUDIO_CENTER = 96


def audio_chunk_features(
    with_payload: DataFrame, chunk_bytes: int = 400, stride: int = 300
) -> DataFrame:
    """Per-chunk signal features over the sample stream: RMS energy and
    zero-crossing rate on the same window/stride grid as ``chunk_audio``
    — the actual DSP pre-pass (VAD gating, silence trimming, energy
    normalization) an audio pipeline runs between decode and the model.
    Samples are the payload bytes centered at ``AUDIO_CENTER`` (a real
    deployment decodes PCM in the same loop — int16 instead of int8,
    identical math). numpy-vectorized inside Arrow batches, purely
    map-side; every number is integer-exact before the final division /
    sqrt, so the whole Python round-trip replays in SQL."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "chunk_idx": [], "offset": [],
                "n_samples": [], "rms": [], "zcr": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
                b = b - AUDIO_CENTER
                idx = 0
                for off in range(0, max(len(b), 1), stride):
                    s = b[off : off + chunk_bytes]
                    n = len(s)
                    if n == 0:
                        break
                    rms = float(np.sqrt(float((s * s).sum()) / n))
                    if n > 1:
                        sgn = np.sign(s)
                        zc = int(((sgn[1:] * sgn[:-1]) < 0).sum())
                        zcr = zc / (n - 1)
                    else:
                        zcr = 0.0
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(idx)
                    out["offset"].append(off)
                    out["n_samples"].append(n)
                    out["rms"].append(round(rms, 6))
                    out["zcr"].append(round(zcr, 6))
                    idx += 1
            yield pd.DataFrame(out)

    return ensure_parallelism(with_payload).mapInPandas(batches, AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# GIF (stdlib): LZW-compressed palette images — the fourth stdlib image
# codec next to BMP / PNG / JPEG. Real web-crawl corpora carry GIFs;
# decoding one needs nothing beyond the LZW algorithm (Welch 1984, the
# GIF87a variable-code-width variant). First frame only; partial-canvas
# frames (animation deltas) raise honestly — pillow's job where
# installed.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(data: bytes, min_code: int, expect: int) -> list[int]:
    """GIF-variant LZW: LSB-first variable-width codes, CLEAR/END codes,
    code width grows when the dictionary fills the current width, capped
    at 12 bits."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    dict_: dict[int, tuple[int, ...]] = {i: (i,) for i in range(clear)}
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits and len(out) < expect:
        byte = bitpos // 8
        shift = bitpos % 8
        chunk = int.from_bytes(data[byte : byte + 3], "little")
        code = (chunk >> shift) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            width = min_code + 1
            dict_ = {i: (i,) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code not in dict_:
                raise ValueError("corrupt GIF LZW stream (bad first code)")
            entry = dict_[code]
        elif code in dict_:
            entry = dict_[code]
            dict_[next_code] = prev + (entry[0],)
            next_code += 1
        elif code == next_code:
            entry = prev + (prev[0],)
            dict_[next_code] = entry
            next_code += 1
        else:
            raise ValueError("corrupt GIF LZW stream (code gap)")
        out.extend(entry)
        prev = entry
        if next_code == (1 << width) and width < 12:
            width += 1
    if len(out) < expect:
        raise ValueError("truncated GIF LZW stream")
    return out[:expect]


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(height: int) -> list[int]:
    return [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, height, step)]


def _gif_decode(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Decode the FIRST frame of a GIF87a/89a to the shared
    ``(width, height, rows)`` shape (top-down packed BGR, like
    ``_bmp_decode``). Handles global/local color tables, interlacing,
    and extension blocks (skipped — a transparent index renders as its
    palette color). Frames that do not cover the full canvas (animation
    deltas) raise ValueError."""
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, packed = struct.unpack_from("<HHB", payload, 6)
    if w <= 0 or h <= 0:
        raise ValueError("degenerate GIF dimensions")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 7) + 1)
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x21:  # extension block: label byte + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            lct = None
            if ipacked & 0x80:
                n = 2 ** ((ipacked & 7) + 1)
                lct = payload[pos : pos + 3 * n]
                pos += 3 * n
            if (left, top, iw, ih) != (0, 0, w, h):
                raise ValueError(
                    "partial-canvas GIF frames (animation deltas) require pillow"
                )
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            pal = lct if lct is not None else gct
            if pal is None:
                raise ValueError("GIF image without a color table")
            idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
            if max(idx) * 3 + 2 >= len(pal):
                raise ValueError("GIF pixel index outside the color table")
            order = (
                _gif_interlace_order(h) if ipacked & 0x40 else list(range(h))
            )
            rows: list[bytes | None] = [None] * h
            for r, y in enumerate(order):
                line = idx[r * w : (r + 1) * w]
                # palette is RGB; the shared row convention is BGR
                rows[y] = bytes(
                    c for i in line for c in (pal[3 * i + 2], pal[3 * i + 1], pal[3 * i])
                )
            return w, h, rows  # type: ignore[return-value]
        elif b0 == 0x3B:
            break
        else:
            raise ValueError("corrupt GIF block stream")
    raise ValueError("GIF contains no image data")


def gif_encode(
    w: int, h: int, rows: list[bytes], interlaced: bool = False
) -> bytes:
    """Fixture-grade GIF87a encoder: palette built from the distinct BGR
    colors (<= 256), pixels emitted as LITERAL LZW codes with the code
    width tracking the decoder's dictionary-growth schedule and a CLEAR
    issued before the 12-bit dictionary fills — spec-valid output, zero
    compression (the decoder under test must handle real encoders'
    compressed streams; this writer exists to make test vectors)."""
    import struct

    cmap: dict[bytes, int] = {}
    pixels: list[int] = []
    for row in rows:
        if len(row) != 3 * w:
            raise ValueError("row byte length must be 3*width")
        for x in range(w):
            c = bytes(row[3 * x : 3 * x + 3])
            if c not in cmap:
                cmap[c] = len(cmap)
            pixels.append(cmap[c])
    if len(cmap) > 256:
        raise ValueError("gif_encode: more than 256 distinct colors")
    min_code = max(2, (max(1, len(cmap) - 1)).bit_length())
    table_bits = min_code  # 2^(bits) entries >= palette size, >= 4
    pal = bytearray()
    for c in cmap:  # insertion order == index order; BGR -> RGB
        pal += bytes((c[2], c[1], c[0]))
    pal += b"\x00" * (3 * (1 << table_bits) - len(pal))

    if interlaced:
        order = _gif_interlace_order(h)
        pixels = [
            pixels[y * w + x] for y in order for x in range(w)
        ]

    clear = 1 << min_code
    end = clear + 1
    out_bits = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code + 1
    put(clear, width)
    next_code = end + 1
    fresh = True
    for p in pixels:
        put(p, width)
        if fresh:
            fresh = False  # decoder adds no entry for the first code
        else:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
            elif next_code >= 4094:
                put(clear, width)
                width = min_code + 1
                next_code = end + 1
                fresh = True
    put(end, width)
    if nbits:
        out_bits.append(acc & 0xFF)

    hdr = b"GIF87a" + struct.pack(
        "<HHBBB", w, h, 0x80 | (table_bits - 1), 0, 0
    )
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0)
    body = bytearray(hdr + bytes(pal) + img)
    body.append(min_code)
    for i in range(0, len(out_bits), 255):
        chunk = out_bits[i : i + 255]
        body.append(len(chunk))
        body += chunk
    body += b"\x00\x3b"
    return bytes(body)
