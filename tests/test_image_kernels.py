"""The per-image kernels behind the image near-dup queries: VP8L bit I/O
and table-driven Huffman decoding (webp.py), the reduceat box-average
grid (operators/phash.py) and the fixture image synthesis
(queries/analytic.py). Each fast kernel is pinned to a bit-at-a-time or
per-box reference, and the fixture set to a golden digest."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest

from pmp_analytics_spark import webp
from pmp_analytics_spark.operators.phash import (
    _gray_grid,
    decode_pixels_bgr,
    dhash63_bgr,
    phash64_bgr,
)
from pmp_analytics_spark.queries.analytic import _phash_fixture_payload

# md5 over every fixture payload, its decoded rows, pHash and dHash, as
# produced by the bit-at-a-time codec and the per-box grid these kernels
# replaced
FIXTURE_DIGEST = "b1e3be9514d54d8f8818e7fd681b11e5"


def test_phash_fixture_golden_digest():
    md5 = hashlib.md5()
    for d in range(120):
        _codec, n, payload = _phash_fixture_payload(d)
        w, h, rows = decode_pixels_bgr(payload)
        assert (w, h) == (n, n)
        md5.update(payload)
        md5.update(b"".join(rows))
        md5.update(phash64_bgr(w, h, rows).to_bytes(8, "little"))
        md5.update(dhash63_bgr(w, h, rows).to_bytes(8, "little"))
    assert md5.hexdigest() == FIXTURE_DIGEST


def _gray_grid_per_box(width, height, rows, gh, gw):
    a = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(height, width, 3)
    a = a.astype(np.int64)
    gray = 77 * a[:, :, 2] + 150 * a[:, :, 1] + 29 * a[:, :, 0]
    yb = [(k * height) // gh for k in range(gh + 1)]
    xb = [(k * width) // gw for k in range(gw + 1)]
    g = np.empty((gh, gw), dtype=np.int64)
    for i in range(gh):
        for j in range(gw):
            box = gray[yb[i] : yb[i + 1], xb[j] : xb[j + 1]]
            g[i, j] = int(box.sum()) // box.size
    return g


@pytest.mark.parametrize(
    "width,height,gh,gw",
    [
        (33, 47, 32, 32),
        (97, 64, 32, 32),
        (47, 33, 32, 32),
        (32, 32, 32, 32),
        (100, 41, 32, 32),
        (9, 8, 8, 9),
        (33, 47, 8, 9),
        (97, 64, 8, 9),
    ],
)
def test_gray_grid_matches_per_box_loop(width, height, gh, gw):
    rng = np.random.default_rng(width * 1000 + height)
    px = rng.integers(0, 256, size=(height, width * 3), dtype=np.uint8)
    rows = [bytes(r) for r in px]
    got = _gray_grid(width, height, rows, gh, gw)
    assert got.dtype == np.int64
    assert np.array_equal(got, _gray_grid_per_box(width, height, rows, gh, gw))


class _TreeDecoder:
    """Bit-at-a-time reader plus canonical code tree walk: the
    reference the table decoder must match symbol for symbol and error
    for error."""

    def __init__(self, lengths):
        syms = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
        if not syms:
            raise ValueError("vp8l: empty huffman code")
        self.single = syms[0][1] if len(syms) == 1 else None
        self.tree = [None, None]
        code = prev = 0
        for length, sym in syms if self.single is None else ():
            code <<= length - prev
            prev = length
            node = self.tree
            for i in range(length - 1, -1, -1):
                b = (code >> i) & 1
                if i == 0:
                    if node[b] is not None:
                        raise ValueError("vp8l: over-subscribed code")
                    node[b] = sym
                else:
                    if node[b] is None:
                        node[b] = [None, None]
                    node = node[b]
                    if not isinstance(node, list):
                        raise ValueError("vp8l: over-subscribed code")
            code += 1

    def decode_all(self, bits, count):
        pos = 0
        out = []
        for _ in range(count):
            if self.single is not None:
                out.append(self.single)
                continue
            node = self.tree
            while isinstance(node, list):
                if pos >= len(bits):
                    raise ValueError("vp8l: bitstream truncated")
                node = node[bits[pos]]
                pos += 1
                if node is None:
                    raise ValueError("vp8l: invalid huffman bits")
            out.append(node)
        return out


def _outcome(fn):
    try:
        return fn()
    except ValueError as e:
        return str(e)


def test_huffman_table_matches_tree_walk():
    """Complete, incomplete and over-subscribed codes over random
    streams, short ones included: the same symbols, or the same
    ValueError (truncated / invalid bits / over-subscribed / empty)."""
    rng = random.Random(7)
    seen = set()
    for _ in range(400):
        alphabet = rng.choice([2, 5, 19, 40, 280])
        lengths = [0] * alphabet
        for s in rng.sample(range(alphabet), rng.randint(0, min(alphabet, 12))):
            lengths[s] = rng.randint(1, rng.choice([3, 7, 15]))
        nbits = rng.randint(0, 120)
        bits = [rng.getrandbits(1) for _ in range(nbits)]
        data = bytes(
            sum(b << i for i, b in enumerate(bits[k : k + 8]))
            for k in range(0, nbits, 8)
        )
        count = rng.randint(1, 30)
        # padding bits of the last byte are stream bits too
        ref_bits = [(data[k >> 3] >> (k & 7)) & 1 for k in range(8 * len(data))]

        def ref():
            return _TreeDecoder(lengths).decode_all(ref_bits, count)

        def table():
            code = webp._Huffman(lengths)
            br = webp._BitReader(data)
            return [code.decode(br) for _ in range(count)]

        want = _outcome(ref)
        assert _outcome(table) == want, (lengths, data, count)
        seen.add(want if isinstance(want, str) else "ok")
    assert seen >= {
        "ok",
        "vp8l: bitstream truncated",
        "vp8l: invalid huffman bits",
        "vp8l: over-subscribed code",
        "vp8l: empty huffman code",
    }


def test_bit_reader_reads_lsb_first_and_raises_when_truncated():
    br = webp._BitReader(bytes([0b10110100, 0xFF, 0x01]))
    assert [br.read(3), br.read(5), br.read(0), br.read(9), br.read(7)] == [
        0b100,
        0b10110,
        0,
        0x1FF,
        0,
    ]
    with pytest.raises(ValueError, match="vp8l: bitstream truncated"):
        br.read(1)


def test_truncated_vp8l_chunk_raises_truncated_at_every_cut():
    rng = random.Random(3)
    w, h = 13, 9
    argb = [0xFF000000 | rng.getrandbits(24) for _ in range(w * h)]
    for kw in ({}, {"use_lz77": True, "cache_bits": 4, "meta_split": True}):
        chunk = webp.vp8l_encode_argb(w, h, argb, **kw)
        assert webp.vp8l_decode_argb(chunk) == (w, h, argb)
        for cut in range(len(chunk)):
            with pytest.raises(ValueError, match="vp8l: bitstream truncated"):
                webp.vp8l_decode_argb(chunk[:cut])


def test_bit_writer_one_write_per_code_matches_per_bit_emission():
    """A canonical (MSB-first) code written bit by bit equals its
    bit-reversed form from ``_lsb_codes`` written at once."""
    rng = random.Random(11)
    lengths = webp._huffman_lengths({s: rng.randint(1, 500) for s in range(60)})
    codes = webp._lsb_codes(lengths)
    per_bit, whole = webp._BitWriter(), webp._BitWriter()
    code = prev = 0
    canonical = {}
    for length, sym in sorted((l, s) for s, l in enumerate(lengths) if l):
        code <<= length - prev
        prev = length
        canonical[sym] = (code, length)
        code += 1
    for sym in [rng.randrange(60) for _ in range(500)]:
        c, n = canonical[sym]
        for i in range(n - 1, -1, -1):
            per_bit.write((c >> i) & 1, 1)
        whole.write(*codes[sym])
    assert whole.finish() == per_bit.finish()
