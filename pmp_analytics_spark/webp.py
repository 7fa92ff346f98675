"""Stdlib WebP-lossless (VP8L) codec — decoder + fixture-grade encoder.

Published basis: the public "WebP Lossless Bitstream Specification"
(Google, webp/doc/webp-lossless-bitstream-spec; Alakuijala & Koivisto),
the same role the GIF/LZW and JPEG modules play for their formats: a
pure-stdlib implementation so the multimodal pipeline exercises a REAL
web-crawl image format in this container (no Pillow, no libwebp).

Decoder scope — the full VP8L feature set:

- RIFF walk (``WEBP`` form; ``VP8L`` chunk; honest reject for lossy
  ``VP8 `` — VP8 intra prediction + boolean arithmetic coding is a
  codec of a different magnitude, and pretending otherwise would be
  padding);
- LSB-first bit reading, 14-bit dimensions header;
- all four transforms, inverted in reverse read order: predictor (all
  14 modes, libwebp border semantics: first row L, first column T,
  right-edge TR wraps linearly), color (signed 3.5 fixed-point
  deltas), subtract-green, color-indexing (delta-coded palette and
  sub-byte pixel bundling for palettes <= 16);
- per-stream optional color cache (the 0x1e35a7bd multiplicative
  hash), recursive sub-resolution image streams, level-0 meta-Huffman
  (entropy image selecting among Huffman groups per block);
- canonical Huffman codes: simple (1-2 symbol) and normal form via
  the 19-symbol code-length code in spec order, including 16/17/18
  repeats and the max_symbol short-circuit; a 1-symbol code reads
  ZERO bits per decode, per spec;
- LZ77 backward references with the 24 length/distance prefix codes
  and the 120-entry 2D distance neighborhood map.

Encoder scope (fixtures + round-trip tests, not a compressor): literal
coding with real canonical Huffman codes (histogram -> length-limited
canonical code -> code-length-code emission), optional subtract-green,
optional whole-image predictor transform (any mode, shared predictor
functions with the decoder), optional greedy LZ77 over repeated rows /
runs (exercising both mapped and linear distance codes), optional
color cache. Internal round-trip is the correctness pin — encoder and
decoder share no state except the published format.
"""

from __future__ import annotations

import struct
from collections import Counter

# ---------------------------------------------------------------------------
# bit io — LSB-first within each byte (the VP8L convention)
#
# Both directions move whole codes, not bits. The reader keeps the next
# unread bits in one integer accumulator, refilled 8 bytes at a time, so
# a read of n bits is one mask and one shift; a Huffman symbol is one
# table lookup on the next ``max_len`` bits plus one shift by the
# symbol's code length. The writer appends each Huffman code with one
# ``write`` of its bit-reversed form (canonical codes are MSB-first, the
# stream is LSB-first), precomputed once per table by ``_lsb_codes``.
# ---------------------------------------------------------------------------


class _BitReader:
    """``acc`` holds the next ``nbits`` unread bits, lowest bit first.
    Past the end of the data the accumulator reads as zeros, so a
    Huffman lookup may peek beyond it; consuming a bit the stream does
    not hold raises ``vp8l: bitstream truncated``."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def fill(self) -> None:
        chunk = self.data[self.pos : self.pos + 8]
        self.acc |= int.from_bytes(chunk, "little") << self.nbits
        self.nbits += 8 * len(chunk)
        self.pos += len(chunk)

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("vp8l: bitstream truncated")
            self.fill()
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        if self.nbits >= 64:
            self.out += (self.acc & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
            self.acc >>= 64
            self.nbits -= 64

    def finish(self) -> bytes:
        self.out += self.acc.to_bytes((self.nbits + 7) >> 3, "little")
        self.acc = 0
        self.nbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical huffman
# ---------------------------------------------------------------------------

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _reverse_bits(code: int, length: int) -> int:
    return int(f"{code:0{length}b}"[::-1], 2) if length else 0


class _Huffman:
    """Canonical Huffman decoder as a flat lookup table (DEFLATE code
    assignment: within a length, codes ascend in symbol order; the
    first-read bit is the code's most significant).

    ``table`` is indexed by the next ``bits`` (= max code length) stream
    bits, LSB-first; each entry packs ``symbol << 4 | code_length``, so
    a decode consumes exactly the code's own bits. Patterns no code
    covers (an incomplete code) hold -1. Past the end of the data the
    lookup sees zero bits, which never turn a -1 into a symbol: an
    unused pattern leaves the code space on a 1 bit, and a 1 bit is
    real data. So truncation and invalid bits raise the same errors as
    a bit-by-bit tree walk. A single-symbol code is a one-entry table of
    length 0: it decodes with ZERO bits read, per the VP8L spec."""

    __slots__ = ("table", "bits", "mask")

    def __init__(self, lengths: list[int]):
        syms = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
        if not syms:
            raise ValueError("vp8l: empty huffman code")
        if len(syms) == 1:
            self.table = [syms[0][1] << 4]
            self.bits = self.mask = 0
            return
        bits = syms[-1][0]
        table = [-1] * (1 << bits)
        code = 0
        prev_len = 0
        for length, sym in syms:
            code <<= length - prev_len
            prev_len = length
            if code >> length:
                raise ValueError("vp8l: over-subscribed code")
            table[_reverse_bits(code, length) :: 1 << length] = [
                sym << 4 | length
            ] * (1 << (bits - length))
            code += 1
        self.table = table
        self.bits = bits
        self.mask = (1 << bits) - 1

    def decode(self, br: _BitReader) -> int:
        if br.nbits < self.bits:
            br.fill()
        e = self.table[br.acc & self.mask]
        if e < 0:
            raise ValueError("vp8l: invalid huffman bits")
        n = e & 15
        if n > br.nbits:
            raise ValueError("vp8l: bitstream truncated")
        br.acc >>= n
        br.nbits -= n
        return e >> 4


def _lsb_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (bit-reversed canonical code, length): the encoder side,
    ready for one LSB-first ``_BitWriter.write`` per symbol."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for length, sym in sorted(
        (l, s) for s, l in enumerate(lengths) if l > 0
    ):
        code <<= length - prev_len
        prev_len = length
        out[sym] = (_reverse_bits(code, length), length)
        code += 1
    return out


def _huffman_lengths(hist: dict[int, int], max_len: int = 15) -> list[int]:
    """Code lengths from a histogram — plain heap Huffman with a flat
    fallback if the depth limit is exceeded (fixture-grade; a real
    compressor would package-merge)."""
    import heapq

    alphabet = max(hist) + 1
    items = [(c, s) for s, c in hist.items() if c > 0]
    lengths = [0] * alphabet
    if not items:
        return lengths
    if len(items) == 1:
        lengths[items[0][1]] = 1
        return lengths
    heap = [(c, [s]) for c, s in items]
    heapq.heapify(heap)
    depth: dict[int, int] = {s: 0 for _, s in items}
    while len(heap) > 1:
        ca, sa = heapq.heappop(heap)
        cb, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (ca + cb, sa + sb))
    if max(depth.values()) > max_len:
        flat = max(1, (len(items) - 1)).bit_length()
        for _, s in items:
            lengths[s] = flat
        return lengths
    for s, d in depth.items():
        lengths[s] = d
    return lengths


# ---------------------------------------------------------------------------
# prefix (length/distance) coding — shared by lengths and distances
# ---------------------------------------------------------------------------


def _prefix_decode(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix_code, extra_bits_value, extra_bits_count)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    return 2 * (v.bit_length() - 1) + ((v >> extra) & 1), v - offset, extra


# the 120-entry 2D distance neighborhood (spec order: nearest first)
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _plane_code_to_distance(width: int, code: int) -> int:
    if code > 120:
        return code - 120
    x, y = _DIST_MAP[code - 1]
    d = y * width + x
    return d if d >= 1 else 1


def _distance_to_plane_code(width: int, dist: int) -> int:
    for i, (x, y) in enumerate(_DIST_MAP):
        d = y * width + x
        if d == dist and d >= 1:
            return i + 1
    return dist + 120


# ---------------------------------------------------------------------------
# predictor + color transform primitives (shared encoder/decoder)
# ---------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((((a & 0xFF) + (b & 0xFF)) >> 1))
    )


def _select(t: int, l: int, tl: int) -> int:
    pa = 0
    pb = 0
    for sh in (24, 16, 8, 0):
        tc = (t >> sh) & 0xFF
        lc = (l >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        p = tc + lc - tlc
        pa += abs(p - tc)
        pb += abs(p - lc)
    return t if pa <= pb else l


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(a: int, b: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= _clamp(((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)) << sh
    return out


def _cas_half(ave: int, c: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        cc = (c >> sh) & 0xFF
        out |= _clamp(a + int((a - cc) / 2)) << sh
    return out


def _predict(mode: int, buf: list[int], pos: int, x: int, y: int, w: int) -> int:
    """The 14 spec predictors over the linear ARGB buffer, libwebp
    border semantics (TR at the right edge wraps to buf[pos - w + 1])."""
    if x == 0 and y == 0:
        return 0xFF000000
    if y == 0:
        return buf[pos - 1]  # first row: L
    if x == 0:
        return buf[pos - w]  # first column: T
    L = buf[pos - 1]
    T = buf[pos - w]
    TL = buf[pos - w - 1]
    TR = buf[pos - w + 1]
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:
        return _select(T, L, TL)
    if mode == 12:
        return _cas_full(L, T, TL)
    if mode == 13:
        return _cas_half(_avg2(L, T), TL)
    raise ValueError(f"vp8l: predictor mode {mode} out of range")


def _add_pixels(pred: int, residual: int) -> int:
    return (
        (((pred >> 24) + (residual >> 24)) & 0xFF) << 24
        | ((((pred >> 16) & 0xFF) + ((residual >> 16) & 0xFF)) & 0xFF) << 16
        | ((((pred >> 8) & 0xFF) + ((residual >> 8) & 0xFF)) & 0xFF) << 8
        | (((pred & 0xFF) + (residual & 0xFF)) & 0xFF)
    )


def _sub_pixels(pix: int, pred: int) -> int:
    return (
        (((pix >> 24) - (pred >> 24)) & 0xFF) << 24
        | ((((pix >> 16) & 0xFF) - ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((pix >> 8) & 0xFF) - ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((pix & 0xFF) - (pred & 0xFF)) & 0xFF)
    )


def _ct_delta(t: int, c: int) -> int:
    # signed 3.5 fixed-point: int8(t) * int8(c) >> 5
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


# ---------------------------------------------------------------------------
# color cache
# ---------------------------------------------------------------------------


class _ColorCache:
    __slots__ = ("bits", "slots")

    def __init__(self, bits: int):
        self.bits = bits
        self.slots = [0] * (1 << bits)

    def insert(self, argb: int) -> None:
        self.slots[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - self.bits)] = argb

    def index(self, argb: int) -> int:
        return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - self.bits)

    def lookup(self, idx: int) -> int:
        return self.slots[idx]


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> _Huffman:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8 = br.read(1)
        sym0 = br.read(8 if first_8 else 1)
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            lengths[sym0] = 1
            h = _Huffman(lengths)
            return h
        sym1 = br.read(8)
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _Huffman(lengths)
    # normal: code-length code first
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_huff = _Huffman(cl_lengths)
    lengths = [0] * alphabet_size
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    symbol = 0
    prev_len = 8
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl_huff.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s != 0:
                prev_len = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    break
                lengths[symbol] = prev_len
                symbol += 1
        elif s == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    return _Huffman(lengths)


def _decode_image_stream(
    br: _BitReader, w: int, h: int, is_level0: bool
) -> tuple[list[int], list]:
    """One VP8L image stream -> (ARGB pixel list, transforms-read) —
    recursive for sub-resolution images (transform data, entropy
    image), which are level>0 streams."""
    transforms: list = []
    if is_level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # predictor / color
                size_bits = br.read(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (h + (1 << size_bits) - 1) >> size_bits
                sub, _ = _decode_image_stream(br, bw, bh, False)
                transforms.append((ttype, size_bits, sub))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None))
            else:  # color indexing
                pal_size = br.read(8) + 1
                pal_img, _ = _decode_image_stream(br, pal_size, 1, False)
                # delta-coded palette
                palette = []
                prev = 0
                for p in pal_img:
                    prev = _add_pixels(prev, p)
                    palette.append(prev)
                transforms.append((3, pal_size, palette))
                if pal_size <= 2:
                    wb = 3
                elif pal_size <= 4:
                    wb = 2
                elif pal_size <= 16:
                    wb = 1
                else:
                    wb = 0
                if wb:
                    w = (w + (1 << wb) - 1) >> wb
                transforms[-1] = (3, (pal_size, wb), palette)

    cache = None
    cache_size = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color cache bits")
        cache = _ColorCache(cache_bits)
        cache_size = 1 << cache_bits

    num_htrees = 1
    entropy_img = None
    entropy_bits = 0
    if is_level0 and br.read(1):  # meta huffman
        entropy_bits = br.read(3) + 2
        ew = (w + (1 << entropy_bits) - 1) >> entropy_bits
        eh = (h + (1 << entropy_bits) - 1) >> entropy_bits
        eimg, _ = _decode_image_stream(br, ew, eh, False)
        entropy_img = ((eimg, ew))
        num_htrees = max(((p >> 8) & 0xFFFF) for p in eimg) + 1

    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(num_htrees):
        groups.append(
            (
                _read_huffman_code(br, green_size),
                _read_huffman_code(br, 256),
                _read_huffman_code(br, 256),
                _read_huffman_code(br, 256),
                _read_huffman_code(br, 40),
            )
        )

    n = w * h
    buf: list[int] = []
    append = buf.append
    pos = 0
    decoders = [tuple(code.decode for code in g) for g in groups]
    green, red, blue, alpha, dist_d = decoders[0]
    while pos < n:
        if entropy_img is not None:
            eimg, ew = entropy_img
            x = pos % w
            y = pos // w
            meta = eimg[(y >> entropy_bits) * ew + (x >> entropy_bits)]
            green, red, blue, alpha, dist_d = decoders[(meta >> 8) & 0xFFFF]
        sym = green(br)
        if sym < 256:
            r = red(br)
            b = blue(br)
            pix = (alpha(br) << 24) | (r << 16) | (sym << 8) | b
            append(pix)
            if cache:
                cache.insert(pix)
            pos += 1
        elif sym < 280:
            length = _prefix_decode(sym - 256, br)
            dist = _plane_code_to_distance(w, _prefix_decode(dist_d(br), br))
            if dist > pos:
                raise ValueError("vp8l: backward reference before start")
            for _ in range(length):
                pix = buf[pos - dist]
                append(pix)
                if cache:
                    cache.insert(pix)
                pos += 1
                if pos >= n:
                    break
        else:
            if cache is None:
                raise ValueError("vp8l: cache code without color cache")
            pix = cache.lookup(sym - 280)
            append(pix)
            pos += 1
    return buf, transforms


def _apply_inverse_transforms(
    buf: list[int], transforms: list, w: int, h: int
) -> tuple[list[int], int]:
    """Inverse transforms in REVERSE read order; returns (pixels, width)
    (color-indexing bundling changes the decoded width)."""
    types = [t[0] for t in transforms]
    if 3 in types and (0 in types or 1 in types):
        # the packed (bundled) width under color-indexing conflicts with
        # the pixel-geometry transforms' coordinate math below; legal per
        # spec but not produced by mainstream encoders — reject honestly
        # rather than decode wrong pixels
        raise ValueError(
            "vp8l: color-indexing combined with predictor/color transform "
            "is out of scope"
        )
    for t in reversed(transforms):
        ttype = t[0]
        if ttype == 2:  # add green
            for i, p in enumerate(buf):
                g = (p >> 8) & 0xFF
                r = (((p >> 16) & 0xFF) + g) & 0xFF
                b = ((p & 0xFF) + g) & 0xFF
                buf[i] = (p & 0xFF00FF00) | (r << 16) | b
        elif ttype == 0:  # predictor
            size_bits, sub = t[1], t[2]
            bw = (w + (1 << size_bits) - 1) >> size_bits
            out: list[int] = []
            for pos, res in enumerate(buf):
                x = pos % w
                y = pos // w
                mode = (sub[(y >> size_bits) * bw + (x >> size_bits)] >> 8) & 0xFF
                out.append(_add_pixels(_predict(mode, out, pos, x, y, w), res))
            buf = out
        elif ttype == 1:  # color transform (inverse)
            size_bits, sub = t[1], t[2]
            bw = (w + (1 << size_bits) - 1) >> size_bits
            for pos, p in enumerate(buf):
                x = pos % w
                y = pos // w
                cx = sub[(y >> size_bits) * bw + (x >> size_bits)]
                g2r = (cx >> 16) & 0xFF
                g2b = (cx >> 8) & 0xFF
                r2b = cx & 0xFF
                g = (p >> 8) & 0xFF
                r = (((p >> 16) & 0xFF) + _ct_delta(g2r, g)) & 0xFF
                b = ((p & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
                buf[pos] = (p & 0xFF00FF00) | (r << 16) | b
        else:  # color indexing
            (pal_size, wb), palette = t[1], t[2]
            if wb == 0:
                for i, p in enumerate(buf):
                    idx = (p >> 8) & 0xFF
                    buf[i] = palette[idx] if idx < pal_size else 0
            else:
                bpp = 8 >> wb
                mask = (1 << bpp) - 1
                packed_w = (w + (1 << wb) - 1) >> wb
                out = []
                for y in range(h):
                    row = buf[y * packed_w : (y + 1) * packed_w]
                    for x in range(w):
                        g = (row[x >> wb] >> 8) & 0xFF
                        idx = (g >> (bpp * (x & ((1 << wb) - 1)))) & mask
                        out.append(palette[idx] if idx < pal_size else 0)
                buf = out
    return buf, w


def vp8l_decode_argb(chunk: bytes) -> tuple[int, int, list[int]]:
    """Decode a raw VP8L chunk payload -> (width, height, ARGB ints)."""
    br = _BitReader(chunk)
    if br.read(8) != 0x2F:
        raise ValueError("vp8l: bad signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: unsupported version")
    # color-indexing with bundling shrinks the coded width — recompute
    buf, transforms = _decode_image_stream(br, w, h, True)
    buf, _ = _apply_inverse_transforms(buf, transforms, w, h)
    if len(buf) != w * h:
        raise ValueError("vp8l: pixel count mismatch")
    return w, h, buf


def webp_decode(payload: bytes) -> tuple[int, int, list[bytes]]:
    """RIFF walk + VP8L decode -> (width, height, RGB rows) — the
    (w, h, rows) convention the other stdlib codecs use. Lossy VP8 and
    extended VP8X-without-VP8L reject honestly."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    pos = 12
    vp8l = None
    saw_lossy = False
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            vp8l = body
            break
        if tag == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)
    if vp8l is None:
        if saw_lossy:
            raise ValueError(
                "webp: lossy VP8 payload — VP8 intra prediction + boolean "
                "arithmetic coding is out of stdlib scope; only VP8L "
                "(lossless) decodes here"
            )
        raise ValueError("webp: no VP8L chunk")
    w, h, argb = vp8l_decode_argb(vp8l)
    bgra = struct.pack(f"<{w * h}I", *argb)
    rgb = bytearray(3 * w * h)
    rgb[0::3] = bgra[2::4]
    rgb[1::3] = bgra[1::4]
    rgb[2::3] = bgra[0::4]
    stride = 3 * w
    return w, h, [bytes(rgb[y * stride : (y + 1) * stride]) for y in range(h)]


# ---------------------------------------------------------------------------
# encoder (fixture-grade)
# ---------------------------------------------------------------------------


def _write_huffman_code(bw: _BitWriter, lengths: list[int]) -> dict:
    """Emit a code in normal or simple form; returns symbol->(code,len)."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if used[0] < 2 and len(used) == 1:
            bw.write(0, 1)  # 1-bit first symbol
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.write(0, 1)  # normal
    # run-length the code-length stream with the spec's 16/17/18 repeat
    # symbols (17/18 = zero runs, 16 = repeat previous non-zero) so the
    # decoder's repeat paths are exercised by every round-trip
    runs: list[tuple[int, int]] = []
    i = 0
    prev_nz = 8
    while i < len(lengths):
        l = lengths[i]
        j = i
        while j < len(lengths) and lengths[j] == l:
            j += 1
        cnt = j - i
        if l == 0:
            while cnt >= 11:
                take = min(cnt, 138)
                runs.append((18, take))
                cnt -= take
            while cnt >= 3:
                take = min(cnt, 10)
                runs.append((17, take))
                cnt -= take
            runs.extend((0, 1) for _ in range(cnt))
        else:
            runs.append((l, 1))
            cnt -= 1
            prev_nz = l
            while cnt >= 3:
                take = min(cnt, 6)
                runs.append((16, take))
                cnt -= take
            runs.extend((l, 1) for _ in range(cnt))
        i = j
    cl_hist: dict[int, int] = {}
    for sym, _cnt in runs:
        cl_hist[sym] = cl_hist.get(sym, 0) + 1
    cl_lengths = _huffman_lengths(cl_hist, max_len=7)
    cl_lengths += [0] * (19 - len(cl_lengths))
    bw.write(19 - 4, 4)
    for i in range(19):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    cl_codes = _lsb_codes(cl_lengths)
    bw.write(0, 1)  # no max_symbol
    for sym, cnt in runs:
        bw.write(*cl_codes[sym])
        if sym == 16:
            bw.write(cnt - 3, 2)
        elif sym == 17:
            bw.write(cnt - 3, 3)
        elif sym == 18:
            bw.write(cnt - 11, 7)
    return _lsb_codes(lengths)


def _channel_hists(argb: list[int]) -> tuple[Counter, Counter, Counter, Counter]:
    """(green, red, blue, alpha) value histograms of ARGB pixels, counted
    over the packed little-endian bytes (B, G, R, A per pixel)."""
    bgra = struct.pack(f"<{len(argb)}I", *argb)
    return (
        Counter(bgra[1::4]),
        Counter(bgra[2::4]),
        Counter(bgra[0::4]),
        Counter(bgra[3::4]),
    )


def vp8l_encode_argb(
    w: int,
    h: int,
    argb: list[int],
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    use_lz77: bool = False,
    cache_bits: int = 0,
    palette: bool = False,
    color_params: tuple[int, int, int] | None = None,
    meta_split: bool = False,
) -> bytes:
    """Encode ARGB pixels as a VP8L chunk. Not a compressor — a
    conforming bitstream writer exercising the decoder's real paths:
    normal canonical Huffman codes, optional subtract-green, optional
    whole-image predictor transform (any of the 14 modes), optional
    greedy LZ77 (previous-pixel / previous-row matches — both mapped
    distance codes), optional color cache."""
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version

    pix = list(argb)
    if palette:
        if predictor_mode is not None or color_params is not None:
            raise ValueError(
                "fixture encoder: palette mode excludes pixel-geometry "
                "transforms (mirrors the decoder's scope guard)"
            )
        colors = sorted(set(pix))
        if len(colors) > 256:
            raise ValueError("fixture encoder: >256 colors for palette mode")
        index = {c: i for i, c in enumerate(colors)}
        pal_size = len(colors)
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(pal_size - 1, 8)
        deltas = []
        prev = 0
        for c in colors:
            deltas.append(_sub_pixels(c, prev))
            prev = c
        _encode_sub_image(bw, pal_size, 1, deltas)
        if pal_size <= 2:
            wb = 3
        elif pal_size <= 4:
            wb = 2
        elif pal_size <= 16:
            wb = 1
        else:
            wb = 0
        if wb:
            bpp = 8 >> wb
            packed_w = (w + (1 << wb) - 1) >> wb
            packed = []
            for y in range(h):
                for bx in range(packed_w):
                    g = 0
                    for i in range(1 << wb):
                        x = (bx << wb) + i
                        if x < w:
                            g |= index[pix[y * w + x]] << (bpp * i)
                    packed.append(0xFF000000 | (g << 8))
            pix = packed
            w = packed_w
        else:
            pix = [0xFF000000 | (index[p] << 8) for p in pix]
    if color_params is not None:
        g2r, g2b, r2b = color_params
        size_bits = 9
        if w > (1 << size_bits) or h > (1 << size_bits):
            raise ValueError("fixture encoder: image too large for one block")
        bw.write(1, 1)
        bw.write(1, 2)  # color transform
        bw.write(size_bits - 2, 3)
        _encode_sub_image(
            bw, 1, 1, [0xFF000000 | (g2r << 16) | (g2b << 8) | r2b]
        )
        for i, p in enumerate(pix):
            g = (p >> 8) & 0xFF
            r0 = (p >> 16) & 0xFF  # the decoder reconstructs THIS red
            # before it computes the blue delta, so forward blue must
            # subtract d(r2b, original_red), not d(r2b, coded_red)
            r = (r0 - _ct_delta(g2r, g)) & 0xFF
            b = ((p & 0xFF) - _ct_delta(g2b, g) - _ct_delta(r2b, r0)) & 0xFF
            pix[i] = (p & 0xFF00FF00) | (r << 16) | b
    if predictor_mode is not None:
        # one block covering the whole image: size_bits = 9
        size_bits = 9
        if w > (1 << size_bits) or h > (1 << size_bits):
            raise ValueError("fixture encoder: image too large for one block")
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(size_bits - 2, 3)
        _encode_sub_image(bw, 1, 1, [0xFF000000 | (predictor_mode << 8)])
        res = []
        out: list[int] = []
        for pos, p in enumerate(pix):
            x = pos % w
            y = pos // w
            pred = _predict(predictor_mode, out, pos, x, y, w)
            res.append(_sub_pixels(p, pred))
            out.append(p)
        pix = res
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        for i, p in enumerate(pix):
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            pix[i] = (p & 0xFF00FF00) | (r << 16) | b
    bw.write(0, 1)  # end of transforms

    cache = None
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
        cache = _ColorCache(cache_bits)
    else:
        bw.write(0, 1)
    ebits = 2
    if meta_split:
        # two Huffman groups split at the image's horizontal midpoint:
        # a real meta-Huffman (entropy image + per-group codes), the
        # decoder path mainstream encoders use for spatially varying
        # statistics
        bw.write(1, 1)
        ew = (w + (1 << ebits) - 1) >> ebits
        eh = (h + (1 << ebits) - 1) >> ebits
        bw.write(ebits - 2, 3)
        eimg = [
            0xFF000000 | ((1 if (bx << ebits) >= w // 2 else 0) << 8)
            for _by in range(eh)
            for bx in range(ew)
        ]
        _encode_sub_image(bw, ew, eh, eimg)
        # the spec derives the group-code count from the entropy image
        # (max referenced index + 1) — on narrow images the midpoint
        # split references only group 0, and writing an unreferenced
        # second group's codes desyncs the decoder (caught by the
        # hypothesis round-trip: 2x1 + meta_split)
        ngroups = max(((p >> 8) & 0xFFFF) for p in eimg) + 1
    else:
        bw.write(0, 1)  # no meta huffman
        ngroups = 1

    # tokenize: literals / cache hits / LZ77 refs, each tagged with the
    # Huffman group of the position where it starts. Literal pixels are
    # histogrammed afterwards in bulk; the few non-literal symbols are
    # counted as they are made.
    split = w // 2
    tokens: list[tuple] = []
    lits: list[list[int]] = [[] for _ in range(ngroups)]
    nonlit_g: list[Counter] = [Counter() for _ in range(ngroups)]
    dist_hist: list[Counter] = [Counter() for _ in range(ngroups)]
    pos = 0
    n = len(pix)
    while pos < n:
        grp = 1 if meta_split and ((pos % w) >> ebits << ebits) >= split else 0
        if use_lz77 and pos >= 1:
            # greedy: previous pixel run, else previous row run
            best_d = 0
            best_l = 0
            for d in (1, w):
                if d > pos:
                    continue
                ln = 0
                while pos + ln < n and ln < 4096 and pix[pos + ln - d] == pix[pos + ln]:
                    ln += 1
                if ln > best_l:
                    best_l, best_d = ln, d
            if best_l >= 3:
                lc, lv, ln = _prefix_encode(best_l)
                dc, dv, dn = _prefix_encode(_distance_to_plane_code(w, best_d))
                tokens.append(("ref", 256 + lc, lv, ln, dc, dv, dn, grp))
                nonlit_g[grp][256 + lc] += 1
                dist_hist[grp][dc] += 1
                if cache:
                    for i in range(best_l):
                        cache.insert(pix[pos + i])
                pos += best_l
                continue
        p = pix[pos]
        if cache is not None:
            idx = cache.index(p)
            if cache.lookup(idx) == p and pos > 0:
                tokens.append(("cache", 280 + idx, grp))
                nonlit_g[grp][280 + idx] += 1
                cache.insert(p)
                pos += 1
                continue
            cache.insert(p)
        tokens.append(("lit", p, grp))
        lits[grp].append(p)
        pos += 1

    cache_size = (1 << cache_bits) if cache_bits else 0
    group_codes = []
    for grp in range(ngroups):
        ghist, rhist, bhist, ahist = _channel_hists(lits[grp])
        ghist.update(nonlit_g[grp])
        per = []
        for hist, size in (
            (ghist, 256 + 24 + cache_size),
            (rhist, 256),
            (bhist, 256),
            (ahist, 256),
            (dist_hist[grp], 40),
        ):
            ln = _huffman_lengths(hist or {0: 1})
            ln += [0] * (size - len(ln))
            per.append(_write_huffman_code(bw, ln))
        group_codes.append(per)

    write = bw.write
    for t in tokens:
        gcodes, rcodes, bcodes, acodes, dcodes = group_codes[t[-1]]
        if t[0] == "lit":
            # green, red, blue, alpha codes (<= 60 bits) in one write
            p = t[1]
            cg, ng = gcodes[(p >> 8) & 0xFF]
            cr, nr = rcodes[(p >> 16) & 0xFF]
            cb, nb = bcodes[p & 0xFF]
            ca, na = acodes[p >> 24]
            write(cg | (cr | (cb | ca << nb) << nr) << ng, ng + nr + nb + na)
        elif t[0] == "ref":
            _, lsym, lv, ln, dc, dv, dn, _ = t
            write(*gcodes[lsym])
            write(lv, ln)
            write(*dcodes[dc])
            write(dv, dn)
        else:
            write(*gcodes[t[1]])
    return bw.finish()


def _encode_sub_image(bw: _BitWriter, w: int, h: int, argb: list[int]) -> None:
    """Level>0 stream (transform data): no transforms, no cache, no
    meta huffman — literal-only with simple/normal codes."""
    bw.write(0, 1)  # no color cache
    codes = []
    for hist, size in zip(_channel_hists(argb), (256 + 24, 256, 256, 256)):
        ln = _huffman_lengths(hist)
        ln += [0] * (size - len(ln))
        codes.append(_write_huffman_code(bw, ln))
    _write_huffman_code(bw, [1] + [0] * 39)  # distance code: unused
    gcodes, rcodes, bcodes, acodes = codes
    for p in argb:
        bw.write(*gcodes[(p >> 8) & 0xFF])
        bw.write(*rcodes[(p >> 16) & 0xFF])
        bw.write(*bcodes[p & 0xFF])
        bw.write(*acodes[p >> 24])


def webp_encode(
    width: int,
    height: int,
    rows: list[bytes],
    **kwargs,
) -> bytes:
    """RGB rows -> RIFF/WEBP container with a VP8L chunk (alpha 0xFF).
    kwargs forward to ``vp8l_encode_argb`` (subtract_green,
    predictor_mode, use_lz77, cache_bits)."""
    rgb = b"".join(bytes(rows[y][: 3 * width]) for y in range(height))
    bgra = bytearray(b"\xff" * (4 * width * height))
    bgra[0::4] = rgb[2::3]
    bgra[1::4] = rgb[1::3]
    bgra[2::4] = rgb[0::3]
    argb = list(struct.unpack(f"<{width * height}I", bgra))
    chunk = vp8l_encode_argb(width, height, argb, **kwargs)
    if len(chunk) & 1:
        padded = chunk + b"\x00"
    else:
        padded = chunk
    body = b"WEBP" + b"VP8L" + struct.pack("<I", len(chunk)) + padded
    return b"RIFF" + struct.pack("<I", len(body)) + body
