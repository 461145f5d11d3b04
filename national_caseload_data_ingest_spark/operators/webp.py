"""WEBP lossless (VP8L) codec — pure stdlib/numpy, no codec libraries.

Closes the LAST line of ``decode_image``'s PIL gate: with this module
every still-image format the engine claims is decoded natively (PNG,
GIF, BMP, TIFF, JPEG baseline+progressive, WEBP-lossless), and ANIMATED
WEBP (VP8X + ANIM + ANMF) decodes with full per-frame compositing
(src-over alpha blend / overwrite, dispose-to-transparent).  Lossy WEBP
KEY frames (VP8 intra: boolean arithmetic coder + DCT + loop filter)
decode natively via ``operators/vp8.py`` since round 10 — still images
and ANMF frames alike; inter-coded VP8 raises an honest
``NotImplementedError`` that ``codec_gate_report`` routes to a codec
host per the SCALING.md video policy.

Format reference: the public WebP Lossless Bitstream Specification
(RFC 9649 / Google "webp-lossless-bitstream-spec"), structure:

- RIFF container: ``RIFF <size> WEBP`` + a ``VP8L`` chunk.
- VP8L stream: 0x2F signature; 14-bit width-1/height-1; LSB-first bit
  packing throughout.
- Up to four TRANSFORMS (predictor, cross-color, subtract-green,
  palette), applied inverse-in-reverse-order after entropy decode.
- Entropy image: optional color cache, optional meta prefix-code
  groups, five canonical prefix codes per group (green+length+cache,
  red, blue, alpha, distance), LZ77 backward references with the
  2-D short-distance neighborhood mapping for codes 1..120.

The 120-entry short-distance table is GENERATED from the spec's
ordering rule (sort the 16×8 neighborhood by squared distance, then
larger dy first, then positive dx before negative) and asserted against
the spec's published table prefix in ``tests/test_webp.py`` — the
encoder here emits short codes through the same table, so
encode→decode roundtrips exercise it end to end.

The encoder exists to PROVE the decoder (the same strategy as the
progressive-JPEG pair in ``multimodal.py``): it emits spec-compliant
streams — literal and LZ77 modes, simple and code-length-coded prefix
codes, optional subtract-green / predictor transforms, optional color
cache — and every mode roundtrips bit-exactly in the tests.
"""

from __future__ import annotations

WEBP_RIFF = b"RIFF"
WEBP_FOURCC = b"WEBP"


# ---------------------------------------------------------------------------
# LSB-first bit IO (VP8L convention — opposite of JPEG/TIFF)
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("vp8l: bitstream exhausted")
            bit = (self.data[byte] >> (self.pos & 7)) & 1
            v |= bit << i
            self.pos += 1
        return v

    def read_bit(self) -> int:
        return self.read(1)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# Canonical prefix codes (DEFLATE-style: shorter codes first, then symbol
# order; code bits read MSB-first into the accumulator)
# ---------------------------------------------------------------------------


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for the canonical code of ``lengths``."""
    code = 0
    out: dict[int, tuple[int, int]] = {}
    for bits in range(1, 16):
        for sym in sorted(s for s, l in lengths.items() if l == bits):
            out[sym] = (code, bits)
            code += 1
        code <<= 1
    return out


class _PrefixDecoder:
    """Bit-at-a-time canonical decoder (alphabets here are ≤ 280 and the
    streams are test-scale; a LUT decoder is the production upgrade)."""

    __slots__ = ("map", "single")

    def __init__(self, lengths: dict[int, int]):
        used = {s: l for s, l in lengths.items() if l > 0}
        if len(used) == 1:
            # degenerate code: one symbol, zero bits per occurrence
            self.single = next(iter(used))
            self.map = None
            return
        self.single = None
        self.map = {
            (l, code): sym for sym, (code, l) in _canonical_codes(used).items()
        }

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.read_bit()
            sym = self.map.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid prefix code in stream")


def _build_huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Length-limited Huffman code lengths from symbol frequencies.

    Plain heapq Huffman, then clamp to ``max_len`` and repair the Kraft
    sum by extending the shallowest leaves — adequate for the
    test-scale alphabets this encoder serves."""
    import heapq  # noqa: PLC0415
    import itertools  # noqa: PLC0415

    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise ValueError("huffman: empty alphabet")
    if len(syms) == 1:
        return {syms[0]: 1}
    counter = itertools.count()
    heap = [(freqs[s], next(counter), (s,)) for s in syms]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    while len(heap) > 1:
        fa, _, a = heapq.heappop(heap)
        fb, _, b = heapq.heappop(heap)
        for s in a + b:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, next(counter), a + b))
    lengths = {s: min(d, max_len) for s, d in depth.items()}
    # repair Kraft sum K = sum 2^-l to exactly 1
    kraft = sum(1 << (max_len - l) for l in lengths.values())
    full = 1 << max_len
    while kraft > full:  # over-subscribed after clamping: deepen shallow
        s = min((s for s in lengths if lengths[s] < max_len),
                key=lambda s: lengths[s])
        kraft -= 1 << (max_len - lengths[s] - 1)
        lengths[s] += 1
    while kraft < full:  # incomplete: shorten the deepest leaf
        # Exact by construction: every kraft term is a multiple of the
        # deepest leaf's contribution g = 2^(max_len - l_max), and so
        # is `full`, hence g divides (full - kraft) and g <= deficit —
        # each step closes the gap without overshooting.  l_max == 1
        # with a deficit is impossible (two length-1 leaves already sum
        # to full), so the decrement never reaches length 0.
        s = max(lengths, key=lambda s: (lengths[s], s))
        if lengths[s] <= 1:  # defensive: cannot happen (see above)
            raise AssertionError("huffman: deficit with all leaves at depth 1")
        kraft += 1 << (max_len - lengths[s])
        lengths[s] -= 1
    if kraft != full:
        raise AssertionError("huffman: Kraft sum not exactly 1 after repair")
    return lengths


# ---------------------------------------------------------------------------
# Short-distance neighborhood map (codes 1..120)
# ---------------------------------------------------------------------------


def _distance_map() -> list[tuple[int, int]]:
    """The spec's 120-entry (dx, dy) table, generated by its ordering
    rule: the dy ∈ [0, 7], dx ∈ [-7, 8] neighborhood minus the
    non-causal dy=0, dx≤0 half-row, sorted by squared distance, then
    LARGER dy first, then smaller |dx| first, then positive dx before
    negative.  The first 16 entries are asserted against the published
    table in tests."""
    cells = []
    for dy in range(8):
        for dx in range(-7, 9):
            if dy == 0 and dx <= 0:
                continue
            cells.append((dx, dy))
    cells.sort(key=lambda c: (c[0] * c[0] + c[1] * c[1], -c[1], abs(c[0]),
                              -(c[0] > 0)))
    return cells[:120]


_DIST_MAP = _distance_map()


def _plane_code_to_distance(width: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * width - dx)


# ---------------------------------------------------------------------------
# Prefix-coded value helpers (lengths and distances share the scheme)
# ---------------------------------------------------------------------------


def _prefix_encode_value(v: int) -> tuple[int, int, int]:
    """value (≥1) -> (prefix_symbol, extra_bits_value, extra_bits_count)."""
    if v <= 4:
        return v - 1, 0, 0
    bits = (v - 1).bit_length() - 1
    low = (v - 1) - (1 << bits)
    sym = 2 * bits + ((low >> (bits - 1)) & 1)
    extra = low & ((1 << (bits - 1)) - 1)
    return sym, extra, bits - 1


def _prefix_decode_value(sym: int, br: _BitReader) -> int:
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


NUM_LITERAL = 256
NUM_LENGTH = 24
NUM_DISTANCE = 40
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _read_prefix_lengths(br: _BitReader, alphabet_size: int) -> dict[int, int]:
    """One prefix code: 'simple' (1-2 symbols, spec 5.2.1) or
    code-length-coded (DEFLATE-style with 16/17/18 repeats and the
    optional max_symbol cap)."""
    if br.read_bit():  # simple
        num_symbols = br.read(1) + 1
        if br.read_bit():  # first symbol is 8-bit
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = {sym0: 1}
        if num_symbols == 2:
            lengths[br.read(8)] = 1
        return lengths
    num_cl = 4 + br.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_cl):
        l = br.read(3)
        if l:
            cl_lengths[_CL_ORDER[i]] = l
    cl_dec = _PrefixDecoder(cl_lengths)
    if br.read_bit():  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = {}
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code = cl_dec.decode(br)
        if code < 16:
            if code:
                lengths[sym] = code
                prev_len = code
            sym += 1
        elif code == 16:
            for _ in range(3 + br.read(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev_len
                sym += 1
        elif code == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return lengths


def _read_code_group(br: _BitReader, cache_bits: int):
    green_alpha = NUM_LITERAL + NUM_LENGTH + ((1 << cache_bits) if cache_bits else 0)
    return (
        _PrefixDecoder(_read_prefix_lengths(br, green_alpha)),
        _PrefixDecoder(_read_prefix_lengths(br, NUM_LITERAL)),  # red
        _PrefixDecoder(_read_prefix_lengths(br, NUM_LITERAL)),  # blue
        _PrefixDecoder(_read_prefix_lengths(br, NUM_LITERAL)),  # alpha
        _PrefixDecoder(_read_prefix_lengths(br, NUM_DISTANCE)),
    )


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image_stream(br: _BitReader, w: int, h: int, is_level0: bool):
    """Entropy-coded image stream (spec 5): returns (pixels int64 array
    of length w*h in ARGB, transforms list).  ``w`` may shrink via the
    palette transform's pixel packing; the RETURNED width after packing
    rides with the transform record."""
    import numpy as np  # noqa: PLC0415

    transforms = []
    cur_w = w
    if is_level0:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            if ttype in (0, 1):  # predictor / cross-color
                size_bits = 3 + br.read(3)
                tw = _subsample_size(cur_w, size_bits)
                th = _subsample_size(h, size_bits)
                timg, _ = _decode_image_stream(br, tw, th, False)
                transforms.append((ttype, cur_w, size_bits, timg))
            elif ttype == 2:  # subtract green
                transforms.append((2, cur_w))
            else:  # palette
                n = br.read(8) + 1
                pimg, _ = _decode_image_stream(br, n, 1, False)
                # delta-decode per CHANNEL modulo 256
                pal = np.zeros(n, dtype=np.int64)
                prev = 0
                for i in range(n):
                    p = int(pimg[i])
                    a = ((p >> 24) + (prev >> 24)) & 0xFF
                    r = (((p >> 16) & 0xFF) + ((prev >> 16) & 0xFF)) & 0xFF
                    g = (((p >> 8) & 0xFF) + ((prev >> 8) & 0xFF)) & 0xFF
                    b = ((p & 0xFF) + (prev & 0xFF)) & 0xFF
                    prev = (a << 24) | (r << 16) | (g << 8) | b
                    pal[i] = prev
                if n > 16:
                    width_bits = 0
                elif n > 4:
                    width_bits = 1
                elif n > 2:
                    width_bits = 2
                else:
                    width_bits = 3
                transforms.append((3, cur_w, width_bits, pal))
                cur_w = _subsample_size(cur_w, width_bits)
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise ValueError(f"vp8l: invalid color cache bits {cache_bits}")
    meta_img = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = 3 + br.read(3)
        mw = _subsample_size(cur_w, meta_bits)
        mh = _subsample_size(h, meta_bits)
        meta_img, _ = _decode_image_stream(br, mw, mh, False)
        n_groups = int(max((int(p) >> 8) & 0xFFFF for p in meta_img)) + 1
    groups = [_read_code_group(br, cache_bits) for _ in range(n_groups)]

    n = cur_w * h
    out = np.zeros(n, dtype=np.int64)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0
    pos = 0
    mw = _subsample_size(cur_w, meta_bits) if meta_img is not None else 0

    def group_at(p):
        if meta_img is None:
            return groups[0]
        y, x = divmod(p, cur_w)
        gp = int(meta_img[(y >> meta_bits) * mw + (x >> meta_bits)])
        return groups[(gp >> 8) & 0xFFFF]

    def emit(pixel):
        nonlocal pos
        out[pos] = pixel
        pos += 1
        if cache is not None:
            cache[((0x1E35A7BD * pixel) & 0xFFFFFFFF) >> cache_shift] = pixel

    while pos < n:
        g = group_at(pos)
        sym = g[0].decode(br)
        if sym < NUM_LITERAL:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            emit((alpha << 24) | (red << 16) | (sym << 8) | blue)
        elif sym < NUM_LITERAL + NUM_LENGTH:
            length = _prefix_decode_value(sym - NUM_LITERAL, br)
            dcode = _prefix_decode_value(g[4].decode(br), br)
            dist = _plane_code_to_distance(cur_w, dcode)
            if dist > pos:
                raise ValueError("vp8l: backward reference before start")
            for _ in range(length):
                if pos >= n:
                    break
                emit(int(out[pos - dist]))
        else:
            emit(cache[sym - NUM_LITERAL - NUM_LENGTH])
    return out, transforms


def _apply_inverse_transforms(pixels, w: int, h: int, transforms):
    """Apply transform inverses in REVERSE read order (spec 4)."""
    import numpy as np  # noqa: PLC0415

    for t in reversed(transforms):
        ttype = t[0]
        if ttype == 3:  # palette: unpack indices then map
            _t, full_w, width_bits, pal = t
            packed_w = _subsample_size(full_w, width_bits)
            px = pixels.reshape(h, packed_w)
            idx = np.zeros((h, full_w), dtype=np.int64)
            per = 1 << width_bits
            bits = 8 >> width_bits
            for sub in range(per):
                cols = np.arange(sub, full_w, per)
                src = (px[:, (cols - sub) // per] >> 8) & 0xFF
                idx[:, cols] = (src >> (sub * bits)) & ((1 << bits) - 1)
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("vp8l: palette index out of range")
            pixels = pal[idx.reshape(-1)]
        elif ttype == 2:  # subtract green inverse
            g = (pixels >> 8) & 0xFF
            r = (((pixels >> 16) & 0xFF) + g) & 0xFF
            b = ((pixels & 0xFF) + g) & 0xFF
            pixels = (
                (pixels & ~np.int64(0x00FF00FF)) | (r << 16) | b
            )
        elif ttype == 1:  # cross-color inverse
            _t, full_w, size_bits, timg = t
            tw = _subsample_size(full_w, size_bits)
            px = pixels.reshape(h, full_w)
            out = np.zeros_like(px)
            for y in range(h):
                trow = timg[(y >> size_bits) * tw :]
                for x in range(full_w):
                    te = int(trow[x >> size_bits])
                    g2r = _int8(te & 0xFF)
                    g2b = _int8((te >> 8) & 0xFF)
                    r2b = _int8((te >> 16) & 0xFF)
                    p = int(px[y, x])
                    a = (p >> 24) & 0xFF
                    r = (p >> 16) & 0xFF
                    gch = (p >> 8) & 0xFF
                    b = p & 0xFF
                    r = (r + ((g2r * _int8(gch)) >> 5)) & 0xFF
                    b = (b + ((g2b * _int8(gch)) >> 5)) & 0xFF
                    b = (b + ((r2b * _int8(r)) >> 5)) & 0xFF
                    out[y, x] = (a << 24) | (r << 16) | (gch << 8) | b
            pixels = out.reshape(-1)
        elif ttype == 0:  # predictor inverse
            _t, full_w, size_bits, timg = t
            tw = _subsample_size(full_w, size_bits)
            px = pixels.reshape(h, full_w).copy()
            for y in range(h):
                for x in range(full_w):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(px[0, x - 1])  # left
                    elif x == 0:
                        pred = int(px[y - 1, 0])  # top
                    else:
                        mode = (
                            int(timg[(y >> size_bits) * tw + (x >> size_bits)])
                            >> 8
                        ) & 0xFF
                        left = int(px[y, x - 1])
                        top = int(px[y - 1, x])
                        tl = int(px[y - 1, x - 1])
                        # TR in the 1-D scan-order array is
                        # argb[pos − w + 1]; for the last column that
                        # index lands on the FIRST pixel of the CURRENT
                        # row (already reconstructed) — the spec's wrap.
                        tr = (
                            int(px[y - 1, x + 1])
                            if x + 1 < full_w
                            else int(px[y, 0])
                        )
                        pred = _predict(mode, left, top, tl, tr)
                    p = int(px[y, x])
                    a = ((p >> 24) + (pred >> 24)) & 0xFF
                    r = (((p >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF
                    g = (((p >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF
                    b = ((p & 0xFF) + (pred & 0xFF)) & 0xFF
                    px[y, x] = (a << 24) | (r << 16) | (g << 8) | b
            pixels = px.reshape(-1)
    return pixels


def _int8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) // 2) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) // 2) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) // 2) << 8
        | ((a & 0xFF) + (b & 0xFF)) // 2
    )


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select
        pa_minus_pb = 0
        for shift in (24, 16, 8, 0):
            t_c = (top >> shift) & 0xFF
            l_c = (left >> shift) & 0xFF
            tl_c = (tl >> shift) & 0xFF
            pa_minus_pb += abs(l_c - tl_c) - abs(t_c - tl_c)
        return top if pa_minus_pb <= 0 else left
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for shift in (24, 16, 8, 0):
            v = ((left >> shift) & 0xFF) + ((top >> shift) & 0xFF) - (
                (tl >> shift) & 0xFF
            )
            out |= max(0, min(255, v)) << shift
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(left, top)
        out = 0
        for shift in (24, 16, 8, 0):
            a = (ave >> shift) & 0xFF
            b = (tl >> shift) & 0xFF
            d = a - b
            # C `(a - b) / 2` truncates TOWARD ZERO (libwebp
            # AddSubtractComponentHalf); Python // floors, so the
            # negative branch needs (d + 1) // 2: d=-4 → -2 (not -3),
            # d=-5 → -2, d=-1 → 0.
            v = a + ((d + 1) // 2 if d < 0 else d // 2)
            out |= max(0, min(255, v)) << shift
        return out
    raise ValueError(f"vp8l: invalid predictor mode {mode}")


def _decode_vp8l(vp8l: bytes):
    """Bare VP8L bitstream → ``(w, h, rgba uint8 (h, w, 4),
    alpha_hint)`` — shared by the still decoder and the per-ANMF frame
    decode of the animation path."""
    import numpy as np  # noqa: PLC0415

    if vp8l[0] != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    br = _BitReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    alpha_hint = br.read_bit()
    version = br.read(3)
    if version != 0:
        raise ValueError(f"vp8l: unsupported version {version}")
    pixels, transforms = _decode_image_stream(br, w, h, True)
    pixels = _apply_inverse_transforms(pixels, w, h, transforms)
    a = ((pixels >> 24) & 0xFF).astype(np.uint8).reshape(h, w)
    r = ((pixels >> 16) & 0xFF).astype(np.uint8).reshape(h, w)
    g = ((pixels >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    b = (pixels & 0xFF).astype(np.uint8).reshape(h, w)
    return w, h, np.stack([r, g, b, a], axis=-1), alpha_hint


def _decode_alpha(body: bytes, w: int, h: int):
    """ALPH chunk body → uint8 alpha plane ``(h, w)`` (RFC 9649 §4.5).

    Header byte: bits 0-1 compression (0 = raw, 1 = the lossless
    format's image stream with no VP8L header — alpha rides in the
    GREEN channel), bits 2-3 filtering (none/horizontal/vertical/
    gradient, PNG-style with above/left/0 edge predictors), bits 4-5
    pre-processing (informative), bits 6-7 reserved."""
    import numpy as np  # noqa: PLC0415

    if not body:
        raise ValueError("webp: empty ALPH chunk")
    head = body[0]
    compression = head & 0x03
    filtering = (head >> 2) & 0x03
    if head >> 6:
        raise ValueError("webp: reserved ALPH header bits set")
    if compression == 0:
        if len(body) - 1 < w * h:
            raise ValueError("webp: raw ALPH plane shorter than w*h")
        plane = np.frombuffer(body[1 : 1 + w * h], dtype=np.uint8)
        plane = plane.reshape(h, w).astype(np.int64)
    elif compression == 1:
        br = _BitReader(body[1:])
        pixels, transforms = _decode_image_stream(br, w, h, True)
        pixels = _apply_inverse_transforms(pixels, w, h, transforms)
        plane = ((pixels >> 8) & 0xFF).reshape(h, w)  # green channel
    else:
        raise ValueError(f"webp: unknown ALPH compression {compression}")
    if filtering:
        out = np.zeros((h, w), dtype=np.int64)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif x == 0:
                    pred = out[y - 1, 0]
                elif y == 0:
                    pred = out[0, x - 1]
                elif filtering == 1:  # horizontal
                    pred = out[y, x - 1]
                elif filtering == 2:  # vertical
                    pred = out[y - 1, x]
                else:  # gradient
                    g = out[y, x - 1] + out[y - 1, x] - out[y - 1, x - 1]
                    pred = min(255, max(0, int(g)))
                out[y, x] = (plane[y, x] + pred) & 0xFF
        plane = out
    return plane.astype(np.uint8)


def webp_decode(payload: bytes):
    """WEBP → ``(w, h, channels, uint8 array (h, w, channels))``.

    VP8L (lossless) decodes natively, including behind a still-image
    VP8X header; lossy VP8 KEY frames decode natively via the RFC 6386
    intra decoder (``operators/vp8.py`` — spec-exact YUV, the engine's
    documented integer RGB conversion), merging a preceding ALPH chunk
    into an RGBA result; animated files decode via
    :func:`webp_decode_animated` (this still-image entry point refuses
    them so a caller can't silently read frame 1 as "the image");
    inter-coded VP8 frames raise ``NotImplementedError`` (route via
    ``codec_gate_report`` to a codec host per the SCALING.md video
    policy)."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:4] != WEBP_RIFF or payload[8:12] != WEBP_FOURCC:
        raise ValueError("not a WEBP payload")
    pos = 12
    vp8l = None
    vp8 = None
    alph = None
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            vp8l = body
            break
        if fourcc == b"VP8 ":
            vp8 = body
            break
        if fourcc == b"ANMF":
            raise NotImplementedError(
                "webp: animated file — use webp_decode_animated"
            )
        if fourcc == b"ALPH":
            alph = body
        pos += 8 + size + (size & 1)
    if vp8 is not None:
        from national_caseload_data_ingest_spark.operators.vp8 import (  # noqa: PLC0415
            vp8_decode_rgb,
        )

        w, h, rgb = vp8_decode_rgb(vp8)
        if alph is not None:
            a = _decode_alpha(alph, w, h)
            return w, h, 4, np.dstack([rgb, a])
        return w, h, 3, rgb
    if vp8l is None:
        raise NotImplementedError("webp: no VP8L or VP8 image chunk")
    w, h, rgba, alpha_hint = _decode_vp8l(vp8l)
    a = rgba[..., 3]
    if alpha_hint or not bool((a == 255).all()):
        return w, h, 4, rgba
    return w, h, 3, rgba[..., :3]


# ---------------------------------------------------------------------------
# Encoder (proves the decoder; spec-compliant, not size-optimal)
# ---------------------------------------------------------------------------


def _write_prefix_code(bw: _BitWriter, lengths: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Emit one prefix code and return the symbol->(code,len) table.

    Uses the 'simple' form for 1-2 symbol codes, else the code-length-
    coded form (no 16/17 repeats for simplicity — runs of zeros go
    through 17/18, everything else is spelled out)."""
    used = sorted(s for s, l in lengths.items() if l > 0)
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if used[0] <= 1 and len(used) == 1:
            bw.write(0, 1)  # first symbol in 1 bit
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        if len(used) == 2:
            bw.write(used[1], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.write(0, 1)  # code-length-coded
    # build the symbol-length sequence with 17/18 for zero runs
    seq: list[tuple[int, int, int]] = []  # (cl_symbol, extra, extra_bits)
    sym = 0
    while sym < alphabet_size:
        l = lengths.get(sym, 0)
        if l:
            seq.append((l, 0, 0))
            sym += 1
            continue
        run = 0
        while sym + run < alphabet_size and lengths.get(sym + run, 0) == 0:
            run += 1
        sym += run
        if sym >= alphabet_size:
            break  # trailing zeros are implicit
        while run >= 11:
            r = min(run, 138)
            seq.append((18, r - 11, 7))
            run -= r
        while run >= 3:
            r = min(run, 10)
            seq.append((17, r - 3, 3))
            run -= r
        for _ in range(run):
            seq.append((0, 0, 0))
    cl_freq: dict[int, int] = {}
    for cl, _e, _b in seq:
        cl_freq[cl] = cl_freq.get(cl, 0) + 1
    cl_lengths = _build_huffman_lengths(cl_freq, max_len=7)
    # num_code_lengths covers every used cl symbol's position in _CL_ORDER
    order_pos = {s: i for i, s in enumerate(_CL_ORDER)}
    num_cl = max(order_pos[s] for s in cl_lengths) + 1
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    cl_codes = _canonical_codes(cl_lengths)
    single_cl = len(cl_lengths) == 1
    # Trailing zeros are NOT implicit: without a cap the decoder keeps
    # decoding code-length codes until the full alphabet, eating symbol
    # bits.  Emit max_symbol = exactly the number of cl codes written.
    if len(seq) < 2:
        seq.append((0, 0, 0))
    need = len(seq) - 2
    nbits = 2
    while (1 << nbits) - 1 < need:
        nbits += 2
    bw.write(1, 1)  # use max_symbol
    bw.write((nbits - 2) // 2, 3)
    bw.write(need, nbits)
    for cl, extra, ebits in seq:
        if not single_cl:
            code, n = cl_codes[cl]
            bw.write(_reverse_bits(code, n), n)
        if ebits:
            bw.write(extra, ebits)
    return _canonical_codes(lengths)


def _reverse_bits(code: int, n: int) -> int:
    """Canonical prefix codes are read MSB-first by the decoder while the
    bit writer packs LSB-first — emit the code bits reversed so the
    reader sees MSB first."""
    out = 0
    for _ in range(n):
        out = (out << 1) | (code & 1)
        code >>= 1
    return out


class _PrefixEncoder:
    def __init__(self, bw: _BitWriter, codes: dict[int, tuple[int, int]]):
        self.bw = bw
        self.codes = codes

    def write(self, sym: int) -> None:
        code, n = self.codes[sym]
        if n:
            self.bw.write(_reverse_bits(code, n), n)


def _tokenize(argb: list[int], width: int, use_lz77: bool, cache_bits: int):
    """Greedy tokenizer: (literal | copy | cache) token stream.

    Copies scan a bounded candidate set (previous pixel, the pixel one
    row up, and the short-distance neighborhood) — enough to exercise
    every decode path without a full hash-chain matcher."""
    tokens = []
    cache = [None] * (1 << cache_bits) if cache_bits else None
    n = len(argb)
    pos = 0
    while pos < n:
        if use_lz77 and pos > 0:
            best_len = 0
            best_dist = 0
            cands = {1, width} if pos >= width else {1}
            for dcode in (1, 2, 3, 4):  # a few short-distance codes
                d = _plane_code_to_distance(width, dcode)
                if d <= pos:
                    cands.add(d)
            for d in cands:
                ln = 0
                while (
                    pos + ln < n
                    and ln < 4096
                    and argb[pos + ln - d] == argb[pos + ln]
                ):
                    ln += 1
                if ln > best_len:
                    best_len, best_dist = ln, d
            if best_len >= 3:
                tokens.append(("copy", best_len, best_dist))
                if cache is not None:
                    for i in range(best_len):
                        px = argb[pos + i]
                        cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
                pos += best_len
                continue
        px = argb[pos]
        if cache is not None:
            idx = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                tokens.append(("cache", idx))
                pos += 1
                continue
            cache[idx] = px
        tokens.append(("lit", px))
        pos += 1
    return tokens


def _encode_image_stream(
    bw: _BitWriter,
    argb: list[int],
    width: int,
    is_level0: bool,
    use_lz77: bool = True,
    cache_bits: int = 0,
    transforms_writer=None,
) -> None:
    """Entropy-code one image stream (transforms already applied by the
    caller; ``transforms_writer`` emits the transform headers first)."""
    if is_level0:
        if transforms_writer is not None:
            transforms_writer(bw)
        bw.write(0, 1)  # no more transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)  # no meta prefix codes
    tokens = _tokenize(argb, width, use_lz77, cache_bits)
    green_alpha = NUM_LITERAL + NUM_LENGTH + ((1 << cache_bits) if cache_bits else 0)
    freq = {k: {} for k in ("g", "r", "b", "a", "d")}

    def bump(d, s):
        d[s] = d.get(s, 0) + 1

    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            bump(freq["g"], (px >> 8) & 0xFF)
            bump(freq["r"], (px >> 16) & 0xFF)
            bump(freq["b"], px & 0xFF)
            bump(freq["a"], (px >> 24) & 0xFF)
        elif tok[0] == "copy":
            lsym, _e, _b = _prefix_encode_value(tok[1])
            bump(freq["g"], NUM_LITERAL + lsym)
            dc = _distance_to_code(width, tok[2])
            dsym, _e2, _b2 = _prefix_encode_value(dc)
            bump(freq["d"], dsym)
        else:
            bump(freq["g"], NUM_LITERAL + NUM_LENGTH + tok[1])
    for k, alpha in (("g", green_alpha), ("r", NUM_LITERAL), ("b", NUM_LITERAL),
                     ("a", NUM_LITERAL), ("d", NUM_DISTANCE)):
        if not freq[k]:
            freq[k][0] = 1  # unused code still needs one symbol
    enc = {}
    for k, alpha in (("g", green_alpha), ("r", NUM_LITERAL), ("b", NUM_LITERAL),
                     ("a", NUM_LITERAL), ("d", NUM_DISTANCE)):
        lengths = _build_huffman_lengths(freq[k])
        enc[k] = _PrefixEncoder(bw, _write_prefix_code(bw, lengths, alpha))
    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            enc["g"].write((px >> 8) & 0xFF)
            enc["r"].write((px >> 16) & 0xFF)
            enc["b"].write(px & 0xFF)
            enc["a"].write((px >> 24) & 0xFF)
        elif tok[0] == "copy":
            _length, dist = tok[1], tok[2]
            lsym, extra, ebits = _prefix_encode_value(_length)
            enc["g"].write(NUM_LITERAL + lsym)
            if ebits:
                bw.write(extra, ebits)
            dc = _distance_to_code(width, dist)
            dsym, dextra, debits = _prefix_encode_value(dc)
            enc["d"].write(dsym)
            if debits:
                bw.write(dextra, debits)
        else:
            enc["g"].write(NUM_LITERAL + NUM_LENGTH + tok[1])


def _distance_to_code(width: int, dist: int) -> int:
    """Inverse of :func:`_plane_code_to_distance`: prefer the short
    2-D code when the distance lands exactly on a neighborhood cell."""
    for code in (1, 2, 3, 4):  # the codes the tokenizer emits
        if _plane_code_to_distance(width, code) == dist:
            return code
    return dist + 120


def webp_encode(
    arr,
    use_lz77: bool = True,
    cache_bits: int = 0,
    subtract_green: bool = False,
    predictor_mode: int | None = None,
    palette: bool = False,
) -> bytes:
    """VP8L lossless WEBP encoder for ``(h, w, 3)`` RGB or ``(h, w, 4)``
    RGBA uint8 arrays.  ``subtract_green`` and ``predictor_mode``
    (a single mode 0-13 applied to every tile) emit real transform
    headers so the decoder's inverse paths are exercised end to end;
    ``palette=True`` emits the color-indexing transform (≤ 256 distinct
    colors required; indices pixel-packed per the spec's width_bits
    schedule), exclusive of the other transforms."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("webp_encode takes (h, w, 3|4) uint8")
    h, w = a.shape[:2]
    if a.shape[2] == 3:
        alpha = np.full((h, w), 255, np.uint16)
        has_alpha = 0
    else:
        alpha = a[..., 3].astype(np.uint16)
        has_alpha = 1
    r = a[..., 0].astype(np.int64)
    g = a[..., 1].astype(np.int64)
    b = a[..., 2].astype(np.int64)
    al = alpha.astype(np.int64)

    transforms = []
    if palette:
        if subtract_green or predictor_mode is not None:
            raise ValueError("palette mode is exclusive of other transforms")
        argb_full = (
            (al << 24) | (r << 16) | (g << 8) | b
        ).reshape(-1)
        colors = []
        index_of = {}
        for p_ in argb_full.tolist():
            if p_ not in index_of:
                index_of[p_] = len(colors)
                colors.append(p_)
        n_colors = len(colors)
        if n_colors > 256:
            raise ValueError(f"palette mode needs <= 256 colors, got {n_colors}")
        if n_colors > 16:
            width_bits = 0
        elif n_colors > 4:
            width_bits = 1
        elif n_colors > 2:
            width_bits = 2
        else:
            width_bits = 3
        packed_w = _subsample_size(w, width_bits)
        per = 1 << width_bits
        bits = 8 >> width_bits
        idx = np.array([index_of[p_] for p_ in argb_full.tolist()],
                       dtype=np.int64).reshape(h, w)
        packed = np.zeros((h, packed_w), dtype=np.int64)
        for sub in range(per):
            cols = np.arange(sub, w, per)
            packed[:, (cols - sub) // per] |= idx[:, cols] << (sub * bits)
        # delta-code the palette per channel mod 256
        deltas = []
        prev = 0
        for p_ in colors:
            d = (
                ((((p_ >> 24) - (prev >> 24)) & 0xFF) << 24)
                | (((((p_ >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF) << 16)
                | (((((p_ >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF) << 8)
                | (((p_ & 0xFF) - (prev & 0xFF)) & 0xFF)
            )
            deltas.append(d)
            prev = p_

        def write_palette_transform(bw: _BitWriter) -> None:
            bw.write(1, 1)
            bw.write(3, 2)
            bw.write(n_colors - 1, 8)
            _encode_image_stream(bw, deltas, n_colors, False, use_lz77=False)

        argb_list = [
            int(0xFF000000 | (int(packed[y, x]) << 8))
            for y in range(h)
            for x in range(packed_w)
        ]
        bw = _BitWriter()
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(has_alpha, 1)
        bw.write(0, 3)
        _encode_image_stream(
            bw, argb_list, packed_w, True,
            use_lz77=use_lz77, cache_bits=cache_bits,
            transforms_writer=write_palette_transform,
        )
        body = b"\x2f" + bw.flush()
        chunk = b"VP8L" + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunk += b"\x00"
        return WEBP_RIFF + struct.pack("<I", 4 + len(chunk)) + WEBP_FOURCC + chunk
    if predictor_mode is not None:
        size_bits = 4  # 16x16 tiles
        transforms.append(("predictor", size_bits, predictor_mode))
        # residuals: pixel - predicted, in scan order against the
        # RECONSTRUCTED (original) image — encoder side of the inverse
        argb = (al << 24) | (r << 16) | (g << 8) | b
        res = np.zeros_like(argb)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(argb[0, x - 1])
                elif x == 0:
                    pred = int(argb[y - 1, 0])
                else:
                    left = int(argb[y, x - 1])
                    top = int(argb[y - 1, x])
                    tl = int(argb[y - 1, x - 1])
                    tr = (
                        int(argb[y - 1, x + 1])
                        if x + 1 < w
                        else int(argb[y, 0])
                    )
                    pred = _predict(predictor_mode, left, top, tl, tr)
                p = int(argb[y, x])
                res[y, x] = (
                    ((((p >> 24) - (pred >> 24)) & 0xFF) << 24)
                    | (((((p >> 16) & 0xFF) - ((pred >> 16) & 0xFF)) & 0xFF) << 16)
                    | (((((p >> 8) & 0xFF) - ((pred >> 8) & 0xFF)) & 0xFF) << 8)
                    | (((p & 0xFF) - (pred & 0xFF)) & 0xFF)
                )
        al = (res >> 24) & 0xFF
        r = (res >> 16) & 0xFF
        g = (res >> 8) & 0xFF
        b = res & 0xFF
    if subtract_green:
        transforms.append(("subtract_green",))
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF

    argb_list = [
        int((int(al[y, x]) << 24) | (int(r[y, x]) << 16)
            | (int(g[y, x]) << 8) | int(b[y, x]))
        for y in range(h)
        for x in range(w)
    ]

    def write_transforms(bw: _BitWriter) -> None:
        # the DECODER applies inverses in reverse read order; we applied
        # predictor first then subtract-green, so the stream must list
        # predictor FIRST (its inverse runs LAST)
        for t in transforms:
            bw.write(1, 1)
            if t[0] == "predictor":
                _name, size_bits, mode = t
                bw.write(0, 2)
                bw.write(size_bits - 3, 3)
                tw = _subsample_size(w, size_bits)
                th = _subsample_size(h, size_bits)
                tile_px = [0xFF000000 | (mode << 8)] * (tw * th)
                _encode_image_stream(bw, tile_px, tw, False, use_lz77=False)
            else:
                bw.write(2, 2)

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(has_alpha, 1)
    bw.write(0, 3)  # version
    _encode_image_stream(
        bw, argb_list, w, True,
        use_lz77=use_lz77, cache_bits=cache_bits,
        transforms_writer=write_transforms,
    )
    body = b"\x2f" + bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = WEBP_RIFF + struct.pack("<I", 4 + len(chunk)) + WEBP_FOURCC + chunk
    return riff


# ---------------------------------------------------------------------------
# Animated WEBP (VP8X + ANIM + ANMF, VP8L frame payloads)
# ---------------------------------------------------------------------------


def _bare_vp8l_chunk(rgba, **encode_kw) -> bytes:
    """Encode one frame through :func:`webp_encode` and slice out its
    VP8L chunk (header + padded body) for embedding inside ANMF."""
    import struct  # noqa: PLC0415

    riff = webp_encode(rgba, **encode_kw)
    pos = 12
    while pos + 8 <= len(riff):
        fourcc = riff[pos : pos + 4]
        (size,) = struct.unpack("<I", riff[pos + 4 : pos + 8])
        if fourcc == b"VP8L":
            return riff[pos : pos + 8 + size + (size & 1)]
        pos += 8 + size + (size & 1)
    raise AssertionError("encoder produced no VP8L chunk")


def webp_encode_lossy(vp8_payload: bytes) -> bytes:
    """Wrap a raw VP8 frame (e.g. from ``vp8.vp8_build_keyframe``) in a
    minimal lossy-WEBP RIFF container."""
    import struct  # noqa: PLC0415

    chunk = b"VP8 " + struct.pack("<I", len(vp8_payload)) + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return (
        b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    )


def webp_encode_animated(
    canvas_w: int,
    canvas_h: int,
    frames,
    loop_count: int = 0,
    background_bgra: int = 0,
) -> bytes:
    """Animated WEBP from ``frames`` = iterable of dicts with keys
    ``x, y`` (even canvas offsets — the container stores them /2),
    ``rgba`` (uint8 array (h, w, 3|4)), ``duration_ms``, and optional
    ``dispose`` (0 keep / 1 dispose-to-transparent) and ``blend``
    (0 alpha-blend / 1 overwrite, the ANMF flag polarity).

    Container layout per RFC 9649 §2.5-2.7: VP8X (animation flag,
    24-bit canvas minus-one sizes), ANIM (background BGRA + 16-bit loop
    count), one ANMF per frame (24-bit x/2, y/2, w-1, h-1, duration;
    1 flag byte: bit1 = blend=do-not-blend, bit0 = dispose) wrapping the
    frame's VP8L chunk."""
    import struct  # noqa: PLC0415

    def u24(v: int) -> bytes:
        return int(v).to_bytes(3, "little")

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    body = bytearray()
    vp8x = bytes([0x02]) + b"\x00\x00\x00" + u24(canvas_w - 1) + u24(canvas_h - 1)
    body += chunk(b"VP8X", vp8x)
    body += chunk(
        b"ANIM", struct.pack("<I", background_bgra) + struct.pack("<H", loop_count)
    )
    for f in frames:
        x, y = int(f["x"]), int(f["y"])
        if x % 2 or y % 2:
            raise ValueError("webp anim: frame offsets must be even")
        rgba = f["rgba"]
        fh, fw = rgba.shape[0], rgba.shape[1]
        if x + fw > canvas_w or y + fh > canvas_h:
            raise ValueError("webp anim: frame exceeds canvas")
        flags = (0x02 if f.get("blend", 1) else 0x00) | (
            0x01 if f.get("dispose", 0) else 0x00
        )
        anmf = (
            u24(x // 2)
            + u24(y // 2)
            + u24(fw - 1)
            + u24(fh - 1)
            + u24(int(f["duration_ms"]))
            + bytes([flags])
            + _bare_vp8l_chunk(rgba)
        )
        body += chunk(b"ANMF", anmf)
    riff_body = WEBP_FOURCC + bytes(body)
    return WEBP_RIFF + struct.pack("<I", len(riff_body)) + riff_body


def webp_decode_animated(payload: bytes):
    """Animated WEBP → ``(canvas_w, canvas_h, [(duration_ms, rgba
    (canvas_h, canvas_w, 4)), ...])`` — each entry the PRESENTED canvas
    after compositing that frame (src-over alpha blend or overwrite per
    the ANMF blend bit; dispose-to-transparent applied to the frame
    rect before the NEXT frame, per the dispose bit).  The canvas
    starts fully transparent (the ANIM background color is a
    player hint, matching libwebp's demuxer).  VP8L frame payloads
    only — lossy key-frame ANMF frames decode via the VP8 intra
    path."""
    import struct  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload[:4] != WEBP_RIFF or payload[8:12] != WEBP_FOURCC:
        raise ValueError("not a WEBP payload")
    pos = 12
    canvas = None
    out = []
    saw_vp8x = False
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
        if fourcc == b"VP8X":
            saw_vp8x = True
            if not body[0] & 0x02:
                raise ValueError("webp anim: VP8X animation flag not set")
            cw = int.from_bytes(body[4:7], "little") + 1
            ch = int.from_bytes(body[7:10], "little") + 1
            canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
        elif fourcc == b"ANMF":
            if canvas is None:
                raise ValueError("webp anim: ANMF before VP8X")
            x = int.from_bytes(body[0:3], "little") * 2
            y = int.from_bytes(body[3:6], "little") * 2
            fw = int.from_bytes(body[6:9], "little") + 1
            fh = int.from_bytes(body[9:12], "little") + 1
            duration = int.from_bytes(body[12:15], "little")
            flags = body[15]
            sub = body[16:]
            sub_fourcc = sub[0:4]
            (sub_size,) = struct.unpack("<I", sub[4:8])
            if sub_fourcc == b"VP8 ":
                # lossy ANMF frames are intra-only in practice: decode
                # via the VP8 key-frame decoder, fully opaque
                from national_caseload_data_ingest_spark.operators.vp8 import (  # noqa: PLC0415
                    vp8_decode_rgb,
                )

                w, h, rgb = vp8_decode_rgb(sub[8 : 8 + sub_size])
                rgba = np.concatenate(
                    [rgb, np.full((h, w, 1), 255, np.uint8)], axis=-1
                )
            elif sub_fourcc == b"VP8L":
                w, h, rgba, _ = _decode_vp8l(sub[8 : 8 + sub_size])
            else:
                raise ValueError(
                    f"webp anim: unsupported frame chunk {sub_fourcc!r}"
                )
            if (w, h) != (fw, fh):
                raise ValueError("webp anim: frame size mismatch")
            if y + fh > canvas.shape[0] or x + fw > canvas.shape[1]:
                raise ValueError("webp anim: frame exceeds canvas")
            region = canvas[y : y + fh, x : x + fw]
            if flags & 0x02:  # do-not-blend: overwrite the rect
                region[:] = rgba
            else:  # src-over alpha blend (integer, floor — deterministic)
                a_s = rgba[..., 3:4].astype(np.int64)
                a_d = region[..., 3:4].astype(np.int64)
                a_out = a_s + a_d * (255 - a_s) // 255
                num = rgba[..., :3].astype(np.int64) * a_s * 255 + region[
                    ..., :3
                ].astype(np.int64) * a_d * (255 - a_s)
                den = np.maximum(a_out * 255, 1)
                region[..., :3] = (num // den).astype(np.uint8)
                region[..., 3:4] = a_out.astype(np.uint8)
            out.append((duration, canvas.copy()))
            if flags & 0x01:  # dispose-to-background: clear the rect
                canvas[y : y + fh, x : x + fw] = 0
    if not saw_vp8x:
        raise ValueError("webp anim: no VP8X chunk")
    if not out:
        raise ValueError("webp anim: no ANMF frames")
    return canvas.shape[1], canvas.shape[0], out
