"""Vorbis I decode (and a minimal conformant encoder) from scratch.

Round-6 surface: the web's second most common compressed-audio format
after MP3. ``_parse_ogg`` (media_codecs/multimodal.py) already demuxes Ogg
pages with CRC checks and validates the Vorbis identification/comment
headers; this module adds the actual sample decode so audio_metadata can
emit real rms/peak for ``audio/ogg`` payloads instead of nulls.

Everything here derives from the public Vorbis I specification
(xiph.org): LSb-first bit packing (spec §2), codebook huffman canonical
assignment + VQ lookup types 0/1/2 (§3), floor type 1 curve synthesis
with the inverse-dB amplitude table (§7), residue types 0/1/2 with
cascades (§8), square-polar channel coupling (§4.3.5), mode/mapping
decode, the Vorbis window, and the spec IMDCT with general unequal-block
lapping (§1.3.2, §4.3.8).

Reference parity: the reference repo (treesight) has no audio handling
at all; this is engine-extension surface for the web-corpus data model
(SURVEY.md §2 multimodal block). Validation mirrors media_codecs/mp3.py's
tiered approach — the container never ships encoded bytes we cannot
independently re-derive: an in-repo encoder produces spec-conformant
streams, goldens assert analytic sine statistics, and fuzz asserts
decode-or-ValueError (tests/test_vorbis.py).

No external libraries: there is no libvorbis/libogg in this container
(checked), so the differential oracle is encoder→decoder round-trip
identity bounded by the cascade quantization step, plus spec-pinned
constants (floor1 inverse-dB table endpoints, the spec's worked huffman
example).
"""

from __future__ import annotations

import math
import struct

import numpy as np

__all__ = [
    "decode_vorbis_stream",
    "encode_vorbis",
    "floor1_inverse_db_table",
    "assign_codewords",
    "ilog",
    "float32_unpack",
    "float32_pack",
]

# ── primitives (spec §9) ────────────────────────────────────────────────────


def ilog(x: int) -> int:
    """Number of bits needed for x: ilog(0)=0, ilog(1)=1, ilog(7)=3."""
    return x.bit_length() if x > 0 else 0


def float32_unpack(x: int) -> float:
    """Vorbis' packed float: 21-bit mantissa, 10-bit exponent biased 788."""
    mant = x & 0x1FFFFF
    exp = (x >> 21) & 0x3FF
    if x & 0x80000000:
        mant = -mant
    return float(mant) * 2.0 ** (exp - 788)


def float32_pack(v: float) -> int:
    """Inverse of float32_unpack with maximal mantissa precision; the
    encoder round-trips every packed value through float32_unpack so its
    quantizer uses the decoder's EXACT delta/minimum."""
    if v == 0.0:
        return 0
    sign = 0x80000000 if v < 0 else 0
    v = abs(v)
    exp = int(math.floor(math.log2(v))) - 20 + 788
    exp = max(0, min(1023, exp))
    mant = int(round(v * 2.0 ** (788 - exp)))
    while mant >= 1 << 21:
        mant >>= 1
        exp += 1
        if exp > 1023:
            raise ValueError("float too large for vorbis float32")
    return sign | (exp << 21) | mant


def lookup1_values(entries: int, dim: int) -> int:
    """Greatest integer v with v**dim <= entries (spec §9.2.3)."""
    v = int(round(entries ** (1.0 / dim)))
    while (v + 1) ** dim <= entries:
        v += 1
    while v > 0 and v**dim > entries:
        v -= 1
    return v


def floor1_inverse_db_table() -> np.ndarray:
    """The 256-entry floor1 amplitude table (spec §10.1). The spec lists
    explicit values; they equal 10**((i-255)*7/256) (140 dB over 256
    steps) — endpoint pins in tests/test_vorbis.py match the published
    1.0649863e-07 first entry to 1e-6 relative."""
    i = np.arange(256, dtype=np.float64)
    return 10.0 ** ((i - 255.0) * 7.0 / 256.0)


_INV_DB = floor1_inverse_db_table()


class _EOP(Exception):
    """End-of-packet: a legal condition mid-residue (spec §1.3.1: the
    remainder of the vector is zero), an error elsewhere."""


class _Bits:
    """LSb-first bit reader over one packet (Vorbis packs the opposite
    way round from MPEG audio — media_codecs/mp3.py's reader is MSB-first)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.data) * 8:
            raise _EOP()
        out = 0
        got = 0
        pos = self.pos
        while got < n:
            byte = self.data[pos >> 3]
            bit_off = pos & 7
            take = min(8 - bit_off, n - got)
            out |= ((byte >> bit_off) & ((1 << take) - 1)) << got
            got += take
            pos += take
        self.pos = end
        return out


class _BitsW:
    """LSb-first bit writer (encoder side)."""

    def __init__(self):
        self.buf = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.buf.append(0)
            if (value >> i) & 1:
                self.buf[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def tobytes(self) -> bytes:
        return bytes(self.buf)


# ── codebooks (spec §3) ─────────────────────────────────────────────────────


def assign_codewords(lengths: list) -> dict:
    """Canonical Vorbis huffman assignment: entries in order each take
    the lowest-valued available leaf at their depth (spec §3.2.1).
    ``lengths[i]`` is the codeword length or None (unused). Returns
    {(length, codeword): entry} with codewords in MSB-first bit order
    (first bit read from the stream = most significant codeword bit).
    Raises ValueError on an over-subscribed tree."""
    table: dict = {}
    # available[l] = next free code at depth l, left-aligned to 32 bits
    available = [0] * 33
    first = True
    for entry, ln in enumerate(lengths):
        if ln is None:
            continue
        if not 1 <= ln <= 32:
            raise ValueError("invalid codeword length")
        if first:
            code32 = 0
            for i in range(1, ln + 1):
                available[i] = 1 << (32 - i)
            first = False
        else:
            z = ln
            while z > 0 and available[z] == 0:
                z -= 1
            if z == 0:
                raise ValueError("huffman tree over-subscribed")
            code32 = available[z]
            available[z] = 0
            for y in range(z + 1, ln + 1):
                available[y] = code32 + (1 << (32 - y))
        table[(ln, code32 >> (32 - ln))] = entry
    return table


class _Codebook:
    __slots__ = ("dim", "entries", "decode_table", "max_len", "vq", "seq_p")

    def __init__(self, dim, entries, lengths, vq, seq_p):
        self.dim = dim
        self.entries = entries
        self.decode_table = assign_codewords(lengths)
        self.max_len = max((l for l in lengths if l is not None), default=0)
        self.vq = vq  # None or ndarray (entries, dim) of lookup values
        self.seq_p = seq_p

    def decode_scalar(self, br: _Bits) -> int:
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            ent = self.decode_table.get((ln, code))
            if ent is not None:
                return ent
        raise ValueError("invalid huffman codeword")

    def decode_vq(self, br: _Bits) -> np.ndarray:
        ent = self.decode_scalar(br)
        if self.vq is None:
            raise ValueError("codebook used in VQ context has no lookup")
        return self.vq[ent]


def _read_codebook(br: _Bits, max_entries: int = 1 << 18) -> _Codebook:
    if br.read(24) != 0x564342:
        raise ValueError("codebook sync pattern missing")
    dim = br.read(16)
    entries = br.read(24)
    if dim == 0 or entries == 0 or entries > max_entries:
        raise ValueError("implausible codebook geometry")
    ordered = br.read(1)
    lengths: list = [None] * entries
    if not ordered:
        sparse = br.read(1)
        for i in range(entries):
            if sparse:
                if br.read(1):
                    lengths[i] = br.read(5) + 1
            else:
                lengths[i] = br.read(5) + 1
    else:
        current_entry = 0
        current_length = br.read(5) + 1
        while current_entry < entries:
            number = br.read(ilog(entries - current_entry))
            if current_entry + number > entries:
                raise ValueError("ordered codebook overruns entries")
            for i in range(current_entry, current_entry + number):
                lengths[i] = current_length
            current_entry += number
            current_length += 1
            if current_length > 32:
                raise ValueError("codeword length overflow")
    lookup_type = br.read(4)
    vq = None
    seq_p = 0
    if lookup_type in (1, 2) and entries * dim > 1 << 22:
        raise ValueError("VQ lookup table exceeds decode budget")
    if lookup_type in (1, 2):
        minimum = float32_unpack(br.read(32))
        delta = float32_unpack(br.read(32))
        value_bits = br.read(4) + 1
        seq_p = br.read(1)
        if lookup_type == 1:
            n_vals = lookup1_values(entries, dim)
        else:
            n_vals = entries * dim
        mults = np.array([br.read(value_bits) for _ in range(n_vals)], np.float64)
        vq = np.empty((entries, dim), np.float64)
        if lookup_type == 1:
            for e in range(entries):
                last = 0.0
                idx_div = 1
                for j in range(dim):
                    off = (e // idx_div) % n_vals
                    vq[e, j] = mults[off] * delta + minimum + last
                    if seq_p:
                        last = vq[e, j]
                    idx_div *= n_vals
        else:
            for e in range(entries):
                last = 0.0
                for j in range(dim):
                    vq[e, j] = mults[e * dim + j] * delta + minimum + last
                    if seq_p:
                        last = vq[e, j]
    elif lookup_type != 0:
        raise ValueError("reserved codebook lookup type")
    return _Codebook(dim, entries, lengths, vq, seq_p)


# ── floor type 1 (spec §7) ──────────────────────────────────────────────────


class _Floor1:
    __slots__ = (
        "partitions",
        "class_list",
        "class_dims",
        "class_subclasses",
        "masterbooks",
        "subclass_books",
        "multiplier",
        "rangebits",
        "x_list",
        "sort_order",
        "neigh",
    )


def _read_floor1(br: _Bits, books: list) -> _Floor1:
    f = _Floor1()
    f.partitions = br.read(5)
    f.class_list = [br.read(4) for _ in range(f.partitions)]
    max_class = max(f.class_list, default=-1)
    f.class_dims, f.class_subclasses = [], []
    f.masterbooks, f.subclass_books = [], []
    for _ in range(max_class + 1):
        f.class_dims.append(br.read(3) + 1)
        sub = br.read(2)
        f.class_subclasses.append(sub)
        if sub:
            mb = br.read(8)
            if mb >= len(books):
                raise ValueError("floor1 masterbook out of range")
            f.masterbooks.append(mb)
        else:
            f.masterbooks.append(-1)
        row = []
        for _ in range(1 << sub):
            b = br.read(8) - 1
            if b >= len(books):
                raise ValueError("floor1 subclass book out of range")
            row.append(b)
        f.subclass_books.append(row)
    f.multiplier = br.read(2) + 1
    f.rangebits = br.read(4)
    f.x_list = [0, 1 << f.rangebits]
    for i in range(f.partitions):
        for _ in range(f.class_dims[f.class_list[i]]):
            f.x_list.append(br.read(f.rangebits))
    if len(f.x_list) > 65 or len(set(f.x_list)) != len(f.x_list):
        raise ValueError("floor1 X list invalid (duplicates or >65 values)")
    f.sort_order = sorted(range(len(f.x_list)), key=lambda i: f.x_list[i])
    # low/high neighbours in ORIGINAL list order (spec low_neighbor/high_neighbor)
    f.neigh = []
    for i in range(2, len(f.x_list)):
        lo, hi = 0, 1
        for j in range(i):
            if f.x_list[j] < f.x_list[i] and f.x_list[j] >= f.x_list[lo]:
                lo = j
            if f.x_list[j] > f.x_list[i] and f.x_list[j] <= f.x_list[hi]:
                hi = j
        f.neigh.append((lo, hi))
    return f


def _render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _render_line(x0: int, y0: int, x1: int, y1: int, v: np.ndarray) -> None:
    dy = y1 - y0
    adx = x1 - x0
    base = abs(dy) // adx
    if dy < 0:
        base = -base
    sy = base + 1 if dy >= 0 else base - 1
    ady = abs(dy) - abs(base) * adx
    x, y, err = x0, y0, 0
    n = len(v)
    if x0 < n:
        v[x0] = y0
    for x in range(x0 + 1, min(x1, n)):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y
    # leftover of range outside v is silently truncated (spec: floor may
    # extend past n/2 for a long-block floor used on a short block)


def _floor1_decode(br: _Bits, f: _Floor1, books: list) -> list | None:
    """Returns the final_Y post list (None → unused channel)."""
    if not br.read(1):
        return None
    rng = (256, 128, 86, 64)[f.multiplier - 1]
    ybits = ilog(rng - 1)
    y = [br.read(ybits), br.read(ybits)]
    for i in range(f.partitions):
        cls = f.class_list[i]
        cdim = f.class_dims[cls]
        cbits = f.class_subclasses[cls]
        csub = (1 << cbits) - 1
        cval = books[f.masterbooks[cls]].decode_scalar(br) if cbits else 0
        for _ in range(cdim):
            book = f.subclass_books[cls][cval & csub]
            cval >>= cbits
            y.append(books[book].decode_scalar(br) if book >= 0 else 0)
    return y


def _floor1_synth(f: _Floor1, y: list, n2: int) -> np.ndarray:
    """Amplitude step 2 + curve render (spec §7.2.4)."""
    rng = (256, 128, 86, 64)[f.multiplier - 1]
    final = [0] * len(f.x_list)
    step2 = [False] * len(f.x_list)
    step2[0] = step2[1] = True
    final[0], final[1] = y[0], y[1]
    for i in range(2, len(f.x_list)):
        lo, hi = f.neigh[i - 2]
        pred = _render_point(f.x_list[lo], final[lo], f.x_list[hi], final[hi], f.x_list[i])
        val = y[i]
        highroom = rng - pred
        lowroom = pred
        room = 2 * min(highroom, lowroom)
        if val:
            step2[lo] = step2[hi] = step2[i] = True
            if val >= room:
                final[i] = val - lowroom + pred if highroom > lowroom \
                    else pred - (val - highroom) - 1
            elif val & 1:
                final[i] = pred - ((val + 1) >> 1)
            else:
                final[i] = pred + (val >> 1)
        else:
            step2[i] = False
            final[i] = pred
        final[i] = max(0, min(rng - 1, final[i]))
    curve = np.zeros(n2, np.int64)
    lx, ly = 0, final[f.sort_order[0]] * f.multiplier
    for i in f.sort_order[1:]:
        if not step2[i]:
            continue
        hx, hy = f.x_list[i], final[i] * f.multiplier
        _render_line(lx, ly, hx, hy, curve)  # clamps writes at n2
        lx, ly = hx, hy
    if lx < n2:  # horizontal extension to n/2 (spec step 2 tail)
        curve[lx:] = ly
    np.clip(curve, 0, 255, out=curve)
    return _INV_DB[curve]


# ── residues (spec §8) ──────────────────────────────────────────────────────


class _Residue:
    __slots__ = ("rtype", "begin", "end", "psize", "classes", "classbook", "books")


def _read_residue(br: _Bits, rtype: int, books: list) -> _Residue:
    r = _Residue()
    r.rtype = rtype
    r.begin = br.read(24)
    r.end = br.read(24)
    r.psize = br.read(24) + 1
    r.classes = br.read(6) + 1
    r.classbook = br.read(8)
    if r.classbook >= len(books):
        raise ValueError("residue classbook out of range")
    cascades = []
    for _ in range(r.classes):
        low = br.read(3)
        high = br.read(5) if br.read(1) else 0
        cascades.append((high << 3) | low)
    r.books = []
    for c in range(r.classes):
        row = []
        for p in range(ilog(max(cascades))):
            if cascades[c] & (1 << p):
                b = br.read(8)
                if b >= len(books) or books[b].vq is None:
                    raise ValueError("residue book invalid or scalar-only")
                if r.psize % books[b].dim:
                    raise ValueError("residue book dim does not divide partition")
                row.append(b)
            else:
                row.append(-1)
        r.books.append(row)
    cb = books[r.classbook]
    if r.classes > 1 and cb.dim > 18:
        # classes**dim would exceed any legal entry count (<= 2^18);
        # also guards the bignum pow below against hostile headers
        raise ValueError("residue classbook dimension implausible")
    if cb.entries < r.classes ** cb.dim:
        raise ValueError("residue classbook too small for classifications")
    return r


def _residue_decode(br: _Bits, r: _Residue, books: list, do_not: list,
                    n2: int) -> np.ndarray:
    """Returns residue vectors, shape (ch, n2). EOP mid-decode is legal:
    the remainder stays zero (spec §1.3.1)."""
    ch = len(do_not)
    out = np.zeros((ch, n2), np.float64)
    if r.rtype == 2:
        if all(do_not):
            return out
        flat = np.zeros(ch * n2, np.float64)
        try:
            _residue_01(br, r, books, flat, [False], 1, ch * n2)
        except _EOP:
            pass
        for c in range(ch):
            out[c] = flat[c::ch]
        return out
    try:
        _residue_01(br, r, books, out.reshape(ch, n2), do_not, ch, n2,
                    interleave0=(r.rtype == 0))
    except _EOP:
        pass
    return out


def _residue_01(br, r, books, vecs, do_not, ch, size, interleave0=False):
    actual = min(r.end, size)
    begin = min(r.begin, actual)
    n_read = actual - begin
    if n_read == 0:
        return
    parts = n_read // r.psize
    classbook = books[r.classbook]
    cwords = classbook.dim
    class_limit = r.classes ** cwords
    max_pass = max((len(row) for row in r.books), default=0)
    classifs = [[0] * (parts + cwords) for _ in range(ch)]
    flat = vecs if vecs.ndim == 1 else None
    for p in range(max_pass):
        pcount = 0
        while pcount < parts:
            if p == 0:
                for j in range(ch):
                    if do_not[j]:
                        continue
                    temp = classbook.decode_scalar(br)
                    if temp >= class_limit:
                        raise ValueError("residue classification out of range")
                    for i in range(cwords - 1, -1, -1):
                        classifs[j][pcount + i] = temp % r.classes
                        temp //= r.classes
            for _ in range(cwords):
                if pcount >= parts:
                    break
                for j in range(ch):
                    if do_not[j]:
                        continue
                    vq = classifs[j][pcount]
                    book = r.books[vq][p] if p < len(r.books[vq]) else -1
                    if book >= 0:
                        off = begin + pcount * r.psize
                        cb = books[book]
                        row = flat if flat is not None else vecs[j]
                        if interleave0:
                            step = r.psize // cb.dim
                            for i in range(step):
                                v = cb.decode_vq(br)
                                for d in range(cb.dim):
                                    row[off + i + d * step] += v[d]
                        else:
                            i = 0
                            while i < r.psize:
                                v = cb.decode_vq(br)
                                for d in range(cb.dim):
                                    row[off + i] += v[d]
                                    i += 1
                pcount += 1


# ── window / IMDCT (spec §4.3.6–4.3.8, §1.3.2) ─────────────────────────────


def _slope(n: int) -> np.ndarray:
    """The Vorbis window slope: sin(pi/2 * sin^2((i+0.5)/n * pi/2))."""
    i = np.arange(n, dtype=np.float64) + 0.5
    return np.sin(0.5 * np.pi * np.sin(i / n * 0.5 * np.pi) ** 2)


_IMDCT_CACHE: dict = {}


def _imdct_matrix(n: int) -> np.ndarray:
    """cos(pi/(n/2) * (j + 0.5 + n/4) * (k + 0.5)), shape (n, n/2) — the
    spec's inverse-MDCT kernel. n<=8192 → at most 8192*4096 float64 =
    256 MB; we cap decode blocksize well below that (encoder uses 1024)."""
    m = _IMDCT_CACHE.get(n)
    if m is None:
        j = np.arange(n, dtype=np.float64)[:, None]
        k = np.arange(n // 2, dtype=np.float64)[None, :]
        m = np.cos(np.pi / (n / 2.0) * (j + 0.5 + n / 4.0) * (k + 0.5))
        _IMDCT_CACHE[n] = m
    return m


def imdct(spec: np.ndarray) -> np.ndarray:
    """n/2 spectral coefficients → n time samples (unnormalized spec
    kernel; the forward transform in mdct() carries the 4/n factor so the
    windowed overlap-add round-trips to identity — pinned in tests)."""
    n = 2 * len(spec)
    return _imdct_matrix(n) @ spec


def mdct(x: np.ndarray) -> np.ndarray:
    """Forward transform paired with imdct(): X = (4/n) * C^T x for the
    same kernel C; with the Vorbis window applied on both sides and 50 %
    overlap this satisfies Princen-Bradley perfect reconstruction."""
    n = len(x)
    return (4.0 / n) * (_imdct_matrix(n).T @ x)


def _frame_window(n: int, bs0: int, blockflag: int, prev_flag: int,
                  next_flag: int) -> tuple[np.ndarray, int, int]:
    """Per-frame window vector + (left_start, right_end) — the general
    unequal-block lapping of spec §4.3.8."""
    center = n // 2
    if blockflag and not prev_flag:
        left_start = n // 4 - bs0 // 4
        left_n = bs0 // 2
    else:
        left_start = 0
        left_n = n // 2
    if blockflag and not next_flag:
        right_start = 3 * n // 4 - bs0 // 4
        right_n = bs0 // 2
    else:
        right_start = center
        right_n = n // 2
    w = np.zeros(n, np.float64)
    w[left_start:left_start + left_n] = _slope(left_n)
    w[left_start + left_n:right_start] = 1.0
    w[right_start:right_start + right_n] = _slope(right_n)[::-1]
    return w, left_start, right_start + right_n


# ── stream setup + packet decode ────────────────────────────────────────────


class _Setup:
    __slots__ = ("channels", "rate", "bs", "books", "floors", "residues",
                 "mappings", "modes")


def _parse_ident(packet: bytes) -> tuple[int, int, int, int]:
    if packet[:7] != b"\x01vorbis" or len(packet) < 30:
        raise ValueError("bad Vorbis identification header")
    if struct.unpack_from("<I", packet, 7)[0] != 0:
        raise ValueError("unsupported Vorbis version")
    channels = packet[11]
    (rate,) = struct.unpack_from("<I", packet, 12)
    bs0 = 1 << (packet[28] & 0x0F)
    bs1 = 1 << (packet[28] >> 4)
    if channels == 0 or rate == 0:
        raise ValueError("bad Vorbis identification header")
    if not (64 <= bs0 <= 8192 and bs0 <= bs1 <= 8192):
        raise ValueError("invalid Vorbis blocksizes")
    if not packet[29] & 1:
        raise ValueError("identification framing bit missing")
    return channels, rate, bs0, bs1


def _parse_setup(packet: bytes, channels: int, bs0: int, bs1: int) -> _Setup:
    if packet[:7] != b"\x05vorbis":
        raise ValueError("bad Vorbis setup header")
    br = _Bits(packet[7:])
    try:
        s = _Setup()
        s.channels = channels
        s.bs = (bs0, bs1)
        s.books = [_read_codebook(br) for _ in range(br.read(8) + 1)]
        for _ in range(br.read(6) + 1):  # time transforms: all zero
            if br.read(16) != 0:
                raise ValueError("nonzero time transform")
        s.floors = []
        for _ in range(br.read(6) + 1):
            ftype = br.read(16)
            if ftype != 1:
                raise ValueError(f"floor type {ftype} unsupported (floor1 only)")
            s.floors.append(_read_floor1(br, s.books))
        s.residues = []
        for _ in range(br.read(6) + 1):
            rtype = br.read(16)
            if rtype > 2:
                raise ValueError("reserved residue type")
            s.residues.append(_read_residue(br, rtype, s.books))
        s.mappings = []
        for _ in range(br.read(6) + 1):
            if br.read(16) != 0:
                raise ValueError("reserved mapping type")
            submaps = br.read(4) + 1 if br.read(1) else 1
            coupling = []
            if br.read(1):
                for _ in range(br.read(8) + 1):
                    mag = br.read(ilog(channels - 1))
                    ang = br.read(ilog(channels - 1))
                    if mag == ang or mag >= channels or ang >= channels:
                        raise ValueError("invalid coupling step")
                    coupling.append((mag, ang))
            if br.read(2) != 0:
                raise ValueError("mapping reserved bits set")
            if submaps > 1:
                mux = [br.read(4) for _ in range(channels)]
                if any(m >= submaps for m in mux):
                    raise ValueError("mapping mux out of range")
            else:
                mux = [0] * channels
            sub_floor, sub_res = [], []
            for _ in range(submaps):
                br.read(8)  # unused time configuration
                fl = br.read(8)
                rs = br.read(8)
                if fl >= len(s.floors) or rs >= len(s.residues):
                    raise ValueError("mapping floor/residue out of range")
                sub_floor.append(fl)
                sub_res.append(rs)
            s.mappings.append((submaps, coupling, mux, sub_floor, sub_res))
        s.modes = []
        for _ in range(br.read(6) + 1):
            blockflag = br.read(1)
            if br.read(16) != 0 or br.read(16) != 0:
                raise ValueError("reserved mode window/transform type")
            mapping = br.read(8)
            if mapping >= len(s.mappings):
                raise ValueError("mode mapping out of range")
            s.modes.append((blockflag, mapping))
        if not br.read(1):
            raise ValueError("setup framing bit missing")
        return s
    except _EOP:
        raise ValueError("truncated Vorbis setup header") from None


def inverse_couple(m: np.ndarray, a: np.ndarray):
    """Square-polar inverse channel coupling (spec §4.3.5):
      M>0,A>0 -> M=M,   A=M-A     M>0,A<=0 -> M=M+A, A=M
      M<=0,A>0 -> M=M,  A=M+A     M<=0,A<=0 -> M=M-A, A=M
    Returns (new_magnitude, new_angle) without mutating inputs."""
    m = np.asarray(m, np.float64)
    a = np.asarray(a, np.float64)
    pos, apos = m > 0, a > 0
    new_m = np.where(pos, np.where(apos, m, m + a),
                     np.where(apos, m, m - a))
    new_a = np.where(pos, np.where(apos, m - a, m),
                     np.where(apos, m + a, m))
    return new_m, new_a


def _decode_audio_packet(s: _Setup, packet: bytes):
    """One audio packet → (windowed time-domain frame, n, left_start,
    prev-half info) pieces; returns (y, n) with y shape (ch, n) already
    windowed, plus the frame's blockflag for lapping."""
    br = _Bits(packet)
    try:
        if br.read(1):
            raise ValueError("not an audio packet")
        mode_n = br.read(ilog(len(s.modes) - 1))
        if mode_n >= len(s.modes):
            raise ValueError("mode number out of range")
        blockflag, mapping_n = s.modes[mode_n]
        n = s.bs[blockflag]
        prev_flag = next_flag = 1
        if blockflag:
            prev_flag = br.read(1)
            next_flag = br.read(1)
        submaps, coupling, mux, sub_floor, sub_res = s.mappings[mapping_n]
        ch = s.channels
        floors_y = []
        for c in range(ch):
            f = s.floors[sub_floor[mux[c]]]
            floors_y.append(_floor1_decode(br, f, s.books))
    except _EOP:
        raise ValueError("truncated packet header/floor") from None
    no_res = [fy is None for fy in floors_y]
    # coupling: if one channel of a pair is used, decode both (spec §4.3.3)
    for mag, ang in coupling:
        if not (no_res[mag] and no_res[ang]):
            no_res[mag] = no_res[ang] = False
    spec_vec = np.zeros((ch, n // 2), np.float64)
    for sm in range(submaps):
        do_not = [no_res[c] or mux[c] != sm for c in range(ch)]
        res = _residue_decode(br, s.residues[sub_res[sm]], s.books,
                              do_not, n // 2)
        for c in range(ch):
            if mux[c] == sm and not do_not[c]:
                spec_vec[c] = res[c]
    for mag, ang in reversed(coupling):
        spec_vec[mag], spec_vec[ang] = inverse_couple(spec_vec[mag],
                                                      spec_vec[ang])
    w, left_start, right_end = _frame_window(n, s.bs[0], blockflag,
                                             prev_flag, next_flag)
    out = np.zeros((ch, n), np.float64)
    for c in range(ch):
        if floors_y[c] is None:
            continue
        f = s.floors[sub_floor[mux[c]]]
        curve = _floor1_synth(f, floors_y[c], n // 2)
        out[c] = imdct(curve * spec_vec[c]) * w
    return out, n


def decode_vorbis_stream(packets: list, last_granule: int | None = None,
                         max_samples: int = 1 << 24):
    """Decode a Vorbis packet stream (ident, comment, setup, audio...)
    reassembled from Ogg pages. Returns (samples, rate, channels) with
    samples shape (n, channels) float64 in [-1, 1]-ish. ``last_granule``
    (the final Ogg page's granule position) trims the tail per the spec's
    end-trimming rule. Raises ValueError on malformed streams.

    Lapping: consecutive frame centers are n_prev/4 + n_cur/4 apart; the
    emitted region runs center-to-center and receives the previous
    frame's right part plus the current frame's left part (both already
    windowed — a long block following a short one is zero before the
    previous frame's center by the window shape, so two-frame
    accumulation is exact for every legal transition)."""
    if len(packets) < 3:
        raise ValueError("Vorbis stream needs ident+comment+setup packets")
    channels, rate, bs0, bs1 = _parse_ident(packets[0])
    if bs1 > 4096:
        raise ValueError("blocksize > 4096 exceeds decode budget")
    if packets[1][:7] != b"\x03vorbis":
        raise ValueError("second packet is not a comment header")
    s = _parse_setup(packets[2], channels, bs0, bs1)
    chunks: list = []
    prev: np.ndarray | None = None  # full windowed previous frame (ch, n_prev)
    total = 0
    for pk in packets[3:]:
        if not pk:
            continue
        y, n = _decode_audio_packet(s, pk)
        if prev is not None:
            n_prev = prev.shape[1]
            emit = n_prev // 4 + n // 4
            buf = np.zeros((channels, emit), np.float64)
            take_prev = min(emit, n_prev // 2)
            buf[:, :take_prev] += prev[:, n_prev // 2:n_prev // 2 + take_prev]
            off = emit - n // 2  # current frame's left half ends at emit
            buf[:, max(0, off):] += y[:, max(0, -off):n // 2]
            chunks.append(buf)
            total += emit
            if total > max_samples:
                raise ValueError("decoded sample budget exceeded")
        prev = y
    if not chunks:
        return np.zeros((0, channels)), rate, channels
    out = np.concatenate(chunks, axis=1)
    if last_granule is not None and 0 <= last_granule < out.shape[1]:
        out = out[:, :last_granule]
    return out.T, rate, channels


# ── minimal conformant encoder (test/validation vector source) ──────────────
#
# Fixed layout chosen for decoder-path coverage, not compression: one
# 1024-sample block size (mode blockflag=0), a flat floor1 curve (all
# posts 127 at multiplier 2 -> amplitude index 254), and a type-2 residue
# with a 3-pass cascade of 64-level scalar (dim-1, lookup-1) codebooks,
# with silent partitions classified 0 (no books) so BOTH residue class
# paths decode. Quantizer steps derive from the float32_pack->unpack
# round-trip, so the encoder uses the decoder's exact reconstruction
# levels; worst-case coefficient error is delta2/2 ~ 1.6e-5 * max|coeff|.

_ENC_N = 1024
_ENC_PSIZE = 32
_ENC_CWORDS = 4


def _write_code(bw: _BitsW, code: int, length: int) -> None:
    """Huffman codewords enter the stream MSB-of-codeword first."""
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _enc_write_codebook(bw: _BitsW, dim: int, entries: int, length: int,
                        lookup=None, lookup_type: int = 1) -> None:
    bw.write(0x564342, 24)
    bw.write(dim, 16)
    bw.write(entries, 24)
    bw.write(0, 1)  # not ordered
    bw.write(0, 1)  # not sparse
    for _ in range(entries):
        bw.write(length - 1, 5)
    if lookup is None:
        bw.write(0, 4)
    else:
        minimum, delta, value_bits, mults = lookup
        bw.write(lookup_type, 4)
        bw.write(float32_pack(minimum), 32)
        bw.write(float32_pack(delta), 32)
        bw.write(value_bits - 1, 4)
        bw.write(0, 1)  # sequence_p
        for m in mults:
            bw.write(m, value_bits)


def _enc_setup_packet(pass_params: list, residue_type: int = 2,
                      lookup_type: int = 1, value_dim: int = 1,
                      channels: int = 1) -> bytes:
    """Setup header. Variants exist purely to light up decoder paths:
    residue_type 0/1/2 (all three partition layouts), lookup_type 1
    (implicit lattice) vs 2 (explicit multiplicand table, same decoded
    values), value_dim 1 vs 2 (multi-dimension VQ add loops), channels 2
    (square-polar coupling). All combinations stay spec-conformant."""
    n_vals = 64
    entries = n_vals ** value_dim
    length = 6 * value_dim
    bw = _BitsW()
    bw.write(4, 8)  # 5 codebooks
    # book0: floor Y values (128 entries, scalar)
    _enc_write_codebook(bw, 1, 128, 7)
    # book1: residue classbook (16 entries = 2 classes ** 4 classwords)
    _enc_write_codebook(bw, _ENC_CWORDS, 16, 4)
    # books 2..4: cascade value books (64-level lattices per dimension)
    if lookup_type == 1:
        mults = list(range(n_vals))
    else:  # explicit table reproducing the lattice values exactly
        mults = [(e // n_vals ** j) % n_vals
                 for e in range(entries) for j in range(value_dim)]
    for minimum, delta in pass_params:
        _enc_write_codebook(bw, value_dim, entries, length,
                            lookup=(minimum, delta, 6, mults),
                            lookup_type=lookup_type)
    bw.write(0, 6)  # 1 time transform
    bw.write(0, 16)
    bw.write(0, 6)  # 1 floor
    bw.write(1, 16)  # floor type 1
    bw.write(1, 5)  # 1 partition
    bw.write(0, 4)  # class list [0]
    bw.write(1, 3)  # class 0 dim = 2
    bw.write(0, 2)  # 0 subclass bits
    bw.write(1, 8)  # subclass book (stored +1 -> book 0)
    bw.write(1, 2)  # multiplier 2
    bw.write(8, 4)  # rangebits
    bw.write(85, 8)  # X values beyond [0, 256]
    bw.write(170, 8)
    bw.write(0, 6)  # 1 residue
    bw.write(residue_type, 16)
    bw.write(0, 24)  # begin
    bw.write(_ENC_N // 2 * channels, 24)  # end (covers the type-2 interleave)
    bw.write(_ENC_PSIZE - 1, 24)
    bw.write(1, 6)  # 2 classifications
    bw.write(1, 8)  # classbook = book1
    bw.write(0, 3)  # class 0 cascade: no passes
    bw.write(0, 1)
    bw.write(7, 3)  # class 1 cascade: passes 0,1,2
    bw.write(0, 1)
    for b in (2, 3, 4):
        bw.write(b, 8)
    bw.write(0, 6)  # 1 mapping
    bw.write(0, 16)  # mapping type 0
    bw.write(0, 1)  # 1 submap
    if channels == 2:
        bw.write(1, 1)  # coupling present
        bw.write(0, 8)  # 1 step
        bw.write(0, 1)  # magnitude = channel 0 (ilog(1) = 1 bit)
        bw.write(1, 1)  # angle = channel 1
    else:
        bw.write(0, 1)  # no coupling
    bw.write(0, 2)  # reserved
    bw.write(0, 8)  # time config (unused)
    bw.write(0, 8)  # floor 0
    bw.write(0, 8)  # residue 0
    bw.write(1, 6)  # 2 modes: 0 = short (1024), 1 = long (2048)
    for blockflag in (0, 1):
        bw.write(blockflag, 1)
        bw.write(0, 16)
        bw.write(0, 16)
        bw.write(0, 8)  # mapping 0
    bw.write(1, 1)  # framing
    return b"\x05vorbis" + bw.tobytes()


def _enc_audio_packet(flat: np.ndarray | None, passes: list,
                      blockflag: int = 0, prev_flag: int = 1,
                      next_flag: int = 1, channels: int = 1,
                      residue_type: int = 2, value_dim: int = 1) -> bytes:
    """flat: the residue vector as the DECODER's residue stage sees it —
    length 512 for mono, 512*channels channel-interleaved for the
    type-2 stereo layout; None emits the floor-unused (silent) packet.
    passes: [(min, delta), ...] exact decoder reconstruction levels."""
    bw = _BitsW()
    bw.write(0, 1)  # audio packet
    bw.write(blockflag, 1)  # mode number (2 modes -> 1 bit; index == flag)
    if blockflag:
        bw.write(prev_flag, 1)
        bw.write(next_flag, 1)
    for _ in range(channels):
        if flat is None:
            bw.write(0, 1)  # floor unused -> channel silent
        else:
            bw.write(1, 1)  # floor nonzero
            bw.write(127, 7)  # Y0
            bw.write(127, 7)  # Y1
            _write_code(bw, 0, 7)  # partition Y vals: 0 -> predicted (flat)
            _write_code(bw, 0, 7)
    if flat is None:
        return bw.tobytes()
    size = len(flat)
    parts = size // _ENC_PSIZE
    # greedy cascade quantization against the decoder's exact levels
    approx = np.zeros(size)
    idxs = []
    for minimum, delta in passes:
        idx = np.clip(np.round((flat - approx - minimum) / delta), 0, 63)
        idx = idx.astype(np.int64)
        idxs.append(idx)
        approx = approx + minimum + idx * delta
    tiny = passes[-1][1]  # ~ delta2: silence threshold for class-0 partitions
    cls = np.array([
        1 if np.abs(flat[p * _ENC_PSIZE:(p + 1) * _ENC_PSIZE]).max() > tiny
        else 0
        for p in range(parts)
    ])

    def write_partition(levels: np.ndarray, off: int) -> None:
        # group elements into dim-sized VQ codewords matching the decode
        # loops: sequential for types 1/2, strided for type 0
        if residue_type == 0:
            step = _ENC_PSIZE // value_dim
            for i in range(step):
                e = sum(int(levels[off + i + j * step]) * 64 ** j
                        for j in range(value_dim))
                _write_code(bw, e, 6 * value_dim)
        else:
            for i in range(0, _ENC_PSIZE, value_dim):
                e = sum(int(levels[off + i + j]) * 64 ** j
                        for j in range(value_dim))
                _write_code(bw, e, 6 * value_dim)

    for p in range(3):
        pcount = 0
        while pcount < parts:
            if p == 0:
                temp = 0
                for i in range(_ENC_CWORDS):
                    temp = temp * 2 + int(cls[pcount + i])
                _write_code(bw, temp, 4)
            for _ in range(_ENC_CWORDS):
                if pcount >= parts:
                    break
                if cls[pcount]:
                    write_partition(idxs[p], pcount * _ENC_PSIZE)
                pcount += 1
    return bw.tobytes()


def _crc_table():
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1) \
                & 0xFFFFFFFF
        table.append(r)
    return table


_PAGE_CRC = _crc_table()


def _page_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _PAGE_CRC[((crc >> 24) ^ b) & 0xFF]
    return crc


def _ogg_page(serial: int, seq: int, granule: int, header_type: int,
              packets: list) -> bytes:
    lacing = bytearray()
    body = bytearray()
    for pk in packets:
        q, r = divmod(len(pk), 255)
        lacing += b"\xff" * q + bytes([r])
        body += pk
    if len(lacing) > 255:
        raise ValueError("too many segments for one page")
    head = bytearray(
        b"OggS" + bytes([0, header_type])
        + struct.pack("<q", granule)
        + struct.pack("<I", serial)
        + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(lacing)]) + bytes(lacing)
    )
    page = bytes(head) + bytes(body)
    crc = _page_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def forward_couple(x: np.ndarray, y: np.ndarray):
    """Inverse of inverse_couple: channel pair -> (magnitude, angle).
    inverse_couple(forward_couple(x, y)) == (x, y) exactly over the
    reals; in float64 the round trip is within 1 ulp of |x|+|y|
    (re-association in m+a), negligible against quantization
    (property-tested)."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    m = np.where(np.abs(x) >= np.abs(y), x, y)
    a = np.where(m > 0, x - y, y - x)
    return m, a


def encode_vorbis(pcm: np.ndarray, sample_rate: int = 44100,
                  serial: int = 0x6B6D6C31,
                  block_plan: list | None = None,
                  residue_type: int = 2, value_dim: int = 1,
                  lookup_type: int = 1) -> bytes:
    """Mono float PCM in [-1, 1] -> a complete Ogg Vorbis byte stream
    decodable by decode_vorbis_stream (and by any conformant decoder).
    The final page's granule position equals len(pcm) so decode trims to
    exactly the input length.

    ``block_plan``: optional per-frame 0/1 list (0 = 1024-sample block,
    1 = 2048) exercising the long/short window transition paths; must
    cover the input (last frame center >= len(pcm)). Default: all-short.
    Long blocks carry only the low 512 spectral bins (the residue
    config's end) — an encoder-side lowpass, irrelevant for signals
    below sample_rate/4. Frames whose windowed spectrum is exactly zero
    are emitted as floor-unused (silent) packets, covering the
    do-not-decode residue path.

    ``residue_type``/``value_dim``/``lookup_type`` select spec-conformant
    stream variants that exercise the decoder's three residue layouts,
    multi-dimension VQ grouping, and both lookup-table forms. A 2-D pcm
    of shape (n, 2) encodes coupled stereo (square-polar, type 2 only)."""
    pcm = np.asarray(pcm, np.float64)
    channels = 2 if pcm.ndim == 2 and pcm.shape[1] == 2 else 1
    if channels == 1:
        pcm = pcm.ravel()[:, None]
    if channels == 2 and residue_type != 2:
        raise ValueError("stereo coupling requires the type-2 residue layout")
    if residue_type not in (0, 1, 2) or value_dim not in (1, 2) \
            or lookup_type not in (1, 2):
        raise ValueError("unsupported encoder variant")
    n_in = pcm.shape[0]
    if n_in == 0:
        raise ValueError("empty PCM input")
    bs = (_ENC_N, 2 * _ENC_N)
    if block_plan is None:
        block_plan = [0] * (-(-n_in // (_ENC_N // 2)) + 1)
    plan = [int(b) for b in block_plan]
    if any(b not in (0, 1) for b in plan) or len(plan) < 2:
        raise ValueError("block plan must be 0/1 flags, >= 2 frames")
    # frame centers: C_0 = 0, C_{f+1} = C_f + n_f/4 + n_{f+1}/4
    centers = [0]
    for f in range(1, len(plan)):
        centers.append(centers[-1] + bs[plan[f - 1]] // 4 + bs[plan[f]] // 4)
    if centers[-1] < n_in:
        raise ValueError("block plan does not cover the input")
    off = bs[1] // 2  # front pad: largest half-block
    xpad = np.zeros((off + centers[-1] + bs[1], channels), np.float64)
    xpad[off:off + n_in] = pcm
    floor_amp = float(_INV_DB[254])
    spectra: list = []
    peak = 0.0
    for f, bf in enumerate(plan):
        n = bs[bf]
        prev_flag = plan[f - 1] if f > 0 else 1
        next_flag = plan[f + 1] if f + 1 < len(plan) else 1
        w, _ls, _re = _frame_window(n, bs[0], bf, prev_flag, next_flag)
        sl = xpad[off + centers[f] - n // 2:off + centers[f] + n // 2]
        per_ch = [mdct(w * sl[:, c])[: _ENC_N // 2] / floor_amp
                  for c in range(channels)]
        if channels == 2:
            m, a = forward_couple(per_ch[0], per_ch[1])
            flat = np.empty(2 * len(m), np.float64)
            flat[0::2], flat[1::2] = m, a
        else:
            flat = per_ch[0]
        if np.abs(flat).max() == 0.0:
            spectra.append(None)  # silent frame -> floor-unused packet
        else:
            spectra.append(flat)
            peak = max(peak, float(np.abs(flat).max()))
    m0 = max(peak, 1e-6)
    passes = []
    for _ in range(3):
        minimum = float32_unpack(float32_pack(-m0))
        delta = float32_unpack(float32_pack(2.0 * m0 / 63.0))
        passes.append((minimum, delta))
        m0 = delta  # next pass covers one coarse step (+ slack)
    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
             + struct.pack("<I", sample_rate) + struct.pack("<iii", 0, 0, 0)
             + bytes([(11 << 4) | 10]) + bytes([1]))
    vendor = b"kmlsat-vorbis"
    comment = (b"\x03vorbis" + struct.pack("<I", len(vendor)) + vendor
               + struct.pack("<I", 0) + bytes([1]))
    setup = _enc_setup_packet(passes, residue_type, lookup_type, value_dim,
                              channels)
    pages = [_ogg_page(serial, 0, 0, 0x02, [ident]),
             _ogg_page(serial, 1, 0, 0x00, [comment, setup])]
    seq = 2
    batch: list = []
    for f, bf in enumerate(plan):
        prev_flag = plan[f - 1] if f > 0 else 1
        next_flag = plan[f + 1] if f + 1 < len(plan) else 1
        batch.append(_enc_audio_packet(spectra[f], passes, bf,
                                       prev_flag, next_flag, channels,
                                       residue_type, value_dim))
        last = f == len(plan) - 1
        if len(batch) == 8 or last:
            # clamp to n_in: page granules must be non-decreasing and the
            # final one defines the end-trim point
            granule = n_in if last else min(centers[f], n_in)
            pages.append(_ogg_page(serial, seq, granule,
                                   0x04 if last else 0x00, batch))
            seq += 1
            batch = []
    return b"".join(pages)
