"""HyperLogLog sketch, wire-compatible with the reference.

Format (reference: src/hyperloglog.c:386-411, README.md:362-389): lowercase
hex string — 1 byte precision (p=14 -> "0e"), 1 byte version (00 empty /
01 non-empty), then run-length-encoded registers (count byte with MSB
continuation into a second byte, then value byte).  Empty sketch -> "0e00".

Hash: MurmurHash3 x64 128, first 64-bit half (reference qhashmurmur3_64,
src/hyperloglog.c:150-250).  Register index = low p bits.  Rank replicates a
reference quirk: __builtin_clz is applied to the *low 32 bits* of
(h | (m-1)), so rank = clz32(h | 0x3fff) + 1 (src/hyperloglog.c:271-277).

Hash input: the *display form* of the yielded tuple (items comma-joined,
cookie bytes hex-encoded) — this reproduces the published golden sketches in
test/tr/test_hll_result.tr exactly.  Note the reference's current C code
hashes the framed tuple buffer instead (src/utils.c:281-287) and would NOT
reproduce its own golden fixture; its test differ never compares ^-keys
(test/ddiff.py:6-17 — prefix '^' absent), so the discrepancy is invisible to
its CI.  We side with the published goldens.

The sketch is a pure monoid (merge = per-register max), which is what makes
it Spark-friendly: the FSM emits (register, rank) rows and a plain
``groupBy(register).agg(max(rank))`` reconstructs the sketch — no opaque
binary UDAF state, full partial/final aggregation on the JVM side.
"""

from __future__ import annotations

M64 = 0xFFFFFFFFFFFFFFFF

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & M64
    k ^= k >> 33
    return k


def murmur3_x64_128_h1(data: bytes) -> int:
    """First 64 bits of MurmurHash3 x64 128 with seed 0."""
    nbytes = len(data)
    nblocks = nbytes // 16
    h1 = 0
    h2 = 0
    for i in range(nblocks):
        off = i * 16
        k1 = int.from_bytes(data[off : off + 8], "little")
        k2 = int.from_bytes(data[off + 8 : off + 16], "little")
        k1 = (k1 * _C1) & M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & M64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & M64
        h1 = (h1 * 5 + 0x52DCE729) & M64
        k2 = (k2 * _C2) & M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & M64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & M64
        h2 = (h2 * 5 + 0x38495AB5) & M64

    tail = data[nblocks * 16 :]
    k1 = 0
    k2 = 0
    tl = len(tail)
    if tl >= 9:
        for i in range(8, tl):
            k2 ^= tail[i] << ((i - 8) * 8)
        k2 = (k2 * _C2) & M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & M64
        h2 ^= k2
    if tl >= 1:
        for i in range(0, min(tl, 8)):
            k1 ^= tail[i] << (i * 8)
        k1 = (k1 * _C1) & M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & M64
        h1 ^= k1

    h1 ^= nbytes
    h2 ^= nbytes
    h1 = (h1 + h2) & M64
    h2 = (h2 + h1) & M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & M64
    # reference returns h1 here (h2 += h1 has no observable effect)
    return h1


HLL_P = 14
HLL_M = 1 << HLL_P  # 16384


def cookie_display_hex(uuid: str) -> str:
    """The display form a `yield cookie` hashes: the 16 effective cookie
    bytes lowercase-hex — a well-formed 32-hex uuid lowercases through,
    anything else is utf-8 encoded and zero-padded/truncated to 16 bytes
    (mirrors engine._cookie_from_uuid + tuples.tuple_to_display for a
    single BYTES item).  Always exactly 32 hex characters."""
    if len(uuid) == 32:
        try:
            bytes.fromhex(uuid)
            return uuid.lower()
        except ValueError:
            pass
    return uuid.encode()[:16].ljust(16, b"\0").hex()


def _murmur_h1_32_vec(blocks):
    """Vectorized murmur3_x64_128_h1 for inputs of EXACTLY 32 bytes
    (two 16-byte blocks, empty tail) — the cookie display form is always
    32 hex characters, which makes the store's write-time register
    column a few numpy expressions instead of a per-row Python hash.

    blocks: uint64 ndarray of shape (n, 4), little-endian words.
    Returns uint64 ndarray of shape (n,): the reference's h1."""
    import numpy as np

    u64 = np.uint64
    C1, C2 = u64(_C1), u64(_C2)

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    def fmix(k):
        k ^= k >> u64(33)
        k *= u64(0xFF51AFD7ED558CCD)
        k ^= k >> u64(33)
        k *= u64(0xC4CEB9FE1A85EC53)
        k ^= k >> u64(33)
        return k

    h1 = np.zeros(len(blocks), dtype=np.uint64)
    h2 = np.zeros(len(blocks), dtype=np.uint64)
    for i in (0, 2):
        k1 = blocks[:, i] * C1
        k1 = rotl(k1, 31) * C2
        h1 ^= k1
        h1 = rotl(h1, 27) + h2
        h1 = h1 * u64(5) + u64(0x52DCE729)
        k2 = blocks[:, i + 1] * C2
        k2 = rotl(k2, 33) * C1
        h2 ^= k2
        h2 = rotl(h2, 31) + h1
        h2 = h2 * u64(5) + u64(0x38495AB5)
    h1 ^= u64(32)
    h2 ^= u64(32)
    h1 += h2
    h2 += h1
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 += h2
    return h1


def hll_register_update(data: bytes) -> tuple[int, int]:
    """(register_index, rank) for one added value — the relational form of
    hll_add, aggregable with groupBy(register).max(rank)."""
    h = murmur3_x64_128_h1(data)
    idx = h & (HLL_M - 1)
    low32 = (h | (HLL_M - 1)) & 0xFFFFFFFF
    rank = 32 - low32.bit_length() + 1
    return idx, rank


# rank at p=14 is in [1, 19]; 6 bits leaves headroom and keeps the
# packed form a small positive int32
RR_RANK_BITS = 6
RR_RANK_MASK = (1 << RR_RANK_BITS) - 1


def hll_rr_from_uuids(uuids) -> "object":
    """Packed ``(register << RR_RANK_BITS) | rank`` int32 per uuid — the
    write-time materialized form of
    ``hll_register_update(cookie_display_hex(uuid))`` (reference hash
    semantics hyperloglog.c:256-296).

    The store persists this as a per-row ``__hll_rr`` column so any
    cookie-uniques scan (the ts-bounded boundary slice above all) stays
    entirely JVM-side: ``groupBy(code, rr >> 6).agg(max(rr & 63))`` is
    byte-identical to hashing each cookie, with zero Arrow transfer of
    cookie strings.

    Vectorized end to end for the two display forms
    (:func:`cookie_display_hex`): strict 32-hex uuids lowercase
    through; other ASCII uuids byte-truncate/zero-pad to 16 bytes and
    hex-expand via a nibble LUT.  Rows that defeat the vector paths
    (non-ASCII input, or fromhex's space-tolerant corner) fall back to
    the scalar hash — identical output, just slower."""
    import numpy as np

    arr = [
        u if isinstance(u, str) else ("" if u is None else str(u))
        for u in uuids
    ]
    n = len(arr)
    out = np.zeros(n, dtype=np.int32)
    if n == 0:
        return out

    def _scalar(i: int) -> None:
        idx, rank = hll_register_update(
            cookie_display_hex(arr[i]).encode()
        )
        out[i] = (idx << RR_RANK_BITS) | rank

    try:
        # S33 so a true 32-byte row is distinguishable from truncation
        enc33 = np.array(arr, dtype="S33")
    except UnicodeEncodeError:
        for i in range(n):
            _scalar(i)
        return out
    lens = np.char.str_len(enc33)
    u8 = np.ascontiguousarray(enc33.view(np.uint8).reshape(n, -1)[:, :33])
    head32 = u8[:, :32]
    is_hex_byte = np.zeros(256, dtype=bool)
    for ch in b"0123456789abcdefABCDEF":
        is_hex_byte[ch] = True
    is32 = lens == 32
    strict_hex = is32 & is_hex_byte[head32].all(axis=1)
    # bytes.fromhex ignores ALL ASCII whitespace (space, \t\n\v\f\r),
    # so a 32-char mixed hex/whitespace string CAN parse — route those
    # rare rows through the scalar form rather than replicating
    # fromhex's grouping rules vectorized
    has_space = np.isin(
        head32, np.frombuffer(b"\t\n\x0b\x0c\r ", dtype=np.uint8)
    ).any(axis=1)
    suspect = is32 & has_space & ~strict_hex
    disp = np.empty(n, dtype="S32")
    if strict_hex.any():
        disp[strict_hex] = np.char.lower(enc33[strict_hex].astype("S32"))
    bmask = ~strict_hex & ~suspect
    if bmask.any():
        b16 = u8[bmask][:, :16]  # shorter rows are already \0-padded
        lut = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
        hx = np.empty((int(bmask.sum()), 32), dtype=np.uint8)
        hx[:, 0::2] = lut[b16 >> 4]
        hx[:, 1::2] = lut[b16 & 0x0F]
        disp[bmask] = hx.reshape(-1).view("S32")
    blocks = disp.view(np.uint64).reshape(n, 4)
    h = _murmur_h1_32_vec(blocks)
    idx = (h & np.uint64(HLL_M - 1)).astype(np.int64)
    low32 = ((h | np.uint64(HLL_M - 1)) & np.uint64(0xFFFFFFFF)).astype(
        np.uint32
    )
    bl = np.full(n, 14, dtype=np.int64)
    for k in range(14, 32):
        bl += (low32 >= np.uint32(1 << k)).astype(np.int64)
    rank = 33 - bl
    packed = ((idx << RR_RANK_BITS) | rank).astype(np.int32)
    out[:] = packed
    if suspect.any():
        for i in np.flatnonzero(suspect):
            _scalar(int(i))
    return out


class Hll:
    """Dense p=14 sketch for driver-side assembly and tests."""

    __slots__ = ("M",)

    def __init__(self) -> None:
        self.M = bytearray(HLL_M)

    def add(self, data: bytes) -> None:
        idx, rank = hll_register_update(data)
        if self.M[idx] < rank:
            self.M[idx] = rank

    def set_register(self, idx: int, rank: int) -> None:
        if self.M[idx] < rank:
            self.M[idx] = rank

    def merge(self, other: "Hll") -> None:
        m, o = self.M, other.M
        for i in range(HLL_M):
            if m[i] < o[i]:
                m[i] = o[i]

    def is_empty(self) -> bool:
        return not any(self.M)

    def to_hex(self) -> str:
        if self.is_empty():
            return EMPTY_HLL_HEX
        return "%02x%02x%s" % (HLL_P, 1, _rle_encode(self.M).hex())

    def estimate(self) -> float:
        """Bias-corrected cardinality estimate (reference hll_estimate,
        hyperloglog.c:299-349): raw harmonic-mean estimate with alpha_m,
        empirical HLL++ bias subtraction below 5m, linear counting while
        zeros remain, and the p=14 crossover threshold choosing between
        the two."""
        import math

        from trck_spark.fsm.hll_bias import THRESHOLD_P14, estimate_bias

        m = HLL_M
        s = 0.0
        zeros = 0
        for r in self.M:
            s += 2.0**-r
            if r == 0:
                zeros += 1
        alpha = 0.7213 / (1.0 + 1.079 / m)  # m=16384 -> default branch
        e = alpha * m * m / s
        if e < 5 * m:
            e -= estimate_bias(e)
        h = m * math.log(m / zeros) if zeros else e
        return h if h <= THRESHOLD_P14 else e


EMPTY_HLL_HEX = "0e00"


def _rle_encode(regs: bytes | bytearray) -> bytes:
    """Run-length encode: runs emitted as count (1 byte, or 2 bytes with MSB
    set on the first when count > 127) followed by the value byte.

    Fully vectorized: run boundaries via numpy diff, and the records
    themselves scattered into a preallocated byte array (the previous
    per-run emit loop walked ~16k Python iterations on a dense 160M-
    event sketch — ~10 ms per encode, and the ts-uniques answer path
    encodes one sketch per grid value per run)."""
    import numpy as np

    n = len(regs)
    if n == 0:
        return b""
    a = np.frombuffer(bytes(regs), dtype=np.uint8)
    starts = np.concatenate(([0], np.flatnonzero(np.diff(a)) + 1))
    counts = np.diff(np.concatenate((starts, [n])))
    vals = a[starts]
    big = counts > 127
    sizes = 2 + big  # 3-byte record when the count needs two bytes
    offs = np.zeros(len(counts), np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    out = np.empty(int(sizes.sum()), np.uint8)
    out[offs] = np.where(big, 0x80 | (counts & 0x7F), counts).astype(
        np.uint8
    )
    if big.any():
        out[offs[big] + 1] = (counts[big] >> 7).astype(np.uint8)
    out[offs + sizes - 1] = vals
    return out.tobytes()


def _rle_decode_registers(data: bytes):
    """Decode the RLE byte stream into a register ndarray (uint8,
    length = sum of run counts).

    Vectorized over CONTIGUOUS STRETCHES of 2-byte records: within such
    a stretch count bytes sit at even offsets, and a value byte can
    never fake a continuation (ranks are <= 64 < 0x80), so the first
    MSB-set byte at an even offset is exactly the next 3-byte record.
    The Python loop runs once per 3-byte record (long runs — rare
    outside near-empty sketches), not once per run."""
    import numpy as np

    d = np.frombuffer(data, dtype=np.uint8)
    n = len(d)
    counts_parts: list = []
    vals_parts: list = []
    pos = 0
    while pos < n:
        stretch = d[pos::2]
        msb = np.flatnonzero(stretch & 0x80)
        if msb.size == 0:
            if (n - pos) % 2:
                raise IndexError("truncated RLE sketch data")
            counts_parts.append(d[pos:n:2].astype(np.int64))
            vals_parts.append(d[pos + 1:n:2])
            break
        j = int(msb[0])
        if j:
            counts_parts.append(d[pos:pos + 2 * j:2].astype(np.int64))
            vals_parts.append(d[pos + 1:pos + 2 * j:2])
        p = pos + 2 * j
        c = (int(d[p]) & 0x7F) | (int(d[p + 1]) << 7)
        counts_parts.append(np.array([c], np.int64))
        vals_parts.append(d[p + 2:p + 3])
        pos = p + 3
    if not counts_parts:
        return np.zeros(0, np.uint8)
    counts = np.concatenate(counts_parts)
    vals = np.concatenate(vals_parts)
    if len(vals) < len(counts):
        raise IndexError("truncated RLE sketch data")
    return np.repeat(vals, counts)


def hll_from_hex(hex_str: str) -> Hll:
    """Decode the wire format back into a sketch."""
    sketch = Hll()
    if len(hex_str) < 4:
        return sketch
    version = int(hex_str[2:4], 16)
    if version == 0:
        return sketch
    data = bytes.fromhex(hex_str[4:])
    regs = _rle_decode_registers(data)
    k = min(len(regs), HLL_M)
    sketch.M[:k] = regs[:k].tobytes()
    return sketch
