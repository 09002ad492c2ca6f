"""Byte-level codecs for the DDSketch wire format.

Re-implements, from scratch in Python, the flag-framed varint binary format of
the reference library (behavioral spec: /root/reference/src/serde.rs:24-163 and
/root/reference/src/input/mod.rs, /root/reference/src/output/mod.rs). All
integer arithmetic is done on Python ints with explicit 64-bit two's-complement
masking so the bit patterns match the reference's i64/u64 semantics exactly;
golden byte vectors from /root/reference/src/serde.rs:172-301 pin the behavior
in tests/test_serde.py.

These codecs run on small per-group sketch blobs (KBs), never per input row,
so plain Python is fine; the per-value hot path lives in store.py / mapping.py
as vectorized numpy.
"""

from __future__ import annotations

import struct

_U64 = (1 << 64) - 1
_SIGN64 = 1 << 63

# Encoded-length lookup tables indexed by leading/trailing zero count of the
# 64-bit payload (65 entries, index 64 = value 0). Spec:
# /root/reference/src/serde.rs:13-22.
_VARLONG_LENGTHS = (
    9, 9, 9, 9, 9, 9, 9, 9,
    8, 8, 8, 8, 8, 8, 8,
    7, 7, 7, 7, 7, 7, 7,
    6, 6, 6, 6, 6, 6, 6,
    5, 5, 5, 5, 5, 5, 5,
    4, 4, 4, 4, 4, 4, 4,
    3, 3, 3, 3, 3, 3, 3,
    2, 2, 2, 2, 2, 2, 2,
    1, 1, 1, 1, 1, 1, 1, 1,
)

_BITS_OF_ONE = struct.unpack("<Q", struct.pack("<d", 1.0))[0]  # 0x3ff0000000000000
_VAR_DOUBLE_ROTATE = 6


def _to_u64(v: int) -> int:
    return v & _U64


def _to_i64(v: int) -> int:
    v &= _U64
    return v - (1 << 64) if v & _SIGN64 else v


def _leading_zeros64(v: int) -> int:
    v &= _U64
    return 64 - v.bit_length()


def _trailing_zeros64(v: int) -> int:
    v &= _U64
    if v == 0:
        return 64
    return (v & -v).bit_length() - 1


def _rotl64(v: int, n: int) -> int:
    v &= _U64
    return ((v << n) | (v >> (64 - n))) & _U64


def _rotr64(v: int, n: int) -> int:
    v &= _U64
    return ((v >> n) | (v << (64 - n))) & _U64


def double_to_bits(value: float) -> int:
    """IEEE-754 bit pattern of a float as an unsigned 64-bit int."""
    return struct.unpack("<Q", struct.pack("<d", value))[0]


def bits_to_double(bits: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", bits & _U64))[0]


# ---------------------------------------------------------------------------
# f64 bit-field helpers (used by the cubic mapping; spec serde.rs:75-89)
# ---------------------------------------------------------------------------

SIGNIFICAND_WIDTH = 53
SIGNIFICAND_MASK = 0x000FFFFFFFFFFFFF
EXPONENT_MASK = 0x7FF0000000000000
EXPONENT_SHIFT = SIGNIFICAND_WIDTH - 1
EXPONENT_BIAS = 1023


def build_double(exponent: int, significand_plus_one: float) -> float:
    significand_plus_one = max(1.0, significand_plus_one)
    raw = (((exponent + EXPONENT_BIAS) << EXPONENT_SHIFT) & EXPONENT_MASK) | (
        double_to_bits(significand_plus_one) & SIGNIFICAND_MASK
    )
    return bits_to_double(raw)


# ---------------------------------------------------------------------------
# zig-zag
# ---------------------------------------------------------------------------

def zig_zag_encode(value: int) -> int:
    """i64 -> u64 payload: (v >> 63) ^ (v << 1) with arithmetic shift."""
    v = _to_i64(value)
    return _to_u64((v >> 63) ^ (v << 1))


def zig_zag_decode(value: int) -> int:
    v = _to_u64(value)
    return _to_i64((v >> 1) ^ _to_u64(-(v & 1)))


# ---------------------------------------------------------------------------
# unsigned / signed var-long (7-bit LE continuation, 9th byte carries 8 bits)
# ---------------------------------------------------------------------------

def encode_unsigned_var_long(buf: bytearray, value: int) -> None:
    v = _to_u64(value)
    # trunc-toward-zero division of (63 - leading_zeros) by 7, as i64
    n = 63 - _leading_zeros64(v)
    length = abs(n) // 7 if n >= 0 else -((-n) // 7)
    i = 0
    while i < length and i < 8:
        buf.append((v | 0x80) & 0xFF)
        v >>= 7
        i += 1
    buf.append(v & 0xFF)


def encode_signed_var_long(buf: bytearray, value: int) -> None:
    encode_unsigned_var_long(buf, zig_zag_encode(value))


def unsigned_var_long_encoded_length(value: int) -> int:
    return _VARLONG_LENGTHS[_leading_zeros64(value)]


def signed_var_long_encoded_length(value: int) -> int:
    return _VARLONG_LENGTHS[_leading_zeros64(zig_zag_encode(value))]


class Input:
    """Bounds-checked byte cursor (spec: /root/reference/src/input/mod.rs)."""

    __slots__ = ("_data", "_pos", "_end")

    def __init__(self, data: bytes):
        self._data = data
        self._pos = 0
        self._end = len(data)

    def has_remaining(self) -> bool:
        return self._pos < self._end

    def tell(self) -> int:
        return self._pos

    def seek(self, pos: int) -> None:
        self._pos = pos

    def buffer(self) -> bytes:
        return self._data

    def read_byte(self) -> int:
        if self._pos >= self._end:
            raise ValueError("Input exhausted")
        b = self._data[self._pos]
        self._pos += 1
        return b

    def read_double_le(self) -> float:
        if self._pos + 8 > self._end:
            raise ValueError("Input exhausted")
        (v,) = struct.unpack_from("<d", self._data, self._pos)
        self._pos += 8
        return v


def decode_unsigned_var_long(inp: Input) -> int:
    value = 0
    shift = 0
    while True:
        b = inp.read_byte()
        signed = b - 256 if b >= 128 else b  # as i8
        if signed >= 0 or shift == 56:
            return _to_i64(value | _to_u64(signed << shift))
        value |= (signed & 127) << shift
        shift += 7


def decode_signed_var_long(inp: Input) -> int:
    return zig_zag_decode(decode_unsigned_var_long(inp))


# ---------------------------------------------------------------------------
# var-double (MSB-first 7-bit groups over a rotated delta-from-1.0 payload)
# ---------------------------------------------------------------------------

def double_to_var_bits(value: float) -> int:
    delta = _to_i64(double_to_bits(value + 1.0) - _BITS_OF_ONE)
    return _rotl64(delta, _VAR_DOUBLE_ROTATE)


def var_bits_to_double(bits: int) -> float:
    return bits_to_double(_to_u64(_to_i64(_rotr64(bits, _VAR_DOUBLE_ROTATE)) + _BITS_OF_ONE)) - 1.0


def encode_var_double(buf: bytearray, value: float) -> None:
    bits = double_to_var_bits(value)
    for _ in range(8):
        nxt = (bits >> 57) & 0xFF  # top 7 bits land in low positions
        bits = _to_u64(bits << 7)
        if bits == 0:
            buf.append(nxt)
            return
        buf.append(nxt | 0x80)
    buf.append((bits >> 56) & 0xFF)


def decode_var_double(inp: Input) -> float:
    bits = 0
    shift = 64 - 7
    while True:
        b = inp.read_byte()
        signed = b - 256 if b >= 128 else b
        if shift == 1:
            bits |= b & 0xFF
            break
        if signed >= 0:
            bits |= _to_u64(signed << shift)
            break
        bits |= (signed & 127) << shift
        shift -= 7
    return var_bits_to_double(bits)


def var_double_encoded_length(value: float) -> int:
    return _VARLONG_LENGTHS[_trailing_zeros64(double_to_var_bits(value))]


def i64_to_i32_exact(value: int) -> int:
    if not (-(1 << 31) <= value < (1 << 31)):
        raise ValueError("Value is not a valid i32")
    return value


# ---------------------------------------------------------------------------
# Vectorized var-double array codec (numpy) — the blob hot path.
#
# A sketch blob's dominant content is the dense ContiguousCounts block: one
# var-double per bucket (thousands per blob). These batch codecs produce
# byte-identical output to the scalar functions above (pinned by the golden
# vectors + randomized cross-checks in tests/test_serde.py) while running
# ~50x faster.
# ---------------------------------------------------------------------------

def _np_rotl64(v, n):
    import numpy as np
    v = v.astype(np.uint64, copy=False)
    return (v << np.uint64(n)) | (v >> np.uint64(64 - n))


def _np_rotr64(v, n):
    import numpy as np
    v = v.astype(np.uint64, copy=False)
    return (v >> np.uint64(n)) | (v << np.uint64(64 - n))


def double_to_var_bits_array(values) -> "np.ndarray":
    import numpy as np
    v = np.asarray(values, dtype=np.float64)
    delta = (v + 1.0).view(np.uint64) - np.uint64(_BITS_OF_ONE)
    return _np_rotl64(delta, _VAR_DOUBLE_ROTATE)


def var_bits_to_double_array(bits) -> "np.ndarray":
    import numpy as np
    b = _np_rotr64(np.asarray(bits, dtype=np.uint64), _VAR_DOUBLE_ROTATE)
    return (b + np.uint64(_BITS_OF_ONE)).view(np.float64) - 1.0


def var_double_encoded_length_array(values) -> "np.ndarray":
    """Vectorized twin of var_double_encoded_length (trailing-zeros table)."""
    import numpy as np
    bits = double_to_var_bits_array(values)
    tz = np.zeros(bits.shape[0], dtype=np.int64)
    x = bits.copy()
    zero = x == 0
    # trailing zeros by binary probing
    for shift in (32, 16, 8, 4, 2, 1):
        mask = (x & np.uint64((1 << shift) - 1)) == 0
        nz = mask & ~zero
        tz[nz] += shift
        x[nz] >>= np.uint64(shift)
    tz[zero] = 64
    table = np.asarray(_VARLONG_LENGTHS, dtype=np.int64)
    return table[tz]


def signed_var_long_encoded_length_array(values) -> "np.ndarray":
    """Vectorized signed_var_long_encoded_length (zigzag + clz table)."""
    import numpy as np
    v = np.asarray(values, dtype=np.int64)
    zz = ((v >> np.int64(63)) ^ (v << np.int64(1))).view(np.uint64)
    # count leading zeros via bit smearing + SWAR popcount
    y = zz.copy()
    for s in (1, 2, 4, 8, 16, 32):
        y |= y >> np.uint64(s)
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    y -= (y >> np.uint64(1)) & m1
    y = (y & m2) + ((y >> np.uint64(2)) & m2)
    y = (y + (y >> np.uint64(4))) & m4
    ones = ((y * h01) >> np.uint64(56)).astype(np.int64)
    table = np.asarray(_VARLONG_LENGTHS, dtype=np.int64)
    return table[64 - ones]


def encode_var_double_array(buf: bytearray, values) -> None:
    """Batch encode_var_double: byte-identical concatenation of the scalar
    encodings of each value."""
    import numpy as np
    v = np.asarray(values, dtype=np.float64)
    n = v.shape[0]
    if n == 0:
        return
    bits = double_to_var_bits_array(v)
    lengths = var_double_encoded_length_array(v)
    out = np.zeros((n, 9), dtype=np.uint8)
    # byte j (0-based, j<8) carries bits (bits >> (57-7j)) & 0x7F with the
    # continuation MSB set unless it is the final byte; byte 8 carries the
    # remaining 8 bits verbatim.
    for j in range(8):
        grp = ((bits >> np.uint64(57 - 7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        is_last = lengths == j + 1
        has = lengths > j
        out[:, j] = np.where(has, np.where(is_last, grp, grp | 0x80), 0)
    out[:, 8] = np.where(lengths == 9, (bits & np.uint64(0xFF)).astype(np.uint8), 0)
    # flatten rows to their actual lengths
    mask = np.arange(9)[None, :] < lengths[:, None]
    buf.extend(out[mask].tobytes())


def try_decode_var_double_array(data: bytes, pos: int, count: int):
    """Attempt a vectorized parse of ``count`` var-doubles at data[pos:].

    Returns (values ndarray, new_pos) or None when the fast parse is unsafe
    (a 9-byte token whose 9th byte has the MSB set glues tokens together
    under naive continuation-bit splitting; such a glue always produces an
    apparent token longer than 9 bytes, which we detect and reject).
    """
    import numpy as np
    arr = np.frombuffer(data, dtype=np.uint8, offset=pos)
    if arr.shape[0] == 0 or count == 0:
        return np.zeros(0, dtype=np.float64), pos
    term = np.flatnonzero(arr < 128)
    if term.shape[0] < count:
        return None
    ends = term[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    if (lengths > 9).any():
        return None  # possible 9-byte-token glue; use the scalar path
    # gather token bytes into an (count, 9) matrix
    mat = np.zeros((count, 9), dtype=np.uint8)
    idx = starts[:, None] + np.arange(9)[None, :]
    valid = np.arange(9)[None, :] < lengths[:, None]
    mat[valid] = arr[idx[valid]]
    bits = np.zeros(count, dtype=np.uint64)
    for j in range(8):
        has = lengths > j
        bits[has] |= (mat[has, j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(57 - 7 * j)
    nine = lengths == 9
    if nine.any():
        bits[nine] |= mat[nine, 8].astype(np.uint64)
    return var_bits_to_double_array(bits), pos + int(ends[count - 1]) + 1
