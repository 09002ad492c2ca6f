"""Byte-level codecs for the DDSketch wire format.

Re-implements, from scratch in Python, the flag-framed varint binary format of
the reference library (behavioral spec: /root/reference/src/serde.rs:24-163 and
/root/reference/src/input/mod.rs, /root/reference/src/output/mod.rs). All
integer arithmetic is done on Python ints with explicit 64-bit two's-complement
masking so the bit patterns match the reference's i64/u64 semantics exactly;
golden byte vectors from /root/reference/src/serde.rs:172-301 pin the behavior
in tests/test_serde.py.

Two layers. The scalar codecs write and read the header fields (bin count,
first index, index step, zero count, mapping) and are the golden-pinned
reference. The token codec at the end of this module (numpy) writes and
reads every bin block, var-longs and var-doubles alike, with the same bytes.
"""

from __future__ import annotations

import struct

import numpy as np

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
# Token codec (numpy) — every bin block.
#
# A var-long and a var-double are one token shape: up to eight 7-bit groups,
# each with a continuation MSB, then a ninth byte that carries 8 bits
# whatever its MSB. A kind names the payload shift of each of the nine
# groups, first byte first: a zig-zagged var-long takes them from the low
# end, a var-double (rotated delta from 1.0) from the high end. The groups
# partition the 64 bits, so a token's length is one past its last non-zero
# group, and its bytes are the groups with the MSB set on all but the last.
#
# Framing is exact: every byte below 0x80 ends a token, so every maximal run
# of continuation bytes starts one, and inside a run tokens are cut every
# nine bytes from its start. Tokens go in chunks so that no temporary grows
# with the block. The scalar codecs above are the reference these are
# tested against (tests/test_serde.py).
# ---------------------------------------------------------------------------

VAR_LONG = np.arange(0, 57, 7, dtype=np.uint64)
VAR_DOUBLE = np.array([57, 50, 43, 36, 29, 22, 15, 8, 0], dtype=np.uint64)
_CHUNK = 1 << 14  # tokens per step: ~1 MB per temporary matrix
_SLOTS = np.arange(1, 10, dtype=np.uint8)  # 1-based byte slots of a token
_GROUP_MASKS = np.array([0x7F] * 8 + [0xFF], dtype=np.uint8)
# Row L: the group bits of the slots that a token of length L fills.
_KEPT_GROUPS = np.where(_SLOTS <= np.arange(10)[:, None], _GROUP_MASKS, 0).astype(np.uint8)
# Typed operands of the decoder: a mixed-type or Python-int operand costs
# numpy a cast on every call, which a short block pays in full.
_TOKEN_SLOTS = _SLOTS.astype(np.intp)
_CONTINUED = np.uint8(0x80)
_NINE = np.intp(9)
_U64_ONE = np.uint64(1)
_ROTATE = np.uint64(_VAR_DOUBLE_ROTATE)
_UNROTATE = np.uint64(64 - _VAR_DOUBLE_ROTATE)
_ONE_BITS = np.uint64(_BITS_OF_ONE)


def zig_zag_array(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.int64)
    return ((v >> 63) ^ (v << 1)).view(np.uint64)


def zig_zag_decode_array(payload: np.ndarray) -> np.ndarray:
    return ((payload >> _U64_ONE) ^ -(payload & _U64_ONE)).view(np.int64)


def var_double_bits_array(values: np.ndarray) -> np.ndarray:
    delta = (np.asarray(values, dtype=np.float64) + 1.0).view(np.uint64) - np.uint64(_BITS_OF_ONE)
    return (delta << np.uint64(6)) | (delta >> np.uint64(58))


def var_bits_to_double_array(payload: np.ndarray) -> np.ndarray:
    values = (((payload >> _ROTATE) | (payload << _UNROTATE)) + _ONE_BITS).view(np.float64)
    if not np.isnan(values).any():
        return values - 1.0
    # a corrupt blob's signalling NaN would warn in the subtraction; the
    # decoder's own checks judge the value
    with np.errstate(invalid="ignore"):
        return values - 1.0


def encode_tokens(payload: np.ndarray, kinds: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Bytes of uint64 ``payload`` (rows, k), row by row, with column c
    written as kind ``kinds[c]`` (rows of VAR_LONG / VAR_DOUBLE), and each
    token's length as (rows, k)."""
    parts, lengths = [], np.empty(payload.shape, dtype=np.uint8)
    for i in range(0, payload.shape[0], _CHUNK):
        groups = ((payload[i:i + _CHUNK, :, None] >> kinds).astype(np.uint8)
                  & _GROUP_MASKS)
        size = np.maximum(np.maximum.reduce((groups != 0) * _SLOTS, -1), 1)[..., None]
        groups[_SLOTS < size] |= 0x80
        parts.append(groups[_SLOTS <= size].tobytes())
        lengths[i:i + _CHUNK] = size[..., 0]
    return b"".join(parts), lengths


def decode_tokens(inp: Input, rows: int, kinds: np.ndarray) -> np.ndarray:
    """Read ``rows`` rows of one token per kind at the cursor: uint64
    payloads as (rows, k). A token takes at least a byte, so a row count
    the bytes left cannot hold raises before anything is allocated."""
    data, pos = inp.buffer(), inp.tell()
    if rows * kinds.shape[0] > len(data) - pos:
        raise ValueError("Input exhausted")
    payload = np.empty((rows, kinds.shape[0]), dtype=np.uint64)
    step = _CHUNK // kinds.shape[0]
    for i in range(0, rows, step):
        n = payload[i:i + step].size
        window = np.frombuffer(data, np.uint8, min(9 * n, len(data) - pos), pos)
        # bytes since the last byte below 0x80 (or since before the window):
        # a token ends wherever that is a multiple of nine
        at = np.arange(1, window.shape[0] + 1)
        since_end = at - np.maximum.accumulate((window < _CONTINUED) * at)
        ends = (since_end % _NINE == 0).nonzero()[0][:n]
        if ends.shape[0] < n:
            raise ValueError("Input exhausted")
        before = np.empty_like(ends)  # the byte before each token
        before[0], before[1:] = -1, ends[:-1]
        # bytes past a token's end are masked off, so the gather may clip
        groups = (window.take(before[:, None] + _TOKEN_SLOTS, mode="clip")
                  & _KEPT_GROUPS[ends - before])
        payload[i:i + step] = np.add.reduce(
            groups.reshape(-1, *kinds.shape).astype(np.uint64) << kinds, -1)
        pos += int(ends[-1]) + 1
    inp.seek(pos)
    return payload
