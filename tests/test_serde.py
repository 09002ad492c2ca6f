"""Golden byte-vector tests for the DDSketch wire codecs.

Vectors are taken verbatim from the reference test suite
(/root/reference/src/serde.rs:172-301,340-497) so the Python codecs are
byte-identical to the reference implementation.
"""

import pytest

from sketches_rust_spark.kernel import serde
from sketches_rust_spark.kernel.serde import Input

VAR_DOUBLES = [
    (0.0, [0]),
    (1.0, [2]),
    (2.0, [3]),
    (3.0, [4]),
    (4.0, [132, 64]),
    (5.0, [5]),
    (6.0, [133, 64]),
    (7.0, [6]),
    (8.0, [134, 32]),
    (9.0, [134, 64]),
    (4.503599627370494e15, [231, 255, 255, 255, 255, 255, 255, 255, 128]),
    (4.503599627370495e15, [104]),
    (4.503599627370496e15, [232, 128, 128, 128, 128, 128, 128, 128, 64]),
    (9.00719925474099e15, [233, 255, 255, 255, 255, 255, 255, 255, 192]),
    (9.007199254740991e15, [106]),
    (-1.0, [130, 128, 128, 128, 128, 128, 128, 128, 48]),
    (-0.5, [254, 128, 128, 128, 128, 128, 128, 128, 63]),
]

SIGNED_VAR_LONGS = [
    (0, [0]),
    (1, [2]),
    (63, [126]),
    (64, [128, 1]),
    (65, [130, 1]),
    (127, [254, 1]),
    (128, [128, 2]),
    (8191, [254, 127]),
    (8192, [128, 128, 1]),
    (8193, [130, 128, 1]),
    (4611686018427387902, [252, 255, 255, 255, 255, 255, 255, 255, 127]),
    (4611686018427387903, [254, 255, 255, 255, 255, 255, 255, 255, 127]),
    (4611686018427387904, [128, 128, 128, 128, 128, 128, 128, 128, 128]),
    (9223372036854775806, [252, 255, 255, 255, 255, 255, 255, 255, 255]),
    (9223372036854775807, [254, 255, 255, 255, 255, 255, 255, 255, 255]),
    (-1, [1]),
    (-63, [125]),
    (-64, [127]),
    (-65, [129, 1]),
    (-127, [253, 1]),
    (-128, [255, 1]),
    (-8191, [253, 127]),
    (-8192, [255, 127]),
    (-8193, [129, 128, 1]),
    (-4611686018427387903, [253, 255, 255, 255, 255, 255, 255, 255, 127]),
    (-4611686018427387904, [255, 255, 255, 255, 255, 255, 255, 255, 127]),
    (-4611686018427387905, [129, 128, 128, 128, 128, 128, 128, 128, 128]),
    (-9223372036854775807, [253, 255, 255, 255, 255, 255, 255, 255, 255]),
    (-9223372036854775808, [255, 255, 255, 255, 255, 255, 255, 255, 255]),
]

UNSIGNED_VAR_LONGS = [
    (0, [0]),
    (1, [1]),
    (127, [127]),
    (128, [128, 1]),
    (129, [129, 1]),
    (255, [255, 1]),
    (256, [128, 2]),
    (16383, [255, 127]),
    (16384, [128, 128, 1]),
    (16385, [129, 128, 1]),
    (-2, [254, 255, 255, 255, 255, 255, 255, 255, 255]),
    (-1, [255, 255, 255, 255, 255, 255, 255, 255, 255]),
]


@pytest.mark.parametrize("value,expected", VAR_DOUBLES)
def test_encode_var_double(value, expected):
    buf = bytearray()
    serde.encode_var_double(buf, value)
    assert list(buf) == expected


@pytest.mark.parametrize("value,expected", VAR_DOUBLES)
def test_decode_var_double(value, expected):
    assert serde.decode_var_double(Input(bytes(expected))) == value


@pytest.mark.parametrize("value,expected", VAR_DOUBLES)
def test_var_double_encoded_length(value, expected):
    assert serde.var_double_encoded_length(value) == len(expected)


@pytest.mark.parametrize("value,expected", SIGNED_VAR_LONGS)
def test_encode_signed_var_long(value, expected):
    buf = bytearray()
    serde.encode_signed_var_long(buf, value)
    assert list(buf) == expected


@pytest.mark.parametrize("value,expected", SIGNED_VAR_LONGS)
def test_decode_signed_var_long(value, expected):
    assert serde.decode_signed_var_long(Input(bytes(expected))) == value


@pytest.mark.parametrize("value,expected", SIGNED_VAR_LONGS)
def test_signed_var_long_encoded_length(value, expected):
    assert serde.signed_var_long_encoded_length(value) == len(expected)


@pytest.mark.parametrize("value,expected", UNSIGNED_VAR_LONGS)
def test_decode_unsigned_var_long(value, expected):
    assert serde.decode_unsigned_var_long(Input(bytes(expected))) == value


@pytest.mark.parametrize("value,expected", UNSIGNED_VAR_LONGS)
def test_unsigned_var_long_encoded_length(value, expected):
    assert serde.unsigned_var_long_encoded_length(value) == len(expected)


@pytest.mark.parametrize("value,expected", UNSIGNED_VAR_LONGS)
def test_encode_unsigned_var_long_roundtrip(value, expected):
    buf = bytearray()
    serde.encode_unsigned_var_long(buf, value)
    assert serde.decode_unsigned_var_long(Input(bytes(buf))) == value


def test_i64_to_i32_exact():
    assert serde.i64_to_i32_exact(0) == 0
    assert serde.i64_to_i32_exact(2147483647) == 2147483647
    assert serde.i64_to_i32_exact(-2147483648) == -2147483648
    with pytest.raises(ValueError):
        serde.i64_to_i32_exact(2147483648)
    with pytest.raises(ValueError):
        serde.i64_to_i32_exact(-2147483649)


def test_build_double():
    assert serde.build_double(0, 1.0) == 1.0


_U64 = (1 << 64) - 1
I64_EDGES = [0, 1, -1, 2, -2, 63, -64, 64, -65, (1 << 31) - 1, -(1 << 31),
             1 << 32, -(1 << 32), 1 << 62, -(1 << 62), (1 << 63) - 2,
             (1 << 63) - 1, -(1 << 63) + 1, -(1 << 63)]


def _tokens(columns):
    """(payload, kinds, scalar bytes, scalar lengths) of rows of tokens, one
    column per kind: ``("long", int64 values)`` or ``("double", values)``."""
    import numpy as np

    payload = np.stack([serde.zig_zag_array(v) if kind == "long"
                        else serde.var_double_bits_array(v)
                        for kind, v in columns], axis=-1)
    kinds = np.stack([serde.VAR_LONG if kind == "long" else serde.VAR_DOUBLE
                      for kind, _ in columns])
    buf, lengths = bytearray(), []
    for row in zip(*(v for _, v in columns)):
        for (kind, _), value in zip(columns, row):
            start = len(buf)
            if kind == "long":
                serde.encode_signed_var_long(buf, int(value))
            else:
                serde.encode_var_double(buf, float(value))
            lengths.append(len(buf) - start)
    return payload, kinds, bytes(buf), lengths


def test_token_codec_matches_scalar():
    """The token codec writes and reads the scalar codecs' bytes exactly:
    var-doubles (including 9-byte tokens with MSB-set final bytes),
    var-longs at the i64 edges, and interleaved (delta, count) streams."""
    import numpy as np

    rng = np.random.default_rng(17)
    doubles = np.concatenate([
        rng.integers(0, 1 << 40, size=2000).astype(np.float64),
        rng.lognormal(0, 30, size=2000),
        -rng.lognormal(0, 30, size=500),
        np.array([0.0, 1.0, -1.0, -0.5, 4.503599627370495e15,
                  4.503599627370496e15, 9.00719925474099e15]),
    ])
    longs = np.concatenate([
        np.array(I64_EDGES, dtype=np.int64),
        rng.integers(-(1 << 63), (1 << 63) - 1, size=2000, dtype=np.int64),
        rng.integers(-300, 300, size=2488),
    ])
    assert longs.shape == doubles.shape
    for columns in ([("double", doubles)], [("long", longs)],
                    [("long", longs), ("double", doubles)]):
        payload, kinds, expected, scalar_lengths = _tokens(columns)
        written, lengths = serde.encode_tokens(payload, kinds)
        assert written == expected
        assert lengths.ravel().tolist() == scalar_lengths

        inp = Input(expected + bytes([0x7F]))
        read = serde.decode_tokens(inp, payload.shape[0], kinds)
        assert inp.tell() == len(expected)
        np.testing.assert_array_equal(read, payload)
        ref = Input(expected)
        scalar = [[serde.decode_signed_var_long(ref) if kind == "long"
                   else serde.decode_var_double(ref) for kind, _ in columns]
                  for _ in range(payload.shape[0])]
        for c, (kind, values) in enumerate(columns):
            got = (serde.zig_zag_decode_array(read[:, c]) if kind == "long"
                   else serde.var_bits_to_double_array(read[:, c]))
            np.testing.assert_array_equal(got, [row[c] for row in scalar])
            if kind == "long":
                np.testing.assert_array_equal(got, values)
    # integer counts (the real blob content) round-trip exactly
    ints = rng.integers(0, 1 << 50, size=3000).astype(np.float64)
    blob, _ = serde.encode_tokens(serde.var_double_bits_array(ints)[:, None],
                                  serde.VAR_DOUBLE[None])
    read = serde.decode_tokens(Input(blob), ints.shape[0], serde.VAR_DOUBLE[None])
    np.testing.assert_array_equal(serde.var_bits_to_double_array(read[:, 0]), ints)


def _glued_double():
    """A value whose var-double is 9 bytes with an MSB-set last byte."""
    import numpy as np

    for v in np.random.default_rng(3).lognormal(0, 40, size=20000):
        buf = bytearray()
        serde.encode_var_double(buf, float(v))
        if len(buf) == 9 and buf[8] >= 128:
            return float(v)
    raise AssertionError("no glued var-double found")


def test_token_codec_decodes_glued_nine_byte_token():
    """A 9-byte token whose 9th byte has the MSB set is framed exactly: with
    1.0 after it, both decode to the scalar values and the cursor ends at
    the end of the input."""
    found = _glued_double()
    buf = bytearray()
    serde.encode_var_double(buf, found)
    serde.encode_var_double(buf, 1.0)
    inp = Input(bytes(buf))
    read = serde.decode_tokens(inp, 2, serde.VAR_DOUBLE[None])
    assert inp.tell() == len(buf)
    assert serde.var_bits_to_double_array(read[:, 0]).tolist() == [found, 1.0]
    ref = Input(bytes(buf))
    assert [serde.decode_var_double(ref), serde.decode_var_double(ref)] == [found, 1.0]


@pytest.mark.parametrize("payloads, run", [
    ([_U64, 0], 9),                    # one glued token, then a 1-byte token
    ([_U64, (1 << 63) - 1], 17),       # glued token, then 8 + terminal
    ([_U64, _U64, 0], 18),             # two glued tokens, then a 1-byte token
])
def test_token_framing_cuts_continuation_runs_every_nine_bytes(payloads, run):
    """Inside a run of continuation bytes tokens are cut every nine bytes
    from its start; the same bytes read as either kind match the scalar
    decoders."""
    import numpy as np

    payload = np.array(payloads, dtype=np.uint64)[:, None]
    blob, lengths = serde.encode_tokens(payload, serde.VAR_LONG[None])
    assert all(b >= 0x80 for b in blob[:run]) and blob[run] < 0x80
    assert len(blob) == int(lengths.sum())
    for kind, scalar in ((serde.VAR_LONG, serde.decode_unsigned_var_long),
                         (serde.VAR_DOUBLE, serde.decode_var_double)):
        inp = Input(blob)
        read = serde.decode_tokens(inp, len(payloads), kind[None])
        assert inp.tell() == len(blob)
        ref = Input(blob)
        expected = [scalar(ref) for _ in payloads]
        got = (read[:, 0].view(np.int64) if kind is serde.VAR_LONG
               else serde.var_bits_to_double_array(read[:, 0]))
        np.testing.assert_array_equal(got, expected)
    np.testing.assert_array_equal(
        serde.decode_tokens(Input(blob), len(payloads), serde.VAR_LONG[None]), payload)


def test_token_cut_off_by_end_of_input_raises():
    """A token whose continuation runs past the end of the input, or a row
    count the bytes left cannot hold, raises ValueError."""
    with pytest.raises(ValueError):
        serde.decode_tokens(Input(bytes([0x81, 0x82])), 1, serde.VAR_LONG[None])
    with pytest.raises(ValueError):
        serde.decode_tokens(Input(bytes([0x01, 0x81])), 2, serde.VAR_DOUBLE[None])
    with pytest.raises(ValueError):
        serde.decode_tokens(Input(bytes([0x01, 0x02, 0x03])), 2, serde.VAR_LONG[None].repeat(2, 0))


@pytest.mark.parametrize("dense", [False, True], ids=["sparse", "dense"])
def test_signalling_nan_count_decodes_without_fp_warning(dense):
    """A corrupt count whose var-double bits decode to a signalling NaN is
    dropped as a non-positive count: no RuntimeWarning on the way."""
    import warnings

    import numpy as np

    from sketches_rust_spark.kernel.sketch import DDSketch
    from sketches_rust_spark.kernel.store import (
        CONTIGUOUS_COUNTS,
        FLAG_TYPE_POSITIVE_STORE,
        INDEX_DELTAS_AND_COUNTS,
    )
    from test_sketch import GOLDEN_BLOB_LOG_100

    snan = 0x7FF0000000000001
    delta = (snan - serde.double_to_bits(1.0)) & ((1 << 64) - 1)
    payload = ((delta << 6) | (delta >> 58)) & ((1 << 64) - 1)  # rotl 6
    assert np.isnan(serde.var_bits_to_double(payload))
    block = bytearray([FLAG_TYPE_POSITIVE_STORE
                       | ((CONTIGUOUS_COUNTS if dense else INDEX_DELTAS_AND_COUNTS) << 2)])
    serde.encode_unsigned_var_long(block, 2)
    if dense:
        serde.encode_signed_var_long(block, 5)  # first index
        serde.encode_signed_var_long(block, 1)  # step
        tokens = [[serde.double_to_var_bits(3.0)], [payload]]
        kinds = serde.VAR_DOUBLE[None]
    else:
        tokens = [[serde.zig_zag_encode(5), serde.double_to_var_bits(3.0)],
                  [serde.zig_zag_encode(1), payload]]
        kinds = np.stack([serde.VAR_LONG, serde.VAR_DOUBLE])
    block += serde.encode_tokens(np.array(tokens, dtype=np.uint64), kinds)[0]
    plain = DDSketch.decode(GOLDEN_BLOB_LOG_100)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sk = DDSketch.decode(bytes(GOLDEN_BLOB_LOG_100) + bytes(block))
    assert sk.get_count() == plain.get_count() + 3.0
