"""Golden-vector tests for the index mappings.

Vectors come verbatim from /root/reference/src/index_mapping/mod.rs:353-559.
They pin the trunc rule (SURVEY.md §8 N1), the construction float ops (N2),
and the LogCubic bit math (N3) to the reference bit-for-bit.
"""

import numpy as np
import pytest

from sketches_rust_spark.kernel.mapping import LOG, LOG_CUBIC, IndexMapping

TEST_GAMMAS = [1.0 + 1e-6, 1.02, 1.5]
TEST_INDEX_OFFSETS = [0.0, 1.0, -12.23, 7768.3]
EPSILON = 1e-10

LOG_VALUES = [
    1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0,
    17.0, 18.0, 19.0, 228.0, 484.0, 499.0, 559.0, 584.0, 629.0, 722.0, 730.0, 777.0, 805.0,
    846.0, 896.0, 997.0, 999.0, 1065.0, 1178.0, 1189.0, 1218.0, 1255.0, 1308.0, 1343.0,
    1438.0, 1819.0, 2185.0, 2224.0, 2478.0, 2574.0, 2601.0, 2745.0, 2950.0, 3013.0, 3043.0,
    3064.0, 3116.0, 3188.0, 3224.0, 3254.0, 3390.0, 3476.0, 3543.0, 3836.0, 3921.0, 4014.0,
    4074.0, 4332.0, 4344.0, 4456.0, 4736.0, 4984.0, 5219.0, 5244.0, 5259.0, 5341.0, 5467.0,
    5536.0, 5600.0, 6054.0, 6061.0, 6118.0, 6137.0, 6222.0, 6263.0, 6320.0, 6454.0, 6499.0,
    6732.0, 6922.0, 6988.0, 7047.0, 7057.0, 7202.0, 7205.0, 7330.0, 7507.0, 7616.0, 7971.0,
    8056.0, 8381.0, 8416.0, 8684.0, 8784.0, 8790.0, 8823.0, 8841.0, 8945.0, 8967.0, 8982.0,
    9142.0, 9181.0, 9284.0, 9320.0, 9331.0, 9596.0, 9699.0, 9850.0, 9884.0, 9947.0,
]
LOG_INDEXES = [
    0, 17, 27, 34, 40, 44, 48, 51, 54, 57, 59, 62, 64, 65, 67, 69, 70, 72, 73, 135, 154,
    155, 158, 159, 161, 164, 164, 166, 167, 168, 169, 172, 172, 174, 176, 176, 177, 178,
    179, 180, 181, 187, 192, 192, 195, 196, 196, 197, 199, 200, 200, 200, 201, 201, 201,
    202, 203, 203, 204, 206, 206, 207, 207, 209, 209, 210, 211, 212, 213, 214, 214, 214,
    215, 215, 215, 217, 217, 217, 218, 218, 218, 218, 219, 219, 220, 221, 221, 221, 221,
    222, 222, 222, 223, 223, 224, 224, 225, 225, 226, 226, 227, 227, 227, 227, 227, 227,
    227, 228, 228, 228, 228, 229, 229, 229, 229, 230,
]

CUBIC_VALUES = [
    1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0,
    17.0, 18.0, 19.0, 125.0, 189.0, 379.0, 444.0, 613.0, 639.0, 671.0, 834.0, 983.0,
    1067.0, 1093.0, 1159.0, 1336.0, 1370.0, 1481.0, 1527.0, 1633.0, 1662.0, 1735.0, 1822.0,
    1864.0, 1957.0, 2018.0, 2308.0, 2327.0, 2337.0, 2433.0, 2450.0, 2491.0, 2520.0, 2582.0,
    2599.0, 2719.0, 2907.0, 3086.0, 3153.0, 3170.0, 3288.0, 3372.0, 3397.0, 3508.0, 3517.0,
    3987.0, 4020.0, 4092.0, 4114.0, 4141.0, 4194.0, 4308.0, 4552.0, 4950.0, 5152.0, 5422.0,
    5452.0, 5997.0, 6076.0, 6100.0, 6132.0, 6170.0, 6202.0, 6210.0, 6259.0, 6285.0, 6345.0,
    6389.0, 6390.0, 6441.0, 6650.0, 6897.0, 6898.0, 6909.0, 6923.0, 6944.0, 6970.0, 7233.0,
    7289.0, 7304.0, 7437.0, 7585.0, 7756.0, 7808.0, 7862.0, 7953.0, 8054.0, 8095.0, 8161.0,
    8422.0, 8551.0, 8567.0, 8766.0, 8922.0, 8966.0, 9206.0, 9250.0, 9372.0, 9397.0, 9434.0,
    9505.0,
]
CUBIC_INDEXES = [
    0, 17, 27, 34, 40, 45, 49, 52, 55, 58, 60, 62, 64, 66, 68, 69, 71, 72, 74, 121, 132,
    149, 153, 162, 163, 164, 169, 173, 176, 176, 178, 181, 182, 184, 185, 186, 187, 188,
    189, 190, 191, 192, 195, 195, 195, 196, 196, 197, 197, 198, 198, 199, 201, 202, 203,
    203, 204, 205, 205, 206, 206, 209, 209, 209, 210, 210, 210, 211, 212, 214, 215, 217,
    217, 219, 219, 220, 220, 220, 220, 220, 220, 220, 221, 221, 221, 221, 222, 223, 223,
    223, 223, 223, 223, 224, 224, 224, 225, 225, 226, 226, 226, 226, 227, 227, 227, 228,
    228, 228, 229, 229, 229, 230, 230, 230, 230, 231, 231,
]

# Expected effective relative accuracy for LogCubic (gamma, offset) grid,
# spec mod.rs:357-382.
ACCURACY_GRID = [
    5.04943011787191e-07, 5.04943011787191e-07, 5.04943011787191e-07, 5.04943011787191e-07,
    0.009998870028530763, 0.009998870028530763, 0.009998870028530763, 0.009998870028530763,
    0.20192337476263508, 0.20192337476263508, 0.20192337476263508, 0.20192337476263508,
]


def test_accuracy_grid():
    i = 0
    for gamma in TEST_GAMMAS:
        for index_offset in TEST_INDEX_OFFSETS:
            m = IndexMapping.with_gamma_offset(LOG_CUBIC, gamma, index_offset)
            assert m.relative_accuracy == ACCURACY_GRID[i]
            i += 1


def test_logarithmic_mapping_index_golden():
    m = IndexMapping.with_relative_accuracy(LOG, 2e-2)
    got = m.index_of(np.array(LOG_VALUES))
    assert got.tolist() == LOG_INDEXES


def test_cubically_interpolated_index_golden():
    m = IndexMapping.with_relative_accuracy(LOG_CUBIC, 2e-2)
    got = m.index_of(np.array(CUBIC_VALUES))
    assert got.tolist() == CUBIC_INDEXES


@pytest.mark.parametrize("layout", [LOG, LOG_CUBIC])
def test_index_of_one_brackets_offset(layout):
    for gamma in TEST_GAMMAS:
        for index_offset in TEST_INDEX_OFFSETS:
            m = IndexMapping.with_gamma_offset(layout, gamma, index_offset)
            index_of1 = float(m.index(1.0))
            assert np.ceil(index_offset) - 1.0 <= index_of1
            assert index_of1 <= np.floor(index_offset)


@pytest.mark.parametrize("layout", [LOG, LOG_CUBIC])
def test_mapping_validity_sweep(layout):
    """Bucket-boundary consistency for indexes -50..50, spec mod.rs:414-500."""
    m = IndexMapping.with_relative_accuracy(layout, 1e-2)
    for index in range(-50, 51):
        lower = float(m.lower_bound(np.array([index]))[0])
        upper = float(m.upper_bound(np.array([index]))[0])
        val = m.value(index)
        assert lower <= val <= upper
        assert m.index(lower - EPSILON) < index
        assert m.index(lower + EPSILON) >= index
        assert m.index(upper - EPSILON) <= index
        assert m.index(upper + EPSILON) > index


@pytest.mark.parametrize("layout", [LOG, LOG_CUBIC])
def test_invalid_accuracy_rejected(layout):
    for bad in (0.0, 1.0, -0.5, 2.0):
        with pytest.raises(ValueError):
            IndexMapping.with_relative_accuracy(layout, bad)


def test_mapping_equality_roundtrip_from_gamma():
    """Mapping decoded from (gamma, offset) must equal another decoded with the
    same params — the merge-compatibility check (spec sketch.rs:195,212)."""
    a = IndexMapping.with_relative_accuracy(LOG_CUBIC, 2e-2)
    b = IndexMapping.with_gamma_offset(LOG_CUBIC, a.gamma, a.index_offset)
    c = IndexMapping.with_gamma_offset(LOG_CUBIC, a.gamma, a.index_offset)
    assert b == c


def test_min_relative_accuracy_floor_guarantees_round_trip():
    """Round-5 advice: the decoder caps dense bin spans (hostile blobs), so
    construction must floor relative_accuracy such that every constructible
    sketch decodes its own blob. At the floor, a sketch over (near) the full
    double range must round-trip; below the floor, construction refuses."""
    import numpy as np
    import pytest

    from sketches_rust_spark.kernel.mapping import (
        MIN_RELATIVE_ACCURACY, IndexMapping)
    from sketches_rust_spark.kernel.sketch import DDSketch

    with pytest.raises(ValueError, match="minimum"):
        IndexMapping.with_relative_accuracy(LOG, MIN_RELATIVE_ACCURACY / 2)

    sk = DDSketch.logarithmic_unbounded_size_dense_store(MIN_RELATIVE_ACCURACY)
    sk.accept_many(np.array([5e-308, 1.0, 1.7e308, -5e-308, -1.7e308]))
    blob = sk.encode()
    back = DDSketch.decode(blob)  # must NOT trip the decode span cap
    assert back.get_count() == sk.get_count()
    assert back.encode() == blob


@pytest.mark.parametrize("layout,gamma", [(LOG, 2.8550237500865116e+303),
                                          (LOG, 1e17),
                                          (LOG_CUBIC, 1e40),
                                          (LOG_CUBIC, 1.7e308)])
def test_gamma_with_no_buckets_rejected(layout, gamma):
    """A decoded gamma whose relative accuracy rounds to 1 (or overflows)
    leaves no indexable range; it must raise ValueError, as other corrupt
    gammas do, instead of dividing by zero later."""
    with pytest.raises(ValueError, match="gamma"):
        IndexMapping.with_gamma_offset(layout, gamma, 0.0)


def test_decode_rejects_flipped_gamma_byte():
    """Flipping one byte of a valid blob's gamma (a case the decoder
    mutation property test found) gives a gamma of 2.9e303; decode raises
    ValueError instead of ZeroDivisionError."""
    from sketches_rust_spark.kernel.sketch import DDSketch

    blob = (b'\x02*x9\x05/\xa7\xf0?\x00\x00\x00\x00\x00\x00\x00\x00\r2\x82'
            b'\x01\x02\x88 \x00\x03\x00\x00\x00\x03\x00\x02\x00\x00\x03\x03'
            b'\x02\x02\x03\x03\x02\x00\x00\x00\x00\x02\x00\x02\x02\x02\x04'
            b'\x04\x84@\x00\x04\x02\x00\x02\x02\x03\x84@\x04\x84@\x04\x02'
            b'\x02\x00\x06\x04\x06\x84@\x02\x06')
    DDSketch.decode(blob)
    flipped = bytearray(blob)
    flipped[8] ^= 65  # the top byte of gamma
    with pytest.raises(ValueError, match="gamma"):
        DDSketch.decode(bytes(flipped))
