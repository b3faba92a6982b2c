"""Chunk API round-trips (encode_arrow_column / decode_arrow_column /
verify_arrow) per dtype, edge layouts and zone-map stats.  The wire
itself is pinned in test_wire_golden."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from parquetjs_spark import arrow_chunk
from parquetjs_spark.codecs import DICT_RLE, FSST, PLAIN


def rt(arr: pa.Array, dtype: str, **kw):
    blob, stats = arrow_chunk.encode_arrow_column(arr, dtype, **kw)
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    return out, stats


@pytest.mark.parametrize("codec", ["auto", PLAIN, DICT_RLE, FSST])
def test_string_roundtrip(codec):
    vals = ["SELECT %d FROM t%d" % (i, i % 5) for i in range(3000)]
    out, _ = rt(pa.array(vals), "string", codec=codec)
    assert out.to_pylist() == vals


def test_string_with_nulls():
    vals = ["aa", None, "bb", "", None, "日本語"] * 50
    out, stats = rt(pa.array(vals), "string")
    assert stats["n_nulls"] == 100
    assert out.to_pylist() == vals


def test_binary_roundtrip():
    vals = [b"\xff\x00\x01" * i for i in range(200)]
    out, _ = rt(pa.array(vals, type=pa.binary()), "binary", codec=PLAIN)
    assert out.to_pylist() == vals


def test_int_float_bool_roundtrip():
    for vals, dtype in [
        (pa.array(np.arange(5000) % 100), "int64"),
        (pa.array(np.arange(1000, dtype=np.int32)), "int32"),
        (pa.array(np.random.default_rng(1).normal(size=2000)), "float64"),
        (pa.array([True, False, None, True] * 100), "bool"),
    ]:
        out, _ = rt(vals, dtype)
        assert out.to_pylist() == vals.to_pylist()


def test_timestamp_date_roundtrip():
    ts = pa.array(
        pd.date_range("2024-01-01", periods=500, freq="13min"),
        type=pa.timestamp("us"),
    )
    out, _ = rt(ts, "timestamp_us")
    assert out.to_pylist() == ts.to_pylist()

    dates = pa.array(
        pd.date_range("1995-01-01", periods=300, freq="D").date, type=pa.date32()
    )
    out, _ = rt(dates, "date")
    assert out.to_pylist() == dates.to_pylist()


def test_int_with_nulls():
    vals = pa.array([1, None, 2**61, None, 5])
    out, stats = rt(vals, "int64")
    assert stats["n_nulls"] == 2
    assert out.to_pylist() == vals.to_pylist()


def test_sliced_arrow_input():
    base = pa.array(["padpad"] * 10 + ["v%d" % i for i in range(500)])
    sliced = base.slice(10, 400)
    out, _ = rt(sliced, "string", codec=PLAIN)
    assert out.to_pylist() == sliced.to_pylist()


def test_empty_and_all_null():
    out, stats = rt(pa.array([], type=pa.string()), "string")
    assert stats["n"] == 0 and len(out) == 0
    out, stats = rt(pa.array([None, None], type=pa.string()), "string")
    assert stats["n_nulls"] == 2 and out.null_count == 2


def test_arrow_cached_flba_revalidated_on_varlen_chunk():
    state: dict = {}
    rng = np.random.default_rng(11)
    fixed = pa.array([bytes(rng.integers(0, 256, 16, dtype=np.uint8)) for _ in range(512)], type=pa.binary())
    _, s1 = arrow_chunk.encode_arrow_column(fixed, "binary", fsst_state=state)
    assert s1["codec"] == "FLBA"
    varlen = pa.array([b"y" * 16] * 511 + [b"tiny"], type=pa.binary())
    blob2, s2 = arrow_chunk.encode_arrow_column(varlen, "binary", fsst_state=state)
    assert s2["codec"] != "FLBA"
    out, _ = arrow_chunk.decode_arrow_column(blob2)
    assert out.to_pylist() == varlen.to_pylist()


def test_float_stats_unprunable_when_nan_present():
    """NaN-containing float chunks must carry no zone-map stats: arrow
    min_max skips NaN while Spark sorts NaN above all values, so pruned
    and unpruned scans would disagree (ADVICE r2)."""
    all_nan = pa.array([float("nan")] * 10, type=pa.float64())
    assert arrow_chunk._column_stats(all_nan, "float64") == (None, None)
    some_nan = pa.array([1.0, float("nan"), 2.0], type=pa.float64())
    assert arrow_chunk._column_stats(some_nan, "float64") == (None, None)
    clean = pa.array([1.0, 2.0], type=pa.float64())
    assert arrow_chunk._column_stats(clean, "float64") == ("1.0", "2.0")


def test_interval_dt_roundtrip():
    """INTERVAL (reference lib/types.js:124-130) — the Spark slice:
    day-time interval as int64 micros under the int codecs."""
    vals = pa.array(
        np.array([1_000_000, -5_000_000, 86_400_000_000, 0], dtype="timedelta64[us]"),
        type=pa.duration("us"),
    )
    blob, stats = arrow_chunk.encode_arrow_column(vals, "interval_dt")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "interval_dt"
    assert out.to_pylist() == vals.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    with_nulls = pa.array([1000, None, -999], type=pa.duration("us"))
    blob2, _ = arrow_chunk.encode_arrow_column(with_nulls, "interval_dt")
    out2, _ = arrow_chunk.decode_arrow_column(blob2)
    assert out2.to_pylist() == with_nulls.to_pylist()
    # intervals carry no zone-map stats (no castable string form)
    assert arrow_chunk._column_stats(vals, "interval_dt") == (None, None)


def test_time_ns_roundtrip():
    """TIME (reference lib/types.js:44-53) — Spark 4 TimeType slice:
    int64 nanos-since-midnight under the int codecs."""
    import datetime as dt

    vals = pa.array(
        [dt.time(12, 34, 56, 789000), dt.time(0, 0), None, dt.time(23, 59, 59, 999999)],
        type=pa.time64("ns"),
    )
    blob, stats = arrow_chunk.encode_arrow_column(vals, "time_ns")
    out, dtype = arrow_chunk.decode_arrow_column(blob)
    assert dtype == "time_ns"
    assert out.to_pylist() == vals.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])
    # sub-microsecond nanos survive exactly
    nanos = pa.array(np.array([12_345_678_901], dtype=np.int64), type=pa.time64("ns"))
    blob2, _ = arrow_chunk.encode_arrow_column(nanos, "time_ns")
    out2, _ = arrow_chunk.decode_arrow_column(blob2)
    assert out2.cast(pa.int64()).to_pylist() == [12_345_678_901]


def test_int64_extremes_and_float_specials_roundtrip():
    """Full-range int64 (INT64_MIN/MAX — a max-min overflow in FOR or
    the selector would corrupt) and IEEE specials (nan/inf/-0.0 bit
    identity) survive the auto path."""
    import math
    import struct

    import pyarrow as pa

    from parquetjs_spark import arrow_chunk

    for vals in (
        [-2**63, 2**63 - 1, 0, None, 42],
        [-2**63] * 10,
        [2**63 - 1, 2**63 - 2] * 50,
    ):
        arr = pa.array(vals, type=pa.int64())
        blob, stats = arrow_chunk.encode_arrow_column(
            arr, "int64", codec="auto", compression="auto"
        )
        out, dt = arrow_chunk.decode_arrow_column(blob)
        assert out.to_pylist() == vals
        assert arrow_chunk.verify_arrow(blob, stats["sha256"])

    fvals = [float("nan"), float("inf"), float("-inf"), -0.0, 1.5, None]
    arr = pa.array(fvals, type=pa.float64())
    blob, stats = arrow_chunk.encode_arrow_column(
        arr, "float64", codec="auto", compression="auto"
    )
    out, _ = arrow_chunk.decode_arrow_column(blob)
    got = out.to_pylist()
    assert math.isnan(got[0]) and got[1] == math.inf and got[2] == -math.inf
    assert struct.pack("<d", got[3]) == struct.pack("<d", -0.0)
    assert got[4] == 1.5 and got[5] is None
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


class _NoOffsetsArray:
    """Stand-in for the IPC edge layout pyarrow can produce but
    from_buffers refuses to build: non-empty array, absent offsets
    buffer (all values empty)."""

    def __init__(self, n, typ):
        self._n = n
        self.type = typ
        self.offset = 0
        self.null_count = 0

    def __len__(self):
        return self._n

    def buffers(self):
        return [None, None, None]


def test_strblock_absent_offsets_nonempty_means_all_empty():
    """bufs[1] is None with len(arr) > 0 must yield len(arr) EMPTY
    strings, not zero strings (round-4 ADVICE: the conflated guard
    silently lost rows)."""
    import pyarrow as pa

    block = arrow_chunk._strblock_from_pa(_NoOffsetsArray(5, pa.utf8()))
    assert len(block.lens) == 5
    assert list(block.lens) == [0] * 5
    assert bytes(block.concat_bytes()) == b""
    # the genuinely-empty case still yields zero values
    empty = arrow_chunk._strblock_from_pa(_NoOffsetsArray(0, pa.utf8()))
    assert len(empty.lens) == 0


def test_split_list_absent_offsets_nonempty_means_all_empty():
    import pyarrow as pa

    lens, flat, valid = arrow_chunk._split_list(
        _NoOffsetsArray(4, pa.list_(pa.int64()))
    )
    assert list(lens) == [0, 0, 0, 0]
    assert len(flat) == 0
    assert list(valid) == [True] * 4
    lens0, flat0, _ = arrow_chunk._split_list(
        _NoOffsetsArray(0, pa.list_(pa.int64()))
    )
    assert len(lens0) == 0 and len(flat0) == 0


def _blob_per_codec():
    from parquetjs_spark.codecs import BSS, FLBA, FOR_BITPACK, INCR, INT96, RLE

    ints = pa.array([1, None, 5, 7, 7, 7, 300] * 40, pa.int64())
    strs = pa.array(["ab", None, "abc", "abd", "x" * 40] * 60)
    fixed = pa.array([b"0123", None, b"4567"] * 40)
    cases = [(ints, "int64", c) for c in (PLAIN, RLE, DICT_RLE, FOR_BITPACK, BSS, INT96)]
    cases += [(strs, "string", c) for c in (PLAIN, DICT_RLE, FSST, INCR)]
    cases += [(fixed, "binary", FLBA)]
    return [
        (codec, arrow_chunk.encode_arrow_column(arr, dtype, codec=codec))
        for arr, dtype, codec in cases
    ]


def _patched(blob: bytes, pos: int, raw: bytes) -> bytes:
    return blob[:pos] + raw + blob[pos + len(raw):]


def test_corrupt_header_raises_value_error_naming_the_field():
    """Unknown ids and length fields that disagree with the blob fail in
    the header parse with a ValueError naming the field, before any
    decompression; verify reports them as mismatches."""
    for codec, (blob, stats) in _blob_per_codec():
        sha = stats["sha256"]
        bad = [
            (_patched(blob, 4, bytes([200])), "dtype id 200"),
            (_patched(blob, 5, bytes([200])), "codec id 200"),
            (_patched(blob, 6, bytes([200])), "compression id 200"),
            (_patched(blob, 16, (2**32 - 1).to_bytes(4, "little")), "levels_len 4294967295"),
            (_patched(blob, 20, (2**32 - 1).to_bytes(4, "little")), "values_len 4294967295"),
        ]
        values_len = int.from_bytes(blob[20:24], "little")
        for delta in (-1, 1):
            patched = _patched(blob, 20, (values_len + delta).to_bytes(4, "little"))
            bad.append((patched, f"values_len {values_len + delta}"))
        # truncations: inside the header, at its end, and in the payload
        for cut in (0, 3, 23, 24, len(blob) // 2, len(blob) - 1):
            bad.append((blob[:cut], "header|values_len|levels_len"))
        for corrupt, field in bad:
            with pytest.raises(ValueError, match=field):
                arrow_chunk.decode_arrow_column(corrupt)
            assert not arrow_chunk.verify_arrow(corrupt, sha), (codec, field)
        assert arrow_chunk.verify_arrow(blob, sha), codec
