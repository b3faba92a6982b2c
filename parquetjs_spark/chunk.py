"""Column-chunk encode/decode — the analogue of the reference's
``encodeColumnChunk``/``readColumnChunk``
(/root/reference/lib/writer.js:424-477, /root/reference/lib/reader.js:237-262),
with DataPageV2 layout semantics: values compressed, levels raw
(/root/reference/lib/writer.js:355-419).

Chunk blob layout (our page format, version 1):

  0..3   magic  b"PCH1"
  4      dtype id   (logical column dtype)
  5      codec id   (value encoding)
  6      compression id (applied to the values section only, like
         DataPageV2 — /root/reference/lib/writer.js:392-395)
  7      flags: bit0 = has nulls
  8..11  u32 LE n_values (incl. nulls)
  12..15 u32 LE n_nulls
  16..19 u32 LE len(levels)   — definition levels as RLE bitWidth=1,
         no envelope (degenerate Dremel: dLevelMax=1, SURVEY.md §1.3;
         level semantics of /root/reference/lib/writer.js:369-390)
  20..23 u32 LE len(values_compressed)
  levels bytes ++ values bytes

Null handling is Parquet's: the values section stores non-null values
only; the levels rebuild the mask (/root/reference/lib/shred.js:100-114).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from .codecs import (
    BSS,
    CODEC_IDS,
    INCR,
    INT96,
    CODEC_NAMES,
    DICT_RLE,
    FLBA,
    FOR_BITPACK,
    FSST,
    PLAIN,
    RLE,
    bss,
    compress as comp,
    dictionary,
    for_bp,
    fsst,
    incr,
    plain,
    rle,
    strstream,
)
from .codecs.util import bit_width

MAGIC = b"PCH1"

# logical dtypes of the engine (SURVEY.md §1.2 Spark-equivalent column)
DTYPE_IDS = {
    "int64": 0,
    "int32": 1,
    "float64": 2,
    "float32": 3,
    "bool": 4,
    "string": 5,
    "binary": 6,
    "date": 7,  # int32 days since epoch (lib/types.js:54-59 semantics)
    "timestamp_us": 8,  # int64 micros (lib/types.js:60-71 semantics)
    # one-level repeated fields (Dremel rLevelMax=1, SURVEY.md §1.3 /
    # /root/reference/lib/shred.js:28-73 for `repeated` leaves): stored
    # as per-row element counts (the repetition-level run-length form)
    # + the flattened elements under any scalar codec. Element-level
    # nulls are not supported (reference repeated fields are non-null
    # per value too: a missing value just ends the repetition).
    "list_int64": 9,
    "list_int32": 10,
    "list_float64": 11,
    "list_float32": 12,
    "list_string": 13,
    "list_bool": 15,
    "list_binary": 16,
    # DECIMAL(p<=18, s) carried as unscaled int64 under any int codec;
    # precision/scale live in the values header (the reference lacks
    # DECIMAL entirely — parquet.thrift:79 enum only, no lib/types.js
    # entry — this is a Spark-first extension)
    "decimal": 14,
    # INTERVAL (reference lib/types.js:124-130: FLBA(12) of
    # {months,days,millis}) — Spark's representable slice is
    # DayTimeIntervalType, carried as int64 MICROS under any int codec
    # (the months component has no Spark day-time equivalent;
    # YearMonthIntervalType is unsupported by Spark's Arrow bridge —
    # UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION — so it stays n-a)
    "interval_dt": 18,
    # TIME_MICROS analogue (reference lib/types.js:44-53): Spark 4's
    # TimeType crosses the Arrow bridge as time64[ns]; carried as int64
    # NANOS-since-midnight under any int codec
    "time_ns": 19,
    # multi-level repetition (Dremel rLevelMax > 1, the reference's
    # nested-repeated shapes — /root/reference/lib/shred.js:75-135
    # recursion, test/shred.js nested-repeated cases): one id for ANY
    # list-of-list dtype ("list_list_int64", "list_list_list_string",
    # ...).  The values payload is outer per-row counts + a complete
    # recursive inner chunk blob, which carries its own dtype byte —
    # so the id does not need to encode the element type or depth.
    "list_nested": 17,
}
DTYPE_NAMES = {v: k for k, v in DTYPE_IDS.items()}


def dtype_id(dtype: str) -> int:
    # chunk-header id; parametrized decimals share one id (p/s travel
    # in the values header), nested lists share one id (the element
    # dtype travels in the embedded inner chunk's own header)
    if dtype.startswith("decimal("):
        return DTYPE_IDS["decimal"]
    if dtype.startswith("list_list_"):
        return DTYPE_IDS["list_nested"]
    return DTYPE_IDS[dtype]

_INT_LIKE = {
    "int64", "int32", "date", "timestamp_us", "interval_dt", "time_ns", "bool",
}
_PTYPE = {
    "int64": "INT64",
    "int32": "INT32",
    "float64": "DOUBLE",
    "float32": "FLOAT",
    "date": "INT32",
    "timestamp_us": "INT64",
    "interval_dt": "INT64",
    "time_ns": "INT64",
}

def codec_supports(codec: str, dtype: str) -> bool:
    """Static codec/dtype compatibility — used by the CLI to reject a
    type-incompatible forced --codec with a clean exit 2 before the job
    starts, instead of a raw executor traceback mid-encode.  Mirrors
    the ``_encode_values`` dispatch: list dtypes check their leaf
    element, decimals ride the int64 unscaled path.  Data-dependent
    constraints (RLE non-negativity, FLBA equal lengths) are not
    static and still raise at encode time."""
    while dtype.startswith("list_"):
        dtype = dtype[len("list_"):]
    if dtype.startswith("decimal("):
        dtype = "int64"
    if dtype in _INT_LIKE:
        if codec in (PLAIN, FOR_BITPACK, DICT_RLE, RLE):
            return True
        return codec in (BSS, INT96) and dtype != "bool"
    if dtype in ("float64", "float32"):
        return codec in (PLAIN, DICT_RLE, BSS)
    return codec in (PLAIN, FLBA, DICT_RLE, FSST, INCR)


# --------------------------------------------------------------------------
# decode-cost model for the read-optimized selector profile (VERDICT r6
# #3).  The default profile optimizes SIZE only; for a write-once-read-
# many corpus that can pick a codec whose decode is 50x slower than the
# bytes it saves are worth.  ``profile="read_optimized"`` scores each
# measured candidate as estimated READ cost per content byte:
#
#     cost = size / READ_IO_MBPS  +  content / DECODE_MBPS[codec]
#
# DECODE_MBPS are single-thread decode throughputs measured on this
# host's representative 4096-value chunks (tests/test_codec_dict_for_fsst
# pins the table and the selection consequences); READ_IO_MBPS models a
# cold per-core scan bandwidth — conservative for object storage.  Under
# this profile INCR (55 MB/s decode) and FSST (~120 MB/s) must buy
# enormous size wins to be picked, while PLAIN/FLBA (GB/s) and the
# numeric codecs are effectively free.
# --------------------------------------------------------------------------

READ_IO_MBPS = 200.0
DECODE_MBPS = {
    PLAIN: 3000.0,
    FLBA: 3000.0,
    DICT_RLE: 800.0,
    FSST: 120.0,
    INCR: 55.0,
    FOR_BITPACK: 2000.0,
    RLE: 1500.0,
    BSS: 3000.0,
    INT96: 2000.0,
}


def _pick(cands: dict[str, int], content_bytes: int, profile: str) -> str:
    """Choose among measured candidate sizes; read_optimized folds the
    decode-cost model in, the default stays pure-size (selection
    behavior unchanged)."""
    if profile != "read_optimized" or content_bytes <= 0:
        return min(cands, key=cands.get)
    return min(
        cands,
        key=lambda c: cands[c] / READ_IO_MBPS
        + content_bytes / DECODE_MBPS[c],
    )


SAMPLE_VALUES = 4096  # selector cardinality/run sample
# selector FSST-vs-zlib measurement sample: must be >> zlib's 32 KB
# window or PLAIN+zlib looks artificially strong (measured on the
# synthetic content column: fsst/plain size ratio reads 0.997 at 64 KB
# vs 0.867 ground truth at 8 MB; 512 KB reads 0.895). The cost is
# amortized by the per-column selector decision cache (SEL_CACHE_USES).
SAMPLE_BYTES = 1 << 19
# FSST selector-probe bounds: the PROBE table trains on a small slice
# (training cost is ~linear in sample bytes and was the dominant
# per-task cost of string encode once pretraining left the auto path;
# a probe-quality table reads ~3-10% pessimistic for FSST, a bias
# AGAINST the slow-decode codec) and the probe compresses a mid-size
# slice (the symbol-table ratio has no compression window to fill, so
# unlike the PLAIN+zstd side it converges at ~128 KB).  If FSST WINS,
# the actual encoder trains a full-quality table from SAMPLE_BYTES.
PROBE_TRAIN_BYTES = 8192
PROBE_FSST_BYTES = 1 << 17
SEL_CACHE_USES = 16  # chunks per task re-using one selector decision


# --------------------------------------------------------------------------
# dtype normalization: pandas series -> (non-null work array, validity mask)
# --------------------------------------------------------------------------


def series_to_values(series: pd.Series, dtype: str):
    """Return (values, valid_mask) where values holds only non-null entries:
    int-like -> np int64/int32 array, floats -> np array,
    string/binary -> list[bytes]."""
    valid = ~pd.isna(series).to_numpy()
    nn = series[valid] if not valid.all() else series
    if dtype == "string":
        vals = [v.encode("utf-8") for v in nn.astype(object).tolist()]
    elif dtype == "binary":
        vals = [bytes(v) for v in nn.tolist()]
    elif dtype == "timestamp_us":
        arr = pd.to_datetime(nn).to_numpy()
        vals = arr.astype("datetime64[us]").view(np.int64)
    elif dtype == "interval_dt":
        arr = pd.to_timedelta(nn).to_numpy()
        vals = arr.astype("timedelta64[us]").view(np.int64)
    elif dtype == "time_ns":
        # datetime.time objects -> nanos since midnight (convenience
        # path only; the pipeline's arrow path reads the int64 buffer)
        vals = np.fromiter(
            (
                ((t.hour * 60 + t.minute) * 60 + t.second) * 10**9
                + t.microsecond * 1000
                for t in nn
            ),
            dtype=np.int64,
            count=len(nn),
        )
    elif dtype == "date":
        arr = pd.to_datetime(nn).to_numpy()
        vals = arr.astype("datetime64[D]").view(np.int64).astype(np.int32)
    elif dtype == "bool":
        vals = nn.to_numpy(dtype=bool)
    elif dtype in ("int64", "int32"):
        vals = nn.to_numpy(dtype=dtype)
    elif dtype in ("float64", "float32"):
        vals = nn.to_numpy(dtype=dtype)
    else:
        raise ValueError(f"unsupported dtype: {dtype}")
    return vals, valid


def values_to_series(values, valid: np.ndarray, dtype: str) -> pd.Series:
    """Inverse of series_to_values (materialization, shred.js:157 analogue)."""
    n = len(valid)
    if dtype == "string":
        out = np.empty(n, dtype=object)
        out[valid] = [v.decode("utf-8") for v in values]
        out[~valid] = None
        return pd.Series(out, dtype=object)
    if dtype == "binary":
        out = np.empty(n, dtype=object)
        out[valid] = list(values)
        out[~valid] = None
        return pd.Series(out, dtype=object)
    if dtype == "timestamp_us":
        out = np.full(n, np.datetime64("NaT", "us"))
        out[valid] = np.asarray(values, dtype=np.int64).view("datetime64[us]")
        return pd.Series(out)
    if dtype == "interval_dt":
        out = np.full(n, np.timedelta64("NaT", "us"))
        out[valid] = np.asarray(values, dtype=np.int64).view("timedelta64[us]")
        return pd.Series(out)
    if dtype == "time_ns":
        import datetime as _dt

        vals64 = np.asarray(values, dtype=np.int64)
        if len(vals64) and int((vals64 % 1000).max()) != 0:
            # datetime.time carries micros only — refuse to silently
            # drop sub-microsecond precision (the arrow path preserves
            # full nanos; use decode_arrow_column for such data)
            raise ValueError(
                "time_ns values carry sub-microsecond precision that "
                "datetime.time cannot represent; decode via the arrow "
                "path instead"
            )
        out = np.empty(n, dtype=object)
        out[valid] = [
            _dt.time(
                int(v // 3_600_000_000_000) % 24,
                int(v // 60_000_000_000) % 60,
                int(v // 1_000_000_000) % 60,
                int(v % 1_000_000_000) // 1000,
            )
            for v in vals64
        ]
        out[~valid] = None
        return pd.Series(out, dtype=object)
    if dtype == "date":
        out = np.full(n, np.datetime64("NaT", "D"))
        out[valid] = np.asarray(values, dtype=np.int64).astype("datetime64[D]")
        return pd.Series(out.astype("datetime64[s]"))
    if not valid.all():
        if dtype in ("int64", "int32"):
            # masked IntegerArray: no float round-trip (2^53 precision trap)
            data = np.zeros(n, dtype=dtype)
            data[valid] = np.asarray(values, dtype=dtype)
            return pd.Series(pd.arrays.IntegerArray(data, mask=~valid))
        if dtype == "bool":
            data = np.zeros(n, dtype=bool)
            data[valid] = np.asarray(values, dtype=bool)
            return pd.Series(pd.arrays.BooleanArray(data, mask=~valid))
        out = np.full(n, np.nan, dtype=dtype)
        out[valid] = np.asarray(values, dtype=dtype)
        return pd.Series(out)
    arr = np.asarray(values)
    if dtype == "bool":
        return pd.Series(arr.astype(bool))
    return pd.Series(arr.astype(dtype))


# --------------------------------------------------------------------------
# canonical sha256 — the per-row bit-identity invariant (BASELINE.json:15)
# --------------------------------------------------------------------------


def canonical_sha256(values, valid: np.ndarray, dtype: str) -> str:
    """sha256 over the non-null values ++ validity bitmap.  Strings feed
    payload ++ '|' ++ int64-LE lengths (same information as the
    interleaved PLAIN stream, fed without materializing it); numerics
    feed their PLAIN LE bytes.  Must stay byte-identical to
    arrow_chunk's definition — test_arrow_chunk pins pandas==arrow."""
    h = hashlib.sha256()
    if dtype in ("string", "binary"):
        h.update(b"".join(values))
        h.update(b"|")
        h.update(
            np.fromiter(
                (len(v) for v in values), dtype="<i8", count=len(values)
            ).tobytes()
        )
    elif dtype == "bool":
        h.update(plain.encode_boolean(np.asarray(values)))
    else:
        h.update(plain.encode_numeric(_PTYPE[dtype], np.asarray(values)))
    h.update(b"|")
    h.update(np.packbits(valid.view(np.uint8), bitorder="little").tobytes())
    return h.hexdigest()


# --------------------------------------------------------------------------
# value-section encoders per codec
# --------------------------------------------------------------------------


def _encode_int_values(vals: np.ndarray, dtype: str, codec: str) -> bytes:
    work = np.ascontiguousarray(vals, dtype=np.int64)
    if codec == PLAIN:
        if dtype == "bool":
            return plain.encode_boolean(vals)
        return plain.encode_numeric(_PTYPE[dtype], vals)
    if codec == FOR_BITPACK:
        return for_bp.encode(work)
    if codec == DICT_RLE:
        return dictionary.encode(vals, _PTYPE.get(dtype, "INT64"))
    if codec == RLE:
        if len(work) and work.min() < 0:
            raise ValueError("RLE requires non-negative values")
        width = bit_width(int(work.max())) if len(work) else 0
        return bytes([width]) + rle.encode(
            work.astype(np.uint64), width, disable_envelope=True
        )
    if codec == BSS and dtype != "bool":
        # natural storage width (INT32 dtypes -> 4-byte planes)
        nt = np.int32 if _PTYPE.get(dtype) == "INT32" else np.int64
        return bss.encode(np.ascontiguousarray(vals, dtype=nt))
    if codec == INT96 and dtype != "bool":
        return plain.encode_int96(work)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _decode_int_values(buf: memoryview, n: int, dtype: str, codec: str):
    if codec == PLAIN:
        if dtype == "bool":
            return plain.decode_boolean(buf, n)
        return plain.decode_numeric(_PTYPE[dtype], buf, n)
    if codec == FOR_BITPACK:
        return for_bp.decode(buf, n)
    if codec == DICT_RLE:
        return dictionary.decode(buf, n, _PTYPE.get(dtype, "INT64"))
    if codec == RLE:
        width = buf[0]
        return rle.decode(memoryview(buf)[1:], n, width, disable_envelope=True).view(
            np.int64
        )
    if codec == BSS and dtype != "bool":
        nt = np.int32 if _PTYPE.get(dtype) == "INT32" else np.int64
        return bss.decode(buf, n, nt)
    if codec == INT96 and dtype != "bool":
        return plain.decode_int96(buf, n)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _encode_fsst_strings(
    vals: list[bytes],
    table: list[bytes] | None,
    fsst_state: dict | None = None,
) -> bytes:
    concat = b"".join(vals)
    if table is None:
        table = fsst.train(concat[:SAMPLE_BYTES])
        if fsst_state is not None:
            fsst_state["table"] = table
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    lens_enc = for_bp.encode(lens)
    payload = fsst.compress(concat, table)
    return (
        len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + fsst.serialize_table(table)
        + payload
    )


def _decode_fsst_strings(buf: memoryview, n: int) -> list[bytes]:
    lens_len = int.from_bytes(bytes(buf[:4]), "little")
    lens = for_bp.decode(buf[4 : 4 + lens_len], n)
    table, consumed = fsst.deserialize_table(buf[4 + lens_len :])
    concat = fsst.decompress(bytes(buf[4 + lens_len + consumed :]), table)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return [concat[offs[i] : offs[i + 1]] for i in range(n)]


def _encode_values(vals, dtype: str, codec: str, fsst_table=None, fsst_state=None) -> bytes:
    if dtype in _INT_LIKE:
        return _encode_int_values(np.asarray(vals), dtype, codec)
    if dtype in ("float64", "float32"):
        if codec == PLAIN:
            return plain.encode_numeric(_PTYPE[dtype], np.asarray(vals))
        if codec == DICT_RLE:
            return dictionary.encode(np.asarray(vals), _PTYPE[dtype])
        if codec == BSS:
            dt = np.float64 if dtype == "float64" else np.float32
            return bss.encode(np.asarray(vals, dtype=dt))
        raise ValueError(f"codec {codec} unsupported for {dtype}")
    # string / binary
    if codec == PLAIN:
        return strstream.encode_byte_arrays(vals)
    if codec == FLBA:
        width = len(vals[0]) if len(vals) else 0
        return width.to_bytes(4, "little") + plain.encode_fixed_len_byte_array(
            list(vals), width
        )
    if codec == DICT_RLE:
        return dictionary.encode(vals, "BYTE_ARRAY")
    if codec == FSST:
        return _encode_fsst_strings(vals, fsst_table, fsst_state)
    if codec == INCR:
        return incr.encode(list(vals))
    raise ValueError(f"codec {codec} unsupported for {dtype}")


def _decode_values(buf: memoryview, n: int, dtype: str, codec: str):
    if dtype in _INT_LIKE:
        return _decode_int_values(buf, n, dtype, codec)
    if dtype in ("float64", "float32"):
        if codec == PLAIN:
            return plain.decode_numeric(_PTYPE[dtype], buf, n)
        if codec == DICT_RLE:
            return dictionary.decode(buf, n, _PTYPE[dtype])
        if codec == BSS:
            return bss.decode(buf, n, np.float64 if dtype == "float64" else np.float32)
        raise ValueError(f"codec {codec} unsupported for {dtype}")
    if codec == PLAIN:
        return strstream.decode_byte_arrays(buf, n)
    if codec == FLBA:
        width = int.from_bytes(bytes(buf[:4]), "little")
        return plain.decode_fixed_len_byte_array(memoryview(buf)[4:], n, width)
    if codec == DICT_RLE:
        return list(dictionary.decode(buf, n, "BYTE_ARRAY"))
    if codec == FSST:
        return _decode_fsst_strings(buf, n)
    if codec == INCR:
        return incr.decode(buf, n)
    raise ValueError(f"codec {codec} unsupported for {dtype}")


# --------------------------------------------------------------------------
# codec auto-selector (SURVEY.md §7.1 step 3): sampled cardinality /
# run-length / symbol-frequency statistics -> cheapest codec per chunk.
# This replaces the reference's static per-schema declaration
# (/root/reference/lib/schema.js:129-135) with a runtime decision.
# --------------------------------------------------------------------------


def select_codec(
    vals, dtype: str, fsst_state: dict | None = None, profile: str = "default"
) -> tuple[str, dict]:
    """Return (codec_name, selector_stats).

    ``fsst_state`` is an optional cross-chunk cache (one per task+column):
    a trained symbol table is reused for sizing and encoding instead of
    retraining per chunk — training cost amortizes over the partition.
    ``profile="read_optimized"`` folds the measured decode-cost model
    into the choice (see DECODE_MBPS above); the default stays size-only."""
    n = len(vals)
    info: dict = {"n_sampled": min(n, SAMPLE_VALUES)}
    if n == 0:
        return PLAIN, info
    if dtype in (
        "float64", "float32", "int64", "int32", "date", "timestamp_us",
        "interval_dt", "time_ns",
    ):
        # decision cache: same policy as the string path below — numeric
        # chunks of one column within a task are near-i.i.d., so the
        # measured selection below amortizes to ~0.  A cached RLE pick
        # carries a data precondition (non-negative, <=32-bit) that a
        # later chunk may violate — re-validate before reuse or a valid
        # input crashes the encode (e.g. first chunks all-positive, next
        # chunk contains -1).
        if fsst_state is not None and "sel" in fsst_state:
            sel = fsst_state["sel"]
            ok = fsst_state.get("sel_uses", 0) < SEL_CACHE_USES
            if ok and sel == RLE and n:
                a = np.asarray(vals)
                ok = int(a.min()) >= 0 and bit_width(int(a.max())) <= 32
            if ok:
                fsst_state["sel_uses"] = fsst_state.get("sel_uses", 0) + 1
                return sel, {"cached": True}
            del fsst_state["sel"]
        arr = np.asarray(vals)
        sample = arr[:SAMPLE_VALUES]
        ds = dictionary.stats(sample, _PTYPE[dtype])
        scale = n / len(sample)
        width = arr.dtype.itemsize
        raw_cands = {
            PLAIN: len(sample) * width,
            DICT_RLE: int(ds["est_size"]),
        }
        # BSS is size-neutral raw (same n*width bytes as PLAIN) — its
        # win is post-compression only, so it always enters the
        # measured z-comparison below rather than the analytic cut.
        # Floats AND int-likes: byte planes of sorted timestamps or
        # zipf ints compress ~16% past FOR/PLAIN (measured), and the
        # comparison rejects it where they don't
        raw_cands[BSS] = len(sample) * width
        rle_ok = False
        if dtype != "float64" and dtype != "float32":
            vmin, vmax = int(arr.min()), int(arr.max())
            raw_cands[FOR_BITPACK] = for_bp.estimated_size(len(sample), vmin, vmax)
            rle_ok = vmin >= 0 and bit_width(vmax) <= 32
            if rle_ok:
                runs = ds["runs"]
                raw_cands[RLE] = int(runs * (2 + (bit_width(vmax) + 7) // 8)) + 1
        # The analytic sizes rank pre-compression, but blocks get zlib'd
        # afterwards and codecs respond to it very differently (PLAIN on
        # zipf ints often beats DICT post-zlib).  Measure post-zlib on the
        # sample for every candidate within 3x of the analytic best; the
        # decision cache bounds the cost to ~1 measurement per 16 chunks.
        best_raw = min(raw_cands.values())
        cands: dict[str, int] = {}
        for c, est in raw_cands.items():
            if est > 3 * best_raw + 64:
                cands[c] = int(est * scale)
                continue
            try:
                enc = _encode_int_values(sample, dtype, c) if dtype in _INT_LIKE \
                    else _encode_values(sample, dtype, c)
            except ValueError:
                continue
            z_len = comp.size_estimate(enc)
            cands[c] = int(min(len(enc), z_len + 16) * scale)
        info.update(cardinality=ds["cardinality"], runs=ds["runs"], sizes=cands)
        choice = _pick(cands, len(arr) * width, profile)
        if fsst_state is not None:
            fsst_state["sel"] = choice
            fsst_state["sel_uses"] = 0
        return choice, info
    if dtype == "bool":
        return PLAIN, info
    # strings / binary: measure on a byte sample
    # (decision cache: same policy as arrow_chunk._select_string_codec).
    # A cached FLBA pick requires uniform value widths — re-validate, a
    # later chunk with one variable-length value would crash the encode.
    if fsst_state is not None and "sel" in fsst_state:
        sel = fsst_state["sel"]
        ok = fsst_state.get("sel_uses", 0) < SEL_CACHE_USES
        if ok and sel == FLBA and n:
            ls = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
            ok = bool((ls == ls[0]).all())
        if ok:
            fsst_state["sel_uses"] = fsst_state.get("sel_uses", 0) + 1
            return sel, {"cached": True}
        del fsst_state["sel"]
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
    total = int(lens.sum())
    sample_vals = vals[: max(1, min(n, SAMPLE_VALUES))]
    ds = dictionary.stats(sample_vals, "BYTE_ARRAY")
    scale = n / len(sample_vals)
    plain_post_z = False
    cands = {PLAIN: total + n, DICT_RLE: int(ds["est_size"] * scale)}
    if n and (lens == lens[0]).all():
        # uniform widths (hashes, fixed ids) -> FLBA, raw concat + u32
        cands[FLBA] = total + 4
    # FSST candidacy measured on a bounded sample (SURVEY.md §7.3).
    # Candidate sizes are estimated POST block-compression — comparing raw
    # encodings would make FSST look dominant even where zlib-on-PLAIN
    # ends up the same size at half the CPU.
    # Evaluate FSST unless dictionary is *clearly* winning (same rule as
    # arrow_chunk._select_string_codec): low cardinality alone is no
    # reason to skip when the uniques carry most of the bytes.
    if total > 0 and cands[DICT_RLE] > 0.35 * cands[PLAIN]:
        concat = b"".join(sample_vals)[:SAMPLE_BYTES]
        if len(concat) >= 256:
            table = None
            if fsst_state is not None:
                # `is None`, not `or`: an empty table ([] from a sample
                # with no repeated byte) is a trained table
                table = fsst_state.get("table")
                if table is None:
                    table = fsst_state.get("probe_table")
            if table is None:
                table = fsst.train(concat[:PROBE_TRAIN_BYTES])
                if fsst_state is not None:
                    fsst_state["probe_table"] = table
            plain_z = comp.size_estimate(concat) / len(concat)
            probe_slice = concat[:PROBE_FSST_BYTES]
            fsst_payload = fsst.compress(probe_slice, table)
            fsst_z = min(
                len(fsst_payload), comp.size_estimate(fsst_payload)
            ) / len(probe_slice)
            cands[PLAIN] = int(plain_z * total) + n
            cands[FSST] = int(fsst_z * total) + 2 * len(table) + n + 16
            info["fsst_ratio"] = round(fsst_z, 4)
            info["plain_zlib_ratio"] = round(plain_z, 4)
            # FSST costs ~2x the CPU of PLAIN+zlib: require a >10% size win
            if cands[FSST] > 0.9 * cands[PLAIN]:
                cands.pop(FSST)
            plain_post_z = True
    # INCREMENTAL candidacy (same policy as arrow_chunk's selector):
    # cheap adjacent-lcp probe, then measured post-compression compare;
    # decode is the slowest string path so demand a >8% win.
    if total > 0 and n >= 2:
        head = sample_vals[:65]
        lens_h = np.fromiter((len(v) for v in head), dtype=np.int64, count=len(head))
        offs_h = np.zeros(len(head) + 1, dtype=np.int64)
        np.cumsum(lens_h, out=offs_h[1:])
        probe = incr.mean_lcp_probe(offs_h, b"".join(head))
        if probe >= 8.0:
            # bound the measured candidate to ~SAMPLE_BYTES of values,
            # same cap as the FSST probe above (long-document samples
            # would otherwise cost more to measure than to encode)
            acc, k = 0, 0
            for v in sample_vals:
                acc += len(v)
                k += 1
                if acc >= SAMPLE_BYTES:
                    break
            sub_vals = sample_vals[: max(2, k)]
            enc_i = incr.encode(list(sub_vals))
            stot = int(sum(len(v) for v in sub_vals))
            incr_z = min(len(enc_i), comp.size_estimate(enc_i)) / max(1, stot)
            if not plain_post_z:
                concat_p = b"".join(sample_vals)[:SAMPLE_BYTES]
                if len(concat_p):
                    pz = comp.size_estimate(concat_p) / len(concat_p)
                    cands[PLAIN] = int(pz * total) + n
                    plain_post_z = True
            info["mean_lcp"] = round(probe, 1)
            cands[INCR] = int(incr_z * total) + n
            if cands[INCR] > 0.92 * cands[PLAIN]:
                cands.pop(INCR)
    info.update(cardinality=ds["cardinality"], runs=ds["runs"], sizes=cands)
    choice = _pick(cands, total, profile)
    if fsst_state is not None:
        fsst_state["sel"] = choice
        fsst_state["sel_uses"] = 0
    return choice, info


# --------------------------------------------------------------------------
# public chunk API
# --------------------------------------------------------------------------


def encode_chunk(
    series: pd.Series,
    dtype: str,
    codec: str = "auto",
    compression: str = "auto",
    fsst_state: dict | None = None,
) -> tuple[bytes, dict]:
    if dtype.startswith("list_") or dtype.startswith("decimal("):
        # repeated fields + decimals: delegate to the Arrow path (the
        # wire format is defined once there); lazy import avoids a cycle
        import pyarrow as pa

        from . import arrow_chunk

        arr = pa.array(series.tolist(), type=arrow_chunk.pa_type_of(dtype))
        return arrow_chunk.encode_arrow_column(
            arr, dtype, codec=codec, compression=compression, fsst_state=fsst_state
        )
    vals, valid = series_to_values(series, dtype)
    n = len(valid)
    n_nulls = int(n - valid.sum())
    sel_info: dict = {}
    if codec == "auto":
        codec, sel_info = select_codec(vals, dtype, fsst_state)

    fsst_table = None if fsst_state is None else fsst_state.get("table")
    values_raw = _encode_values(vals, dtype, codec, fsst_table, fsst_state)

    if compression == "auto":
        compression, values_comp = comp.auto_compress(values_raw)
    else:
        values_comp = comp.compress(compression, values_raw)

    levels = b""
    flags = 0
    if n_nulls:
        flags |= 1
        levels = rle.encode(
            valid.astype(np.uint64), 1, disable_envelope=True
        )

    blob = b"".join(
        (
            MAGIC,
            bytes(
                [
                    DTYPE_IDS[dtype],
                    CODEC_IDS[codec],
                    comp.comp_id(compression),
                    flags,
                ]
            ),
            n.to_bytes(4, "little"),
            n_nulls.to_bytes(4, "little"),
            len(levels).to_bytes(4, "little"),
            len(values_comp).to_bytes(4, "little"),
            levels,
            values_comp,
        )
    )

    if dtype in ("string", "binary"):
        content_bytes = int(sum(len(v) for v in vals))
    elif dtype == "bool":
        content_bytes = (len(vals) + 7) // 8
    else:
        content_bytes = int(np.asarray(vals).nbytes)

    stats = {
        "codec": codec,
        "compression": compression,
        "n": n,
        "n_nulls": n_nulls,
        "content_bytes": content_bytes,
        "encoded_bytes": len(blob),
        "sha256": canonical_sha256(vals, valid, dtype),
        "selector": sel_info,
    }
    return blob, stats


def decode_chunk(blob: bytes | memoryview) -> tuple[pd.Series, str]:
    mv = memoryview(blob)
    if bytes(mv[:4]) != MAGIC:
        raise ValueError("bad chunk magic")
    if DTYPE_NAMES[mv[4]].startswith("list_") or DTYPE_NAMES[mv[4]] == "decimal":
        from . import arrow_chunk

        arr, dtype = arrow_chunk.decode_arrow_column(blob)
        return pd.Series(arr.to_pylist(), dtype=object), dtype
    dtype = DTYPE_NAMES[mv[4]]
    codec = CODEC_NAMES[mv[5]]
    compression = comp.comp_name(mv[6])
    flags = mv[7]
    n = int.from_bytes(bytes(mv[8:12]), "little")
    n_nulls = int.from_bytes(bytes(mv[12:16]), "little")
    levels_len = int.from_bytes(bytes(mv[16:20]), "little")
    values_len = int.from_bytes(bytes(mv[20:24]), "little")
    pos = 24
    if flags & 1:
        valid = (
            rle.decode(mv[pos : pos + levels_len], n, 1, disable_envelope=True)
            .astype(bool)
        )
    else:
        valid = np.ones(n, dtype=bool)
    pos += levels_len
    values_raw = comp.decompress(compression, mv[pos : pos + values_len])
    vals = _decode_values(memoryview(values_raw), n - n_nulls, dtype, codec)
    return values_to_series(vals, valid, dtype), dtype


def verify_chunk(blob: bytes, expected_sha: str) -> bool:
    """Decode and re-hash — the bit-identity check (BASELINE.json:15)."""
    hdr_dtype = DTYPE_NAMES[memoryview(blob)[4]]
    if hdr_dtype.startswith("list_") or hdr_dtype == "decimal":
        from . import arrow_chunk

        return arrow_chunk.verify_arrow(blob, expected_sha)
    series, dtype = decode_chunk(blob)
    vals, valid = series_to_values(series, dtype)
    return canonical_sha256(vals, valid, dtype) == expected_sha
