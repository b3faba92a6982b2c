"""Dictionary encoding with RLE/bit-packed indices — RLE_DICTIONARY
semantics.

Absent from the reference's code (SURVEY.md E15): parquetjs declares the
encodings (/root/reference/parquet.thrift:291, :318-320 — "the ids are
encoded using the RLE encoding") and the DictionaryPageHeader
(/root/reference/parquet.thrift:363-372) but never registers a codec
(/root/reference/lib/codec/index.js:1-2).  We build it per the thrift
spec semantics carried in that file:

Wire format:
  u32 LE  n_dict          (number of dictionary entries)
  u32 LE  len(dict_page)
  dict_page               encoded uniques (byte arrays: strstream v2,
                          FOR-packed lengths + payload; numerics: LE
                          fixed width, lib/codec/plain.js formats)
  u8      bit width       (RLE_DICTIONARY's one-byte bit-width prefix)
  rle     indices         RLE/bit-pack hybrid, no envelope

Index extraction uses pandas.factorize (C-speed) — first-occurrence
order, so the encoding is deterministic for a given chunk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import plain, rle, strstream
from .util import bit_width


def encode(values, ptype: str) -> bytes:
    """values: list[bytes] for BYTE_ARRAY, ndarray for numerics."""
    if ptype == "BYTE_ARRAY":
        arr = np.empty(len(values), dtype=object)
        arr[:] = values
        codes, uniques = pd.factorize(arr, use_na_sentinel=False)
        dict_page = strstream.encode_byte_arrays(list(uniques))
    else:
        codes, uniques = pd.factorize(np.asarray(values), use_na_sentinel=False)
        dict_page = plain.encode_numeric(ptype, np.asarray(uniques))
    n_dict = len(uniques)
    width = bit_width(max(0, n_dict - 1))
    idx_rle = rle.encode(codes.astype(np.uint64), width, disable_envelope=True)
    return (
        n_dict.to_bytes(4, "little")
        + len(dict_page).to_bytes(4, "little")
        + dict_page
        + bytes([width])
        + idx_rle
    )


def decode(buf: bytes | memoryview, count: int, ptype: str):
    mv = memoryview(buf)
    n_dict = int.from_bytes(bytes(mv[0:4]), "little")
    dict_len = int.from_bytes(bytes(mv[4:8]), "little")
    dict_page = mv[8 : 8 + dict_len]
    width = mv[8 + dict_len]
    idx = rle.decode(mv[9 + dict_len :], count, width, disable_envelope=True)
    if ptype == "BYTE_ARRAY":
        uniques = strstream.decode_byte_arrays(dict_page, n_dict)
        arr = np.empty(n_dict, dtype=object)
        arr[:] = uniques
        return arr[idx.astype(np.int64)]
    uniques = plain.decode_numeric(ptype, dict_page, n_dict)
    return uniques[idx.astype(np.int64)]


def index_size_estimate(n: int, width: int, runs: int) -> int:
    """Size of n dictionary indices of ``width`` bits under the RLE
    hybrid (plus its one-byte width prefix and slack), better of its two
    run kinds: bit-packed groups (one varint header per <=504 values)
    for alternating data, repeated runs (header + value) for runny
    data."""
    bitpack = (n * width + 7) // 8 + 2 * (n // 504 + 1)
    repeat = runs * (2 + (width + 7) // 8)
    return min(bitpack, repeat) + 2


def stats(values) -> dict:
    """Cardinality / run statistics of a numeric sample for the
    auto-selector (byte arrays are sized in
    arrow_chunk._select_string_codec)."""
    v = np.asarray(values)
    codes, uniques = pd.factorize(v, use_na_sentinel=False)
    dict_bytes = len(uniques) * v.dtype.itemsize
    n = len(codes)
    runs = 1 + int(np.count_nonzero(np.diff(codes))) if n else 0
    width = bit_width(max(0, len(uniques) - 1))
    return {
        "cardinality": len(uniques),
        "runs": runs,
        "bit_width": width,
        "est_size": 9 + dict_bytes + index_size_estimate(n, width, runs),
    }
