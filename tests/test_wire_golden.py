"""Golden pins for the chunk wire format (v1) and the canonical sha256
(format 2).

Each case encodes a fixed-seed input (nulls included) under one codec
and compares sha256(blob) with a digest recorded from the encoder as it
stood before the codec layer was merged into ``arrow_chunk``.  A digest
that moves means the wire moved: blobs written earlier would no longer
read back identically.  The canonical sha is pinned per dtype (it does
not depend on the codec).

The string-codec cases check ``_encode_string_block`` against the
codecs-level list APIs byte for byte, so the Arrow-buffer encoders stay
the same wire as the reference list encoders."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib

import numpy as np
import pyarrow as pa
import pytest

from parquetjs_spark import arrow_chunk
from parquetjs_spark.chunk import SAMPLE_BYTES, codec_supports
from parquetjs_spark.codecs import (
    CODEC_IDS,
    DICT_RLE,
    FLBA,
    FSST,
    INCR,
    PLAIN,
    dictionary,
    for_bp,
    fsst,
    incr,
    plain,
    strstream,
)

N = 600
DTYPES = [
    "string", "binary", "int64", "int32", "float64", "bool", "timestamp_us",
    "date", "list_int64", "list_string", "decimal(12,2)",
]
_WORDS = ["alpha", "beta", "gamma", "delta", "select", "from", "where", "日本"]


def golden_values(dtype: str, fixed_width: bool = False) -> list:
    """Fixed-seed python values for one dtype; every 7th row is null.
    ``fixed_width`` makes byte-array values (or list elements) uniform in
    length, which FLBA requires."""
    rng = np.random.default_rng(20240 + DTYPES.index(dtype))
    if dtype == "string":
        if fixed_width:
            vals = ["%08x" % int(v) for v in rng.integers(0, 2**31, N)]
        else:
            vals = [
                " ".join(rng.choice(_WORDS, size=int(k))) + f" {i % 37}"
                for i, k in enumerate(rng.integers(0, 6, N))
            ]
    elif dtype == "binary":
        width = rng.integers(16, 17, N) if fixed_width else rng.integers(0, 20, N)
        vals = [bytes(rng.integers(0, 4, int(k), dtype=np.uint8)) for k in width]
    elif dtype == "int64":
        vals = [int(v) for v in rng.integers(0, 1000, N)]
    elif dtype == "int32":
        vals = [int(v) for v in rng.integers(0, 50, N)]
    elif dtype == "float64":
        vals = [float(v) for v in np.round(rng.normal(100.0, 5.0, N), 2)]
    elif dtype == "bool":
        vals = [bool(v) for v in rng.integers(0, 2, N)]
    elif dtype == "timestamp_us":
        base = dt.datetime(2024, 1, 1)
        vals = [
            base + dt.timedelta(minutes=int(m), microseconds=int(u))
            for m, u in zip(np.cumsum(rng.integers(0, 90, N)), rng.integers(0, 10**6, N))
        ]
    elif dtype == "date":
        base = dt.date(1995, 1, 1)
        vals = [base + dt.timedelta(days=int(d)) for d in rng.integers(0, 4000, N)]
    elif dtype == "list_int64":
        vals = [
            [int(v) if v % 11 else None for v in rng.integers(0, 300, int(k))]
            for k in rng.integers(0, 6, N)
        ]
    elif dtype == "list_string":
        vals = [
            [
                ("%04d" % v if fixed_width else str(rng.choice(_WORDS)) * int(v % 3))
                if v % 13 else None
                for v in rng.integers(0, 3000, int(k))
            ]
            for k in rng.integers(0, 5, N)
        ]
    elif dtype == "decimal(12,2)":
        vals = [
            decimal.Decimal(int(v)).scaleb(-2) for v in rng.integers(0, 10**7, N)
        ]
    else:
        raise ValueError(dtype)
    return [None if i % 7 == 3 else v for i, v in enumerate(vals)]


def golden_cases() -> list[tuple[str, str]]:
    return [
        (dtype, codec)
        for dtype in DTYPES
        for codec in ["auto", *CODEC_IDS]
        if codec == "auto" or codec_supports(codec, dtype)
    ]


def golden_array(dtype: str, codec: str) -> pa.Array:
    return pa.array(
        golden_values(dtype, fixed_width=codec == FLBA),
        type=arrow_chunk.pa_type_of(dtype),
    )


# sha256(blob) per (dtype, codec)
BLOB_DIGESTS: dict[tuple[str, str], str] = {
    ("string", "auto"):
        "90c70add7b44e2b1c35069ad774481c1b328d7acfa20d41bc8e997650dff2e5e",
    ("string", "PLAIN"):
        "90c70add7b44e2b1c35069ad774481c1b328d7acfa20d41bc8e997650dff2e5e",
    ("string", "DICT_RLE"):
        "95b5927a06c978aa3c737c655115d4d659f38adf46cb5249124eb3ece5f6762c",
    ("string", "FSST"):
        "07450e6ebbba8808625a7cadc45bda58a23c35e724223608e08974c74926136c",
    ("string", "FLBA"):
        "7f9b5fb6e9956f7a0597dba65fbe45c71c95af89fc1e01f74a775196e56f1045",
    ("string", "INCREMENTAL"):
        "8ed09bc1e48ae8155434a8c0d58ff8804b4b0575fe76713a8b514542891378e7",
    ("binary", "auto"):
        "8954ce83d5f62d36440642207ce649948bd7aa9224a8264f1df5dc89e0bbe57d",
    ("binary", "PLAIN"):
        "8954ce83d5f62d36440642207ce649948bd7aa9224a8264f1df5dc89e0bbe57d",
    ("binary", "DICT_RLE"):
        "eb9f41a6fd30ca8c330fdc105f2c111b3c054e2f174d6516a523c9112d712c1c",
    ("binary", "FSST"):
        "4eac760cd94e4f59d5b229ac18949415b95a7dbd5503d7130222b311b68bd8e0",
    ("binary", "FLBA"):
        "d4064175eed52768815b3b8fa745c4ed70ae97dfa0654f7eda523d2e31325807",
    ("binary", "INCREMENTAL"):
        "9b5e4942589aeef13134c5a1ebbd52b282600a99926b8f3dc38c61e3545d6ba2",
    ("int64", "auto"):
        "4dd27e6a4a94001917ae9bdc703cd11154cb589eb04eb3d08ee0ee85d56193b3",
    ("int64", "PLAIN"):
        "9cf882f1de83c1cd76848f1e72ed07babb2a39af7519cfabbbae2d97e0872164",
    ("int64", "RLE"):
        "effb5102654a8a2d8a807f6d7c44f1378c1ad475703727e7b6db0e4b7da5d336",
    ("int64", "DICT_RLE"):
        "7c79360133dc1a49ba3093850ca7d7e34033fae1fa191a625765c3f3af3edec6",
    ("int64", "FOR_BITPACK"):
        "4dd27e6a4a94001917ae9bdc703cd11154cb589eb04eb3d08ee0ee85d56193b3",
    ("int64", "BYTE_STREAM_SPLIT"):
        "8654544aead71452ae286265c0fc2d342ccbd7af8ab920ff432fff4a9913d102",
    ("int64", "INT96"):
        "47bc5def2c365bc6e9a122e069bcb24aeaa15d7bbcf4f993eb3bd541bf28904e",
    ("int32", "auto"):
        "8bfaaa11494c6f79489bb2acdd83d739ea78bfcbe158512ffee34f9aaae38441",
    ("int32", "PLAIN"):
        "7a5de692497ae20a85a63dc5beb23d96879465608ba8025ff03afb1c19ad2472",
    ("int32", "RLE"):
        "e786d8e74749b3a4eaf7748f11c143fa0416879eec10abae9df65f698044f7e7",
    ("int32", "DICT_RLE"):
        "ed50964dfa3ac6b8b8412fb0aeaab1409059203ed589226e3ec6b4320a3fbdcb",
    ("int32", "FOR_BITPACK"):
        "8bfaaa11494c6f79489bb2acdd83d739ea78bfcbe158512ffee34f9aaae38441",
    ("int32", "BYTE_STREAM_SPLIT"):
        "e51cf7ea2f877875975398aab70d7292ccc124c914038330ed852cdf8d6be798",
    ("int32", "INT96"):
        "6e677e44027f4f2002127da0f082a7cd3d5399d10e36ecc4db431b33fca7c4d7",
    ("float64", "auto"):
        "e3132d3c65637411b88b523c61f5b01f3fef9ebe3215fa63faba0065d6e81e7e",
    ("float64", "PLAIN"):
        "e3132d3c65637411b88b523c61f5b01f3fef9ebe3215fa63faba0065d6e81e7e",
    ("float64", "DICT_RLE"):
        "016ea78146c29c667a80aa297f5321bc84a671edf35915d1fbe8d1170b0589da",
    ("float64", "BYTE_STREAM_SPLIT"):
        "1151f81ace9cdf3b483ca6289017ae353b3256d760c1ff325fcae5d0750859a6",
    ("bool", "auto"):
        "50d80425999aa0153801bf6ff12e9d7494a1805a7e3bcde1c16a19b79288de25",
    ("bool", "PLAIN"):
        "50d80425999aa0153801bf6ff12e9d7494a1805a7e3bcde1c16a19b79288de25",
    ("bool", "RLE"):
        "9156caffae6571fac1483c05bb3f40b1a5adb28cf550f2d1dc42807171a78dc2",
    ("bool", "DICT_RLE"):
        "629af8d461f5025054ae368249d07439b15b7da799f1bc989fa0cc93f8e36f42",
    ("bool", "FOR_BITPACK"):
        "fd6d060080fa534b3f4b3d6119b05c7d4e4a9bf22f700f61acae24ae427b68ad",
    ("timestamp_us", "auto"):
        "af9b4c3c738ce7c9864604aa7593221b522f4d39eb4c10bc1a097c627959c836",
    ("timestamp_us", "PLAIN"):
        "68ec8dcb90b67cb59346b30fdeb00ac5d67499def6c9888d4fbb1669700ebfde",
    ("timestamp_us", "RLE"):
        "cc571bc60182f710d5eaf2bc618b50d785ef07872230b020348200fedb58d82b",
    ("timestamp_us", "DICT_RLE"):
        "1e532d282f30ac632412bdbca0b02ad63ddf532ea870c470740a0d07ef3cff99",
    ("timestamp_us", "FOR_BITPACK"):
        "71590b18b87c5aedd018030b567eb7b66086ee653f6dd2a01ec92e43a0c30f20",
    ("timestamp_us", "BYTE_STREAM_SPLIT"):
        "af9b4c3c738ce7c9864604aa7593221b522f4d39eb4c10bc1a097c627959c836",
    ("timestamp_us", "INT96"):
        "d9d348231dd254cc40db94a685fb9a17e7f7bfb0da2a0481eae2cc3dd87ad114",
    ("date", "auto"):
        "5e9bb9bdc4f25f6efb4cf98be30f26183421e066138a193be6dc07d3326931bd",
    ("date", "PLAIN"):
        "2ff3e1c7741116b89adb8b804f855db1827abd1e478e1abbff22d5889a79495c",
    ("date", "RLE"):
        "9b2c0a6e6162df1d262c8be0233f63b14232b82969b3d8e857cbbef2f94ce44c",
    ("date", "DICT_RLE"):
        "27ea34d953861afd42cb74a26ece1b1e48c508369b817b3c6d7a184816f3bb90",
    ("date", "FOR_BITPACK"):
        "5e9bb9bdc4f25f6efb4cf98be30f26183421e066138a193be6dc07d3326931bd",
    ("date", "BYTE_STREAM_SPLIT"):
        "6222e38bf13c7636db1ad0967ef66bd3fbe39557f14c2ea1b426ee0e75f781cf",
    ("date", "INT96"):
        "dd1bc79f0a07398fa533267c5f7e8fb8c3b91b414dac296e9e040bbfd5b572f8",
    ("list_int64", "auto"):
        "fefa7bbb862aa65df38e12835495b7eefc026ee992beab08ee59a865d5ac58c4",
    ("list_int64", "PLAIN"):
        "372c5937d29d1077a9287fb4a08ac21a5cdf7376d0590df0cd45113ed0f55dd4",
    ("list_int64", "RLE"):
        "59f101b54f21f33be615a975f4db2e952b09ba38e9a129924583f34f87a554bd",
    ("list_int64", "DICT_RLE"):
        "52e0ef2c9be13e6dd8821e825dcab32dfdcf8389713f0c1f6dffb77699a44fbf",
    ("list_int64", "FOR_BITPACK"):
        "fefa7bbb862aa65df38e12835495b7eefc026ee992beab08ee59a865d5ac58c4",
    ("list_int64", "BYTE_STREAM_SPLIT"):
        "afe68d57e71bf74b1408deef78b5b83f8159e5609c36fc939ccdbf815c3f75e8",
    ("list_int64", "INT96"):
        "e5cc8889e99259f3f7c8838924314bcfd6670feb99485e1293c09fedf57a6018",
    ("list_string", "auto"):
        "53bd92562e3e9d8fe824d50fc5b6c94fdec77c9482b43a049250e8823998acc1",
    ("list_string", "PLAIN"):
        "b8a4942de6d4a980f34d0b14d8c31629426bae06e15f70a409488132f224cf42",
    ("list_string", "DICT_RLE"):
        "53bd92562e3e9d8fe824d50fc5b6c94fdec77c9482b43a049250e8823998acc1",
    ("list_string", "FSST"):
        "4e0302335ed07b4edcf261426190fcee32b8211c286b0778a4d00ac4b8221392",
    ("list_string", "FLBA"):
        "c7a43495be0cb446c6492e88eca31a4345728f22b6a76ceed70c2e4d689e85a3",
    ("list_string", "INCREMENTAL"):
        "f98dbc64f87d633c2e85b3025729a7e64920a283f1136e4fac686a9be0312490",
    ("decimal(12,2)", "auto"):
        "26ab69089b2553f5f6907035f414b168b11c6c33e085daa64a2d96b77465e12f",
    ("decimal(12,2)", "PLAIN"):
        "ef1c2dde4c1dbb9b836d8b0b00f1291bc8e0f8423b475682b6f47e6936b0cbe0",
    ("decimal(12,2)", "RLE"):
        "6d5d4599c2f2a834991c2cc8823cde3e5b2770b9fe7fdee0feba4688873e023c",
    ("decimal(12,2)", "DICT_RLE"):
        "055c6007cc04c8376eaaf485a9c77661e27ce36826e87a3bf6aac418e173d619",
    ("decimal(12,2)", "FOR_BITPACK"):
        "26ab69089b2553f5f6907035f414b168b11c6c33e085daa64a2d96b77465e12f",
    ("decimal(12,2)", "BYTE_STREAM_SPLIT"):
        "55dfe17843abb5d45b8214591afb6625a12116d1eecd73ef3231bd49eb99ebfb",
    ("decimal(12,2)", "INT96"):
        "a0061e0cb0b4957eacfb1393227c9d555d56814a4dca5706dd82936584286b4c",
}

# canonical sha256 per dtype (variable-width input)
CANONICAL_SHA: dict[str, str] = {
    "string": "58976cbc5dcbe8c8ae68794fededa73d804d65da3ac9d4c31d23d5082aa3f725",
    "binary": "f9ab3abc0d41c02f12462ad1dce03b9d92aebd426be71d772e81244b9620bcac",
    "int64": "522c2573e8476970bf8a5dd6195542f8746835c56857cc32abf083ea6fb3a751",
    "int32": "43c73e492481f5a7098cabcf68f30fc76bba57296c27cd5697d58177dc4a9ecb",
    "float64": "37e8124d6517984171ca6cc812ee255122ea1f536a178c2d01fde6b1735a7967",
    "bool": "f08bcb58358a962485ecbf8c15c2639aba7792118edf03015d614ba1c2cafa64",
    "timestamp_us": "f73a24b31ca0e040061e6343f02128945a750b4563ab1ccc8773aee5400c6ae4",
    "date": "4c76010f80c5bd36a7f9d8b1eeb01a54ee70e0e59f504f2bc1fcd634d6517586",
    "list_int64": "a11916025ed743ca98b8adac7bf549f77a71342573d43d88875760d06d766ddb",
    "list_string": "b15ffc3341a484c28c97c36aa0dd8e3bdb0eee753502a0c036d8ce4f4ffe3fb3",
    "decimal(12,2)": "90233133fac62052b5cd68d6dc3e94daa9126dded989d9d1455defa67828a11b",
}


@pytest.mark.parametrize("dtype,codec", golden_cases())
def test_golden_wire_digest(dtype, codec):
    arr = golden_array(dtype, codec)
    blob, stats = arrow_chunk.encode_arrow_column(arr, dtype, codec=codec)
    assert hashlib.sha256(blob).hexdigest() == BLOB_DIGESTS[(dtype, codec)]
    if codec != FLBA:
        assert stats["sha256"] == CANONICAL_SHA[dtype]
    out, out_dtype = arrow_chunk.decode_arrow_column(blob)
    assert out_dtype == dtype
    assert out.to_pylist() == arr.to_pylist()
    assert arrow_chunk.verify_arrow(blob, stats["sha256"])


def _reference_string_encode(vals: list[bytes], codec: str) -> bytes:
    """The codecs-level list encoders: the reference wire for each
    string codec."""
    if codec == PLAIN:
        return strstream.encode_byte_arrays(vals)
    if codec == FLBA:
        width = len(vals[0])
        return width.to_bytes(4, "little") + plain.encode_fixed_len_byte_array(
            vals, width
        )
    if codec == DICT_RLE:
        return dictionary.encode(vals, "BYTE_ARRAY")
    if codec == INCR:
        return incr.encode(vals)
    assert codec == FSST
    concat = b"".join(vals)
    table = fsst.train(concat[:SAMPLE_BYTES])
    lens_enc = for_bp.encode(np.array([len(v) for v in vals], dtype=np.int64))
    return (
        len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + fsst.serialize_table(table)
        + fsst.compress(concat, table)
    )


@pytest.mark.parametrize("codec", [PLAIN, FLBA, DICT_RLE, FSST, INCR])
def test_string_block_matches_list_reference(codec):
    vals = [
        v.encode("utf-8")
        for v in golden_values("string", fixed_width=codec == FLBA)
        if v is not None
    ]
    block = arrow_chunk._strblock_from_pa(pa.array(vals, type=pa.binary()))
    got = arrow_chunk._encode_string_block(block, codec, None)
    assert bytes(got) == _reference_string_encode(vals, codec)
