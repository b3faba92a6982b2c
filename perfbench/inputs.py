"""Seeded benchmark inputs.

Every table is a pure function of (seed, size): the same seed gives the
same rows in the same order, two seeds give different inputs.  The
program under test only ever receives these DataFrames.

- code:      ``sources.synthetic.generate_batch`` over an id range the
             seed chooses (the engine's own source-code generator).
- lineitem:  a table with the column distributions of the sf0.1
             ``lineitem`` test table; the seed permutes its row order.
- documents: a corpus with the distributions of the sf0.1 ``documents``
             test table; the seed permutes its row order.

The test tables (TESTDATA.md) live outside the repository, and a
benchmark checkout holds only the repository, so the two tables are
regenerated here rather than read.  The generators reproduce these
properties, measured on the sf0.1 files with pyarrow:

documents (5,000 rows)
  - ``text``: 10-100 words (uniform, mean 54.1, 297 chars), drawn
    uniformly from the same 30-word vocabulary as ``DOC_WORDS``;
  - 250 near duplicates (5%): a copy of another document with " dup"
    appended; 8 exact duplicate pairs (0.16%);
  - ``lang``: en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%;
  - ``doc_id`` 0..n-1, ``source`` = "src{doc_id % 20}",
    ``n_chars`` = len(text).
lineitem (600,000 rows)
  - ``l_orderkey`` uniform in [0, rows/4) (147,236 distinct keys, 1-17
    lines each), ``l_linenumber`` uniform 1..7;
  - ``l_partkey`` uniform in [0, 20000), ``l_suppkey`` in [0, 1000);
  - ``l_quantity`` 1..50, ``l_extendedprice`` uniform 900-105,000 with
    two decimals, ``l_discount`` 0.00-0.10 (11 values), ``l_tax``
    0.00-0.08 (9 values);
  - ``l_returnflag`` A/N/R and ``l_linestatus`` F/O, uniform;
  - ``l_shipdate`` uniform over the 2,499 days from 1995-01-02.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd

BASE_SEED = 42

# ids of the code table start at seed * CODE_ID_STRIDE, so two seeds
# never share a row
CODE_ID_STRIDE = 1 << 32

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_SHARES = [0.412, 0.151, 0.149, 0.148, 0.140]
DOC_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016

SHIPDATE_LO = dt.date(1995, 1, 2)
SHIPDATE_DAYS = 2499


def code_id_range(seed: int, rows: int) -> tuple[int, int]:
    lo = seed * CODE_ID_STRIDE
    return lo, lo + rows


def code_df(spark, seed: int, rows: int, partitions: int):
    """The (repo, path, commit, lang, content) table for ids in the
    seed's range, generated distributed like ``source_code_df``."""
    from parquetjs_spark.sources.synthetic import SOURCE_CODE_SCHEMA, generate_batch

    lo, hi = code_id_range(seed, rows)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield generate_batch(pdf["id"].to_numpy())

    return spark.range(lo, hi, numPartitions=partitions).mapInPandas(
        gen, schema=SOURCE_CODE_SCHEMA
    )


def lineitem_pdf(seed: int, rows: int) -> pd.DataFrame:
    """The lineitem columns with the sf0.1 distributions (see above)."""
    rng = np.random.default_rng(BASE_SEED)
    days = rng.integers(0, SHIPDATE_DAYS, rows)
    pdf = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, max(1, rows // 4), rows).astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, rows).astype(np.int64),
            "l_suppkey": rng.integers(0, 1_000, rows).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, rows)],
            "l_shipdate": pd.to_datetime(SHIPDATE_LO)
            + pd.to_timedelta(days, unit="D"),
        }
    )
    order = np.random.default_rng(seed).permutation(rows)
    return pdf.iloc[order].reset_index(drop=True)


def _dup_counts(docs: int) -> tuple[int, int]:
    """(near duplicates, exact duplicates) planted in ``docs`` documents."""
    return round(docs * NEAR_DUP_SHARE), max(1, round(docs * EXACT_DUP_SHARE))


def documents_pdf(seed: int, docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars) with the sf0.1 distributions
    (see above).  Each duplicate copies a document that is itself no
    duplicate."""
    rng = np.random.default_rng(BASE_SEED)
    words = np.array(DOC_WORDS)
    lens = rng.integers(10, 101, docs)
    picks = rng.integers(0, len(words), int(lens.sum()))
    # join every word once, then cut the documents out of the one string:
    # each word is a zero-padded row of its bytes and a space, and the
    # padding is dropped after the rows are laid end to end
    width = max(map(len, DOC_WORDS)) + 1
    rows = np.zeros((len(words), width), dtype=np.uint8)
    for i, w in enumerate(DOC_WORDS):
        rows[i, : len(w) + 1] = np.frombuffer(w.encode() + b" ", dtype=np.uint8)
    laid = rows[picks].ravel()
    flat = laid[laid != 0].tobytes().decode()
    word_end = np.cumsum(np.char.str_len(words)[picks] + 1)  # after its space
    last = np.cumsum(lens) - 1
    ends = word_end[last] - 1
    starts = np.r_[0, word_end[last[:-1]]]
    texts = [flat[a:z] for a, z in zip(starts.tolist(), ends.tolist())]
    near, exact = _dup_counts(docs)
    copies = rng.choice(docs, near + exact, replace=False)
    originals = np.setdiff1d(np.arange(docs), copies)
    sources = rng.choice(originals, near + exact)
    for k, (dst, src) in enumerate(zip(copies, sources)):
        texts[dst] = texts[src] + (" dup" if k < near else "")
    ids = np.arange(docs, dtype=np.int64)
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(DOC_LANGS)[
                rng.choice(len(DOC_LANGS), docs, p=DOC_LANG_SHARES)
            ],
            "source": np.char.add("src", (ids % DOC_SOURCES).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    order = np.random.default_rng(seed).permutation(docs)
    return pdf.iloc[order].reset_index(drop=True)


def planted_exact_pairs(docs: int) -> int:
    """Exact-copy pairs planted in ``documents_pdf``: each is a true
    duplicate pair, so a dedup pass must report at least this many."""
    return _dup_counts(docs)[1]
