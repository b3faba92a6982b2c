"""The four closed-loop workloads.

Each workload prepares its seeded input in ``prepare`` and then runs one
pass at a time through ``run_pass``: a fixed sequence of calls into the public
``parquetjs_spark`` API, each timed by ``Bench.op`` and checked against
an expectation computed from the source rows in ``prepare``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquetjs_spark import pipeline
from parquetjs_spark.functions import dedup, text

import inputs

CODE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
READ_TABLE_COLUMNS = ["repo", "path", "lang"]

# lineitem predicates: fixed windows on the clustered key, so every
# seed asks for the same rows and only the physical layout changes
SCAN_WINDOW = (dt.datetime(1996, 1, 1), dt.datetime(1996, 3, 31))
DELETE_WINDOW = (dt.datetime(1997, 6, 1), dt.datetime(1997, 6, 14))
UPDATE_WINDOW = (dt.datetime(1999, 3, 1), dt.datetime(1999, 3, 14))
UPDATE_VALUE = 0.0  # no source row has l_quantity 0


def _byte_sums(df: DataFrame, cols: list[str]) -> list[int]:
    row = df.select(*[F.sum(F.octet_length(c)).alias(c) for c in cols]).collect()[0]
    return [int(row[c] or 0) for c in cols]


def _rows_and_bytes(blobs: DataFrame, column: str) -> tuple[int, int]:
    """Rows of an encoded table (the manifest ``n`` of one column) and
    its content bytes over all columns."""
    row = blobs.agg(
        F.sum(F.when(F.col("column") == column, F.col("n"))),
        F.sum("content_bytes"),
    ).collect()[0]
    return int(row[0] or 0), int(row[1] or 0)


def _verify_counts(blobs: DataFrame) -> tuple[int, int]:
    """(chunks verified, chunks whose sha did not match)."""
    row = (
        pipeline.verify_blobs(blobs)
        .agg(F.count("*"), F.sum(F.when(F.col("ok"), 0).otherwise(1)))
        .collect()[0]
    )
    return int(row[0]), int(row[1] or 0)


def quality_sums(docs: DataFrame) -> dict:
    """Materialise every ``text.quality_metrics`` column (a bare count
    would let Spark skip computing them) and return their sums."""
    q = text.quality_metrics(docs)
    cols = [c for c in q.columns if c != "doc_id"]
    row = q.agg(F.count("*").alias("rows"), *[F.sum(c).alias(c) for c in cols]).collect()[0]
    return row.asDict()


def _summary_mb(summary: list) -> float:
    """Content MB of an ``encode_summary`` result."""
    return sum(r["content_bytes"] for r in summary) / 1e6


def _values(summary: list, column: str) -> int:
    return sum(r["values"] for r in summary if r["column"] == column)


def _content_bytes(summary: list, column: str) -> int:
    return sum(r["content_bytes"] for r in summary if r["column"] == column)


def _window(col: str, window: tuple) -> "F.Column":
    return F.col(col).between(F.lit(window[0]), F.lit(window[1]))


class Workload:
    """One workload: ``prepare`` makes the seeded input and the expected
    results, ``run_pass`` runs one timed pass through ``Bench.op``, and
    ``once`` runs the operations timed once per run, as part of set-up."""

    name = ""

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.summary: list = []  # encode_summary rows of the last encoded table
        self.source: DataFrame | None = None  # the cached input table

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> None:
        raise NotImplementedError

    def once(self) -> None:
        pass

    def close(self) -> None:
        if self.source is not None:
            self.source.unpersist()


class _CodeTable(Workload):
    """Shared setup of the two source-code workloads."""

    def _prepare_source(self) -> None:
        b = self.b
        self.rows = b.size(24_000)
        self.source = inputs.code_df(self.spark, b.seed, self.rows, 2 * b.nproc).cache()
        sums = _byte_sums(self.source, CODE_COLUMNS)
        self.expected = dict(zip(CODE_COLUMNS, sums))
        self.content_mb = self.expected["content"] / 1e6
        self.table_path = os.path.join(b.work_dir, "code_table")


class CodeIngest(_CodeTable):
    """The write path: encode all five columns, then write_encoded."""

    name = "code_ingest"

    def prepare(self) -> None:
        self._prepare_source()

    def run_pass(self) -> None:
        path = self.table_path

        def write():
            blobs = pipeline.encode_columns(self.source, CODE_COLUMNS, codec="auto")
            pipeline.write_encoded(blobs, path)

        self.b.op("write", write, lambda _: self._check_written(), mb=self.content_mb)

    def _check_written(self) -> bool:
        """The manifest accounts for every row and source byte of each
        column, and every chunk read back decodes to its recorded sha."""
        manifest = pipeline.read_manifest(self.spark, self.table_path)
        self.summary = pipeline.encode_summary(manifest).collect()
        chunks = sum(r["chunks"] for r in self.summary)
        return (
            all(_values(self.summary, c) == self.rows for c in CODE_COLUMNS)
            and {c: _content_bytes(self.summary, c) for c in CODE_COLUMNS}
            == self.expected
            and _verify_counts(pipeline.read_encoded(self.spark, self.table_path))
            == (chunks, 0)
        )


class CodeRead(_CodeTable):
    """The read path of a table written in setup; no encode."""

    name = "code_read"

    def prepare(self) -> None:
        self._prepare_source()
        blobs = pipeline.encode_columns(self.source, CODE_COLUMNS, codec="auto")
        pipeline.write_encoded(blobs, self.table_path)
        manifest = pipeline.read_manifest(self.spark, self.table_path)
        self.summary = pipeline.encode_summary(manifest).collect()
        self.table_mb = _summary_mb(self.summary)
        self.expected_chunks = sum(r["chunks"] for r in self.summary)

    def run_pass(self) -> None:
        b = self.b
        blobs = pipeline.read_encoded(self.spark, self.table_path)
        b.op(
            "decode",
            lambda: _byte_sums(pipeline.decode_column(blobs, "content"), ["content"]),
            lambda got: got == [self.expected["content"]],
            mb=self.content_mb,
        )

        b.op(
            "verify",
            lambda: _verify_counts(blobs),
            lambda got: got == (self.expected_chunks, 0),
            mb=self.table_mb,
        )
        want = [self.expected[c] for c in READ_TABLE_COLUMNS]
        b.op(
            "decode_table",
            lambda: _byte_sums(
                pipeline.decode_table(blobs, READ_TABLE_COLUMNS), READ_TABLE_COLUMNS
            ),
            lambda got: got == want,
            mb=sum(want) / 1e6,
        )


class LineitemDml(Workload):
    """Numeric codecs, pruned scans and merge-on-write DML."""

    name = "lineitem_dml"

    def prepare(self) -> None:
        b = self.b
        pdf = inputs.lineitem_pdf(b.seed, b.size(40_000))
        li = self.spark.createDataFrame(pdf)
        self.source = pipeline.clustered_repartition(li, "l_shipdate", b.nproc).cache()
        src = self.source
        self.rows = src.count()
        in_scan = src.where(_window("l_shipdate", SCAN_WINDOW))
        # the equality key: an order with lines inside the scan window
        self.scan_key = int(in_scan.agg(F.min("l_orderkey")).collect()[0][0])
        self.expected_scan = in_scan.where(
            F.col("l_orderkey") == self.scan_key
        ).count()
        self.expected_deleted = src.where(_window("l_shipdate", DELETE_WINDOW)).count()
        self.expected_updated = src.where(_window("l_shipdate", UPDATE_WINDOW)).count()

    def run_pass(self) -> None:
        b = self.b
        cached: list[DataFrame] = []

        def persisted(df: DataFrame, column: str) -> tuple[DataFrame, tuple[int, int]]:
            """Cache a DML result and materialise it; DataFrame
            construction runs metadata jobs, so it is part of the op."""
            cached.append(df.persist())
            return df, _rows_and_bytes(df, column)

        left = self.rows - self.expected_deleted
        try:
            blobs = pipeline.encode_columns(self.source).persist()
            cached.append(blobs)
            self.summary = b.op(
                "encode",
                lambda: pipeline.encode_summary(blobs).collect(),
                lambda s: _values(s, "l_orderkey") == self.rows,
                mb=_summary_mb,
            )
            b.op(
                "scan",
                lambda: pipeline.scan_table_where(
                    blobs,
                    ranges={"l_shipdate": SCAN_WINDOW},
                    eqs={"l_orderkey": self.scan_key},
                ).count(),
                lambda n: n == self.expected_scan,
            )
            deleted, _ = b.op(
                "delete",
                lambda: persisted(
                    pipeline.delete_where(blobs, ranges={"l_shipdate": DELETE_WINDOW}),
                    "l_orderkey",
                ),
                lambda out: out[1][0] == left,
            )
            updated, _ = b.op(
                "update",
                lambda: persisted(
                    pipeline.update_where(
                        deleted,
                        {"l_quantity": UPDATE_VALUE},
                        ranges={"l_shipdate": UPDATE_WINDOW},
                    ),
                    "l_quantity",
                ),
                lambda out: out[1][0] == left
                and self._updated_rows(out[0]) == self.expected_updated,
            )
            compacted, (_, content) = b.op(
                "compact",
                lambda: persisted(pipeline.compact_chunks(updated), "l_orderkey"),
                lambda out: out[1][0] == left,
            )
            b.op(
                "verify",
                lambda: pipeline.verify_blobs(compacted).where(~F.col("ok")).count(),
                lambda bad: bad == 0,
                mb=content / 1e6,
            )
        finally:
            for df in cached:
                df.unpersist()

    @staticmethod
    def _updated_rows(blobs: DataFrame) -> int:
        q = pipeline.decode_column(blobs, "l_quantity")
        return q.where(F.col("l_quantity") == UPDATE_VALUE).count()


class DocsDedup(Workload):
    """Auto-selected FSST with its decode and verify, plus the dedup
    functions.  The pass holds only the encode and read side of a corpus
    40x the sf0.1 size, so FSST, not Spark's per-job cost, takes most of
    its time.  MinHash dedup and the quality metrics run once, in set-up,
    on an sf0.1-sized corpus: inside the pass they would take most of
    its time."""

    name = "docs_dedup"

    def prepare(self) -> None:
        b = self.b
        pdf = inputs.documents_pdf(b.seed, b.size(200_000))
        self.source = self.spark.createDataFrame(pdf).repartition(b.nproc).cache()
        self.docs = self.source.count()
        self.text_bytes = _byte_sums(self.source, ["text"])[0]
        dedup_docs = b.size(5_000)
        pdf = inputs.documents_pdf(b.seed, dedup_docs)
        self.dedup_source = self.spark.createDataFrame(pdf).repartition(b.nproc).cache()
        self.dedup_chars = int(self.dedup_source.agg(F.sum(F.length("text"))).collect()[0][0])
        self.min_pairs = inputs.planted_exact_pairs(dedup_docs)
        self.dedup_docs = dedup_docs

    def run_pass(self) -> None:
        b = self.b
        blobs = pipeline.encode_columns(self.source).persist()
        try:
            self.summary = b.op(
                "encode",
                lambda: pipeline.encode_summary(blobs).collect(),
                lambda s: _values(s, "doc_id") == self.docs,
                mb=_summary_mb,
            )
            b.op(
                "decode",
                lambda: _byte_sums(pipeline.decode_column(blobs, "text"), ["text"]),
                lambda got: got == [self.text_bytes],
                mb=self.text_bytes / 1e6,
            )
            b.op(
                "verify",
                lambda: _verify_counts(blobs),
                lambda got: got == (sum(r["chunks"] for r in self.summary), 0),
                mb=_summary_mb(self.summary),
            )
        finally:
            blobs.unpersist()

    def once(self) -> None:
        self.b.op("dedup", self._dedup, self._check_dedup)

    def close(self) -> None:
        super().close()
        self.dedup_source.unpersist()

    def _dedup(self) -> tuple[int, dict]:
        docs = self.dedup_source
        sigs = dedup.minhash_signatures(docs).persist()
        try:
            pairs = dedup.minhash_dedup_pairs(docs, sigs=sigs).count()
        finally:
            sigs.unpersist()
        return pairs, quality_sums(docs)

    def _check_dedup(self, got: tuple[int, dict]) -> bool:
        """At least the planted exact pairs, and quality metrics that
        cover every document.  (The traced run checks that a second call
        finds the same pairs.)"""
        pairs, quality = got
        return (
            pairs >= self.min_pairs
            and quality["rows"] == self.dedup_docs
            and quality["text_len"] == self.dedup_chars
        )


WORKLOADS = {w.name: w for w in (CodeIngest, CodeRead, LineitemDml, DocsDedup)}
