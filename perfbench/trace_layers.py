"""The traced run: per-layer metrics, measured from the benchmark's own
files around calls into each layer's public functions.

- codecs:      single-thread MB/s of each kernel on fixed-seed inputs.
- arrow_chunk: single-thread encode/decode/verify of one real 4096-row
               chunk per column of the workload's input, per codec.
- pipeline:    every operation runs in its own Spark job group; its
               stages are read back from the status REST API (executor
               run and CPU time, tasks, shuffle bytes, stage spans).
- functions:   the MinHash/LSH dedup and quality functions on a fixed
               corpus, each in its own job group.
- sources, host, trace: input generation time, steal, peak RSS and the
               tracing overhead (traced versus untraced pass time).
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np

from parquetjs_spark import arrow_chunk, chunk, pipeline
from parquetjs_spark.codecs import bloom, compress, dictionary, for_bp, fsst, rle
from parquetjs_spark.codecs.util import bit_width
from parquetjs_spark.functions import dedup
from parquetjs_spark.sources.synthetic import generate_batch

import host
import inputs
import workloads

FIXED_SEED = 0
MIN_TIMING_S = 0.3  # per kernel: repeat until this much time is measured
ENCODE_SIDE_OPS = ("write", "encode")
STATUS_WAIT_S = 10.0


def _median_time(fn, min_reps: int = 3) -> float:
    """Median seconds of one ``fn()`` call, repeated until MIN_TIMING_S."""
    times: list[float] = []
    while len(times) < min_reps or sum(times) < MIN_TIMING_S:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _parse_ts(s: str) -> float:
    return (
        dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


class SparkTracer:
    """Runs each operation in its own Spark job group and records one span
    per call with the operation's stages, read from the status REST API
    once the call has returned."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    @contextmanager
    def span(self, op: str):
        self._n += 1
        group = f"perfbench-{self._n}-{op}"
        self.sc.setJobGroup(group, op)
        py_cpu0 = host.python_worker_cpu_s()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            py_cpu = host.python_worker_cpu_s() - py_cpu0
            self.spans.append(self._collect(op, group, t0, t1, py_cpu))

    def _collect(self, op, group, t0, t1, py_cpu) -> dict:
        deadline = time.monotonic() + STATUS_WAIT_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] not in ("ACTIVE", "PENDING") for s in stages
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        run_s = sum(s["executorRunTime"] for s in ran) / 1e3
        jvm_cpu = sum(s["executorCpuTime"] for s in ran) / 1e9
        spans = [
            (_parse_ts(s["submissionTime"]), _parse_ts(s["completionTime"]))
            for s in ran
            if s.get("submissionTime") and s.get("completionTime")
        ]
        wall = t1 - t0
        rec = {
            "op": op,
            "wall_s": wall,
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s["numCompleteTasks"] for s in ran),
            "run_s": run_s,
            "jvm_cpu_s": jvm_cpu,
            "python_cpu_s": py_cpu,
            "cpu_s": jvm_cpu + py_cpu,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 1e6,
            "span_cover_share": _covered_s(spans, t0, t1) / wall if wall > 0 else 0.0,
        }
        if op in ENCODE_SIDE_OPS:
            rec["encode_stage_runs"] = self._encode_executions({j["jobId"] for j in jobs})
        return rec

    def _encode_executions(self, job_ids: set[int]) -> int:
        """SQL executions of the operation whose plan runs a MapInArrow
        node: in a write or encode operation, that is the encode UDF."""
        runs = 0
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            ids = set(ex["successJobIds"]) | set(ex["failedJobIds"]) | set(ex["runningJobIds"])
            if ids & job_ids and any(n["nodeName"] == "MapInArrow" for n in ex["nodes"]):
                runs += 1
        return runs


# ---------------------------------------------------------------------------
# per-operation and per-pass aggregation of the spans
# ---------------------------------------------------------------------------


def per_op(spans: list[dict]) -> dict:
    """Median of each span field over the calls of each operation."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    out = {}
    for op, recs in by_op.items():
        fields = [k for k in recs[0] if k != "op"]
        agg = {k: statistics.median(r[k] for r in recs) for k in fields}
        agg["wait_share"] = 1 - agg["cpu_s"] / agg["run_s"] if agg["run_s"] > 0 else 0.0
        agg["calls"] = len(recs)
        out[op] = agg
    return out


def per_pass(spans: list[dict], passes: int) -> dict:
    """Pipeline totals of one pass (sums over all spans / passes)."""

    def tot(k: str) -> float:
        return sum(s.get(k, 0) for s in spans) / passes

    run_s, cpu_s, wall = tot("run_s"), tot("cpu_s"), tot("wall_s")
    covered = sum(s["span_cover_share"] * s["wall_s"] for s in spans) / passes
    return {
        "pipeline.run_s": run_s,
        "pipeline.cpu_s": cpu_s,
        "pipeline.wait_share": 1 - cpu_s / run_s if run_s > 0 else 0.0,
        "pipeline.tasks": tot("tasks"),
        "pipeline.shuffle_write_mb": tot("shuffle_write_mb"),
        "pipeline.span_cover_share": covered / wall if wall > 0 else 0.0,
        "pipeline.encode_stage_runs": tot("encode_stage_runs"),
    }


# ---------------------------------------------------------------------------
# codecs: single-thread kernels on fixed-seed inputs
# ---------------------------------------------------------------------------


def codec_kernels() -> dict:
    content = "".join(generate_batch(np.arange(256))["content"]).encode()
    docs = inputs.documents_pdf(FIXED_SEED, 2_000)
    doc_text = " ".join(docs["text"]).encode()
    li = inputs.lineitem_pdf(FIXED_SEED, 1 << 16)
    runs = np.sort(li["l_orderkey"].to_numpy()).astype(np.uint64)
    suppkey = li["l_suppkey"].to_numpy()
    partkey = li["l_partkey"].to_numpy()
    int_mb = runs.nbytes / 1e6

    out = {}
    mb = len(content) / 1e6
    z = compress.compress(compress.ZSTD, content)
    out["codecs.compress.zstd_compress_mb_s"] = mb / _median_time(
        lambda: compress.compress(compress.ZSTD, content)
    )
    out["codecs.compress.zstd_decompress_mb_s"] = mb / _median_time(
        lambda: compress.decompress(compress.ZSTD, z)
    )

    sample = doc_text[: chunk.SAMPLE_BYTES]
    out["codecs.fsst.train_ms"] = 1e3 * _median_time(lambda: fsst.train(sample))
    table = fsst.train(sample)
    mb = len(doc_text) / 1e6
    payload = fsst.compress(doc_text, table)
    out["codecs.fsst.compress_mb_s"] = mb / _median_time(
        lambda: fsst.compress(doc_text, table)
    )
    out["codecs.fsst.decompress_mb_s"] = mb / _median_time(
        lambda: fsst.decompress(payload, table)
    )

    width = bit_width(int(runs.max()))
    enc = rle.encode(runs, width)
    out["codecs.rle.encode_mb_s"] = int_mb / _median_time(lambda: rle.encode(runs, width))
    out["codecs.rle.decode_mb_s"] = int_mb / _median_time(
        lambda: rle.decode(enc, len(runs), width)
    )
    enc = dictionary.encode(suppkey, "INT64")
    out["codecs.dictionary.encode_mb_s"] = int_mb / _median_time(
        lambda: dictionary.encode(suppkey, "INT64")
    )
    out["codecs.dictionary.decode_mb_s"] = int_mb / _median_time(
        lambda: dictionary.decode(enc, len(suppkey), "INT64")
    )
    enc = for_bp.encode(partkey)
    out["codecs.for_bp.encode_mb_s"] = int_mb / _median_time(lambda: for_bp.encode(partkey))
    out["codecs.for_bp.decode_mb_s"] = int_mb / _median_time(
        lambda: for_bp.decode(enc, len(partkey))
    )
    out["codecs.bloom.build_mb_s"] = int_mb / _median_time(
        lambda: bloom.build_from_hashes(bloom.hash_ints(runs.view(np.int64)))
    )
    return out


# ---------------------------------------------------------------------------
# arrow_chunk: one real chunk per column of the workload's input
# ---------------------------------------------------------------------------


def chunk_layer(source) -> tuple[dict, dict]:
    """Per-codec and whole-mix single-thread chunk costs, on the first
    chunk-sized slice of each column."""
    tbl = source.limit(pipeline.DEFAULT_CHUNK_ROWS).toArrow()
    per_codec: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for field in source.schema.fields:
        arr = tbl.column(field.name).combine_chunks()
        dtype = pipeline.logical_dtype(field.dataType)
        blob, st = arrow_chunk.encode_arrow_column(arr, dtype, fsst_state={})
        codec = st["codec"]
        t_auto = _median_time(
            lambda: arrow_chunk.encode_arrow_column(arr, dtype, fsst_state={})
        )
        t_forced = _median_time(
            lambda: arrow_chunk.encode_arrow_column(
                arr, dtype, codec=codec, compression=st["compression"], fsst_state={}
            )
        )
        c = per_codec[codec]
        c["chunks"] += 1
        c["content_mb"] += st["content_bytes"] / 1e6
        c["encode_s"] += t_auto
        c["selector_s"] += max(0.0, t_auto - t_forced)
        c["decode_s"] += _median_time(lambda: arrow_chunk.decode_arrow_column(blob))
        c["verify_s"] += _median_time(lambda: arrow_chunk.verify_arrow(blob, st["sha256"]))
    codecs = {}
    for codec, c in per_codec.items():
        dec = c["content_mb"] / c["decode_s"]
        pinned = chunk.DECODE_MBPS.get(codec)
        codecs[codec] = {
            "chunks": int(c["chunks"]),
            "content_mb": c["content_mb"],
            "encode_mb_s": c["content_mb"] / c["encode_s"],
            "decode_mb_s": dec,
            "verify_mb_s": c["content_mb"] / c["verify_s"],
            "pinned_decode_mb_s": pinned,
            "decode_vs_pinned": dec / pinned if pinned else None,
        }

    def tot(k: str) -> float:
        return sum(c[k] for c in per_codec.values())

    mb = tot("content_mb")
    pinned_s = sum(
        c["content_mb"] / chunk.DECODE_MBPS[k]
        for k, c in per_codec.items()
        if k in chunk.DECODE_MBPS
    )
    mix = {
        "arrow_chunk.encode_mb_s": mb / tot("encode_s"),
        "arrow_chunk.decode_mb_s": mb / tot("decode_s"),
        "arrow_chunk.verify_mb_s": mb / tot("verify_s"),
        "arrow_chunk.selector_ms_per_chunk": 1e3 * tot("selector_s") / tot("chunks"),
        # > 1: the mix decodes faster than chunk.DECODE_MBPS predicts
        "arrow_chunk.decode_vs_pinned": pinned_s / tot("decode_s") if pinned_s else 0.0,
    }
    return mix, codecs


# ---------------------------------------------------------------------------
# pipeline floor and functions on fixed inputs
# ---------------------------------------------------------------------------


def stage_floor_s(source) -> float:
    """A passthrough mapInArrow over the workload's input: the Python
    stage cost no kernel change can remove."""

    def passthrough(batches):
        yield from batches

    def once():
        source.mapInArrow(passthrough, source.schema).write.format("noop").mode(
            "overwrite"
        ).save()

    once()  # first run of the plan shape
    return statistics.median(_timed(once) for _ in range(3))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def functions_layer(bench, tracer: SparkTracer) -> dict:
    """Dedup and quality functions on a fixed corpus, each call in its
    own job group (after one untraced warm-up round).  The two rounds
    must find the same pairs."""
    docs = bench.spark.createDataFrame(inputs.documents_pdf(FIXED_SEED, 2_000))
    docs = docs.repartition(bench.nproc).cache()
    docs.count()

    def round_(span):
        sigs = dedup.minhash_signatures(docs).persist()
        with span("minhash_signatures"):
            sigs.count()
        with span("dedup_pairs"):
            pairs = dedup.minhash_dedup_pairs(docs, sigs=sigs).count()
        candidates = dedup.lsh_candidate_pairs(sigs).count()
        with span("quality_metrics"):
            workloads.quality_sums(docs)
        sigs.unpersist()
        return pairs, candidates

    first_pairs, _ = round_(lambda op: nullcontext())
    start = len(tracer.spans)
    pairs, candidates = round_(tracer.span)
    bench.attempted += 1
    if pairs != first_pairs:
        bench._fail(f"dedup: {first_pairs} pairs, then {pairs} on the same corpus")
    ops = per_op(tracer.spans[start:])
    del tracer.spans[start:]
    docs.unpersist()
    out = {}
    for op in ("minhash_signatures", "dedup_pairs", "quality_metrics"):
        for k in ("run_s", "cpu_s", "shuffle_write_mb"):
            out[f"functions.{op}.{k}"] = ops[op][k]
    out["functions.dedup.pairs_per_candidate"] = pairs / candidates if candidates else 0.0
    return out


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def udf_share(spans: list[dict], summary: list) -> float:
    """Encode UDF time (the manifest's summed wall_ms) over the executor
    run time of the last encode-side operation."""
    enc = [s for s in spans if s["op"] in ENCODE_SIDE_OPS]
    if not enc or not summary:
        return 0.0
    wall_ms = sum(r["encode_wall_ms"] or 0.0 for r in summary)
    return wall_ms / 1e3 / enc[-1]["run_s"] if enc[-1]["run_s"] > 0 else 0.0


def traced_run(
    bench, workload, seconds: float, untraced_walls: list[float]
) -> tuple[dict, dict]:
    """Repeat the closed loop with tracing on, then time the single
    layers.  Returns (per-layer metrics, per-operation detail)."""
    tracer = SparkTracer(bench.spark)
    bench.tracer = tracer
    bench.samples.clear()
    traced = bench.loop(workload, seconds)
    bench.tracer = None
    spans = list(tracer.spans)
    metrics = codec_kernels()
    mix, codecs = chunk_layer(workload.source)
    metrics.update(mix)
    metrics.update(per_pass(spans, len(traced)))
    metrics["pipeline.encode_udf_share"] = udf_share(spans, workload.summary)
    metrics["pipeline.stage_floor_s"] = stage_floor_s(workload.source)
    metrics.update(functions_layer(bench, tracer))
    untraced_wall = statistics.median(untraced_walls)
    traced_wall = statistics.median(p.wall_s for p in traced)
    metrics["trace.overhead_share"] = (traced_wall - untraced_wall) / untraced_wall
    detail = {
        "traced_passes": len(traced),
        "pipeline_ops": per_op(spans),
        "arrow_chunk_codecs": codecs,
        "spans": spans,
    }
    return metrics, detail
