#!/usr/bin/env python3
"""Layered benchmark of the parquetjs_spark encode engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload code_ingest --seed 1 --seconds 8 --trace 0

One run starts a ``local[nproc]`` Spark session, prepares the seeded
input of one workload, warms every plan shape with untimed passes, then
runs passes one at a time (a closed loop with one client) until
``--seconds`` have elapsed.  Every operation's output is checked.  The
end-to-end times are scaled to a reference host speed measured in the
same run (``host.Calibration``); the report keeps the raw ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the run repeats the loop with Spark job groups and
the status REST API on, times the single layers, and reports the
per-layer metrics.  The line before it is a report with provenance,
per-operation medians, the codec mix and, when tracing, the
per-operation Spark spans.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path
from typing import NamedTuple

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import host  # noqa: E402

# the first pass of each plan shape is 1.5-2x slower, and the second
# still pays Python-worker memory growth
WARMUP_PASSES = 2

# names of the per-operation metrics in the report line
RATE_METRICS = {
    "write": "write_mb_s",
    "encode": "encode_mb_s",
    "decode": "decode_mb_s",
    "decode_table": "decode_table_mb_s",
    "verify": "verify_mb_s",
}


class PassAborted(Exception):
    """An operation raised: the rest of its pass depends on its output."""


class PassTiming(NamedTuple):
    wall_s: float  # whole pass, including output checks and any tracing
    op_s: float  # summed time of the pass's operations, steal removed
    cpu_s: float  # this process, the JVM and the Python workers
    steal_s: float  # hypervisor steal over all CPUs during the pass


class Bench:
    """Runs operations, times them and counts failed checks."""

    def __init__(self, spark, seed: int, nproc: int, work_dir: str, scale: float):
        self.spark = spark
        self.seed = seed
        self.nproc = nproc
        self.work_dir = work_dir
        self.scale = scale
        self.tracer = None
        self.cal = host.Calibration()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[tuple[float, float]]] = defaultdict(list)

    def size(self, rows: int) -> int:
        return max(64, int(rows * self.scale))

    def op(self, name: str, fn, check=None, mb=0.0):
        """Time ``fn()``, then check its output (untimed).  ``mb`` is the
        content the operation moved, or a function of its output.  The
        time excludes the hypervisor steal during the call (see
        ``host.stolen_per_cpu_s``)."""
        self.attempted += 1
        try:
            with self.tracer.span(name) if self.tracer else nullcontext():
                t0, stolen0 = time.perf_counter(), host.stolen_per_cpu_s()
                out = fn()
                secs = time.perf_counter() - t0 - (host.stolen_per_cpu_s() - stolen0)
            ok = check is None or bool(check(out))
            if callable(mb):
                mb = mb(out)
        except Exception as exc:
            self._fail(f"{name}: {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
            raise PassAborted(name) from exc
        self.samples[name].append((secs, float(mb)))
        if not ok:
            self._fail(f"{name}: output check failed")
        return out

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def loop(self, workload, seconds: float) -> list[PassTiming]:
        """Run passes until ``seconds`` elapse (at least one); returns the
        timing of each pass that completed."""
        passes = []
        deadline = time.perf_counter() + seconds
        while True:
            self.cal.sample()
            before = {k: len(v) for k, v in self.samples.items()}
            t0, cpu0, steal0 = time.perf_counter(), host.run_cpu_s(), host.steal_s()
            try:
                workload.run_pass()
            except PassAborted:
                pass
            else:
                op_s = sum(
                    s for k, v in self.samples.items() for s, _ in v[before.get(k, 0) :]
                )
                passes.append(
                    PassTiming(
                        time.perf_counter() - t0,
                        op_s,
                        host.run_cpu_s() - cpu0,
                        host.steal_s() - steal0,
                    )
                )
            if time.perf_counter() >= deadline:
                return passes


def unstolen_s(fn) -> float:
    """Seconds ``fn()`` takes, minus the hypervisor steal meanwhile."""
    t0, stolen0 = time.perf_counter(), host.stolen_per_cpu_s()
    fn()
    return time.perf_counter() - t0 - (host.stolen_per_cpu_s() - stolen0)


def median_summary(values: list[float]) -> dict:
    """Median with its sample count, plus the highest percentile that has
    at least ten samples beyond it, where the sample supports one."""
    out = {"median": statistics.median(values), "n": len(values)}
    for pct in (99.9, 99.0, 90.0):
        if len(values) * (1 - pct / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            out[f"p{pct:g}"] = q[int(pct * 10) - 1]
            break
    return out


def op_metrics(workload, bench: Bench) -> dict:
    """Per-operation metrics, only for the operations this workload
    performs: content MB/s for data-moving operations, seconds for
    scan, DML and dedup latencies."""
    out = {}
    for op, samples in bench.samples.items():
        if op in RATE_METRICS:
            rates = [mb / s for s, mb in samples]
            out[RATE_METRICS[op]] = {**median_summary(rates), "unit": "MB/s"}
        else:
            out[f"{op}_s"] = {**median_summary([s for s, _ in samples]), "unit": "s"}
    out["size_ratio"] = {"value": size_ratio(workload.summary), "unit": "ratio"}
    out["ops_failed_share"] = {
        "value": bench.failed / max(1, bench.attempted),
        "unit": "share",
    }
    return out


def size_ratio(summary: list) -> float:
    """Encoded bytes over content bytes, summed over the manifest."""
    content = sum(r["content_bytes"] for r in summary)
    return sum(r["encoded_bytes"] for r in summary) / content


def codec_mix(summary: list) -> list[dict]:
    keys = ("column", "codec", "compression", "chunks", "content_bytes", "encoded_bytes")
    rows = sorted(summary, key=lambda r: (r["column"], r["codec"], r["compression"]))
    return [{k: r[k] for k in keys} for r in rows]


def prepare_env(work_dir: Path) -> None:
    """Keep the files Spark writes inside ``work_dir`` and make the
    package importable in the Python workers from any working
    directory.  Must run before the JVM starts."""
    tmp = work_dir / "tmp"
    local = work_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work_dir / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every one of them has ended."""
    from pyspark import SparkContext

    procs = host.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    alive = host.wait_for_exit(procs)
    if alive:
        print(f"perfbench: processes still alive: {alive}", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input size factor (smoke tests)"
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start, stolen_start = time.perf_counter(), host.stolen_per_cpu_s()
    args = parse_args(argv)
    # fails here, before anything is printed, where the package is absent
    import workloads
    from parquetjs_spark.sources.tables import get_spark

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    nproc = host.nproc()
    work_dir = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work_dir, ignore_errors=True)
    prepare_env(work_dir)
    run_host = host.HostSampler()
    spark = None
    try:
        spark = get_spark("perfbench", cores=nproc, shuffle_partitions=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start - (host.stolen_per_cpu_s() - stolen_start)
        bench = Bench(spark, args.seed, nproc, str(work_dir), args.scale)
        wl = workloads.WORKLOADS[args.workload](bench)
        bench.cal.sample()
        prepare_s = unstolen_s(wl.prepare)
        bench.cal.sample()
        warm_s = unstolen_s(lambda: [wl.run_pass() for _ in range(WARMUP_PASSES)])
        bench.samples.clear()
        once_s = unstolen_s(wl.once)
        setup_raw_s = session_s + prepare_s + warm_s + once_s

        passes = bench.loop(wl, args.seconds)
        if not passes:
            raise RuntimeError("no pass completed: " + "; ".join(bench.failures))
        scale = bench.cal.scale()
        pass_s = [p.op_s for p in passes]
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "provenance": host.provenance(spark, ROOT),
            "host_scale": scale,
            "calibration_s": median_summary(bench.cal.samples),
            "setup_s": setup_raw_s * scale,
            "setup_raw_s": {
                "total": setup_raw_s,
                "session": session_s,
                "prepare": prepare_s,
                "warm_up": warm_s,
                "once": once_s,
            },
            "pass_raw_s": median_summary(pass_s),
            "passes": [p._asdict() for p in passes],
            "ops": op_metrics(wl, bench),
            "codec_mix": codec_mix(wl.summary),
        }
        if args.trace:
            import trace_layers

            metrics, report["trace"] = trace_layers.traced_run(
                bench, wl, args.seconds, [p.wall_s for p in passes]
            )
        else:
            metrics = {
                "setup_s": setup_raw_s * scale,
                "pass_s": statistics.median(pass_s) * scale,
                "size_ratio": size_ratio(wl.summary),
            }
        wl.close()
        report["failures"] = bench.failures
        report["host"] = run_host.finish()
        if args.trace:
            metrics["sources.generate_s"] = prepare_s
            metrics["host.steal_s"] = report["host"]["steal_s"]
            metrics["host.peak_rss_mb"] = report["host"]["peak_rss_mb"]
        listed = spec["per_layer" if args.trace else "end_to_end"]
        if set(metrics) != {m["name"] for m in listed}:
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(metrics)}")
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed
            },
        }
        print(json.dumps(report, default=str))
        print(json.dumps(result))
        return 0
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            work_dir.parent.rmdir()  # kept while another run still uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
