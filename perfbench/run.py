"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload query_interactive --seed 1 \\
        --seconds 10 --trace 0

Prints a detail line (the workload's own named figures, input sizes,
per-operation samples) and, last, one JSON result line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every call into a
layer is recorded as a span and the metrics are the per-layer ones; the
spans are written to ``.perfbench_out/`` as an OTLP/JSON traces file.

Everything the run writes stays inside the checkout: scratch files go to
``.perfbench_work/<workload>-<pid>/`` (also Spark's local and temp
directories), which is removed on every exit path. Exit status is 0 only
when every operation passed its correctness check.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
START = time.perf_counter()

E2E = {"setup_s": "s", "peak_rss_mb": "MB", "cold_pass_s": "s", "pass_s": "s",
       "op_p50_ms": "ms", "throughput_per_s": "1/s"}

LAYERS = ("queries", "spark", "sources", "streaming", "gen", "op")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {"queries.build_ms": "ms"}
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "collect_ms",
              "executor_run_ms", "executor_cpu_ms", "gc_ms"):
        units[f"spark.{k}"] = "ms"
    for k in ("jobs", "stages", "tasks"):
        units[f"spark.{k}"] = "count"
    units.update({"spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
                  "spark.slot_busy_share": "ratio", "spark.fixed_cost_share": "ratio",
                  "trace.phase_sum_share": "ratio", "trace.phase_sum_max_err": "ratio",
                  "trace.overhead_share": "ratio"})
    units.update({"sources.otlp_proto.decode_us": "us",
                  "sources.flat_decode.flatten_us": "us",
                  "sources.otap.decode_us": "us",
                  "sources.otlp_proto.pb_to_json_us": "us"})
    units.update({"receiver.requests": "count", "receiver.rejected": "count",
                  "receiver.buffered_bytes_max": "B",
                  "receiver.buffered_bytes_slope": "B/s",
                  "seal.count": "count", "seal.rows_p50": "count",
                  "seal.append_ms_p50": "ms", "seal.append_ms_max": "ms",
                  "seal.rows_per_s": "1/s", "seal.failures": "count",
                  "seal.restarts": "count", "seal.malformed_lines": "count",
                  "flush.ms_p50": "ms", "fresh.query_ms_p50": "ms",
                  "maintenance.runs": "count", "maintenance.ms": "ms",
                  "export.files": "count", "gen.late_p99_ms": "ms",
                  "gen.bytes_per_record": "B", "gen.ack_tail_ms": "ms"})
    for layer in LAYERS:
        units[f"self_ms.{layer}"] = "ms"
    return units


class _Stop(BaseException):
    """A stop signal: not an ``Exception``, so no per-operation handler
    counts it as a failed operation and carries on."""


def _on_signal(signum, frame):
    raise _Stop(f"signal {signum}")


def _prepare_env(work: Path, cpus: int) -> None:
    """Pin the engine to this host and keep its files inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # far below physical RAM (the session's own default is 16g); a
        # small heap also keeps the peak RSS from swinging with GC timing
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))
    os.chdir(work)  # Spark's warehouse and metastore land here


def _stop_processes() -> None:
    """Stop Spark and its JVM, then every remaining descendant."""
    from probes import RssSampler
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None
    except Exception as e:  # noqa: BLE001 — teardown must reach the sweep below
        print(f"perfbench: spark shutdown: {e}", file=sys.stderr)
    # the receiver's multiprocessing resource tracker ignores SIGTERM and
    # exits once its pipe closes
    from multiprocessing import resource_tracker
    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    me = os.getpid()
    deadline = time.monotonic() + 5
    while left := [p for p in RssSampler.tree_pids(me) if p != me]:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline + 5:
            print(f"perfbench: processes still alive: {left}", file=sys.stderr)
            return
        time.sleep(0.1)


def _finite(d: dict[str, float]) -> dict[str, float]:
    return {k: (float(v) if math.isfinite(float(v)) else 0.0) for k, v in d.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    if not (ROOT / "duckdb_otlp_spark" / "__init__.py").is_file():
        print(f"perfbench: no duckdb_otlp_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads
    from probes import RssSampler
    from spans import Tracer, layer_self_ms

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    old_cwd = os.getcwd()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGHUP, _on_signal)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        _prepare_env(work, cpus)
        from duckdb_otlp_spark.session import get_spark

        def new_spark():
            from pyspark.sql import SparkSession
            s = SparkSession.getActiveSession()
            if s is not None:
                s.stop()
            return get_spark("perfbench", cpus=cpus)

        ctx = workloads.Context(seed=args.seed, seconds=args.seconds, cpus=cpus,
                                work=work, tracer=tracer, new_spark=new_spark)
        ready = time.perf_counter()
        with RssSampler() as rss:
            outcome = workloads.WORKLOADS[args.workload](ctx)
            decoders = workloads.decoder_layer(ctx) if args.trace else {}
        # the first set-up also paid for process start and imports
        outcome.setup_s[0] += ready - START
    except _Stop as e:
        print(f"perfbench: stopped by {e}", file=sys.stderr)
        return 3
    finally:
        try:
            _stop_processes()
        finally:  # even when a report on a closed stderr raises
            os.chdir(old_cwd)
            shutil.rmtree(work, ignore_errors=True)
            if work.parent.exists() and not any(work.parent.iterdir()):
                work.parent.rmdir()

    e2e = {"setup_s": statistics.median(outcome.setup_s), "peak_rss_mb": rss.peak_mb,
           **outcome.e2e}
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "cpus": cpus, "setup_s_all": outcome.setup_s, "errors": outcome.errors,
              "peak_rss_mb_by_command": {k: round(v / 1024, 1)
                                         for k, v in rss.peak_by_command.items()},
              **outcome.detail}
    out_dir.mkdir(exist_ok=True)
    last = out_dir / f"{args.workload}.untraced.json"
    if args.trace:
        units = per_layer_units()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(outcome.layer)
        metrics.update(decoders)
        for layer, ms in layer_self_ms(tracer.spans, lambda n: n.split(".")[0]).items():
            if layer in LAYERS:
                metrics[f"self_ms.{layer}"] = ms
        if last.is_file():
            base = json.loads(last.read_text())
            if base.get("pass_s") and e2e.get("pass_s"):
                metrics["trace.overhead_share"] = e2e["pass_s"] / base["pass_s"] - 1
        trace_file = out_dir / f"{args.workload}-seed{args.seed}.trace.json"
        tracer.write_otlp_json(trace_file, f"perfbench.{args.workload}")
        detail["trace_file"] = str(trace_file.relative_to(ROOT))
        detail["spans"] = len(tracer.spans)
        detail["untraced_pass_s"] = (json.loads(last.read_text()).get("pass_s")
                                     if last.is_file() else None)
    else:
        units = E2E
        metrics = e2e
        last.write_text(json.dumps(e2e))
    # a workload that failed early has no figures: 0 beside correct=false
    metrics = _finite({k: metrics.get(k, 0.0) for k in units})
    correct = outcome.failed == 0 and outcome.attempted > 0
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": outcome.attempted,
                      "failed": outcome.failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
