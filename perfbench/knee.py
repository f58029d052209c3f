"""Measure the knee of the ingest path on this host. Run it by hand,
once per host class, from the checkout root:

    python3 perfbench/knee.py --seed 1

It starts ``otlp_serve`` as ``ingest_live`` does (default settings, 5 s
seal age), compiles its seal plans with one flush, then offers the
``ingest_live`` request mix open-loop at each rate of ``RATES`` for
``STEP_S`` seconds with seals running, sampling the listener's row of
``otlp_server_list`` once a second, and times one ``otlp_flush`` after
each step. It prints one JSON line per rate and, last, the knee: the
highest rate at which the senders held their schedule (at least 95% of
the offered records accepted, send lateness p99 under 50 ms, no failed
request) and the seal kept up: in the step's second half, when the seal
cadence has settled, the backlog (records accepted but not yet sealed)
grew by at most a quarter of the offered rate, trough to trough. It
stops at the first rate past the knee. ``workloads.KNEE_RECORDS_PER_S``
holds the knee measured on the reference host (README, "Knee").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

RATES = (2_000, 4_000, 8_000, 16_000, 32_000)
STEP_S = 60


def sweep(seed: int, cpus: int, work: Path) -> list[dict]:
    from duckdb_otlp_spark.session import get_spark
    from duckdb_otlp_spark.streaming import otlp_flush, otlp_stop
    from duckdb_otlp_spark.streaming.server import DEFAULT_SEAL_MAX_AGE_MS

    import workloads as w
    from probes import quantile
    from spans import Tracer

    spark = get_spark("perfbench-knee", cpus=cpus)
    pool = w._request_pool(seed, w.POOL_REQUESTS)
    uri = w.start_server(spark, work / "server")
    host, port = uri.split("//")[1].rsplit(":", 1)
    age = DEFAULT_SEAL_MAX_AGE_MS / 1000
    per_req = sum(r.records for r in pool[:8]) / 8
    rows = []
    try:
        # one request of each signal, so every table's seal plans compile
        warm = w._Sender(host, int(port), pool, Tracer(enabled=False))
        conn = warm.connect()
        for i in range(8):
            conn = warm.send(conn, i, None)
        conn.close()
        otlp_flush(spark, uri).collect()
        for rate in RATES:
            s = w._Sender(host, int(port), pool, Tracer(enabled=False))
            samples: list[tuple[float, int, int]] = []   # (t, buffered, backlog)
            done = threading.Event()
            sealed0 = w._server_row(spark, uri)["sealed_rows_total"]

            def watch():
                while not done.wait(1.0):
                    r = w._server_row(spark, uri)
                    samples.append((time.perf_counter(), r["buffered_bytes"],
                                    s.accepted_records - (r["sealed_rows_total"] - sealed0)))

            watcher = threading.Thread(target=watch)
            w._after_next_trigger(age)
            watcher.start()
            t0 = time.perf_counter()
            s.paced(per_req / rate, t0 + STEP_S, cpus - 1)
            sent_s = time.perf_counter() - t0
            done.set()
            watcher.join()
            t1 = time.perf_counter()
            otlp_flush(spark, uri).collect()
            half = [(t, b) for t, _, b in samples if t >= t0 + STEP_S / 2]
            growth = _trend(half) / rate if len(half) >= 2 else 1.0
            row = {"offered_records_per_s": rate,
                   "accepted_records_per_s": s.accepted_records / STEP_S,
                   "send_s": sent_s, "failed": s.failed,
                   "ack_p50_ms": quantile(s.acks_ms, 0.5),
                   "ack_p99_ms": quantile(s.acks_ms, 0.99),
                   "late_p99_ms": quantile(s.late_ms, 0.99),
                   "backlog_growth_share": growth,
                   "buffered_bytes_max": max((x[1] for x in samples), default=0),
                   "backlog_records_by_second": [
                       (round(t - t0, 1), b) for t, _, b in samples],
                   "flush_after_s": time.perf_counter() - t1}
            rows.append(row)
            print(json.dumps(row), flush=True)
            if not held(row):
                break  # past the knee: a higher rate only grows the backlog
    finally:
        otlp_stop(spark, uri, drain=False).collect()
    return rows


def _trend(points: list[tuple[float, float]]) -> float:
    """Growth per second of a sawtooth: seals commit in lumps, so the
    backlog's troughs (just after a commit), one in each half of the
    window, carry its trend."""
    mid = (points[0][0] + points[-1][0]) / 2
    a = min((p for p in points if p[0] < mid), key=lambda p: p[1])
    b = min((p for p in points if p[0] >= mid), key=lambda p: p[1])
    return (b[1] - a[1]) / (b[0] - a[0])


def held(row: dict) -> bool:
    """Whether a step kept its schedule and the seal kept up."""
    rate = row["offered_records_per_s"]
    return (row["accepted_records_per_s"] >= 0.95 * rate
            and row["late_p99_ms"] <= 50 and not row["failed"]
            and row["backlog_growth_share"] <= 0.25)


def knee(rows: list[dict]) -> int:
    best = 0
    for r in rows:
        if not held(r):
            break
        best = r["offered_records_per_s"]
    return best


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    work = run.ROOT / ".perfbench_work" / f"knee-{os.getpid()}"
    old_cwd = os.getcwd()
    try:
        run._prepare_env(work, cpus)
        rows = sweep(args.seed, cpus, work)
    finally:
        try:
            run._stop_processes()
        finally:
            os.chdir(old_cwd)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cpus": cpus, "seed": args.seed, "step_s": STEP_S,
                      "knee_records_per_s": knee(rows)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
