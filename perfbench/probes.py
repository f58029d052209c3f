"""Measurements taken from outside the engine.

- :class:`SparkProbe` reads Spark's own status store (stage and job
  deltas around one operation) and a DataFrame's Catalyst phase clock.
- :class:`RssSampler` samples the resident memory (PSS) of this process
  and its descendants (JVM, receiver workers) from /proc.
- :func:`decoder_us` times the engine's public decoders, single-threaded.
- :func:`quantile` and :func:`tail` summarize latency samples.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

PHASES = ("analysis", "optimization", "planning")
RSS_PERIOD_S = 0.2   # RssSampler's sampling period
DECODE_REPEATS = 3   # decoder_us reports the median of this many timings


class SparkProbe:
    """Per-operation deltas from the status store. Only traced runs use
    it: each delta waits for Spark's listener bus to drain."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._empty_q = sc._gateway.new_array(sc._jvm.double, 0)
        self.cores = sc.defaultParallelism

    def _stages(self):
        it = self._sc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False, self._empty_q,
            self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def _job_ids(self) -> list[int]:
        it = self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList()).iterator()
        out = []
        while it.hasNext():
            out.append(it.next().jobId())
        return out

    def mark(self) -> tuple[int, int]:
        self._sc.listenerBus().waitUntilEmpty(10_000)
        stages = [s.stageId() for s in self._stages()]
        return (max(self._job_ids(), default=-1), max(stages, default=-1))

    def delta(self, mark: tuple[int, int]) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty(10_000)
        last_job, last_stage = mark
        d = dict.fromkeys(("stages", "tasks", "executor_run_ms",
                           "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
                           "spill_bytes"), 0.0)
        for s in self._stages():
            if s.stageId() <= last_stage or s.status().toString() == "SKIPPED":
                continue
            d["stages"] += 1
            d["tasks"] += s.numTasks()
            d["executor_run_ms"] += s.executorRunTime()
            d["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            d["gc_ms"] += s.jvmGcTime()
            d["shuffle_write_bytes"] += s.shuffleWriteBytes()
            d["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        d["jobs"] = float(sum(1 for j in self._job_ids() if j > last_job))
        return d

    @staticmethod
    def phases(df) -> dict[str, tuple[int, int]]:
        """Catalyst phase -> (start, end) in epoch ns, as far as run."""
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in PHASES:
            if ph.contains(name):
                p = ph.apply(name)
                out[name] = (p.startTimeMs() * 1_000_000, p.endTimeMs() * 1_000_000)
        return out


class RssSampler:
    """Peak summed RSS of this process tree, sampled every
    ``RSS_PERIOD_S``."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_by_command: dict[str, int] = {}  # at the peak sample, in KiB
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_pids(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d.name))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        """Proportional resident set: a page mapped by several processes
        (a JVM and the child it forks) counts once across them."""
        try:
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def is_spark_worker(pid: int) -> bool:
        try:
            return b"pyspark.daemon" in Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            return False

    def sample(self) -> None:
        # Spark's forked Python workers come and go between samples, so
        # they are left out: the sum covers this process, the JVM and the
        # receiver's workers
        by_cmd: dict[str, int] = {}
        for p in self.tree_pids(os.getpid()):
            if not self.is_spark_worker(p):
                try:
                    cmd = Path(f"/proc/{p}/comm").read_text().strip()
                except OSError:
                    continue
                by_cmd[cmd] = by_cmd.get(cmd, 0) + self.rss_kb(p)
        kb = sum(by_cmd.values())
        if kb > self.peak_kb:
            self.peak_kb, self.peak_by_command = kb, by_cmd

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def decoder_us(logs_pb: bytes, traces_pb: bytes, logs_otap: bytes,
               n_logs: int, n_traces: int) -> dict[str, float]:
    """Median single-thread µs per record of the public decoders."""
    from duckdb_otlp_spark.sources import flat_decode, otap, otlp_proto

    def per_record(fn, n):
        walls = []
        for _ in range(DECODE_REPEATS):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls) * 1e6 / n

    env = otlp_proto.decode_logs(logs_pb)
    return {
        "sources.otlp_proto.decode_us": per_record(
            lambda: (otlp_proto.decode_logs(logs_pb),
                     otlp_proto.decode_traces(traces_pb)), n_logs + n_traces),
        "sources.flat_decode.flatten_us": per_record(
            lambda: flat_decode.flatten_logs_columns(env), n_logs),
        "sources.otap.decode_us": per_record(
            lambda: otap.bar_to_envelope(logs_otap, "logs"), n_logs),
        "sources.otlp_proto.pb_to_json_us": per_record(
            lambda: otlp_proto.pb_to_json_line(traces_pb, "traces"), n_traces),
    }


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for name, q in (("p99", 0.99), ("p95", 0.95), ("p90", 0.90), ("p75", 0.75)):
        if len(xs) * (1 - q) >= 10:
            return name, quantile(xs, q)
    return "p50", quantile(xs, 0.5)
