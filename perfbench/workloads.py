"""The benchmark's workloads.

Each workload sets itself up (``query_interactive`` ``SETUPS`` times,
keeping the last; ``ingest_live`` once), then measures and returns an
:class:`Outcome`: operations attempted and failed, the end-to-end
metrics shared by every workload, per-layer metrics (traced runs) and a
detail block with the workload's own named figures.

Shared end-to-end metrics, per workload:

================ ============================== ================================
metric           query_interactive              ingest_live
================ ============================== ================================
cold_pass_s      first pass over the 25 queries fresh read on a fresh server
pass_s           median warm pass               fresh read after the paced phase
                                                and the burst
op_p50_ms        one query: build + collect     paced POST ack, from its due time
throughput_per_s queries per second, warm pass  burst records / (first send to
                                                flush return)
================ ============================== ================================
"""

from __future__ import annotations

import http.client
import math
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import gen
from probes import SparkProbe, decoder_us, quantile, tail

# the 25 headline registry queries of the repository's legacy bench.py
BENCH_QUERIES = (
    "tail_topk", "point_lookup", "time_bucket", "topn_groups", "json_extract",
    "ilike_search", "date_trunc", "tpch_q1", "tpch_q3", "tpch_q6",
    "join_multi", "window_topk_per_group", "dedup_exact", "minhash_lsh_pairs",
    "ngram_jaccard", "ann_cosine_topk", "embedding_bucket_ann", "sessionize",
    "stratified_sample", "dedup_cluster", "bm25_topk", "asof_join",
    "contamination_overlap", "repetition_ratio", "vocab_topk")

# query_interactive sets up this many times and reports the median
SETUPS = 3


@dataclass
class Context:
    seed: int
    seconds: float
    cpus: int
    work: Path           # scratch directory inside the checkout
    tracer: object       # spans.Tracer
    new_spark: object    # () -> SparkSession, restarting any running one


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class _OpStats:
    """Traced per-operation Spark figures, summarized into layer metrics."""

    def __init__(self):
        self.rows: list[dict[str, float]] = []

    def add(self, **kv) -> None:
        self.rows.append(kv)

    def layer_metrics(self, cores: int) -> dict[str, float]:
        out = {}
        for k in ("build_ms", "analysis_ms", "optimization_ms", "planning_ms",
                  "collect_ms"):
            out[k] = _med(r.get(k, 0.0) for r in self.rows)
        for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "gc_ms", "shuffle_write_bytes", "spill_bytes"):
            out[k] = statistics.fmean(r.get(k, 0.0) for r in self.rows) if self.rows else 0.0
        busy = [r["executor_run_ms"] / (r["collect_wall_ms"] * cores)
                for r in self.rows if r.get("collect_wall_ms")]
        out["slot_busy_share"] = _med(busy)
        out["fixed_cost_share"] = (sum(1 for b in busy if b < 0.5) / len(busy)
                                   if busy else 0.0)
        parts = [r.get("build_ms", 0) + r.get("analysis_ms", 0)
                 + r.get("optimization_ms", 0) + r.get("planning_ms", 0)
                 + r.get("collect_ms", 0) for r in self.rows]
        walls = [r["wall_ms"] for r in self.rows]
        out["phase_sum_share"] = sum(parts) / sum(walls) if walls else 0.0
        out["phase_sum_max_err"] = max(
            (abs(p / w - 1) for p, w in zip(parts, walls) if w), default=0.0)
        return out


def _traced_call(ctx: Context, probe: SparkProbe | None, stats: _OpStats,
                 build, run, **attrs):
    """build() -> DataFrame, run(df) -> result, each in its own span; in a
    traced run the Catalyst phases become child spans and the status
    store's stage deltas are recorded. Returns (result, df, wall ms)."""
    tr = ctx.tracer
    mark = probe.mark() if probe else None
    t0 = time.perf_counter()
    with tr.span("op", **attrs) as root:
        with tr.span("queries.build") as b:
            df = build()
        with tr.span("spark.collect") as c:
            res = run(df)
    wall_ms = (time.perf_counter() - t0) * 1000
    if probe:
        ph = SparkProbe.phases(df)
        row = {"wall_ms": root.ms, "collect_wall_ms": c.ms}
        inside = {"build_ms": [], "collect_ms": []}
        for name, (s, e) in ph.items():
            owner, key = (b, "build_ms") if e <= b.end_ns else (c, "collect_ms")
            tr.add(f"spark.{name}", owner, s, e)
            row[f"{name}_ms"] = (e - s) / 1e6
            inside[key].append((e - s) / 1e6)
        row["build_ms"] = b.ms - sum(inside["build_ms"])
        row["collect_ms"] = c.ms - sum(inside["collect_ms"])
        row.update(probe.delta(mark))
        stats.add(**row)
    return res, df, wall_ms


# ---------------------------------------------------------------------------
# query_interactive
# ---------------------------------------------------------------------------

def query_interactive(ctx: Context) -> Outcome:
    from duckdb_otlp_spark.queries import ORACLE_SQL, QUERIES

    out = Outcome()
    data = ctx.work / "tables"
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = ctx.new_spark()
        shutil.rmtree(data, ignore_errors=True)
        counts = gen.write_query_tables(data, ctx.seed)
        oracle = checks.oracle_answers(str(data), {q: ORACLE_SQL[q] for q in BENCH_QUERIES},
                                       gen.QUERY_TABLES)
        out.setup_s.append(time.perf_counter() - t0)

    probe = SparkProbe(spark) if ctx.tracer.enabled else None
    stats = _OpStats()
    passes: list[float] = []
    lat: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}
    per_query_busy: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}
    ties: list[str] = []
    start = time.perf_counter()
    while len(passes) < 2 or time.perf_counter() - start < ctx.seconds:
        p0 = time.perf_counter()
        for q in BENCH_QUERIES:
            out.attempted += 1
            try:
                rows, df, ms = _traced_call(
                    ctx, probe, stats, lambda q=q: QUERIES[q](spark, str(data)),
                    lambda df: df.collect(), query=q, pass_no=len(passes))
                status, why = checks.compare_to_oracle(
                    df.columns, [tuple(r) for r in rows], oracle[q])
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                status, why, ms = "fail", f"raised {type(e).__name__}: {e}", 0.0
            if status == "fail":
                out.fail(f"{q}: {why}")
            elif status == "tie":
                ties.append(f"{q}: {why}")
            lat[q].append(ms)
            if probe and stats.rows:
                r = stats.rows[-1]
                per_query_busy[q].append(
                    r["executor_run_ms"] / (r["collect_wall_ms"] * probe.cores))
            spark.catalog.clearCache()
        passes.append(time.perf_counter() - p0)

    warm = [ms for q in BENCH_QUERIES for ms in lat[q][1:]]
    tail_name, tail_ms = tail(warm)
    out.e2e = {"cold_pass_s": passes[0], "pass_s": _med(passes[1:]),
               "op_p50_ms": quantile(warm, 0.5),
               "throughput_per_s": len(BENCH_QUERIES) / _med(passes[1:])}
    out.detail = {
        "query_cold_pass_s": passes[0], "query_pass_s": _med(passes[1:]),
        "query_p50_ms": quantile(warm, 0.5), f"query_{tail_name}_ms": tail_ms,
        "warm_samples": len(warm), "passes": len(passes),
        "oracle_rounding_ties": ties,
        "inputs": {"tables": counts, "seed": ctx.seed,
                   "files": len(counts),
                   "bytes": sum(p.stat().st_size for p in data.iterdir())},
        "per_query_ms": {q: [round(x, 2) for x in v] for q, v in lat.items()},
    }
    if probe:
        lm = stats.layer_metrics(probe.cores)
        out.layer = _spark_layer(lm, include_build=True)
        out.detail["slot_busy_share_by_query"] = {
            q: round(_med(v), 4) for q, v in per_query_busy.items()}
    return out


def _spark_layer(lm: dict, include_build: bool) -> dict[str, float]:
    out = {f"spark.{k}": lm[k] for k in (
        "analysis_ms", "optimization_ms", "planning_ms", "collect_ms", "jobs",
        "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "shuffle_write_bytes", "spill_bytes", "slot_busy_share",
        "fixed_cost_share")}
    out["trace.phase_sum_share"] = lm["phase_sum_share"]
    out["trace.phase_sum_max_err"] = lm["phase_sum_max_err"]
    if include_build:
        out["queries.build_ms"] = lm["build_ms"]
    return out


# ---------------------------------------------------------------------------
# ingest_live
# ---------------------------------------------------------------------------

TOKEN = "perfbench-token-0123456789abcdef"
# the highest offered rate at which otlp_serve (default settings, seals
# running) held its schedule and its spool on a 4-core host, as
# ``perfbench/knee.py`` measured it with this request mix (README, "Knee")
KNEE_RECORDS_PER_S = 8_000
# the paced phase offers half of it
LIVE_RECORDS_PER_S = KNEE_RECORDS_PER_S // 2
# the burst: about 5 MB of request bodies, about 27 MB spooled, far
# under the receiver's 512 MiB admission cap
BURST_RECORDS = 40_000
LOGS_PER_REQ, SPANS_PER_REQ, POINTS_PER_SHAPE = 50, 25, 5
# distinct request bodies (about 11k records); the sends cycle through them
POOL_REQUESTS = 256


@dataclass
class _Request:
    path: str
    body: bytes
    ctype: str
    gzip: bool
    records: int
    errors: int          # ERROR log records in the request


def _request_pool(seed: int, n: int) -> list[_Request]:
    """A fixed mix, cycled: 6 gzip JSON logs requests, then one protobuf
    traces request and one JSON metrics request carrying all four point
    types."""
    logs = iter(gen.make_logs(seed, LOGS_PER_REQ * n * 6 // 8, per_env=LOGS_PER_REQ))
    traces = iter(gen.make_traces(seed, SPANS_PER_REQ * n // 8, per_env=SPANS_PER_REQ))
    metrics = iter(gen.make_metrics(seed, POINTS_PER_SHAPE * n // 8,
                                    per_env=POINTS_PER_SHAPE))
    pool = []
    for i in range(n):
        if i % 8 < 6:
            env = next(logs)
            pool.append(_Request("/v1/logs", gen.http_body(env, False),
                                 "application/json", True,
                                 gen.count_records(env), gen.count_errors(env)))
        elif i % 8 == 6:
            env = next(traces)
            pool.append(_Request("/v1/traces", gen.http_body(env, True),
                                 "application/x-protobuf", False,
                                 gen.count_records(env), 0))
        else:
            env = next(metrics)
            pool.append(_Request("/v1/metrics", gen.http_body(env, False),
                                 "application/json", True,
                                 gen.count_records(env), 0))
    return pool


class _Sender:
    """Sends pool requests over keep-alive connections and keeps the
    tallies the correctness checks need. Successive phases continue
    through the pool where the last one stopped. Each POST is a span
    under the phase's span (``parent``)."""

    def __init__(self, host: str, port: int, pool: list[_Request], tracer):
        self.host, self.port, self.pool, self.tracer = host, port, pool, tracer
        self.lock = threading.Lock()
        self.next = 0                      # next pool slot
        self.accepted_records = self.accepted_errors = 0
        self.sent = self.retried = self.failed = 0
        self.acks_ms: list[float] = []     # paced: from each request's due time
        self.late_ms: list[float] = []     # paced: send start behind schedule
        self.closed_ms: list[float] = []   # closed loop: from each send
        self.errors: list[str] = []

    def _post(self, conn, req: _Request) -> int:
        headers = {"Content-Type": req.ctype, "Authorization": f"Bearer {TOKEN}"}
        if req.gzip:
            headers["Content-Encoding"] = "gzip"
        conn.request("POST", req.path, body=req.body, headers=headers)
        resp = conn.getresponse()
        resp.read()
        return resp.status

    def connect(self):
        return http.client.HTTPConnection(self.host, self.port, timeout=60)

    def send(self, conn, i: int, due: float | None, parent=None):
        """POST pool request ``i``; one reconnect-and-retry on a dropped
        connection. ``due`` is the paced schedule's time for it, None in
        a closed loop. Returns the (possibly new) connection."""
        req = self.pool[i % len(self.pool)]
        t0 = time.perf_counter()
        retried = False
        with self.tracer.span("streaming.post", parent, path=req.path):
            try:
                status = self._post(conn, req)
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = self.connect()
                retried = True
                try:
                    status = self._post(conn, req)
                except (OSError, http.client.HTTPException) as e:
                    status = f"connection error {e}"
        t1 = time.perf_counter()
        with self.lock:
            self.sent += 1
            self.retried += retried
            if status == 202:
                self.accepted_records += req.records
                self.accepted_errors += req.errors
                if due is not None:
                    self.acks_ms.append((t1 - due) * 1000)
                    self.late_ms.append(max(0.0, t0 - due) * 1000)
                else:
                    self.closed_ms.append((t1 - t0) * 1000)
            else:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(f"{req.path}: {status}")
        return conn

    def _run(self, threads: int, job) -> None:
        def loop():
            conn = self.connect()
            while conn is not None:
                conn = job(conn)

        ts = [threading.Thread(target=loop) for _ in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    def _claim(self) -> int:
        with self.lock:
            k = self.next
            self.next += 1
            return k

    def paced(self, interval: float, until: float, threads: int,
              parent=None) -> None:
        """Open loop: the k-th request of the phase is due at
        t0 + k*interval whatever the acks, until ``until``; ``threads``
        connections share the schedule."""
        t0, first = time.perf_counter(), self.next

        def job(conn):
            k = self._claim()
            due = t0 + (k - first) * interval
            if due >= until:
                with self.lock:
                    self.next = min(self.next, k)   # unsent: the next phase takes it
                conn.close()
                return None
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            return self.send(conn, k, due, parent)

        self._run(threads, job)

    def closed(self, records: int, threads: int, parent=None) -> None:
        """Closed loop: each connection sends its next request as soon as
        the last one is acked, until ``records`` records are accepted."""
        goal = self.accepted_records + records

        def job(conn):
            with self.lock:
                # a receiver that refuses everything must not hang the run
                done = self.accepted_records >= goal or self.failed > 100
            if done:
                conn.close()
                return None
            return self.send(conn, self._claim(), None, parent)

        self._run(threads, job)


def _server_row(spark, uri: str) -> dict:
    from duckdb_otlp_spark.streaming import otlp_server_list
    for r in otlp_server_list(spark).collect():
        if r["uri"] == uri:
            return r.asDict()
    raise RuntimeError(f"listener {uri} missing from otlp_server_list")


def _sealed_rows(export: Path) -> int:
    """Rows in every sealed parquet file, from the files' own footers."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(p).num_rows for p in export.rglob("*.parquet"))


def _l1_tail_topk(spark, export: Path):
    from pyspark.sql import functions as F
    return (spark.read.parquet(str(export / "otlp_logs"))
            .filter(F.col("service_name") == "checkout")
            .orderBy(F.col("time_unix_nano").desc()).limit(20))


def _l3_error_buckets(spark, export: Path):
    from pyspark.sql import functions as F
    return (spark.read.parquet(str(export / "otlp_logs"))
            .filter(F.col("severity_number") >= 17)
            .groupBy(F.window("time_unix_nano", "5 minutes")).count())


def _after_next_trigger(age: float) -> None:
    """Sleep until just after the next seal trigger: Spark fires
    processing-time triggers on multiples of the seal age."""
    time.sleep((math.floor(time.time() / age) + 1) * age + 0.3 - time.time())


def start_server(spark, work_dir: Path) -> str:
    """``otlp_serve`` with its default settings (5 s seal age) except the
    warm-up, which would add ~40 s to every set-up; the first seal pays
    that compile instead."""
    from duckdb_otlp_spark.streaming import otlp_serve
    return otlp_serve(spark, "otlp://127.0.0.1:0", work_dir=str(work_dir),
                      auth_token=TOKEN, warm_start=False).collect()[0]["uri"]


def ingest_live(ctx: Context) -> Outcome:
    """A cold read, then a paced phase and a burst, against one
    ``otlp_serve`` listener.

    Cold: one request of each signal on a fresh server, then a fresh read
    (``otlp_flush``, an L1 tail top-k and an L3 error-bucket count); it
    pays the seal plans' first compile.

    Warm, inside one seal interval, from just after a trigger to before
    the next (Spark fires processing-time triggers on multiples of the
    seal age), so no seal competes with the receiver and the next trigger
    seals everything in one batch per table:

    - paced: an open-loop sender at ``LIVE_RECORDS_PER_S`` on one
      connection until 2 s before the trigger; acks are timed from their
      due time;
    - burst: ``BURST_RECORDS`` records closed-loop, each connection
      sending as soon as its last request is acked;
    - a fresh read of all of it. The burst's figure is its records over
      the time from its first send to the flush's return.

    The reads follow the senders instead of overlapping them:
    ``otlp_flush`` returns only once a trigger finds no new data, which
    never happens while paced sends continue.
    """
    from duckdb_otlp_spark.streaming import (otlp_flush, otlp_maintenance,
                                             otlp_seal_list, otlp_stop)
    from duckdb_otlp_spark.streaming.server import DEFAULT_SEAL_MAX_AGE_MS

    out = Outcome()
    t0 = time.perf_counter()
    spark = ctx.new_spark()
    pool = _request_pool(ctx.seed, POOL_REQUESTS)
    srv = ctx.work / "server"
    uri = start_server(spark, srv)
    out.setup_s.append(time.perf_counter() - t0)
    export = srv / "export"
    host, port = uri.split("//")[1].rsplit(":", 1)
    tr = ctx.tracer
    sender = _Sender(host, int(port), pool, tr)
    probe = SparkProbe(spark) if tr.enabled else None
    stats = _OpStats()
    reads: list[dict[str, float]] = []
    age = DEFAULT_SEAL_MAX_AGE_MS / 1000
    threads = ctx.cpus - 1   # burst connections; the fourth core serves

    def fresh_read(label: str) -> None:
        acked_errors = sender.accepted_errors
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op.fresh_read", phase=label):
                with tr.span("streaming.flush"):
                    otlp_flush(spark, uri).collect()
                t1 = time.perf_counter()
                _traced_call(ctx, probe, stats, lambda: _l1_tail_topk(spark, export),
                             lambda df: df.collect(), query="L1")
                res, _, _ = _traced_call(ctx, probe, stats,
                                         lambda: _l3_error_buckets(spark, export),
                                         lambda df: df.collect(), query="L3")
        except Exception as e:  # noqa: BLE001 — a failed read is a failed op
            out.fail(f"{label} fresh read raised {type(e).__name__}: {e}")
            return
        t2 = time.perf_counter()
        seen = sum(r["count"] for r in res)
        if seen < acked_errors:
            out.fail(f"{label} fresh read saw {seen} error rows, "
                     f"{acked_errors} acked before its flush")
        reads.append({"wall_s": t2 - t0, "flush_ms": (t1 - t0) * 1000,
                      "query_ms": (t2 - t1) * 1000, "flushed": t1})

    done = threading.Event()
    buffered: list[tuple[float, int]] = []

    def watch():
        while not done.wait(1.0):
            buffered.append((time.perf_counter(),
                             _server_row(spark, uri)["buffered_bytes"]))

    # the backlog samples run a Spark job each, so only traced runs take them
    watcher = threading.Thread(target=watch if tr.enabled else done.wait)
    try:
        watcher.start()
        conn = sender.connect()
        for _ in range(8):  # the pool's mix: six logs, one traces, one metrics
            conn = sender.send(conn, sender._claim(), None)
        conn.close()
        cold_records = sender.accepted_records
        fresh_read("cold")

        per_req = sum(r.records for r in pool[:8]) / 8
        _after_next_trigger(age)
        trigger = time.perf_counter() - 0.3 + age   # the next one
        # one paced connection: the receiver's accept workers share a port
        # (SO_REUSEPORT), and how the kernel spread several connections
        # over them moved the ack median by a third from run to run
        with tr.span("gen.paced") as sp:
            sender.paced(per_req / LIVE_RECORDS_PER_S, trigger - 2.0, 1, sp)
        if not sender.acks_ms:
            out.fail("the paced phase sent nothing")
        before, t_send = sender.accepted_records, time.perf_counter()
        sender.closed_ms.clear()
        with tr.span("gen.burst") as sp:
            sender.closed(BURST_RECORDS, threads, sp)
        burst_records, t_acked = sender.accepted_records - before, time.perf_counter()
        fresh_read("warm")
        done.set()
        watcher.join()

        # completeness: every send finished before the last flush began
        sealed = _sealed_rows(export)
        lo = sender.accepted_records
        hi = lo + sender.retried * max(r.records for r in pool)
        out.attempted += sender.sent + 1
        if not lo <= sealed <= hi:
            out.fail(f"sealed {sealed} rows, accepted {lo} (retried {sender.retried})")
        for e in sender.errors:
            out.fail(e)
        out.failed += max(0, sender.failed - len(sender.errors))

        row = _server_row(spark, uri)
        seals = [r.asDict() for r in otlp_seal_list(spark, uri).collect()]
        maint = []
        if tr.enabled:
            with tr.span("op.maintenance"):
                with tr.span("streaming.maintenance"):
                    maint = [r.asDict() for r in otlp_maintenance(spark, uri).collect()]
    finally:
        done.set()
        if watcher.is_alive():
            watcher.join()
        otlp_stop(spark, uri, drain=False).collect()

    if len(reads) < 2:
        return out  # the failed read is counted; no figures without it
    acks = sender.acks_ms
    ok = [s for s in seals if s["status"] == "ok"]
    # each table's first seal also compiles its plans; the rest are warm
    first: dict[str, int] = {}
    for s in ok:
        first[s["table"]] = min(first.get(s["table"], s["seal_sequence"]),
                                s["seal_sequence"])
    warm = [s for s in ok if s["seal_sequence"] != first[s["table"]]]
    seal_rate = (sum(s["rows"] for s in warm)
                 / max(sum(s["append_ms"] for s in warm) / 1000, 1e-9))
    burst_rate = burst_records / (reads[1]["flushed"] - t_send)
    tail_name, tail_ms = tail(acks)
    out.e2e = {"cold_pass_s": reads[0]["wall_s"], "pass_s": reads[1]["wall_s"],
               "op_p50_ms": quantile(acks, 0.5), "throughput_per_s": burst_rate}
    bytes_per_record = sum(len(r.body) for r in pool) / sum(r.records for r in pool)
    out.detail = {
        "ingest_ack_p50_ms": quantile(acks, 0.5),
        f"ingest_ack_{tail_name}_ms": tail_ms, "acks": len(acks),
        "fresh_read_cold_ms": reads[0]["wall_s"] * 1000,
        "fresh_read_p50_ms": reads[1]["wall_s"] * 1000,
        "burst_records_per_s": burst_rate, "burst_records": burst_records,
        "burst_accept_records_per_s": burst_records / (t_acked - t_send),
        "burst_ack_p50_ms": quantile(sender.closed_ms, 0.5),
        "paced_late_p50_ms": quantile(sender.late_ms, 0.5),
        # a burst acked after the trigger is sealed in two batches
        "burst_acked_before_trigger": t_acked < trigger,
        "paced_records": before - cold_records,
        "seal_records_per_s": seal_rate, "warm_seals": len(warm),
        "offered_records_per_s": LIVE_RECORDS_PER_S,
        "knee_records_per_s": KNEE_RECORDS_PER_S,
        "sealed_rows": sealed, "accepted_records": lo, "retried": sender.retried,
        "inputs": {"seed": ctx.seed, "pool_requests": len(pool),
                   "records_sent": sender.accepted_records,
                   "requests_sent": sender.sent,
                   "pool_bytes": sum(len(r.body) for r in pool),
                   "bytes_per_record": bytes_per_record},
    }
    if probe:
        lm = stats.layer_metrics(probe.cores)
        out.layer = _spark_layer(lm, include_build=False)
        append = [s["append_ms"] for s in ok] or [0.0]
        slope = 0.0
        if len(buffered) >= 2:
            slope = ((buffered[-1][1] - buffered[0][1])
                     / (buffered[-1][0] - buffered[0][0]))
        out.layer.update({
            "receiver.requests": row["requests_total"],
            "receiver.rejected": row["rejected_auth"] + row["rejected_413"]
            + row["rejected_415"] + row["rejected_503"],
            "receiver.buffered_bytes_max": max((b for _, b in buffered), default=0),
            "receiver.buffered_bytes_slope": slope,
            "seal.count": row["seals_total"],
            "seal.rows_p50": _med(s["rows"] for s in ok),
            "seal.append_ms_p50": _med(append),
            "seal.append_ms_max": max(append),
            "seal.rows_per_s": seal_rate,
            "seal.failures": row["seal_failures_total"],
            "seal.restarts": row["seal_restarts_total"],
            "seal.malformed_lines": row["seal_malformed_lines"],
            "flush.ms_p50": reads[1]["flush_ms"],
            "fresh.query_ms_p50": reads[1]["query_ms"],
            "maintenance.runs": row["maintenance_runs_total"],
            "maintenance.ms": sum(m["duration_ms"] for m in maint),
            "export.files": sum(1 for _ in export.rglob("*.parquet")),
            "gen.late_p99_ms": quantile(sender.late_ms, 0.99),
            "gen.bytes_per_record": bytes_per_record,
            "gen.ack_tail_ms": tail_ms,
        })
    return out


WORKLOADS = {"query_interactive": query_interactive, "ingest_live": ingest_live}


def decoder_layer(ctx: Context) -> dict[str, float]:
    """Single-thread decoder costs on a sample of this seed's bytes."""
    env_l, = gen.make_logs(ctx.seed, 2000, per_env=2000)
    env_t, = gen.make_traces(ctx.seed, 1000, per_env=1000)
    return decoder_us(gen.encode_pb(env_l), gen.encode_pb(env_t),
                      gen.encode_otap(env_l), 2000, 1000)
