"""Live-ingest engine: the ``otlp_serve`` / ``otlp_flush`` / ``otlp_stop`` /
``otlp_server_list`` / ``otlp_seal_list`` surface
(reference: src/otlp_start_stop.cpp:41-573).

Mapping (SURVEY.md §3.2): the reference's group-commit "seal" — a sealer
loop that seals on a 5 s age or when ``otlp_flush`` asks
(reference: otlp_server.cpp:815-950, 1438-1440) — is one timer thread
per signal. A tick lists the signal's visible spool segments, seals
exactly those and only then deletes them; a failed seal leaves them for
the next tick or flush to replay. ``otlp_flush`` rotates the open
segments visible and seals every signal at once.

One seal route, the analog of the reference's one COPY and one parse
per table (reference: otlp_server.cpp:963-1107): ONE Spark job per
signal stages the flat rows. The driver bin-packs the segments into at
most one group per free slot; each Python task parses + flattens its
group's lines once (``flat_decode.seal_files``) and writes every table's
parquet into a hidden staging dir. Only the step after staging depends
on the config:

- parquet sink without seal-time columns (the default): the driver
  renames the staged files into the export tree. At-least-once per
  signal: a failed job publishes nothing and the replay re-seals.
- catalog sink, or attribute promotion / PII scrub / near-dup or
  contamination stamps: Spark reads each table's staged files back,
  adds the seal-time columns in the write's projection (``_finish``)
  and writes the table (the catalog's sorted + bloom layout, staged
  then committed in one snapshot).

Lines the strict parse refuses (malformed JSON, NaN tokens, off-schema
shapes) take the file readers' lax ``from_json`` parse on every config,
then the same flattener (``flat_decode.flatten_parsed``); that plan is
built only for seals that hold such a line.

A metrics request fans out to <=4 shape tables from ONE parse, mirroring
``otlp_transform_metrics_all`` (reference: read_otlp.cpp:261-304).

Scale notes: each signal seals independently (the reference's
single-writer mutex exists because DuckLake needs one writer; Spark
sinks are per-table, so signal seals run concurrently).
Partitioned year/month/day layout matches the reference's export tree
and gives partition pruning to every time-bounded query.
"""

from __future__ import annotations

import heapq
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from duckdb_otlp_spark.catalog import SnapshotCatalog
from duckdb_otlp_spark.functions.promote import sanitize_key as _sanitize
from duckdb_otlp_spark.functions.uri import OtlpUri, parse_otlp_uri
from duckdb_otlp_spark.schemas import TARGET_TABLES, partition_ts
from duckdb_otlp_spark.sources import flat_decode
from duckdb_otlp_spark.sources.otlp_json import envelopes_from_lines
from duckdb_otlp_spark.streaming.maintenance import (
    BLOOM_COLS,
    SORT_KEYS,
    compact_table,
)
from duckdb_otlp_spark.streaming.receiver import OtlpHttpReceiver

# reference: src/include/otlp_ingest_limits.hpp
DEFAULT_SEAL_MAX_AGE_MS = 5000
# reference: otlp_server.cpp:310-317 stall detection window
STALL_SEAL_CYCLES = 3
# reference: otlp_server.cpp seal history bound
SEAL_HISTORY_LIMIT = 4096
# reference: otlp_server.cpp:53-58 maintenance cadence (every 32 seals)
DEFAULT_MAINTENANCE_EVERY_SEALS = 32

_SIGNALS = ("logs", "traces", "metrics")


@dataclass
class SealEvent:
    """One per-table seal record. ``append_ms`` is the data-file write
    (staging) time; ``commit_ms`` is the metadata-commit time — zero for
    the parquet sink, whose blind append has no separate commit. The
    split mirrors the reference's seal history append-vs-commit timing
    columns (reference: otlp_start_stop.cpp:348-521)."""
    seal_sequence: int
    table: str
    rows: int
    batch_id: int
    append_ms: float
    commit_ms: float
    status: str
    error: str = ""
    unix_ms: int = field(default_factory=lambda: int(time.time() * 1000))


class OtlpSparkServer:
    """One live listener: HTTP receiver + one sealer thread per signal."""

    def __init__(self, spark: SparkSession, uri: str, *,
                 work_dir: str | Path | None = None,
                 export_root: str | Path | None = None,
                 auth_token: str | None = None,
                 disable_auth: bool = False,
                 seal_max_age_ms: int = DEFAULT_SEAL_MAX_AGE_MS,
                 promote_resource: list[str] | None = None,
                 promote_scope: list[str] | None = None,
                 maintenance_every_seals: int = DEFAULT_MAINTENANCE_EVERY_SEALS,
                 zstd: bool = True,
                 sink: str = "parquet",
                 iceberg_export: bool = True,
                 warm_start: bool = True,
                 accept_workers: int = 2,
                 create_tables: bool = True,
                 transport: str = "http",
                 scrub_body_pii: bool = False,
                 flag_near_dups: str | None = None,
                 near_dup_literal_max_keys: int | None = None,
                 flag_contamination_grams=None,
                 contamination_max_overlap: float = 0.5):
        self.spark = spark
        # port 0 = OS-assigned; resolved to the bound port in start()
        self.uri = parse_otlp_uri(uri, allow_ephemeral=True)
        # otap: accepts OTAP BatchArrowRecords messages on the same signal
        # paths. The reference's otap_serve speaks bidirectional Arrow
        # gRPC (reference: src/otlp_server_grpc.cpp:95-133); this server
        # matches it with a from-scratch gRPC-over-h2c transport
        # (streaming/h2c.py + receiver.py ArrowLogsService/etc. — real
        # HTTP/2 + HPACK, per-stream decoder state, BatchStatus acks,
        # tested end-to-end in tests/test_otap_grpc.py), plus an HTTP
        # POST framing of the same messages as a simpler second path
        # (per-message ack = the 202/4xx response).
        self.work_dir = Path(work_dir or f"/tmp/otlp_spark/{self.uri.host}_{self.uri.port}")
        self.spool_dir = self.work_dir / "spool"
        self.export_root = Path(export_root or (self.work_dir / "export"))
        self.seal_max_age_ms = seal_max_age_ms
        self.compression = "zstd" if zstd else "snappy"
        self.promote_resource = list(promote_resource or [])
        self.promote_scope = list(promote_scope or [])
        # opt-in at-seal PII redaction of log bodies (beyond-reference,
        # SURVEY C39's server integration): the same map-only chained
        # regexp_replace as operators.text.pii_scrub, applied in the
        # seal's write projection so raw identifiers never reach the
        # sealed corpus. No job or shuffle of its own.
        self.scrub_body_pii = bool(scrub_body_pii)
        # opt-in at-seal near-duplicate flagging (beyond-reference, the
        # server integration of the C41 screen): the value names a
        # persisted band index (operators.dedup.save_band_index) and
        # every sealed log row gets a near_dup_candidate boolean stamped
        # against it. The probe is built ONCE in start(); small indexes
        # compile to InSet literals so the stamp stays map-only in the
        # seal's write (pinned by tests/test_streaming_operators.py),
        # larger ones fall back to persisted broadcast-join sides that
        # stop() releases.
        self.flag_near_dups = flag_near_dups
        # regime override: None = the probe's own threshold; 0 forces the
        # broadcast-join regime (useful when the index is known to grow
        # past the literal size between restarts, so the seal plan shape
        # stays stable)
        self.near_dup_literal_max_keys = near_dup_literal_max_keys
        self._near_dup_probe: Any = None
        # opt-in at-seal benchmark-contamination flagging (C28's server
        # integration): a set/frozenset of distinct eval n-grams (the
        # eval suite, small by construction) stamps a `contaminated`
        # boolean on every sealed log row via the same JVM-literal
        # column math as contamination_screen_stream's literal regime —
        # map-only, so it adds no job to the seal. Sets beyond the
        # literal scale belong to the post-hoc batch equi-join over the
        # sealed table (pipeline.contamination_screen), not the seal
        # hot path — enforced below.
        self._contamination_col = None
        if flag_contamination_grams is not None:
            from duckdb_otlp_spark.streaming.operators import (
                LITERAL_MAX_GRAMS, contamination_mark)
            flag_contamination_grams = frozenset(flag_contamination_grams)
            if len(flag_contamination_grams) > LITERAL_MAX_GRAMS:
                raise ValueError(
                    f"flag_contamination_grams has "
                    f"{len(flag_contamination_grams)} grams, above the "
                    f"seal-plan literal ceiling ({LITERAL_MAX_GRAMS}); "
                    f"screen post-hoc with the batch equi-join "
                    f"(operators.pipeline.contamination_screen) instead")
            # precompiled ONCE: a Column is unbound, so the sorted-gram
            # py4j literal transfer happens here, not on every seal of
            # seal (the BandProbe does the same)
            self._contamination_col = contamination_mark(
                F.col("body"), flag_contamination_grams,
                max_overlap=contamination_max_overlap)
        self.flag_contamination_grams = flag_contamination_grams
        self.contamination_max_overlap = contamination_max_overlap
        if sink not in ("parquet", "catalog"):
            raise ValueError(f"unknown sink {sink!r}; use 'parquet' or 'catalog'")
        self.sink = sink
        # catalog mode = the reference's transactional SealCatalog path
        # (all signals of a seal commit in ONE snapshot, otlp_server.cpp:
        # 1109-1271); parquet mode = the at-least-once COPY export path
        self.catalog = SnapshotCatalog(self.export_root) if sink == "catalog" else None
        # catalog commits additionally publish Iceberg v1 metadata so any
        # Iceberg-speaking engine (Trino, DuckDB iceberg_scan, Spark with
        # jars) reads the live tables — the reference's DuckLake/Iceberg
        # ecosystem contract (reference: otlp_server.cpp:1109-1271,
        # serve.md:199-213). Incremental: O(new files) per seal.
        self.iceberg: Any = None
        if self.catalog is not None and iceberg_export:
            from duckdb_otlp_spark.iceberg_export import IcebergExporter
            self.iceberg = IcebergExporter(self.catalog)
        self.create_tables = create_tables
        self._target_schemas: dict[str, Any] = {}
        # transport='grpc' serves OTLP/gRPC unary Export over the
        # from-scratch h2c stack (reference: otlp_serve(transport:=
        # 'grpc'), serve.md:307-326) — a gRPC listener exposes no
        # /healthz//readyz HTTP endpoints, same as the reference
        self.receiver = OtlpHttpReceiver(
            self.uri.host, self.uri.port, self.spool_dir,
            auth_token=auth_token, disable_auth=disable_auth,
            formats="otap" if self.uri.scheme == "otap" else "otlp",
            transport=transport,
            accept_workers=accept_workers,
            stall_after_ms=STALL_SEAL_CYCLES * seal_max_age_ms)
        self._sealers: list[threading.Thread] = []
        self._stopping = threading.Event()
        # serializes a signal's timer seal with a flush's seal of it
        self._seal_locks = {s: threading.Lock() for s in _SIGNALS}
        # per-signal batch ids; a replay after a failed seal reuses its id
        self._batch_ids = dict.fromkeys(_SIGNALS, 0)
        self._failed: set[str] = set()
        # concurrent flushes share the receiver's worker pipes: interleaved
        # recv()s split one rotate ack's framing and hang both flushes
        self._rotate_lock = threading.Lock()
        # observability log channel — the analog of the reference writing
        # server events through the duckdb_otlp log type into duckdb_logs
        # (reference: otlp_server.cpp:369-378, src/include/otlp_log.hpp);
        # queryable via otlp_server_log(), bounded like seal history
        self.server_log: list[dict[str, Any]] = []
        self.seal_history: list[SealEvent] = []
        self._seal_seq = 0
        self._lock = threading.Lock()
        self.last_seal_unix_ms: int | None = None
        self.seal_failures_total = 0
        self.seal_restarts_total = 0
        self.sealed_rows_total = 0
        # Lines 202-accepted at the edge but dropped by the seal's lax
        # parse (the edge validates only a '{' prefix by design — the
        # accept-path/parse-at-seal split).  Non-zero means a client's
        # exporter is sending broken JSON and its data is being lost;
        # surfaced per-seal in otlp_server_log and cumulatively in
        # otlp_server_list (reference parses at ingest and 400s:
        # otlp_server.cpp:596-602 — we trade that for edge throughput
        # but keep the loss observable).
        self.seal_malformed_total = 0
        self.warm_start = warm_start
        self.maintenance_every_seals = maintenance_every_seals
        self.maintenance_runs_total = 0
        self.maintenance_history: list[dict[str, Any]] = []
        self._maintenance_busy = threading.Lock()
        # async-maintenance quiescence: scheduled-but-unfinished runs.
        # flush() waits on this so "flush then inspect" stays
        # deterministic even though compaction runs off-thread.
        self._maintenance_cv = threading.Condition()
        self._maintenance_pending = 0
        # EWMA ingress rate (reference: otlp_start_stop.cpp EWMA column):
        # sampled from the admitted-bytes counter on every seal and on
        # every server_row read, tau = 10 s
        self._ewma_rate = 0.0
        self._ewma_last_t = time.monotonic()
        self._ewma_last_bytes = 0
        self._ewma_lock = threading.Lock()

    def _update_ewma(self) -> float:
        import math
        with self._ewma_lock:
            now = time.monotonic()
            dt = now - self._ewma_last_t
            if dt < 0.05:          # coalesce near-simultaneous samples
                return self._ewma_rate
            admitted = self.receiver.stats.admitted_bytes_total
            inst = (admitted - self._ewma_last_bytes) / dt
            alpha = 1.0 - math.exp(-dt / 10.0)
            self._ewma_rate += alpha * (inst - self._ewma_rate)
            self._ewma_last_t = now
            self._ewma_last_bytes = admitted
            return self._ewma_rate

    def _log_event(self, message: str, level: str = "INFO") -> None:
        """Append to the server's observability log channel
        (reference: OtlpServer::LogServerEvent, otlp_server.cpp:369-378)."""
        with self._lock:
            self.server_log.append({
                "unix_ms": int(time.time() * 1000),
                "level": level,
                "message": message,
            })
            if len(self.server_log) > SEAL_HISTORY_LIMIT:
                self.server_log = self.server_log[-SEAL_HISTORY_LIMIT:]

    # -- target tables (reference: otlp_server.cpp:455-526) --
    def _promoted_fields(self):
        from pyspark.sql import types as T
        seen: set[str] = set()
        out = []
        for prefix, keys in (("resource_attr_", self.promote_resource),
                             ("scope_attr_", self.promote_scope)):
            for key in keys:
                if not key:
                    continue
                target = prefix + _sanitize(key)
                if target not in seen:
                    seen.add(target)
                    out.append(T.StructField(target, T.StringType(), True))
        return out

    def _ensure_target_tables(self) -> None:
        """Create or validate every signal table before the listener
        opens — the analog of ``EnsureTargetTables``/``CreateOrValidate
        Table`` (reference: otlp_server.cpp:455-526). Parquet mode keeps
        no persistent destination table (the durable store IS the
        parquet dataset), so like the reference it only pre-creates the
        export root. Catalog mode requires the signal's base columns as
        a LEADING PREFIX (name + type, in order); extra trailing
        columns are allowed — attribute promotion widens tables, and a
        restart against an already-promoted catalog must validate
        cleanly. With ``create_tables=False`` a missing table is a
        fail-fast error instead of being registered."""
        from pyspark.sql import types as T

        self.export_root.mkdir(parents=True, exist_ok=True)
        # staging dirs of seals a crash cut short: never published,
        # and their segments are still spooled for the replay
        for orphan in self.export_root.glob(".seal-*"):
            shutil.rmtree(orphan, ignore_errors=True)
        if self.catalog is None:
            return
        from duckdb_otlp_spark.schemas import SIGNAL_SCHEMAS

        to_create: dict[str, str] = {}
        for signal_key, table in TARGET_TABLES.items():
            expected = SIGNAL_SCHEMAS[signal_key]
            desired = T.StructType(list(expected.fields) + self._promoted_fields())
            current = self.catalog.table_schema(table)
            if current is None:
                if not self.create_tables:
                    raise ValueError(
                        f"Target table {table} is not available and "
                        f"create_tables is false")
                to_create[table] = desired.json()
                self._target_schemas[table] = desired
                continue
            if len(current.fields) < len(expected.fields):
                raise ValueError(
                    f"Target table {table} has {len(current.fields)} columns, "
                    f"expected at least {len(expected.fields)}")
            for i, want in enumerate(expected.fields):
                got = current.fields[i]
                if got.name != want.name:
                    raise ValueError(
                        f"Target table {table} column {i} is {got.name}, "
                        f"expected {want.name}")
                if got.dataType != want.dataType:
                    raise ValueError(
                        f"Target table {table} column {got.name} has type "
                        f"{got.dataType.simpleString()}, expected "
                        f"{want.dataType.simpleString()}")
            self._target_schemas[table] = current
        if to_create:
            self.catalog.commit(schemas=to_create, operation="create_tables")

    def _align_to_table(self, table: str, df: DataFrame) -> DataFrame:
        """Column-targeting seal write: reorder ``df`` to the validated
        table schema, NULL-filling columns the seal does not populate
        (the reference's extra-column write path, otlp_server.cpp:525);
        genuinely new columns (fresh promotions) append trailing and
        widen the stored schema."""
        target = self._target_schemas.get(table)
        if target is None:
            return df
        have = {f.name for f in df.schema.fields}
        cols = [F.col(f.name) if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields]
        known = {f.name for f in target.fields}
        extras = [f.name for f in df.schema.fields if f.name not in known]
        out = df.select(*cols, *[F.col(c) for c in extras])
        if extras:
            self._target_schemas[table] = out.schema
        return out

    # -- promotion (reference: otlp_column_promote.cpp:53-127) --
    def _promote(self, df: DataFrame) -> DataFrame:
        seen: set[str] = set()
        for source, prefix, keys in (
                ("resource_attributes", "resource_attr_", self.promote_resource),
                ("scope_attributes", "scope_attr_", self.promote_scope)):
            for key in keys:
                if not key:
                    continue
                target = prefix + _sanitize(key)
                if target in seen:
                    continue
                seen.add(target)
                df = df.withColumn(
                    target, F.get_json_object(F.col(source), f"$['{key}']"))
        return df

    def _record_seal(self, table: str, rows: int, batch_id: int,
                     append_ms: float, status: str, error: str = "",
                     commit_ms: float = 0.0) -> None:
        with self._lock:
            self._seal_seq += 1
            seq = self._seal_seq
            self.seal_history.append(SealEvent(
                seq, table, rows, batch_id, round(append_ms, 3),
                round(commit_ms, 3), status, error))
            if len(self.seal_history) > SEAL_HISTORY_LIMIT:
                self.seal_history = self.seal_history[-SEAL_HISTORY_LIMIT:]
            self.last_seal_unix_ms = int(time.time() * 1000)
            if status == "ok":
                self.sealed_rows_total += rows
            else:
                self.seal_failures_total += 1
        # workers answer /readyz from shared memory — push seal state
        self.receiver.publish_seal_state(self.seal_failures_total,
                                         self.last_seal_unix_ms)
        self._update_ewma()
        if (status == "ok" and self.maintenance_every_seals
                and seq % self.maintenance_every_seals == 0):
            self._schedule_maintenance()

    def _schedule_maintenance(self) -> None:
        """Run cadence maintenance on a daemon thread, NOT inline in the
        seal: a synchronous compaction inside the seal blocks the
        signal's sealer for the whole rewrite, so every Nth seal would
        stall live ingest until the bounded buffer fills and the edge
        starts shedding 503s. Off-thread, the seal only pays the thread
        spawn; `_maintenance_busy` still guarantees single-flight, and
        `_wait_maintenance_idle` restores determinism where callers
        need it (flush)."""
        with self._maintenance_cv:
            self._maintenance_pending += 1
        threading.Thread(target=self._run_scheduled_maintenance,
                         name="otlp-maintenance", daemon=True).start()

    def _run_scheduled_maintenance(self) -> None:
        try:
            self._maybe_run_maintenance()
        finally:
            with self._maintenance_cv:
                self._maintenance_pending -= 1
                self._maintenance_cv.notify_all()

    def _wait_maintenance_idle(self, timeout: float = 300.0) -> bool:
        deadline = time.monotonic() + timeout
        with self._maintenance_cv:
            while self._maintenance_pending > 0:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._maintenance_cv.wait(left)
        return True

    def _maybe_run_maintenance(self) -> None:
        """Post-seal best-effort compaction, cadence-gated like the
        reference's MaybeRunCatalogMaintenance (otlp_server.cpp:1273-1387):
        skipped entirely when a previous run is still in flight, and a
        failure never fails the seal."""
        if not self._maintenance_busy.acquire(blocking=False):
            return
        try:
            t0 = time.perf_counter()
            merged = 0
            for table in set(TARGET_TABLES.values()):
                if self.catalog is not None:
                    res = self.catalog.compact(
                        self.spark, table,
                        sort_cols=SORT_KEYS.get(table, ()),
                        bloom_cols=BLOOM_COLS.get(table, ()),
                        compression=self.compression)
                    merged += 1 if res["files_in"] else 0
                else:
                    merged += compact_table(
                        self.spark, self.export_root, table).partitions_compacted
            if self.catalog is not None:
                self.catalog.expire_snapshots()
                self.catalog.vacuum()
            with self._lock:
                self.maintenance_runs_total += 1
                self.maintenance_history.append({
                    "run": self.maintenance_runs_total,
                    "partitions_compacted": merged,
                    "duration_ms": round((time.perf_counter() - t0) * 1000, 3),
                    "unix_ms": int(time.time() * 1000),
                })
            self._log_event(f"maintenance: partitions_compacted={merged}")
        except Exception as e:  # noqa: BLE001 — best-effort, never fails the seal
            self._log_event(f"maintenance failed: {e}", "WARN")
        finally:
            self._maintenance_busy.release()

    def _write_table(self, df: DataFrame, table: str, batch_id: int,
                     base_ms: float = 0.0) -> None:
        """One Spark seal append: partitioned y/m/d zstd parquet, like
        the reference's COPY ... PARTITION_BY (year, month, day)
        (reference: otlp_server.cpp:112-129). ``base_ms`` is the
        table's share of the staging job, added to its ``append_ms``.

        The row count rides the write job as an Observation, so the
        write is ONE Spark action (a count-then-write would read the
        rows twice)."""
        ts = partition_ts(table)
        obs = Observation()
        out = (df
               .withColumn("year", F.date_format(F.col(ts), "yyyy"))
               .withColumn("month", F.date_format(F.col(ts), "MM"))
               .withColumn("day", F.date_format(F.col(ts), "dd"))
               .observe(obs, F.count(F.lit(1)).alias("rows")))
        t0 = time.perf_counter()
        try:
            (out.write.mode("append")
             .partitionBy("year", "month", "day")
             .option("compression", self.compression)
             # seal hot path: zstd level 1 (files stay zstd — the
             # format parity that matters); compaction later rewrites
             # at the codec default, so steady-state files re-compress
             .option("parquet.compression.codec.zstd.level", "1")
             .parquet(str(self.export_root / table)))
        except Exception as e:  # noqa: BLE001 — seal failures are recorded
            self._sealed([table], batch_id,
                         base_ms + (time.perf_counter() - t0) * 1000, error=e)
            raise
        self._sealed([table], batch_id,
                     base_ms + (time.perf_counter() - t0) * 1000,
                     {table: int(obs.get["rows"])})

    def _sealed(self, tables: list[str], batch_id: int, ms: float,
                rows: dict[str, int] | None = None,
                error: Exception | None = None) -> None:
        """Record and log the seal of ``tables`` after ``ms``: ok with
        ``rows`` (parquet sink), or failed with ``error``."""
        for table in tables:
            if error is None:
                self._record_seal(table, rows[table], batch_id, ms, "ok")
                self._log_event(f"parquet seal: table={table} "
                                f"rows={rows[table]} batch={batch_id}")
            else:
                self._record_seal(table, 0, batch_id, ms, "error", str(error))
                self._log_event(f"{self.sink} seal failed: table={table} "
                                f"batch={batch_id} error={error}", "WARN")

    def _seal_catalog(self, tables: list[str], parts, batch_id: int,
                      t0: float) -> None:
        """Catalog-mode seal: stage every table's data files first, then
        publish ONE snapshot — all-or-nothing across the whole seal,
        the reference's BEGIN..append per signal..COMMIT contract
        (reference: otlp_server.cpp:1176-1259). ``parts`` yields
        (table, frame) pairs and may name a table twice (its clean rows,
        then its refused lines' rows); all staged files land in the one
        commit. ``append_ms`` counts from ``t0``, the seal's start. A
        failure before commit leaves only unreferenced staged files
        (vacuumable), and the next seal replays the batch."""
        add: dict[str, list] = {}
        schemas: dict[str, str] = {}
        rows: dict[str, int] = dict.fromkeys(tables, 0)
        try:
            for table, df in parts:
                df = self._align_to_table(table, df)
                entries = self.catalog.stage_dataframe(
                    df, table,
                    sort_cols=SORT_KEYS.get(table, ()),
                    bloom_cols=BLOOM_COLS.get(table, ()),
                    compression=self.compression)
                add.setdefault(table, []).extend(entries)
                # the staged rows' read-back schema (every column
                # nullable), not the refused lines' flat_schema one
                schemas.setdefault(table, df.schema.json())
                rows[table] += sum(e.rows for e in entries)
            stage_ms = (time.perf_counter() - t0) * 1000
            t1 = time.perf_counter()
            self.catalog.commit(add=add, schemas=schemas)
            commit_ms = (time.perf_counter() - t1) * 1000
        except Exception as e:  # noqa: BLE001 — seal failures are recorded
            ms = (time.perf_counter() - t0) * 1000
            for table in tables:
                self._record_seal(table, 0, batch_id, ms, "error", str(e))
            self._log_event(f"seal failed: batch={batch_id} error={e}", "WARN")
            raise
        for table in tables:
            self._record_seal(table, rows[table], batch_id, stage_ms, "ok",
                              commit_ms=commit_ms)
        if self.iceberg is not None:
            try:
                for table in tables:
                    self.iceberg.export_table(table)
            except Exception as e:  # noqa: BLE001 — metadata mirror only:
                # the catalog commit already succeeded; losing one Iceberg
                # render is recoverable (next seal re-renders), a failed
                # seal is not
                self._log_event(f"iceberg export failed: {e}", "WARN")
        self._log_event(f"seal: catalog={self.export_root} "
                        f"rows={sum(rows.values())} batch={batch_id}")

    def _finish(self, signal: str, df: DataFrame) -> DataFrame:
        """Seal-time columns over a flat table: attribute promotion,
        then, for logs, the opt-in PII scrub and near-dup/contamination
        stamps — all map-only, in the write's own projection."""
        df = self._promote(df)
        if signal != "logs":
            return df
        if self.scrub_body_pii:
            from duckdb_otlp_spark.operators.text import pii_scrub
            df = df.withColumn("body", pii_scrub(F.col("body")))
        if self._near_dup_probe is not None:
            # literal regime: map-only InSet columns in the same
            # projection — no job of its own (pinned).
            # Ordering contract: the stamp runs AFTER the PII
            # scrub, so signatures are computed on the text that
            # actually lands in the corpus — build the band index
            # from scrubbed text for the keys to match
            df = self._near_dup_probe.stamp(df, text_col="body")
        if self._contamination_col is not None:
            # same projection, no job of its own (stamps the scrubbed
            # text, like the near-dup stamp above); the column was
            # precompiled once in __init__
            df = df.withColumn("contaminated", self._contamination_col)
        return df

    def _staged_frame(self, staging: Path, key: str) -> DataFrame:
        """Table ``key``'s flat rows staged under ``staging``: its
        ``flat_schema`` columns, without the staging tree's
        year/month/day partition columns."""
        schema = flat_decode.flat_schema(key)
        path = staging / TARGET_TABLES[key]
        path.mkdir(parents=True, exist_ok=True)   # no row staged: empty
        return (self.spark.read.schema(schema).parquet(str(path))
                .select(*schema.fieldNames()))

    def _spark_parts(self, signal: str, staging: Path, refused: int,
                     malformed, clean: bool):
        """(table, frame) pairs for Spark's writer out of a staged seal:
        with ``clean``, every table's staged rows through ``_finish``;
        then, when the staging job ``refused`` lines, their rows via the
        lax ``from_json`` parse (``envelopes_from_lines``) and
        ``flat_decode.flatten_parsed``, whose dropped lines the
        ``malformed`` Observation counts."""
        keys = flat_decode.SEAL_TABLES[signal]
        if clean:
            for key in keys:
                yield TARGET_TABLES[key], self._finish(
                    signal, self._staged_frame(staging, key))
        if not refused:
            return
        lines = (self.spark.read.option("lineSep", "\n")
                 .text(str(staging / "refused")))
        env = envelopes_from_lines(lines, signal, drop_observation=malformed)
        if len(keys) > 1:
            env = env.persist()
        try:
            for key in keys:
                yield TARGET_TABLES[key], self._finish(
                    signal, flat_decode.flatten_parsed(env, key))
        finally:
            if len(keys) > 1:
                env.unpersist()

    def _note_malformed(self, signal: str, malformed, batch_id: int) -> None:
        dropped = int(malformed.get["malformed"])
        if dropped:
            self.seal_malformed_total += dropped
            self._log_event(
                f"seal dropped {dropped} malformed {signal} line(s) "
                f"(accepted at edge, unparseable at seal) batch={batch_id}",
                "WARN")

    def _seal_slots(self) -> int:
        """The most tasks one seal runs at once.

        Edge co-location headroom: the accept workers are Python
        processes sharing this host with the executor threads (in local
        mode, and on any edge node running both roles). A seal that
        schedules one task per core starves them — measured: a seal
        overlapping the accept burst dragged acceptance from 1.4 s to
        10.9 s for the same 2M records, a 3-task reservation restored
        it. Reserving a few cores costs the seal <15% when uncontended
        and removes the collapse entirely. On a real cluster where
        receivers run on separate edge nodes, defaultParallelism counts
        executor cores (not the edge host), so the reservation is
        noise."""
        dp = self.spark.sparkContext.defaultParallelism
        return max(8, dp - 2 - 2 * self.receiver.accept_workers)

    def _stage(self, signal: str, sizes: dict[str, int], staging: str) -> dict:
        """The seal's one Spark job: the segments (path -> bytes) are
        bin-packed by size, largest first onto the lightest group, into
        at most one group per free slot, and each group is one Python
        task of ``flat_decode.seal_files`` writing under ``staging``.
        Packing on the driver balances the tasks (a file scan packs
        whole splits and ran a second wave behind one straggler), and
        parsing in place beats shuffling raw lines (a repartition was
        measured to DOUBLE the seal wall, 15.5 s vs 7.3 s for a 2M-row
        batch). Returns the tasks' merged ``{"files", "refused"}``."""
        from duckdb_otlp_spark.session import ensure_package_on_workers

        sc = self.spark.sparkContext
        n = min(sc.defaultParallelism, self._seal_slots(), len(sizes))
        groups: list[list[str]] = [[] for _ in range(n)]
        loads = [(0, i) for i in range(n)]
        for path in sorted(sizes, key=sizes.__getitem__, reverse=True):
            load, i = heapq.heappop(loads)
            groups[i].append(path)
            heapq.heappush(loads, (load + sizes[path], i))
        # files Spark rewrites are read back once: no codec to pay twice
        compression = "none" if self._spark_writes() else self.compression
        ensure_package_on_workers(self.spark)
        out = sc.parallelize(groups, n).mapPartitions(
            lambda part: [flat_decode.seal_files(g, signal, staging, compression)
                          for g in part]).collect()
        return {"files": [f for r in out for f in r["files"]],
                "refused": sum(r["refused"] for r in out)}

    def _publish(self, staging: Path, table: str, files: list[str]) -> None:
        """Rename one table's staged files into the export tree."""
        for rel in files:
            dest = self.export_root / table / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            (staging / table / rel).rename(dest)

    def _spark_writes(self) -> bool:
        """Whether a seal hands its staged rows to Spark's writer: the
        catalog sink's sorted + bloom layout and the seal-time columns
        of ``_finish`` need it; otherwise the staged files are the
        export's."""
        return bool(self.catalog is not None or self._promoted_fields()
                    or self.scrub_body_pii or self.flag_near_dups
                    or self._contamination_col is not None)

    def _seal_segments(self, signal: str, sizes: dict[str, int],
                       batch_id: int) -> None:
        """Seal one batch of spool segments: stage every table's flat
        parquet in one job, then either publish the staged files table
        by table (one ``otlp_seal_list`` row each, 0-row tables
        included; a table's ``append_ms`` is its row share of the job
        plus its own publish), or let Spark write them through
        ``_finish`` (one snapshot for the catalog sink). The refused
        lines follow through the lax ``from_json`` parse."""
        tables = [TARGET_TABLES[k] for k in flat_decode.SEAL_TABLES[signal]]
        unsealed = list(tables)
        staging = self.export_root / f".seal-{uuid.uuid4().hex}"
        malformed = Observation()
        t0 = time.perf_counter()
        try:
            staged = self._stage(signal, sizes, str(staging))
            job_ms = (time.perf_counter() - t0) * 1000
            files: dict[str, list[str]] = {t: [] for t in tables}
            rows = dict.fromkeys(tables, 0)
            for table, rel, n in staged["files"]:
                files[table].append(rel)
                rows[table] += n
            total = sum(rows.values())
            share = {t: job_ms * (rows[t] / total if total else 1 / len(tables))
                     for t in tables}
            spark_writes = self._spark_writes()
            parts = self._spark_parts(signal, staging, staged["refused"],
                                      malformed, clean=spark_writes)
            try:
                if self.catalog is not None:
                    unsealed = []      # the snapshot records every table
                    self._seal_catalog(tables, parts, batch_id, t0)
                else:
                    if not spark_writes:
                        for table in tables:
                            t1 = time.perf_counter()
                            self._publish(staging, table, files[table])
                            self._sealed([table], batch_id, share.pop(table)
                                         + (time.perf_counter() - t1) * 1000,
                                         rows)
                            unsealed.remove(table)
                    unsealed = []      # each write records its own outcome
                    for table, df in parts:
                        self._write_table(df, table, batch_id,
                                          share.pop(table, 0.0))
            finally:
                parts.close()
            if staged["refused"]:
                self._note_malformed(signal, malformed, batch_id)
        except Exception as e:  # noqa: BLE001 — seal failures are recorded
            self._sealed(unsealed, batch_id,
                         (time.perf_counter() - t0) * 1000, error=e)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    _WARM_SAMPLES = {
        "logs": ('{"resourceLogs":[{"scopeLogs":[{"logRecords":'
                 '[{"timeUnixNano":"1","body":{"stringValue":"w"}}]}]}]}'),
        "traces": ('{"resourceSpans":[{"scopeSpans":[{"spans":[{"traceId":"00",'
                   '"spanId":"00","name":"w","startTimeUnixNano":"1",'
                   '"endTimeUnixNano":"2"}]}]}]}'),
        "metrics": ('{"resourceMetrics":[{"scopeMetrics":[{"metrics":'
                    '[{"name":"w","gauge":{"dataPoints":[{"timeUnixNano":"1",'
                    '"asInt":"1"}]}}]}]}]}'),
    }

    def _warm_seal_plans(self) -> None:
        """Run each signal's seal once on a one-line sample before the
        listener opens: the first live seal then finds the Python
        workers started with the flattener imported, and, where Spark
        writes the seal, its read and parquet write paths initialized.
        Writes to a scratch dir, so no commit, no seal telemetry and no
        byte release."""
        import tempfile

        scratch = Path(tempfile.mkdtemp(prefix="otlp_warm_"))
        try:
            for signal, line in self._WARM_SAMPLES.items():
                seg = scratch / f"{signal}.jsonl"
                seg.write_text(line + "\n")
                stage = scratch / f"stage-{signal}"
                self._stage(signal, {str(seg): seg.stat().st_size}, str(stage))
                if self._spark_writes():
                    key = flat_decode.SEAL_TABLES[signal][0]
                    (self._finish(signal, self._staged_frame(stage, key))
                     .write.mode("append").option("compression", self.compression)
                     .parquet(str(scratch / key)))
        except Exception as e:  # noqa: BLE001 — warm-up is best-effort
            self._log_event(f"seal warm-up failed: {e}", "WARN")
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def start(self) -> None:
        self._ensure_target_tables()
        if self.flag_near_dups:
            from duckdb_otlp_spark.operators.dedup import load_band_index
            from duckdb_otlp_spark.streaming.operators import (
                LITERAL_MAX_KEYS, build_band_probe)
            self._near_dup_probe = build_band_probe(
                load_band_index(self.spark, self.flag_near_dups),
                literal_max_keys=(LITERAL_MAX_KEYS
                                  if self.near_dup_literal_max_keys is None
                                  else self.near_dup_literal_max_keys))
            self._log_event(
                f"near-dup flagging enabled: index={self.flag_near_dups} "
                f"regime={self._near_dup_probe.regime}")
        if self.warm_start:
            self._warm_seal_plans()
        self.receiver.start()
        if self.uri.port == 0:
            self.uri = OtlpUri(self.uri.scheme, self.uri.host,
                               self.receiver.port, self.uri.ipv6)
        for signal in _SIGNALS:
            sealer = threading.Thread(target=self._sealer, args=(signal,),
                                      name=f"otlp-seal-{signal}", daemon=True)
            sealer.start()
            self._sealers.append(sealer)
        self._log_event(f"listening: uri={self.uri.canonical} "
                        f"transport={self.receiver.transport} sink={self.sink}")

    def _sealer(self, signal: str) -> None:
        """Seal ``signal`` on wall-clock multiples of the seal age (the
        phase Spark's processing-time scheduling keeps, so a client can
        time its sends between seals); a seal that overruns its interval
        is followed at once by the next."""
        age = self.seal_max_age_ms / 1000
        while True:
            due = (time.time() // age + 1) * age
            try:
                self._seal(signal)
            except Exception as e:  # noqa: BLE001 — the next tick replays
                self._log_event(f"seal tick failed: signal={signal} "
                                f"error={e}", "WARN")
            if self._stopping.wait(max(0.0, due - time.time())):
                return

    def _seal(self, signal: str) -> None:
        """Seal every visible spool segment of ``signal`` once. Without
        segments it returns before any Spark job; otherwise it runs the
        seal body over exactly the listed segments and deletes them only
        after the writes and the catalog commit return. A failed seal
        leaves them in place, so the next tick or flush replays them
        under the same batch id — the analog of the reference restoring
        unsealed rows after a seal failure (reference:
        otlp_server.cpp:1389-1436): no spooled row is lost; the parquet
        sink's blind append stays at-least-once, the catalog sink's
        staged-then-commit stays all-or-nothing."""
        with self._seal_locks[signal]:
            segments = [str(p) for p in
                        (self.spool_dir / signal).glob("seg_*.jsonl")]
            if not segments:
                return
            # segments are immutable once visible, and admission reserved
            # exactly their bytes: releasing their sizes returns the
            # per-signal buffered gauges to zero
            sizes = {p: os.path.getsize(p) for p in segments}
            if signal in self._failed:
                with self._lock:
                    self.seal_restarts_total += 1
                self._log_event(f"seal revived after failure: "
                                f"signal={signal}", "WARN")
            self._failed.add(signal)
            self._seal_segments(signal, sizes, self._batch_ids[signal])
            self._failed.discard(signal)
            self._batch_ids[signal] += 1
            self.receiver.release_sealed(sum(sizes.values()), signal)
            for path in segments:
                Path(path).unlink(missing_ok=True)

    def _ready(self) -> bool:
        """Degrade /readyz when sealing stalls
        (reference: otlp_server.cpp:310-317)."""
        if self.seal_failures_total == 0 or self.receiver.buffered_bytes == 0:
            return True
        if self.last_seal_unix_ms is None:
            return False
        age = int(time.time() * 1000) - self.last_seal_unix_ms
        return age <= STALL_SEAL_CYCLES * self.seal_max_age_ms

    def flush(self) -> dict[str, Any]:
        """Synchronous seal of everything spooled (reference otlp_flush,
        otlp_start_stop.cpp:523-573; FlushNow, otlp_server.cpp:1438-1440):
        open segments rotate visible, then each signal seals now, the
        three concurrently. A signal's seal waits only for its own
        in-flight timer seal; the first seal error is re-raised."""
        before = self.sealed_rows_total
        with self._rotate_lock:  # partial spool segments become sealable
            self.receiver.rotate_all()
        with ThreadPoolExecutor(len(_SIGNALS)) as pool:
            list(pool.map(self._seal, _SIGNALS))
        # flush is the sync point: its seals may have kicked off async
        # compaction — callers that flush-then-read must see its result,
        # not race it
        self._wait_maintenance_idle()
        return {"status": "ok", "sealed_rows": self.sealed_rows_total - before,
                "seals_total": self._seal_seq, "error": None}

    def stop(self, drain: bool = True) -> dict[str, Any]:
        """Stop listener, drain spool (3 attempts), report dropped rows
        (reference otlp_stop, otlp_start_stop.cpp:304-346)."""
        self.receiver.stop()
        self._stopping.set()
        for sealer in self._sealers:
            sealer.join()
        if drain:
            for _ in range(3):
                try:
                    self.flush()
                    break
                except Exception:  # noqa: BLE001 — retry the drain
                    continue
        dropped = self.receiver.buffered_bytes
        self._log_event(f"stopped: dropped_bytes={dropped}",
                        "WARN" if dropped else "INFO")
        if self._near_dup_probe is not None:
            try:
                self._near_dup_probe.unpersist()
            except Exception:  # noqa: BLE001 — JVM may already be gone at exit
                pass
        return {"status": "ok", "dropped_bytes": dropped}

    def read_table(self, table: str, **prune) -> DataFrame:
        """Query a sealed table — the analog of the reference's lazily
        created read_parquet inspection view (otlp_server.cpp:1050-1053).
        Catalog mode plans from the snapshot manifest (and accepts its
        pruning kwargs: snapshot_id / time_range / equals); parquet mode
        reads the partitioned export tree."""
        if self.catalog is not None:
            return self.catalog.read_table(self.spark, table, **prune)
        if prune:
            raise ValueError("pruning kwargs require sink='catalog'")
        return self.spark.read.parquet(str(self.export_root / table))

    # -- status tables --
    def server_row(self) -> dict[str, Any]:
        st = self.receiver.stats
        buf = self.receiver.buffered_bytes_by_signal()
        return {
            "uri": self.uri.canonical,
            "url": self.uri.url,
            "transport": (f"otap/{self.receiver.transport}"
                          if self.receiver.formats == "otap"
                          else self.receiver.transport),
            "sink": self.sink,
            "accept_workers": self.receiver.accept_workers,
            "buffered_bytes": self.receiver.buffered_bytes,
            "logs_buffered_bytes": buf["logs"],
            "traces_buffered_bytes": buf["traces"],
            "metrics_buffered_bytes": buf["metrics"],
            "admitted_bytes_total": st.admitted_bytes_total,
            "logs_admitted_bytes": st.per_signal_admitted_bytes["logs"],
            "traces_admitted_bytes": st.per_signal_admitted_bytes["traces"],
            "metrics_admitted_bytes": st.per_signal_admitted_bytes["metrics"],
            "ingress_ewma_bytes_per_sec": round(self._update_ewma(), 1),
            "requests_total": st.requests_total,
            "accepted_requests": st.accepted_requests,
            "rejected_auth": st.rejected_auth,
            "rejected_413": st.rejected_413,
            "rejected_415": st.rejected_415,
            "rejected_503": st.rejected_503,
            "skipped_summary_points": st.skipped_summary_points,
            "skipped_nan_points": st.skipped_nan_points,
            "seal_malformed_lines": self.seal_malformed_total,
            "logs_requests": st.per_signal_requests["logs"],
            "traces_requests": st.per_signal_requests["traces"],
            "metrics_requests": st.per_signal_requests["metrics"],
            "seals_total": self._seal_seq,
            "seal_failures_total": self.seal_failures_total,
            "seal_restarts_total": self.seal_restarts_total,
            "sealed_rows_total": self.sealed_rows_total,
            "last_seal_unix_ms": self.last_seal_unix_ms,
            "maintenance_runs_total": self.maintenance_runs_total,
            "ready": self._ready(),
        }


# ---------------------------------------------------------------------------
# Registry surface (reference: src/otlp_storage.cpp:33-162)
# ---------------------------------------------------------------------------

_SERVERS: dict[str, OtlpSparkServer] = {}
_REG_LOCK = threading.Lock()

# explicit schema: server_row() has nullable fields (last_seal_unix_ms)
_SERVER_ROW_SCHEMA = (
    "uri string, url string, transport string, sink string, "
    "accept_workers long, buffered_bytes long, logs_buffered_bytes long, "
    "traces_buffered_bytes long, metrics_buffered_bytes long, "
    "admitted_bytes_total long, logs_admitted_bytes long, "
    "traces_admitted_bytes long, metrics_admitted_bytes long, "
    "ingress_ewma_bytes_per_sec double, "
    "requests_total long, accepted_requests long, "
    "rejected_auth long, rejected_413 long, rejected_415 long, "
    "rejected_503 long, skipped_summary_points long, skipped_nan_points long, "
    "seal_malformed_lines long, "
    "logs_requests long, traces_requests long, "
    "metrics_requests long, seals_total long, seal_failures_total long, "
    "seal_restarts_total long, sealed_rows_total long, last_seal_unix_ms long, "
    "maintenance_runs_total long, ready boolean")


def _status_frame(spark: SparkSession, rows: list[dict[str, Any]],
                  schema: str) -> DataFrame:
    """A status table in its declared column order, as a local relation
    built from an Arrow table: its ``collect`` runs no Spark job (a
    Python list plans an RDD scan, one job per collect)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema)
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(struct)), schema=struct)


def otlp_serve(spark: SparkSession, uri: str, **params) -> DataFrame:
    """Start a listener; one row back, like the reference's table function
    (reference: otlp_start_stop.cpp:41-298). Duplicate URIs are rejected."""
    server = OtlpSparkServer(spark, uri, **params)
    key = server.uri.canonical
    with _REG_LOCK:
        if key in _SERVERS:
            raise ValueError(f"listener already registered for {key}")
        _SERVERS[key] = server
    try:
        server.start()
    except Exception:
        with _REG_LOCK:
            _SERVERS.pop(key, None)
        raise
    if server.uri.canonical != key:  # port 0 resolved to the bound port
        with _REG_LOCK:
            _SERVERS[server.uri.canonical] = _SERVERS.pop(key)
    return _status_frame(spark, [server.server_row()], _SERVER_ROW_SCHEMA)


def _get(uri: str) -> OtlpSparkServer:
    key = parse_otlp_uri(uri).canonical
    with _REG_LOCK:
        if key not in _SERVERS:
            raise ValueError(f"no listener registered for {key}")
        return _SERVERS[key]


def otlp_flush(spark: SparkSession, uri: str) -> DataFrame:
    """(status, sealed_rows, seals_total, error), the reference's row
    (otlp_start_stop.cpp:523-573); a failed seal raises."""
    return _status_frame(spark, [_get(uri).flush()], (
        "status string, sealed_rows long, seals_total long, error string"))


def otlp_maintenance(spark: SparkSession, uri: str) -> DataFrame:
    """Force a synchronous maintenance pass (compaction) for a listener's
    export tree — the manual analog of the post-seal cadence run."""
    server = _get(uri)
    server._maybe_run_maintenance()
    with server._lock:
        rows = list(server.maintenance_history) or \
            [{"run": 0, "partitions_compacted": 0, "duration_ms": 0.0, "unix_ms": 0}]
    return _status_frame(spark, rows, (
        "run long, partitions_compacted long, duration_ms double, unix_ms long"))


def otlp_stop(spark: SparkSession, uri: str, drain: bool = True) -> DataFrame:
    server = _get(uri)
    result = server.stop(drain=drain)
    with _REG_LOCK:
        _SERVERS.pop(server.uri.canonical, None)
    return _status_frame(spark, [result], "status string, dropped_bytes long")


def otlp_server_list(spark: SparkSession) -> DataFrame:
    with _REG_LOCK:
        rows = [s.server_row() for s in _SERVERS.values()]
    return _status_frame(spark, rows, _SERVER_ROW_SCHEMA)


def otlp_server_log(spark: SparkSession, uri: str) -> DataFrame:
    """The listener's observability log channel — the analog of querying
    duckdb_logs for the reference's duckdb_otlp log type
    (reference: otlp_server.cpp:369-378, serve.md:347)."""
    server = _get(uri)
    with server._lock:
        rows = list(server.server_log)
    return _status_frame(spark, rows, "unix_ms long, level string, message string")


def otlp_seal_list(spark: SparkSession, uri: str) -> DataFrame:
    server = _get(uri)
    with server._lock:
        rows = [vars(e).copy() for e in server.seal_history]
    return _status_frame(spark, rows, (
        "seal_sequence long, table string, rows long, batch_id long, "
        "append_ms double, commit_ms double, status string, error string, "
        "unix_ms long"))
