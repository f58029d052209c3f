"""Seal-failure fault injection: kill a seal mid-commit and prove the
durability contracts hold — the analog of the reference's seal harness
(reference: test/cpp/test_seal_harness.cpp, otlp_server.cpp:1389-1436):

- no spooled row is lost: a failed seal leaves its spool segments in
  place, and the next seal (a tick or a flush) replays them;
- catalog sink stays ALL-OR-NOTHING: a failure before commit leaves
  only unreferenced staged files, so after recovery every row is
  visible exactly once;
- parquet sink stays AT-LEAST-ONCE: a failure after a blind append may
  duplicate rows on replay, but never lose or reorder them.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import functions as F

from duckdb_otlp_spark.streaming import otlp_serve, otlp_server_list, otlp_stop
from duckdb_otlp_spark.streaming.server import _get
from tests.fixtures import LOGS_SIMPLE


def _post_log(url, env):
    req = urllib.request.Request(
        url + "/v1/logs", data=json.dumps(env).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.status


def _drain_with_retries(srv, attempts=4):
    for _ in range(attempts):
        try:
            srv.flush()
            return
        except Exception:  # noqa: BLE001 — injected failure; retry revives
            continue
    srv.flush()


def test_catalog_commit_failure_no_loss_no_dupes(spark, tmp_path):
    info = otlp_serve(spark, "otlp://127.0.0.1:0", work_dir=str(tmp_path / "w"),
                      export_root=str(tmp_path / "cat"), disable_auth=True,
                      seal_max_age_ms=60_000, sink="catalog",
                      warm_start=False).collect()[0]
    srv = _get(info["uri"])
    try:
        orig = srv.catalog.commit
        state = {"failed": 0}

        def flaky(**kw):
            if state["failed"] == 0:
                state["failed"] += 1
                raise RuntimeError("injected commit failure")
            return orig(**kw)

        srv.catalog.commit = flaky
        for env in LOGS_SIMPLE:
            assert _post_log(srv.uri.url, env) == 202
        _drain_with_retries(srv)
        assert state["failed"] == 1, "injection never fired"

        logs = srv.read_table("otlp_logs")
        # all-or-nothing: every row exactly once after recovery
        assert logs.count() == 3
        assert logs.select("body").distinct().count() == 3
        # telemetry recorded the failed seal AND the revival
        assert srv.seal_failures_total >= 1
        assert srv.seal_restarts_total >= 1
        row = otlp_server_list(spark).filter(
            F.col("uri") == info["uri"]).collect()[0]
        assert row["seal_restarts_total"] >= 1
        # the failed seal's staged files are unreferenced, not visible,
        # and reclaimable
        srv.catalog.vacuum(grace_seconds=0)
        assert srv.read_table("otlp_logs").count() == 3
    finally:
        otlp_stop(spark, info["uri"], drain=False)


def test_server_log_channel_records_events(spark, tmp_path):
    """A31: server lifecycle/seal events land in the queryable
    observability log channel (reference: duckdb_otlp log type ->
    duckdb_logs, otlp_server.cpp:369-378); a failed seal logs WARN."""
    from duckdb_otlp_spark.streaming import otlp_server_log

    info = otlp_serve(spark, "otlp://127.0.0.1:0", work_dir=str(tmp_path / "w"),
                      export_root=str(tmp_path / "exp"), disable_auth=True,
                      seal_max_age_ms=60_000, warm_start=False).collect()[0]
    srv = _get(info["uri"])
    try:
        # a regular file squatting on the table path makes the first
        # seal's parquet append fail (real failure, so the WARN log
        # entry comes from the production path)
        blocker = tmp_path / "exp" / "otlp_logs"
        blocker.write_text("not a directory")
        assert _post_log(srv.uri.url, LOGS_SIMPLE[0]) == 202
        try:
            srv.flush()
        except Exception:  # noqa: BLE001 — expected injected failure
            pass
        blocker.unlink()
        _drain_with_retries(srv)
        log = otlp_server_log(spark, info["uri"]).collect()
        msgs = [(r["level"], r["message"]) for r in log]
        assert any(lvl == "INFO" and m.startswith("listening:")
                   for lvl, m in msgs)
        assert any(lvl == "WARN" and "seal failed" in m for lvl, m in msgs)
        assert any(lvl == "WARN" and "revived" in m for lvl, m in msgs)
        assert any(lvl == "INFO" and m.startswith("parquet seal:")
                   for lvl, m in msgs)
    finally:
        otlp_stop(spark, info["uri"], drain=False)


def test_parquet_write_failure_at_least_once(spark, tmp_path):
    """Failure injected AFTER the blind append (mid-commit: a table's
    staged files were published, the spool segments were not deleted) —
    the replay may duplicate, must not lose."""
    info = otlp_serve(spark, "otlp://127.0.0.1:0", work_dir=str(tmp_path / "w"),
                      export_root=str(tmp_path / "exp"), disable_auth=True,
                      seal_max_age_ms=60_000, warm_start=False).collect()[0]
    srv = _get(info["uri"])
    try:
        orig = srv._publish
        state = {"failed": 0}

        def flaky(staging, table, files):
            orig(staging, table, files)
            if state["failed"] == 0:
                state["failed"] += 1
                raise RuntimeError("injected post-append failure")

        srv._publish = flaky
        for env in LOGS_SIMPLE:
            assert _post_log(srv.uri.url, env) == 202
        _drain_with_retries(srv)
        assert state["failed"] == 1, "injection never fired"

        logs = spark.read.parquet(str(srv.export_root / "otlp_logs"))
        bodies = [r["body"] for r in logs.select("body").collect()]
        # at-least-once: nothing lost...
        assert set(bodies) == {"Application started", "High memory usage",
                               "Connection refused"}
        assert len(bodies) >= 3  # ...duplicates permitted by contract
        assert srv.seal_restarts_total >= 1
    finally:
        otlp_stop(spark, info["uri"], drain=False)
