"""Golden tests for the OTLP/JSON readers, mirroring the reference's
sqllogictests (reference: test/sql/read_otlp_json.test,
test/sql/read_otlp_edge_cases.test, test/sql/read_otlp_metrics_*.test).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from duckdb_otlp_spark import (
    LOGS_SCHEMA,
    METRICS_EXP_HISTOGRAM_SCHEMA,
    METRICS_GAUGE_SCHEMA,
    METRICS_HISTOGRAM_SCHEMA,
    METRICS_SUM_SCHEMA,
    TRACES_SCHEMA,
    read_otlp_logs,
    read_otlp_metrics,
    read_otlp_metrics_exp_histogram,
    read_otlp_metrics_gauge,
    read_otlp_metrics_histogram,
    read_otlp_metrics_sum,
    read_otlp_metrics_summary,
    read_otlp_traces,
)


# --- schema contracts (reference: read_otlp_json.test:23-33, schemas.md) ---

def test_schema_column_counts():
    assert len(LOGS_SCHEMA) == 18
    assert len(TRACES_SCHEMA) == 24
    assert len(METRICS_GAUGE_SCHEMA) == 17
    assert len(METRICS_SUM_SCHEMA) == 19
    assert len(METRICS_HISTOGRAM_SCHEMA) == 22
    assert len(METRICS_EXP_HISTOGRAM_SCHEMA) == 27


def test_reader_schemas_match_contract(spark, otlp_fixtures):
    cases = [
        (read_otlp_logs(spark, str(otlp_fixtures["logs_simple.jsonl"])), LOGS_SCHEMA),
        (read_otlp_traces(spark, str(otlp_fixtures["traces_simple.jsonl"])), TRACES_SCHEMA),
        (read_otlp_metrics_gauge(spark, str(otlp_fixtures["metrics_simple.jsonl"])),
         METRICS_GAUGE_SCHEMA),
        (read_otlp_metrics_sum(spark, str(otlp_fixtures["metrics_simple.jsonl"])),
         METRICS_SUM_SCHEMA),
        (read_otlp_metrics_histogram(spark, str(otlp_fixtures["metrics_simple.jsonl"])),
         METRICS_HISTOGRAM_SCHEMA),
        (read_otlp_metrics_exp_histogram(spark, str(otlp_fixtures["metrics_all_types.jsonl"])),
         METRICS_EXP_HISTOGRAM_SCHEMA),
    ]
    for df, expected in cases:
        # nullability is advisory in Spark; compare names + types + order
        got = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in expected.fields]
        assert got == want, f"schema mismatch:\n{got}\n!=\n{want}"


# --- logs (reference: read_otlp_json.test:75-123) ---

def test_logs_simple(spark, otlp_fixtures):
    df = read_otlp_logs(spark, str(otlp_fixtures["logs_simple.jsonl"]))
    rows = df.orderBy("time_unix_nano").collect()
    assert len(rows) == 3
    assert rows[0]["service_name"] == "test-service"
    assert rows[0]["severity_text"] == "INFO"
    assert rows[0]["body"] == "Application started"
    # ids are lowercased hex (reference: src/otlp_arrow.cpp:368-403)
    assert rows[0]["trace_id"] == "5b8efff798038103d269b633813fc60c"
    assert rows[0]["span_id"] == "eee19b7ec3c1b174"
    assert rows[0]["time_unix_nano"] == datetime.datetime(2021, 12, 20, 11, 33, 20)
    assert {r["severity_text"] for r in rows} == {"INFO", "WARN", "ERROR"}
    # attribute JSON is queryable with get_json_object
    svc = df.select(F.get_json_object("resource_attributes", "$['service.name']").alias("s")) \
            .distinct().collect()
    assert [r["s"] for r in svc] == ["test-service"]


def test_logs_document_multiline(spark, otlp_fixtures):
    df = read_otlp_logs(spark, str(otlp_fixtures["logs_document.json"]))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["service_name"] == "my.service"
    assert rows[0]["body"] == "Example log record"


def test_logs_nulls(spark, otlp_fixtures):
    df = read_otlp_logs(spark, str(otlp_fixtures["logs_nulls.jsonl"]))
    assert df.count() == 3
    assert df.filter(F.col("trace_id").isNull() & F.col("span_id").isNull()).count() == 3
    # severity 0 (unspecified) -> NULL (reference: read_otlp_edge_cases.test:42-48)
    assert df.filter(F.col("severity_number").isNull()).count() == 1
    assert df.filter(F.col("body").isNull()).count() == 1


# --- traces (reference: read_otlp_json.test:14-60, read_otlp_edge_cases.test) ---

def test_traces_simple(spark, otlp_fixtures):
    df = read_otlp_traces(spark, str(otlp_fixtures["traces_simple.jsonl"]))
    assert df.count() == 3
    assert df.filter(F.col("name").like("%users%")).count() == 2
    assert df.filter(F.col("duration_time_unix_nano") > 0).count() == 3
    row = df.filter(F.col("name") == "GET /users").collect()[0]
    assert row["duration_time_unix_nano"] == 100_000_000
    assert row["service_name"] == "test-service"
    assert row["kind"] == 2
    assert row["status_code"] == 0


def test_traces_nulls(spark, otlp_fixtures):
    df = read_otlp_traces(spark, str(otlp_fixtures["traces_nulls.jsonl"]))
    assert df.count() == 3
    # empty-string parent id -> NULL; missing scope -> NULL
    assert df.filter(F.col("parent_span_id").isNull()).count() == 3
    assert df.filter(F.col("scope_name").isNull()).count() == 3
    assert df.filter(F.col("duration_time_unix_nano") == 0).count() == 3


def test_single_trace(spark, otlp_fixtures):
    rows = read_otlp_traces(spark, str(otlp_fixtures["single_trace.jsonl"])) \
        .select("trace_id", "name").collect()
    assert len(rows) == 1
    assert rows[0]["trace_id"] == "00000000000000000000000000000001"
    assert rows[0]["name"] == "single_span"


def test_traces_events_links_json(spark, otlp_fixtures):
    df = read_otlp_traces(spark, str(otlp_fixtures["traces_simple.jsonl"]))
    row = df.filter(F.col("name") == "cache lookup").collect()[0]
    assert '"name":"cache.miss"' in row["events_json"]
    assert '"cache.key":"users:42"' in row["events_json"]
    assert "5b8efff798038103d269b633813fc60d" in row["links_json"]
    # valid JSON arrays
    parsed = df.select(F.json_array_length("events_json").alias("n")).collect()
    assert all(r["n"] is not None for r in parsed)


# --- metrics (reference: read_otlp_json.test:125-175, metrics tests) ---

def test_gauge_value(spark, otlp_fixtures):
    df = read_otlp_metrics_gauge(spark, str(otlp_fixtures["metrics_simple.jsonl"]))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["int_value"] is None
    assert int(rows[0]["double_value"]) == 524288000
    assert rows[0]["name"] == "system.memory.usage"


def test_sum_value(spark, otlp_fixtures):
    df = read_otlp_metrics_sum(spark, str(otlp_fixtures["metrics_simple.jsonl"]))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["int_value"] == 42
    assert rows[0]["double_value"] is None
    assert rows[0]["is_monotonic"] is True
    assert rows[0]["aggregation_temporality"] == 2


def test_histogram_arrays(spark, otlp_fixtures):
    df = read_otlp_metrics_histogram(spark, str(otlp_fixtures["metrics_all_types.jsonl"]))
    row = df.filter(F.col("name") == "latency.hist").collect()[0]
    # reference: read_otlp_metrics_histogram.test:47-56
    assert row["bucket_counts"] == [5, 10, 15, 12, 8]
    assert row["explicit_bounds"] == [5.0, 10.0, 20.0, 50.0]
    assert row["count"] == 50
    assert row["sum"] == 250.0
    assert len(row["bucket_counts"]) == len(row["explicit_bounds"]) + 1


def test_exp_histogram(spark, otlp_fixtures):
    df = read_otlp_metrics_exp_histogram(spark, str(otlp_fixtures["metrics_all_types.jsonl"]))
    row = df.collect()[0]
    # reference: read_otlp_metrics_exp_histogram.test:14-52
    assert row["scale"] == 3
    assert row["count"] == 12
    assert row["zero_count"] == 1
    assert row["min"] == 1.0
    assert row["max"] == 9.5
    assert row["positive_offset"] == 2
    assert row["positive_bucket_counts"] == [3, 4, 2]
    assert row["negative_offset"] == -1
    assert row["negative_bucket_counts"] == [1, 1]


def test_summary_only_returns_zero_rows(spark, otlp_fixtures):
    p = str(otlp_fixtures["metrics_summary_only.jsonl"])
    # reference: test/sql/read_otlp_metrics_summary.test — typed readers skip summary
    assert read_otlp_metrics_gauge(spark, p).count() == 0
    assert read_otlp_metrics_sum(spark, p).count() == 0
    assert read_otlp_metrics_histogram(spark, p).count() == 0
    assert read_otlp_metrics_exp_histogram(spark, p).count() == 0


def test_metrics_attrs_needing_escapes_render_valid_json(spark, tmp_path):
    """Resource, scope and point attribute values that need JSON escapes
    render as valid JSON objects in the metrics tables too."""
    import json

    def attrs(key, value):
        return [{"key": key, "value": {"stringValue": value}}]

    env = {"resourceMetrics": [{
        "resource": {"attributes": attrs("service.name", "m\tsvc")},
        "scopeMetrics": [{"scope": {"name": "s", "attributes": attrs("k", 'a"b')},
                          "metrics": [{"name": "g", "gauge": {"dataPoints": [
                              {"timeUnixNano": "1", "asDouble": 1.0,
                               "attributes": attrs("p", "x\ny")}]}}]}]}]}
    p = tmp_path / "escapes.jsonl"
    p.write_text(json.dumps(env) + "\n")
    for mode in ("auto", "lines"):
        row = read_otlp_metrics_gauge(spark, str(p), mode=mode).collect()[0]
        assert json.loads(row["resource_attributes"]) == {"service.name": "m\tsvc"}
        assert json.loads(row["scope_attributes"]) == {"k": 'a"b'}
        assert json.loads(row["metric_attributes"]) == {"p": "x\ny"}


def test_temporality_enum_strings(spark, otlp_fixtures):
    df = read_otlp_metrics_sum(spark, str(otlp_fixtures["metrics_temporality_strings.jsonl"]))
    row = df.collect()[0]
    assert row["aggregation_temporality"] == 1
    assert row["is_monotonic"] is False


def test_metrics_placeholders_raise(spark, otlp_fixtures):
    # reference: src/function/read_otlp.cpp:160-175 — placeholders throw at bind
    with pytest.raises(NotImplementedError):
        read_otlp_metrics(spark, str(otlp_fixtures["metrics_simple.jsonl"]))
    with pytest.raises(NotImplementedError):
        read_otlp_metrics_summary(spark, str(otlp_fixtures["metrics_simple.jsonl"]))


def test_unknown_read_mode_raises(spark, otlp_fixtures):
    """``mode`` is one of auto/protobuf/lines; anything else raises
    instead of silently picking a route."""
    from duckdb_otlp_spark.sources.otlp_json import READERS
    for reader in READERS.values():
        with pytest.raises(ValueError, match="unknown read mode 'json'"):
            reader(spark, str(otlp_fixtures["logs_simple.jsonl"]), mode="json")


# --- error contracts (reference: read_otlp_edge_cases.test:55-66,
#     read_otlp_malformed.test, read_otlp_timestamp_overflow.test,
#     read_otlp_multifile_glob.test) ---

def test_empty_file_zero_rows(spark, otlp_fixtures):
    assert read_otlp_traces(spark, str(otlp_fixtures["empty.jsonl"])).count() == 0
    assert read_otlp_logs(spark, str(otlp_fixtures["empty.jsonl"])).count() == 0


def test_whitespace_file_errors(spark, otlp_fixtures):
    with pytest.raises(Exception, match="whitespace"):
        read_otlp_traces(spark, str(otlp_fixtures["whitespace.jsonl"])).count()


def test_malformed_errors_all_readers(spark, otlp_fixtures):
    p = str(otlp_fixtures["malformed.jsonl"])
    for reader in (read_otlp_logs, read_otlp_traces, read_otlp_metrics_gauge):
        with pytest.raises(Exception, match="OTLP parse error"):
            reader(spark, p).count()


def test_wrong_signal_errors(spark, otlp_fixtures):
    with pytest.raises(Exception, match="resourceSpans"):
        read_otlp_traces(spark, str(otlp_fixtures["logs_simple.jsonl"])).count()
    with pytest.raises(Exception, match="resourceMetrics"):
        read_otlp_metrics_gauge(spark, str(otlp_fixtures["logs_simple.jsonl"])).count()


@pytest.mark.parametrize("bad_line,err_class,modes", [
    ('{"resourceLogs": 5}', "expected 'resourceLogs' envelope",
     ("auto", "lines")),
    # a top-level array doesn't sniff as OTLP JSON (no leading '{'), so
    # mode='auto' correctly routes it to the protobuf decoder instead —
    # only the explicit JSON mode sees it as JSON
    ('[1, 2, 3]', "expected 'resourceLogs' envelope", ("lines",)),
    ('{"resourceLogs": [', "invalid JSON", ("auto", "lines")),
])
def test_error_class_agrees_across_read_modes(spark, tmp_path, bad_line,
                                              err_class, modes):
    """A valid-JSON line with a wrong-shaped envelope must classify as an
    envelope error (not 'invalid JSON') in EVERY read mode: the corrupt
    capture of the single-parse path fires on any conversion failure, so
    it has to re-check JSON validity before picking the error class."""
    p = tmp_path / "bad.jsonl"
    p.write_text(bad_line + "\n")
    for mode in modes:
        with pytest.raises(Exception, match=err_class):
            read_otlp_logs(spark, str(p), mode=mode).count()


def test_partially_corrupt_envelope_agrees_across_read_modes(spark, tmp_path):
    """A present-but-internally-type-mismatched envelope behaves the same
    in the whole-file and the line-split paths: the field is non-null,
    so no error class fires and rows flow (with null insides), exactly
    as PERMISSIVE from_json does."""
    line = ('{"resourceLogs": [{"scopeLogs": [{"logRecords": '
            '[{"timeUnixNano": "1000", "severityNumber": {"oops": 1}}]}]}]}')
    p = tmp_path / "semi.jsonl"
    p.write_text(line + "\n")
    counts = {mode: read_otlp_logs(spark, str(p), mode=mode).count()
              for mode in ("auto", "lines")}
    assert len(set(counts.values())) == 1, counts
    # by value: one row, the mistyped field NULL, the rest kept — in
    # both read modes and in a seal
    kept = datetime.datetime(1970, 1, 1, 0, 0, 0, 1)
    reads = {mode: read_otlp_logs(spark, str(p), mode=mode)
             for mode in ("auto", "lines")}
    reads["seal"] = _sealed_logs(spark, tmp_path / "srv", [line])
    for name, df in reads.items():
        rows = df.select("time_unix_nano", "severity_number").collect()
        assert [tuple(r) for r in rows] == [(kept, None)], name


def _sealed_logs(spark, work, lines):
    """``lines`` spooled to an unstarted server and sealed: the sealed
    logs table."""
    from duckdb_otlp_spark.streaming.server import OtlpSparkServer

    srv = OtlpSparkServer(spark, "otlp://127.0.0.1:0", work_dir=str(work),
                          disable_auth=True, warm_start=False)
    srv._ensure_target_tables()
    seg = srv.spool_dir / "logs" / "seg_test.jsonl"
    seg.parent.mkdir(parents=True, exist_ok=True)
    seg.write_text("".join(ln + "\n" for ln in lines))
    srv._seal("logs")
    return srv.read_table("otlp_logs")


_HUGE = "1" * 5000   # past int()'s 4,300-digit limit for str -> int


def test_integer_text_past_the_digit_limit(spark, tmp_path):
    """A 5,000-digit intValue renders as quoted text and a 5,000-digit
    timestamp raises the overflow error, in both read modes, through
    format("otlp") and in a seal — never int()'s digit-limit error."""
    from duckdb_otlp_spark.sources.datasource import register

    register(spark)
    line = ('{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"timeUnixNano": '
            '"1000", "attributes": [{"key": "n", "value": {"intValue": "%s"}}]}]}]}]}'
            % _HUGE)
    bad = '{"resourceLogs": [{"scopeLogs": [{"logRecords": [{"timeUnixNano": "%s"}]}]}]}' \
        % _HUGE
    p = tmp_path / "ok" / "huge.jsonl"
    q = tmp_path / "bad" / "huge.jsonl"
    for f, text in ((p, line), (q, bad)):
        f.parent.mkdir()
        f.write_text(text + "\n")

    def fmt(path):
        return spark.read.format("otlp").option("signal", "logs").load(str(path))

    reads = {"auto": lambda f: read_otlp_logs(spark, str(f)),
             "lines": lambda f: read_otlp_logs(spark, str(f), mode="lines"),
             "format": fmt}
    for name, read in reads.items():
        attrs = [r[0] for r in read(p).select("log_attributes").collect()]
        assert attrs == ['{"n":"%s"}' % _HUGE], name
        with pytest.raises(Exception, match="timestamp overflows int64 range"):
            read(q).collect()
    sealed = _sealed_logs(spark, tmp_path / "srv", [line])
    assert [r[0] for r in sealed.select("log_attributes").collect()] == \
        ['{"n":"%s"}' % _HUGE]
    with pytest.raises(Exception, match="timestamp overflows int64 range"):
        _sealed_logs(spark, tmp_path / "srv-bad", [bad])


@pytest.mark.parametrize("mode", ["auto", "lines"])
@pytest.mark.parametrize("reader", [
    read_otlp_logs, read_otlp_traces, read_otlp_metrics_gauge,
    read_otlp_metrics_sum, read_otlp_metrics_histogram,
    read_otlp_metrics_exp_histogram], ids=lambda r: r.__name__)
def test_json_reader_plan_is_from_json_and_one_flatten(spark, otlp_fixtures,
                                                       reader, mode):
    """Every JSON read parses with from_json and flattens in MapInArrow:
    no JVM explode."""
    df = reader(spark, str(otlp_fixtures["logs_simple.jsonl"]), mode=mode)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "from_json" in plan
    assert "MapInArrow" in plan
    assert "Generate" not in plan


def test_ts_boundary_parses(spark, otlp_fixtures):
    row = read_otlp_logs(spark, str(otlp_fixtures["ts_boundary_logs.jsonl"])).collect()[0]
    # i64::MAX-adjacent ns renders at µs precision
    # (reference: read_otlp_timestamp_overflow.test boundary case)
    assert row["time_unix_nano"] == datetime.datetime(2262, 4, 11, 23, 47, 16, 854775)


def test_ts_overflow_errors(spark, otlp_fixtures):
    with pytest.raises(Exception, match="overflow"):
        read_otlp_logs(spark, str(otlp_fixtures["ts_overflow_logs.jsonl"])).count()


def test_glob_multifile_fails_on_any_bad_file(spark, otlp_fixtures):
    root = otlp_fixtures["multifile_valid_traces.jsonl"].parent
    ok = read_otlp_traces(spark, str(root / "multifile_valid_traces.jsonl"))
    assert ok.count() == 1
    with pytest.raises(Exception, match="OTLP parse error"):
        read_otlp_traces(spark, str(root / "multifile_*_traces.jsonl")).count()


def test_glob_no_match_errors(spark, otlp_fixtures):
    root = otlp_fixtures["logs_simple.jsonl"].parent
    with pytest.raises(Exception):
        read_otlp_logs(spark, str(root / "does_not_exist_*.jsonl")).count()


def test_join_logs_traces_on_ids(spark, otlp_fixtures):
    """logs ⋈ traces inner equi-join
    (reference: test/sql/read_otlp_concurrent.test:52-57)."""
    logs = read_otlp_logs(spark, str(otlp_fixtures["logs_simple.jsonl"]))
    traces = read_otlp_traces(spark, str(otlp_fixtures["traces_simple.jsonl"]))
    joined = logs.join(traces, "trace_id", "inner")
    # 2 logs share the trace with 3 spans -> 6 rows
    assert joined.count() == 6


# --- Hadoop-FS URI scheme path (the s3a/abfs/gs claim rests on this same
#     FileSystem API; `file:` is the in-container scheme that exercises it:
#     reference analog: read_otlp.cpp:109-117 runs its glob through DuckDB's
#     pluggable filesystems) ---

def test_file_scheme_uri_and_glob(spark, otlp_fixtures):
    """Explicit file:-scheme URIs (absolute URI form Hadoop FS resolves,
    not bare local paths) through every reader mode, plus glob and
    multi-directory patterns."""
    root = otlp_fixtures["logs_simple.jsonl"].parent
    uri = f"file://{root}/logs_simple.jsonl"
    n = read_otlp_logs(spark, str(otlp_fixtures["logs_simple.jsonl"])).count()
    assert n > 0
    for mode in ("auto", "lines"):
        assert read_otlp_logs(spark, uri, mode=mode).count() == n

    # scheme + glob through the binaryFile (auto) and text paths
    assert read_otlp_logs(spark, f"file://{root}/logs_simp*.jsonl").count() == n
    # bracket/char-class glob (Hadoop GlobFilter syntax)
    assert read_otlp_logs(spark, f"file://{root}/logs_[s]imple.jsonl").count() == n
    # multi-path list mixing scheme and plain
    both = read_otlp_logs(
        spark, [uri, str(otlp_fixtures["logs_simple.jsonl"])]).count()
    assert both == 2 * n


def test_file_scheme_glob_error_contracts(spark, otlp_fixtures, tmp_path):
    """The 0-match and fail-on-any-bad-file contracts hold through the
    file:-scheme FS path exactly as for bare paths
    (reference: read_otlp_multifile_glob.test)."""
    root = otlp_fixtures["multifile_valid_traces.jsonl"].parent
    with pytest.raises(Exception):
        read_otlp_logs(spark, f"file://{root}/nope_*.jsonl").count()
    with pytest.raises(Exception, match="OTLP parse error"):
        read_otlp_traces(spark, f"file://{root}/multifile_*_traces.jsonl").count()
    # glob over a subdirectory tree: dir1/dir2/*.jsonl
    d1 = tmp_path / "a" / "b"
    d1.mkdir(parents=True)
    src = otlp_fixtures["logs_simple.jsonl"].read_bytes()
    (d1 / "part1.jsonl").write_bytes(src)
    (d1 / "part2.jsonl").write_bytes(src)
    per_file = read_otlp_logs(spark, str(d1 / "part1.jsonl")).count()
    n = read_otlp_logs(spark, f"file://{tmp_path}/*/b/part*.jsonl").count()
    assert n == 2 * per_file


# --- r13: oversized whole-document JSON routes through the typed
#     slice path (executor json.loads + slice_envelope) instead of ONE
#     from_json JVM row — same heap-cliff guard the pb/OTAP paths have;
#     error contracts stay size-blind via JVM fallback ---

def _big_doc(n: int) -> str:
    import json as _json
    return _json.dumps({"resourceLogs": [{"resource": {"attributes": [
        {"key": "service.name", "value": {"stringValue": "big"}}]},
        "scopeLogs": [{"scope": {"name": "s", "version": "1"},
                       "logRecords": [
            {"timeUnixNano": str(1700000000000000000 + i),
             "severityNumber": 9 + (i % 3),
             "body": {"stringValue": f"rec-{i}"},
             "attributes": [{"key": "k",
                             "value": {"intValue": str(i % 7)}}]}
            for i in range(n)]}]}]})


@pytest.mark.parametrize("pretty", [False, True])
def test_oversized_json_document_reads_typed_and_identical(
        spark, tmp_path, monkeypatch, pretty):
    """Both oversized shapes hit the typed route: a single giant NDJSON
    line (one-line document) and a pretty-printed whole document."""
    import json as _json

    from duckdb_otlp_spark.sources import otlp_json as oj

    n = oj.MAX_ENVELOPE_SLICE_RECORDS + 100
    doc = _big_doc(n)
    if pretty:
        doc = _json.dumps(_json.loads(doc), indent=1)
    p = tmp_path / "big.json"
    p.write_text(doc)

    jvm = read_otlp_logs(spark, str(p)).collect()  # under threshold: JVM path
    monkeypatch.setattr(oj, "MAX_WHOLE_DOC_TYPED_BYTES", 100)
    typed = read_otlp_logs(spark, str(p)).collect()
    assert len(typed) == len(jvm) == n
    assert sorted(map(tuple, typed)) == sorted(map(tuple, jvm))
    # the typed route engaged: bounded envelope rows, no JSON text rows
    env_df = oj._decoded_envelopes(spark, [str(p)], "logs")
    assert env_df.filter("env IS NOT NULL").count() == 2
    assert env_df.filter("value IS NOT NULL").count() == 0


def test_oversized_json_error_contracts_size_blind(spark, tmp_path,
                                                   monkeypatch):
    """Invalid-JSON / wrong-envelope / malformed-shape documents classify
    identically whether or not they exceed the typed-route threshold —
    the Python route falls back to the JVM parse for all of them."""
    from duckdb_otlp_spark.sources import otlp_json as oj
    monkeypatch.setattr(oj, "MAX_WHOLE_DOC_TYPED_BYTES", 10)

    pad = " " * 200
    cases = [
        ('{"resourceLogs": [' + pad, "invalid JSON"),
        ('{"resourceLogs": 5}' + pad, "expected 'resourceLogs' envelope"),
        ('{"wrong": 1}' + pad, "expected 'resourceLogs' envelope"),
    ]
    for i, (doc, err) in enumerate(cases):
        p = tmp_path / f"bad{i}.json"
        p.write_text(doc)
        with pytest.raises(Exception, match=err):
            read_otlp_logs(spark, str(p)).count()
    # malformed INNER shape (struct expected, number found): strict
    # conform rejects it and the JVM classifies — same class as small
    p = tmp_path / "inner.json"
    p.write_text('{"resourceLogs": [5]}' + pad)
    with pytest.raises(Exception, match="expected 'resourceLogs' envelope"):
        read_otlp_logs(spark, str(p)).count()
