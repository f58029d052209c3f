"""Spark 4 Python DataSource surface: ``spark.read.format("otlp")``.

Mirrors test_read_otlp_json.py's contracts through the format API and
differentials every signal against the function API (the same oracle
style as the reader gate): identical schema, identical row sets, on
both protobuf and JSONL inputs (row multisets compared driver-side).
"""

from __future__ import annotations

import json

import pytest

from duckdb_otlp_spark.sources.otlp_json import READERS
from duckdb_otlp_spark.sources.otlp_proto_encode import encode_envelope_pb
from tests.fixtures import (
    LOGS_SIMPLE,
    METRICS_ALL_TYPES,
    TRACES_SIMPLE,
    row_multiset,
)
from tests.otap_fixtures import OTAP_FIXTURE_DIR

_ENV_SETS = {"logs": LOGS_SIMPLE, "traces": TRACES_SIMPLE,
             "metrics": METRICS_ALL_TYPES}


@pytest.fixture(scope="module")
def ds_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("ds_fixtures")
    for name, envs in _ENV_SETS.items():
        for i, env in enumerate(envs):
            (root / f"{name}_{i}.pb").write_bytes(encode_envelope_pb(env))
        (root / f"{name}.jsonl").write_text(
            "\n".join(json.dumps(e) for e in envs) + "\n")
    return root


@pytest.fixture(scope="module")
def ds_spark(spark):
    from duckdb_otlp_spark.sources.datasource import register
    register(spark)
    return spark


def _fmt(spark, signal, path):
    return (spark.read.format("otlp").option("signal", signal)
            .load(str(path)))


@pytest.mark.parametrize("signal,stem", [
    ("logs", "logs"), ("traces", "traces"),
    ("metrics_gauge", "metrics"), ("metrics_sum", "metrics"),
    ("metrics_histogram", "metrics"),
    ("metrics_exp_histogram", "metrics"),
])
@pytest.mark.parametrize("ext", ["_*.pb", ".jsonl"])
def test_format_matches_function_api(ds_spark, ds_dir, signal, stem, ext):
    fmt = _fmt(ds_spark, signal, ds_dir / f"{stem}{ext}")
    fn = READERS[signal](ds_spark, str(ds_dir / f"{stem}{ext}"))
    assert fmt.schema == fn.schema
    assert fmt.count() == fn.count()
    assert row_multiset(fmt) == row_multiset(fn)


def test_zero_match_glob_errors(ds_spark, ds_dir):
    with pytest.raises(Exception, match="no files matched"):
        _fmt(ds_spark, "logs", ds_dir / "nope_*.pb").count()


def test_unknown_signal_errors(ds_spark, ds_dir):
    with pytest.raises(Exception, match="unknown signal"):
        _fmt(ds_spark, "spans", ds_dir / "logs_0.pb").count()


def test_mixed_glob_auto_detects_per_file(ds_spark, ds_dir, tmp_path):
    (tmp_path / "a.pb").write_bytes(encode_envelope_pb(LOGS_SIMPLE[0]))
    (tmp_path / "b.jsonl").write_text(json.dumps(LOGS_SIMPLE[1]) + "\n")
    df = _fmt(ds_spark, "logs", tmp_path / "*")
    fn = READERS["logs"](ds_spark, str(tmp_path / "*"))
    assert df.count() == fn.count()
    assert row_multiset(df) == row_multiset(fn)


@pytest.mark.parametrize("doc,err_class", [
    ('{"resourceLogs": [', "OTLP parse error: invalid JSON"),
    ('{"resourceLogs": 5}', "OTLP parse error: expected 'resourceLogs' envelope"),
    ('{"wrong": 1}', "OTLP parse error: expected 'resourceLogs' envelope"),
])
def test_json_error_classes_match_function_api(ds_spark, tmp_path, doc,
                                               err_class):
    p = tmp_path / "bad.jsonl"
    p.write_text(doc + "\n")
    with pytest.raises(Exception, match=err_class):
        _fmt(ds_spark, "logs", p).count()
    with pytest.raises(Exception, match=err_class):
        READERS["logs"](ds_spark, str(p)).count()


def test_garbage_protobuf_errors(ds_spark, tmp_path):
    (tmp_path / "junk.pb").write_bytes(b"\xff\xfe\xfd not protobuf")
    with pytest.raises(Exception, match="OTLP parse error"):
        _fmt(ds_spark, "logs", tmp_path / "junk.pb").count()


def test_directory_load_reads_all_files(ds_spark, ds_dir, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    for i, env in enumerate(LOGS_SIMPLE):
        (d / f"l{i}.pb").write_bytes(encode_envelope_pb(env))
    df = _fmt(ds_spark, "logs", d)
    fn = READERS["logs"](ds_spark, str(d / "*.pb"))
    assert df.count() == fn.count()
    assert row_multiset(df) == row_multiset(fn)


@pytest.mark.parametrize("prefix", ["file:", "file://", "file:///"])
def test_file_scheme_uri_forms(ds_spark, ds_dir, prefix):
    """All three file: URI forms resolve — the single-slash form is the
    one Spark's Path.toUri emits and used to be mangled by a blanket
    7-char strip."""
    path = ds_dir / "logs_0.pb"
    uri = prefix + str(path).lstrip("/") if prefix == "file:///" \
        else prefix + str(path)
    df = (ds_spark.read.format("otlp").option("signal", "logs")
          .load(uri))
    fn = READERS["logs"](ds_spark, str(path))
    assert df.count() == fn.count()
    assert row_multiset(df) == row_multiset(fn)


def test_nonexistent_nonglob_path_hits_zero_match_contract(ds_spark, tmp_path):
    with pytest.raises(Exception, match="no files matched"):
        _fmt(ds_spark, "logs", tmp_path / "absent.pb").count()


def test_directory_load_skips_subdirectories(ds_spark, tmp_path):
    d = tmp_path / "dir"
    (d / "nested").mkdir(parents=True)
    (d / "l0.pb").write_bytes(encode_envelope_pb(LOGS_SIMPLE[0]))
    df = _fmt(ds_spark, "logs", d)
    fn = READERS["logs"](ds_spark, str(d / "l0.pb"))
    assert df.count() == fn.count()


def test_empty_directory_hits_zero_match_contract(ds_spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(Exception, match="no files matched"):
        _fmt(ds_spark, "logs", d).count()


OTAP_DIR = __import__("pathlib").Path("/root/reference/test/data/otap")

# the committed OTAP fixtures everywhere; the reference's Go-encoded ones
# where that tree exists
OTAP_DIRS = pytest.mark.parametrize("otap_dir", [
    pytest.param(OTAP_FIXTURE_DIR, id="committed"),
    pytest.param(OTAP_DIR, id="reference", marks=pytest.mark.skipif(
        not OTAP_DIR.exists(), reason="reference OTAP fixtures not present")),
])


@OTAP_DIRS
@pytest.mark.parametrize("signal,bar", [
    ("logs", "logs-initial.bar"), ("traces", "traces-initial.bar"),
    ("metrics_gauge", "metrics-initial.bar"),
    ("metrics_sum", "metrics-initial.bar"),
    ("metrics_histogram", "metrics-initial.bar"),
    ("metrics_exp_histogram", "metrics-initial.bar"),
])
def test_otap_format_matches_function_api(ds_spark, otap_dir, signal, bar):
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    fmt = (ds_spark.read.format("otap").option("signal", signal)
           .load(str(otap_dir / bar)))
    fn = OTAP_READERS[signal](ds_spark, str(otap_dir / bar))
    assert fmt.schema == fn.schema
    assert fmt.count() == fn.count()
    assert row_multiset(fmt) == row_multiset(fn)


@OTAP_DIRS
def test_otap_format_wrong_signal_errors(ds_spark, otap_dir):
    with pytest.raises(Exception, match="OTAP decode error"):
        (ds_spark.read.format("otap").option("signal", "logs")
         .load(str(otap_dir / "metrics-initial.bar")).count())


# --- file URI authority contract ---

def test_file_uri_remote_authority_rejected(ds_spark):
    """'file://host/path' names a remote host — must raise the explicit
    authority error, not misread 'host/path' as a relative local path
    and surface a baffling 0-match (r12 ADVICE)."""
    with pytest.raises(Exception, match="non-local authority 'evilhost'"):
        (ds_spark.read.format("otlp").option("signal", "logs")
         .load("file://evilhost/tmp/x.jsonl").count())


def test_file_uri_localhost_authority_accepted(ds_spark, ds_dir):
    n_plain = (ds_spark.read.format("otlp").option("signal", "logs")
               .load(str(ds_dir / "logs.jsonl")).count())
    n_local = (ds_spark.read.format("otlp").option("signal", "logs")
               .load(f"file://localhost{ds_dir}/logs.jsonl").count())
    assert n_plain == n_local > 0
