"""OTAP reader tests over fixture pairs: each .bar file has a
semantically-equivalent .otlp protobuf twin, and the oracle is the
reference's own bidirectional EXCEPT pattern — read_otap_* and
read_otlp_* must produce identical row multisets
(reference: test/sql/read_otap.test:44-103), compared driver-side
(``tests.fixtures.row_multiset``).

Two fixture sets: the committed one in tests/data/otap (written by the
test-side encoder tests/otap_fixtures.py), checked on every host, and the
reference's own Go-encoded files, checked wherever the reference tree is
present as a cross-check against the real otel-arrow encoder.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from duckdb_otlp_spark.sources.otap import (
    OTAP_READERS,
    OtapDecodeError,
    _decode_bar,
    _err,
    bar_to_envelope,
    envelope_from_tables,
)
from duckdb_otlp_spark.sources.otlp_json import READERS
from tests.fixtures import row_multiset
from tests.jvm_flatten import FLATTEN, flatten_logs
from tests.otap_fixtures import OTAP_FIXTURE_DIR

OTAP_DIR = Path("/root/reference/test/data/otap")

needs_reference = pytest.mark.skipif(not OTAP_DIR.exists(),
                                     reason="reference OTAP fixtures not present")

with_fixture_dirs = pytest.mark.parametrize("otap_dir", [
    pytest.param(OTAP_FIXTURE_DIR, id="committed"),
    pytest.param(OTAP_DIR, id="reference", marks=needs_reference),
])
LOG_RECORDS = {OTAP_FIXTURE_DIR: 7, OTAP_DIR: 3}  # in logs-initial.bar


def _otap_envelopes_json(spark, path, signal: str):
    """The readers' differential twin: each file's envelope rendered as
    proto3-JSON text, then ``from_json`` with the signal schema (feed
    the rows to the JVM flatten of tests/jvm_flatten) — the same decoder
    through an independent serialization and flatten."""
    import json

    from pyspark.sql import functions as F

    from duckdb_otlp_spark.session import ensure_package_on_workers
    from duckdb_otlp_spark.sources.otlp_json import _ENVELOPES

    paths = path if isinstance(path, list) else [path]
    files = spark.read.format("binaryFile").load(paths).select("path", "content")
    env_schema = _ENVELOPES[signal][1]

    def decode(batches):
        import pandas as pd
        for pdf in batches:
            lines = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                try:
                    env = bar_to_envelope(bytes(content), signal)
                except OtapDecodeError:
                    raise
                except Exception as e:
                    raise _err(f"{e} ({fpath})") from e
                lines.append(json.dumps(env, separators=(",", ":")))
            yield pd.DataFrame({"value": lines})

    ensure_package_on_workers(files.sparkSession)
    lines = files.mapInPandas(decode, "value string")
    return lines.select(F.from_json(F.col("value"), env_schema).alias("env"))


def _parity(spark, otap_dir, signal_reader: str, bar: str, otlp: str):
    otap_df = OTAP_READERS[signal_reader](spark, str(otap_dir / bar))
    otlp_df = READERS[signal_reader](spark, str(otap_dir / otlp))
    assert otap_df.schema == otlp_df.schema
    assert otap_df.count() == otlp_df.count()
    assert row_multiset(otap_df) == row_multiset(otlp_df)


@with_fixture_dirs
@pytest.mark.parametrize("reader,bar,otlp", [
    ("logs", "logs-initial.bar", "logs-initial.otlp"),
    ("traces", "traces-initial.bar", "traces-initial.otlp"),
    ("metrics_gauge", "metrics-initial.bar", "metrics-initial.otlp"),
    ("metrics_sum", "metrics-initial.bar", "metrics-initial.otlp"),
    ("metrics_histogram", "metrics-initial.bar", "metrics-initial.otlp"),
    ("metrics_exp_histogram", "metrics-initial.bar", "metrics-initial.otlp"),
])
def test_otap_otlp_parity(spark, otap_dir, reader, bar, otlp):
    _parity(spark, otap_dir, reader, bar, otlp)


@with_fixture_dirs
@pytest.mark.parametrize("reader,bar,signal", [
    ("logs", "logs-initial.bar", "logs"),
    ("traces", "traces-initial.bar", "traces"),
    ("metrics_gauge", "metrics-initial.bar", "metrics"),
    ("metrics_sum", "metrics-initial.bar", "metrics"),
    ("metrics_histogram", "metrics-initial.bar", "metrics"),
    ("metrics_exp_histogram", "metrics-initial.bar", "metrics"),
])
def test_typed_path_matches_json_twin(spark, otap_dir, reader, bar, signal):
    """r11: the default read path emits typed Arrow structs straight
    from the decoder (mapInArrow, single parse). The retired JSON-text
    render + from_json variant survives as the differential twin —
    identical rows through an independent serialization — and the typed
    plan must carry NO JsonToStructs (that's the whole point)."""
    flatten = FLATTEN[reader]
    typed = OTAP_READERS[reader](spark, str(otap_dir / bar))
    js = flatten(_otap_envelopes_json(spark, str(otap_dir / bar), signal))
    assert typed.schema == js.schema
    assert typed.count() == js.count()
    assert row_multiset(typed) == row_multiset(js)
    from duckdb_otlp_spark.plans import audit
    assert "from_json" not in audit(typed).text
    assert "from_json" in audit(js).text


# the old ids stay for zstd; the reference tree has no lz4 file
@pytest.mark.parametrize("otap_dir,codec", [
    pytest.param(OTAP_FIXTURE_DIR, "zstd", id="committed"),
    pytest.param(OTAP_DIR, "zstd", id="reference", marks=needs_reference),
    pytest.param(OTAP_FIXTURE_DIR, "lz4", id="committed-lz4"),
])
def test_otap_zstd(spark, otap_dir, codec):
    """Arrow-IPC zstd and lz4 compression decode transparently and match
    the uncompressed twin (reference: api.md compression contract)."""
    a = OTAP_READERS["logs"](spark, str(otap_dir / f"logs-{codec}.bar"))
    b = OTAP_READERS["logs"](spark, str(otap_dir / "logs-initial.bar"))
    assert a.count() == LOG_RECORDS[otap_dir]
    assert row_multiset(a) == row_multiset(b)


@needs_reference
def test_otap_row_counts(spark):
    assert OTAP_READERS["logs"](spark, str(OTAP_DIR / "logs-initial.bar")).count() == 3
    assert OTAP_READERS["traces"](spark, str(OTAP_DIR / "traces-initial.bar")).count() == 1
    for shape in ("metrics_gauge", "metrics_sum", "metrics_histogram",
                  "metrics_exp_histogram"):
        n = 2 if shape == "metrics_gauge" else 1
        df = OTAP_READERS[shape](spark, str(OTAP_DIR / "metrics-initial.bar"))
        # gauge table holds the gauge metric's points; fixture has 1 gauge
        # dp + 1 sum dp in the number-dp table split by metric type
        assert df.count() == 1, shape


@needs_reference
def test_reuse_message_is_hard_error(spark):
    """A schema-less continuation ("reuse") message cannot be decoded by
    a fresh per-file decoder (reference: read_otap.test:135-141)."""
    with pytest.raises(Exception, match="OTAP decode error"):
        OTAP_READERS["logs"](spark, str(OTAP_DIR / "logs-reuse.bar")).collect()


@with_fixture_dirs
def test_otlp_payload_is_hard_error(spark, otap_dir):
    with pytest.raises(Exception, match="OTAP decode error"):
        OTAP_READERS["logs"](spark, str(otap_dir / "logs-initial.otlp")).collect()


@with_fixture_dirs
def test_wrong_signal_is_hard_error(spark, otap_dir):
    with pytest.raises(Exception, match="OTAP decode error"):
        OTAP_READERS["logs"](spark, str(otap_dir / "metrics-initial.bar")).collect()
    with pytest.raises(Exception, match="OTAP decode error"):
        OTAP_READERS["metrics_gauge"](spark, str(otap_dir / "logs-initial.bar")).collect()


@with_fixture_dirs
def test_envelope_reconstruction_driverside(otap_dir):
    """Pure-python check: .bar -> envelope equals the pb decode of the
    .otlp twin under canonical attribute order (summary dp content is
    excluded — every reader skips summary points)."""
    import json

    from duckdb_otlp_spark.sources.otlp_proto import DECODERS

    def canon(env):
        def walk(o):
            if isinstance(o, dict):
                out = {}
                for k, v in o.items():
                    if k == "summary":
                        v = {"dataPoints": [{} for _ in v.get("dataPoints", [])]}
                    if k in ("attributes", "filteredAttributes") and isinstance(v, list):
                        v = sorted(v, key=lambda kv: kv.get("key", ""))
                    out[k] = walk(v)
                return out
            if isinstance(o, list):
                return [walk(x) for x in o]
            return o
        return json.dumps(walk(env), sort_keys=True)

    for sig, name in (("logs", "logs-initial"), ("traces", "traces-initial"),
                      ("metrics", "metrics-initial")):
        bar = (otap_dir / f"{name}.bar").read_bytes()
        otlp = (otap_dir / f"{name}.otlp").read_bytes()
        assert canon(bar_to_envelope(bar, sig)) == canon(DECODERS[sig](otlp)), sig


def test_committed_fixtures_match_their_encoder(tmp_path):
    """The committed set is what ``python -m tests.otap_fixtures`` writes:
    the same files, each .otlp byte-identical and each .bar carrying the
    same payload types and Arrow tables (schema metadata included)."""
    import subprocess
    import sys

    subprocess.run([sys.executable, "-m", "tests.otap_fixtures", str(tmp_path)],
                   cwd=Path(__file__).resolve().parents[1], check=True,
                   capture_output=True)
    fresh = sorted(p.name for p in tmp_path.iterdir())
    assert sorted(p.name for p in OTAP_FIXTURE_DIR.iterdir()) == fresh
    for name in fresh:
        data = (tmp_path / name).read_bytes()
        committed = (OTAP_FIXTURE_DIR / name).read_bytes()
        if name.endswith(".otlp"):
            assert committed == data, name
            continue
        want, got = _decode_bar(data), _decode_bar(committed)
        assert list(got) == list(want), name
        for ptype, table in got.items():
            assert table.equals(want[ptype], check_metadata=True), (name, ptype)


def test_truncated_bar_is_decode_error():
    """A .bar cut short in its protobuf framing, or one whose Arrow IPC
    stream is cut short inside intact framing, fails with the documented
    error instead of decoding a partial envelope."""
    from duckdb_otlp_spark.sources.otap import OtapDecodeError
    from tests.otap_fixtures import LOGS_ENVELOPE, _ipc, _ld, _vi, logs_payloads

    data = (OTAP_FIXTURE_DIR / "logs-initial.bar").read_bytes()
    (ptype, logs), *_ = logs_payloads(LOGS_ENVELOPE)
    ipc = _ipc(logs, None)
    cut_ipc = _ld(2, _vi(2, ptype) + _ld(3, ipc[:len(ipc) // 2]))
    for bad in (data[:-1], data[:len(data) // 2], cut_ipc):
        with pytest.raises(OtapDecodeError, match="OTAP decode error"):
            bar_to_envelope(bad, "logs")


# (payload type, column) whose encoding changes the decoded envelope:
# delta ids of logs, spans, metrics and number points; delta point parents;
# quasidelta attribute parents of logs, spans and number points; grouped
# parents of events, links and number/histogram exemplars
_ENCODED_COLUMNS_THAT_MATTER = {
    (30, "id"), (40, "id"), (10, "id"), (11, "id"), (11, "parent_id"),
    (13, "parent_id"), (14, "parent_id"), (31, "parent_id"),
    (41, "parent_id"), (15, "parent_id"), (42, "parent_id"),
    (43, "parent_id"), (19, "parent_id"), (20, "parent_id"),
}


def test_committed_fixtures_need_every_encoding():
    """Reading any one encoded id column as plain ids must change the
    decoded envelope for the columns above, so the gate rows over the
    committed set check each encoding rather than pass on plain ids."""
    import pyarrow as pa

    changed = set()
    for signal in ("logs", "traces", "metrics"):
        tables = _decode_bar(
            (OTAP_FIXTURE_DIR / f"{signal}-initial.bar").read_bytes())
        want = envelope_from_tables(tables, signal)
        for ptype, t in tables.items():
            for col in ("id", "parent_id"):
                if col not in t.schema.names or not t.schema.field(col).metadata:
                    continue
                i = t.schema.get_field_index(col)
                plain = t.set_column(i, pa.field(col, t.schema.field(col).type),
                                     t.column(col))
                if envelope_from_tables({**tables, ptype: plain}, signal) != want:
                    changed.add((ptype, col))
    assert _ENCODED_COLUMNS_THAT_MATTER <= changed, \
        _ENCODED_COLUMNS_THAT_MATTER - changed


# --- r13: oversized-envelope slicing on the typed OTAP path (one
#     self-contained message per file is the reference contract,
#     test/sql/read_otap.test — a near-cap message used to become ONE
#     JVM struct row, the heap-cliff shape fixed for pb in r12) ---

def _encode_bar_logs(n_records: int) -> bytes:
    """A canonical BatchArrowRecords file whose LOGS payload carries
    ``n_records`` rows in one (resource, scope) group, written by the
    test-side encoder of the committed set."""
    from tests.otap_fixtures import encode_bar, logs_payloads

    records = [{"timeUnixNano": str(1700000000000000000 + i),
                "severityNumber": 9 + i % 3,
                "body": {"stringValue": f"rec-{i}"}} for i in range(n_records)]
    env = {"resourceLogs": [{"resource": {}, "scopeLogs": [
        {"scope": {}, "logRecords": records}]}]}
    return encode_bar(logs_payloads(env))


def _decoded_batches(p: Path) -> int:
    """Arrow batches the readers' per-file decode yields for one logs
    .bar file: one per envelope slice."""
    from duckdb_otlp_spark.sources.flat_decode import decode_file
    return sum(1 for _ in decode_file(str(p), p.read_bytes(), "logs", "otap"))


def test_oversized_otap_envelope_reads_sliced_and_identical(spark, tmp_path):
    """A .bar file over MAX_ENVELOPE_SLICE_RECORDS records reads through
    the sliced typed path with output identical to the JSON-text twin
    (which renders the whole envelope as one document and never
    slices) — and the per-file decode demonstrably emits >1 bounded
    batch where the twin emits one envelope row."""
    from duckdb_otlp_spark.sources.otap import read_otap_logs
    from duckdb_otlp_spark.sources.otlp_json import MAX_ENVELOPE_SLICE_RECORDS

    n = MAX_ENVELOPE_SLICE_RECORDS + 100
    p = tmp_path / "big.bar"
    p.write_bytes(_encode_bar_logs(n))

    typed = read_otap_logs(spark, str(p))
    js = flatten_logs(_otap_envelopes_json(spark, str(p), "logs"))
    assert typed.count() == js.count() == n
    assert row_multiset(typed) == row_multiset(js)
    # slicing engaged: 2 bounded envelope rows vs the twin's single row
    assert _decoded_batches(p) == 2
    assert _otap_envelopes_json(spark, str(p), "logs").count() == 1


def test_undersized_otap_envelope_not_sliced(spark, tmp_path):
    """Under the cap the envelope passes through untouched — one batch
    per file, rows identical to the JSON twin."""
    from duckdb_otlp_spark.sources.otap import read_otap_logs

    p = tmp_path / "small.bar"
    p.write_bytes(_encode_bar_logs(37))
    typed = read_otap_logs(spark, str(p))
    js = flatten_logs(_otap_envelopes_json(spark, str(p), "logs"))
    assert typed.count() == js.count() == 37
    assert row_multiset(typed) == row_multiset(js)
    assert _decoded_batches(p) == 1


def test_otap_reader_applies_the_file_cap(spark, monkeypatch):
    """read_otap_* refuse a file over the per-file cap, like every other
    reader; the cap is bound when the plan is built."""
    from duckdb_otlp_spark.sources import otlp_json

    bar = OTAP_FIXTURE_DIR / "logs-initial.bar"
    monkeypatch.setattr(otlp_json, "MAX_READ_FILE_BYTES", bar.stat().st_size - 1)
    with pytest.raises(Exception, match="OTLP read error: file exceeds"):
        OTAP_READERS["logs"](spark, str(bar)).collect()


@pytest.mark.parametrize("reader,bar", [
    ("logs", "logs-initial.bar"), ("traces", "traces-initial.bar"),
    ("metrics_gauge", "metrics-initial.bar"),
    ("metrics_sum", "metrics-initial.bar"),
    ("metrics_histogram", "metrics-initial.bar"),
    ("metrics_exp_histogram", "metrics-initial.bar"),
])
def test_otap_reader_plan_is_one_flat_decode(spark, reader, bar):
    """Each read_otap_* plan is the one MapInArrow decode: no JVM
    explode, no JSON parse."""
    df = OTAP_READERS[reader](spark, str(OTAP_FIXTURE_DIR / bar))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "MapInArrow" in plan
    assert "Generate" not in plan
    assert "from_json" not in plan
