"""Spark 4 Python DataSource registration: ``spark.read.format("otlp")``.

The idiomatic reader-API surface over the same decode semantics as the
``read_otlp_*`` functions (the reference exposes its readers as table
functions, ``read_otlp.cpp:467-507`` — this is the Spark-native
equivalent of that UX). Usage::

    from duckdb_otlp_spark.sources.datasource import register
    register(spark)
    df = (spark.read.format("otlp")
          .option("signal", "logs").load("/data/*.pb"))

Semantics parity with the function API (pinned by the differential
test ``tests/test_datasource.py``):

- one file per input partition — the reference's parallelism unit;
- per-file FORMAT AUTO (protobuf vs JSON document vs NDJSON);
- the 100 MB per-file cap and the 0-match glob error;
- identical flattened rows and schema per signal.

``read()`` yields ``pyarrow.RecordBatch`` (Spark 4 DataSource Arrow
return), so rows cross the Python-JVM boundary as columnar batches,
not per-row pickles: the per-partition cost is the shared envelope
decode (the same wire/JSON decode the function API runs in
``mapInArrow``) plus the per-file flatten of ``sources/flat_decode`` —
the JVM flatten's Python twin, which the seal and the protobuf reads
use too. The reader gate's row-wise ``expected_*`` flatteners stay an
independent oracle only.
"""

from __future__ import annotations

import glob as _glob
import json
from pathlib import Path
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


_SIGNALS = ("logs", "traces", "metrics_gauge", "metrics_sum",
            "metrics_histogram", "metrics_exp_histogram")


def _file_envelopes(fpath: str, wire_signal: str,
                    container: str = "otlp") -> list[dict]:
    from duckdb_otlp_spark.sources import otlp_proto
    from duckdb_otlp_spark.sources.otlp_json import (
        _ENVELOPES, MAX_READ_FILE_BYTES, _conform_to_schema, _is_ndjson)

    b = Path(fpath).read_bytes()
    if len(b) > MAX_READ_FILE_BYTES:
        raise ValueError(f"OTLP read error: file exceeds "
                         f"{MAX_READ_FILE_BYTES} byte limit: {fpath}")
    if not b:
        return []
    # the flatteners take the envelope domain the JVM's from_json
    # yields (int64s as text, doubles as floats); the wire decoders
    # already emit it, JSON and OTAP trees are conformed to it
    env_schema = _ENVELOPES[wire_signal][1]
    if container == "otap":
        from duckdb_otlp_spark.sources.otap import bar_to_envelope
        return [_conform_to_schema(bar_to_envelope(b, wire_signal), env_schema)]
    if not b.lstrip(b"\xef\xbb\xbf").strip():
        raise ValueError(f"OTLP parse error: whitespace-only file: {fpath}")
    if otlp_proto.looks_like_json(b):
        text = b.decode("utf-8")
        lines = [ln for ln in text.split("\n") if ln.strip()]
        docs = lines if _is_ndjson(lines) else [text]
        return [_conform_to_schema(json.loads(d), env_schema, strict=True)
                for d in docs]
    try:
        return [otlp_proto.DECODERS[wire_signal](b)]
    except ValueError as e:
        raise ValueError(f"OTLP parse error: invalid protobuf payload "
                         f"({e}): {fpath}") from e


class _OtlpReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType,
                 container: str = "otlp"):
        self.container = container
        signal = options.get("signal", "logs")
        if signal not in _SIGNALS:
            raise ValueError(f"unknown signal {signal!r}; expected one of "
                             f"{sorted(_SIGNALS)}")
        self.signal = signal
        self.schema = schema
        path = options.get("path")
        if not path:
            raise ValueError("format('otlp') needs a path: .load('/dir/*.pb')")
        # Strip only the matched prefix: 'file:///x' drops the empty
        # authority, 'file:/x' (Path.toUri's single-slash form) drops
        # just the scheme — a blanket 7-char slice mangled it.  A
        # non-empty authority other than localhost ('file://host/x')
        # names a remote host this local source cannot read — reject
        # explicitly instead of misreading 'host/x' as a relative path
        # and surfacing a baffling 0-match error (r12 ADVICE).
        if path.startswith("file://"):
            rest = path[len("file://"):]
            if rest and not rest.startswith("/"):
                authority, sep, tail = rest.partition("/")
                if authority != "localhost":
                    raise ValueError(
                        f"OTLP read error: unsupported non-local authority "
                        f"{authority!r} in file URI {path!r} (only "
                        f"'file:///path' or 'file://localhost/path' are "
                        f"readable from this host)")
                rest = sep + tail
            path = rest or "/"
        elif path.startswith("file:"):
            path = path[len("file:"):]
        if "*" in path or "[" in path or "?" in path:
            files = sorted(_glob.glob(path))
        else:
            p = Path(path)
            if p.is_dir():
                # regular files only — a subdirectory would surface as an
                # executor-side IsADirectoryError instead of the contract
                files = sorted(str(x) for x in p.iterdir() if x.is_file())
            else:
                # nonexistent non-glob path joins the 0-match contract
                # rather than a raw executor-side FileNotFoundError
                files = [path] if p.is_file() else []
        if not files:
            raise ValueError(f"OTLP read error: no files matched {path!r} "
                             f"(reference 0-match contract)")
        self.files = files

    def partitions(self):
        # one file per partition — the reference's parallelism unit
        return [InputPartition(f) for f in self.files]

    # Arrow batch size: bounds peak ARROW memory per handoff while
    # keeping the per-batch JVM transfer amortized
    _BATCH_ROWS = 65536

    def read(self, partition) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from duckdb_otlp_spark.sources import flat_decode
        flatten, wire_signal = flat_decode.FLATTENERS[self.signal]
        names = [f.name for f in self.schema.fields]
        atypes = [to_arrow_type(f.dataType) for f in self.schema.fields]

        def batch(rows):
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, t in zip(zip(*rows), atypes)],
                names=names)

        rows: list = []
        for env in _file_envelopes(partition.value, wire_signal,
                                   self.container):
            rows += flatten(env)
            while len(rows) >= self._BATCH_ROWS:
                yield batch(rows[:self._BATCH_ROWS])
                del rows[:self._BATCH_ROWS]
        if rows:
            yield batch(rows)


class OtlpDataSource(DataSource):
    """``spark.read.format("otlp").option("signal", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "otlp"

    def schema(self) -> StructType:
        signal = self.options.get("signal", "logs")
        if signal not in _SIGNALS:
            raise ValueError(f"unknown signal {signal!r}; expected one of "
                             f"{sorted(_SIGNALS)}")
        from duckdb_otlp_spark.sources.flat_decode import flat_schema
        return flat_schema(signal)

    def reader(self, schema: StructType) -> DataSourceReader:
        return _OtlpReader(self.options, schema)


class OtapDataSource(OtlpDataSource):
    """``spark.read.format("otap").option("signal", ...)`` — the same
    six signals over OTAP ``BatchArrowRecords`` files (one message per
    file, like ``read_otap_*``; reuse/wrong-signal payloads raise
    ``OTAP decode error`` from the shared decoder)."""

    @classmethod
    def name(cls) -> str:
        return "otap"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _OtlpReader(self.options, schema, container="otap")


def register(spark) -> None:
    """Register the ``otlp`` and ``otap`` formats on a session
    (idempotent)."""
    spark.dataSource.register(OtlpDataSource)
    spark.dataSource.register(OtapDataSource)
