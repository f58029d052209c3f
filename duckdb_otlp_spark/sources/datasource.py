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

``read()`` is ``flat_decode.decode_file``, the per-file decode the
protobuf and OTAP readers run in ``mapInArrow``: the same file rules,
error texts and flatteners. It yields one ``pyarrow.RecordBatch`` per
envelope slice, so rows cross the Python-JVM boundary as columnar
batches.

Divergence: JSON files are parsed strictly in Python, while
``read_otlp_*`` parses them with the JVM's lax ``from_json``; both
hand the envelopes to the same flatteners. Both raise ``OTLP parse
error: invalid JSON`` and ``OTLP parse error: expected '<spine>'
envelope`` for the same files. The one difference is a mistyped field
below the spine (an object, array or fraction where a string goes, as
in ``"severityNumber": {"oops": 1}``): it reads as NULL through
``read_otlp_*`` and raises ``OTLP parse error`` here.
"""

from __future__ import annotations

import glob as _glob
from pathlib import Path
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType


_SIGNALS = ("logs", "traces", "metrics_gauge", "metrics_sum",
            "metrics_histogram", "metrics_exp_histogram")


class _OtlpReader(DataSourceReader):
    def __init__(self, options: dict, container: str = "otlp"):
        self.container = container
        signal = options.get("signal", "logs")
        if signal not in _SIGNALS:
            raise ValueError(f"unknown signal {signal!r}; expected one of "
                             f"{sorted(_SIGNALS)}")
        self.signal = signal
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

    def read(self, partition) -> Iterator:
        from duckdb_otlp_spark.sources.flat_decode import decode_file
        fpath = partition.value
        return decode_file(fpath, Path(fpath).read_bytes(), self.signal,
                           self.container)


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
        return _OtlpReader(self.options)


class OtapDataSource(OtlpDataSource):
    """``spark.read.format("otap").option("signal", ...)`` — the same
    six signals over OTAP ``BatchArrowRecords`` files (one message per
    file, like ``read_otap_*``; reuse/wrong-signal payloads raise
    ``OTAP decode error`` from the shared decoder)."""

    @classmethod
    def name(cls) -> str:
        return "otap"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _OtlpReader(self.options, container="otap")


def register(spark) -> None:
    """Register the ``otlp`` and ``otap`` formats on a session
    (idempotent)."""
    spark.dataSource.register(OtlpDataSource)
    spark.dataSource.register(OtapDataSource)
