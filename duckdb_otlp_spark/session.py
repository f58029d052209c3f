"""SparkSession factory tuned for this engine.

Local tests run on ``local[N]``; the configs below are the ones that
also matter on a real cluster (AQE, skew-join handling, partition
sizing, Arrow transfer). UTC + NTZ timestamps keep results comparable
with the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

from pyspark.sql import SparkSession


def _export_package_to_workers() -> str:
    """Put this package's root on PYTHONPATH before the JVM launches.

    Python workers unpickle UDF closures (mapInPandas feature extract,
    pandas UDFs) that reference module-level functions, so every worker
    must be able to ``import duckdb_otlp_spark`` — regardless of the
    driver script's cwd. Local-mode workers inherit the JVM's env, and
    the JVM inherits ours, so mutating os.environ here is enough; the
    executorEnv config covers cluster mode."""
    pkg_root = str(Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))
    return os.environ["PYTHONPATH"]


_SHIPPED_SESSIONS: set[str] = set()
# this process's package zip, written once per process: a zip a recycled
# pid left in the temp dir holds some other version of the package
_PACKAGE_ZIP: list[Path] = []
# concurrent callers (the live server's three seal threads) must not see
# a half-written zip or ship it twice
_SHIP_LOCK = threading.Lock()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``duckdb_otlp_spark`` importable inside Python workers of ANY
    session — including ones not built by :func:`get_spark` (an external
    harness may own the SparkSession and run from a cwd where this repo
    is not importable). Zips the package once per process and ships it
    with ``addPyFile``; idempotent per session. Called by every operator
    that sends a closure to Python workers (mapInPandas readers, the
    multimodal feature extractor)."""
    import tempfile
    import zipfile

    key = spark.sparkContext.applicationId
    with _SHIP_LOCK:
        if key in _SHIPPED_SESSIONS:
            return
        if not _PACKAGE_ZIP:
            pkg_dir = Path(__file__).resolve().parent
            zip_path = (Path(tempfile.gettempdir())
                        / f"duckdb_otlp_spark_{os.getpid()}.zip")
            with zipfile.ZipFile(zip_path, "w") as zf:
                for py in sorted(pkg_dir.rglob("*.py")):
                    zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
            _PACKAGE_ZIP.append(zip_path)
        spark.sparkContext.addPyFile(str(_PACKAGE_ZIP[0]))
        _SHIPPED_SESSIONS.add(key)


def get_spark(app_name: str = "duckdb-otlp-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    pythonpath = _export_package_to_workers()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # PySpark 4's per-API-call site capture walks the Python stack
        # with inspect on EVERY DataFrame/Column call (~2.8 ms each,
        # ~100 ms per complex query build — PROBE_R13_DRIVER.json);
        # the upstream-documented switch trades error-message call-site
        # decoration for driver latency, worthwhile for an engine that
        # builds plans programmatically at any scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark has no ns-precision timestamp; surface parquet NANOS as raw
        # long ns (the same compromise the reference documents, schemas.md:182)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ~128 MiB scan partitions: matches the reference's own seal/file sizing
        # and keeps task counts sane at 100 TB (reference: otlp_ingest_limits.hpp).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Open-cost models per-file open overhead in scan-split packing;
        # the 4 MiB default also FLOORS maxSplitBytes, so any table under
        # 4 MiB scans as one task and serializes its per-row work (JSON
        # parse, window prep) on one core. 512 KiB reflects parquet-on-
        # SSD/object-store open costs and lets small hot tables fan out;
        # large files are unaffected (maxPartitionBytes caps), and for
        # many-tiny-file dirs a lower pad packs MORE files per task.
        # Interleaved A/B at sf0.1: sessionize/time_bucket -10%,
        # json_extract -3%, none slower (OPTIMIZATION_r13.md). Env-
        # overridable for cluster tuning.
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "524288"))
        # bucketed+sorted index tables (operators.dedup.save_band_index)
        # are written one-sorted-file-per-bucket so probe sort-merge
        # joins can skip BOTH the exchange and the sort on the index
        # side; Spark 3+ only trusts per-bucket file ordering with this
        # (misnamed "legacy") flag, which is a no-op for non-bucketed
        # scans
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv6Addresses=false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
