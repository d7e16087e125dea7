"""SparkSession factory with 100TB-minded defaults.

The reference keeps a single long-lived driver connection
(``/root/reference/src/database.py:4-16`` — ``Neo4jManager`` wraps one Bolt
driver); our analogue is one SparkSession with adaptive execution enabled.

Defaults are tuned for correctness-at-scale:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting),
* Arrow on (vectorized pandas-UDF transfer for the Python-side operators),
* shuffle partitions sized from ``SPARK_GRAFT_CPUS`` locally; on a real
  cluster the AQE coalescer makes the static number mostly irrelevant.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_STREAM_DIRS: list[str] = []


@atexit.register
def _cleanup_stream_dirs() -> None:
    for d in _STREAM_DIRS:
        shutil.rmtree(d, ignore_errors=True)


@contextlib.contextmanager
def _nanos_as_long(spark: SparkSession):
    """Scope the session-global nanosAsLong conf to one read: the conf is
    captured when the DataFrame's plan is built (verified for both batch
    and streaming paths), so restoring it immediately afterwards keeps
    other same-session parquet reads unaffected."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def get_spark(app_name: str = "neo4j_graphdb_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    The local master is a *fallback only*: an active session, a
    ``spark.master`` system property (``spark-submit --master``), or a
    ``SPARK_MASTER`` env var all take precedence, so the same code runs
    unchanged on a real cluster.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Runtime conf, so it can (and must) be applied to a pre-existing
        # session too: without it, pandas/pyarrow-written parquet with
        # isAdjustedToUTC=false timestamps reads as TIMESTAMP_NTZ, which
        # Spark refuses as a watermark column and cannot cast to DOUBLE.
        active.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        return active
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    builder = SparkSession.builder.appName(app_name)
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master"):
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver fixtures are pandas-written parquet whose timestamps
        # are timestamp[us] with isAdjustedToUTC=false. With NTZ inference
        # on (the Spark >=3.4 default) those load as TIMESTAMP_NTZ, which
        # breaks withWatermark and numeric casts. Reading them as
        # session-tz (UTC) TIMESTAMP matches DuckDB's naive-timestamp
        # oracle semantics exactly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame call-site capture: when on, every Column
        # operation (F.col, comparisons, aliases) makes ~5 extra Py4J
        # round trips to record the Python call site for error messages.
        # Plan building in the superstep loops and the Cypher compiler is
        # Column-heavy: twenty chained withColumn(when/otherwise) steps
        # took 1,705 round trips with it and 440 without. PySpark reads
        # it once per process, at the first Column operation under an
        # active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # In LOCAL mode the driver JVM is also every executor: the heap
        # serves all `cpus` concurrent tasks. 8g across 32 tasks was
        # 256 MB/task — far below guide-§5 sizing — and GC time landed
        # inside query runs (measured on a 12-query sf0.1 subset:
        # 8g → 33.9s / 1159ms GC; 20g → 29.6s / 489ms GC; 32g is past
        # the sweet spot at 33.0s). 20g ≈ 640 MB/task on the 128 GiB
        # sandbox. On a real cluster this value is irrelevant to the
        # data path (spark.executor.memory sizes the workers; the env
        # override stays for both).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver fixture table (TESTDATA.md).

    Handles ``TIMESTAMP(NANOS)`` parquet columns (e.g. ``events.ts``),
    which vanilla Spark rejects with PARQUET_TYPE_ILLEGAL: they are read
    as nano-epoch longs (legacy conf) and rebuilt as microsecond
    timestamps — the same floor-truncation DuckDB applies, so oracle
    comparisons stay exact.
    """
    path = f"{sf_dir}/{name}.parquet"
    import pyarrow.parquet as pq

    ns_cols = [
        f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"
    ]
    if not ns_cols:
        return _ntz_to_timestamp(spark.read.parquet(path))
    # Detection is schema-driven (not exception-probed) so the conf is
    # only ever set for tables that actually need it, and _nanos_as_long
    # restores it immediately after the plan is built.
    with _nanos_as_long(spark):
        df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return _ntz_to_timestamp(df)


def _ntz_to_timestamp(df):
    """Normalize any TIMESTAMP_NTZ column to session-tz TIMESTAMP.

    Belt-and-suspenders for sessions not built by :func:`get_spark`
    (where ``inferTimestampNTZ.enabled=false`` already prevents NTZ):
    NTZ cannot be a watermark column and cannot cast to numeric types,
    so the engine standardizes on TIMESTAMP (session tz pinned to UTC),
    which matches DuckDB's naive-timestamp oracle semantics.
    """
    from pyspark.sql import types as T

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def spread_partitions(df):
    """Ensure CPU-heavy per-row work uses every core: a small parquet
    input arrives as ONE partition locally (one file ≈ one split), which
    would serialize an expression-heavy or mapInPandas stage on a single
    task. At cluster scale inputs come pre-split and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str):
    """``readStream`` over one fixture table.

    Streaming file sources require a *directory*; the fixture is a single
    parquet file, so it is symlinked into a fresh temp dir. NANOS
    timestamp columns get the same long→micros rebuild as
    :func:`load_table`, applied on top of the stream.
    """
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    path = f"{sf_dir}/{name}.parquet"
    d = tempfile.mkdtemp(prefix=f"stream_{name}_")
    _STREAM_DIRS.append(d)  # reclaimed at interpreter exit
    os.symlink(path, os.path.join(d, f"{name}.parquet"))
    ns_cols = [
        f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"
    ]
    batch_schema = load_table(spark, sf_dir, name).schema
    if not ns_cols:
        return _ntz_to_timestamp(spark.readStream.schema(batch_schema).parquet(d))
    raw_schema = T.StructType(
        [
            T.StructField(
                f.name, T.LongType() if f.name in ns_cols else f.dataType, True
            )
            for f in batch_schema
        ]
    )
    with _nanos_as_long(spark):
        df = spark.readStream.schema(raw_schema).parquet(d)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df
