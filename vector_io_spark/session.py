"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob here is chosen to also be
correct on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- Arrow on — all pandas-UDF traffic is Arrow-batched.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).
- ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: at 100 TB
  that yields ~800k input splits, the right granularity for 1000 executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Driver-JVM heap for LOCAL mode, where all executor threads share
    the driver process: ~50% of machine RAM (leaving room for the Python
    workers and the OS page cache), floored at 8g and capped at 96g.
    The old fixed 8g OOMed sf10 runs on this 128 GiB box (measured: the
    6.7M-doc signature cache + band-join execution memory exceed a
    shared 8g heap) while the machine sat 94% idle.
    ``SPARK_DRIVER_MEMORY`` overrides. On a real cluster the deploy's
    spark-submit settings own this knob instead."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        half_gb = total_kb // (2 * 1024 * 1024)
        return f"{min(96, max(8, half_gb))}g"
    except OSError:
        return "8g"


def get_spark(
    app_name: str = "vector_io_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parquet scans: enable nested-column vectorized read (vector cols
        # are list<float>) and schema merging off by default (explicit
        # union pass instead — see format/consolidate.py).
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        # Parquet TIMESTAMP(NANOS) (e.g. pandas-written ts[ns]) is illegal
        # in Spark by default; read as long nanos and convert explicitly
        # (see queries._t's events handling).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us] with isAdjustedToUTC=false reads as TIMESTAMP, not
        # TIMESTAMP_NTZ (NTZ breaks watermarks/unix_micros; session tz is
        # UTC so the instant interpretation is identical).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows_df(spark: SparkSession, rows, schema):
    """A DataFrame over a SMALL driver-side row list that Spark plans as
    a JVM-local ``LocalTableScan``: collecting it, or a ``select`` /
    ``limit`` over it, starts ZERO Spark jobs, and broadcasting it runs
    one JVM-only job with no Python worker.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a DDL string
    or a ``StructType``. The rows become one Arrow table (values convert
    by pyarrow's type rules, which reject the wrong-typed values the
    Python row verifier rejects) and reach the JVM as a local relation.
    ``spark.createDataFrame(list, schema)`` and a ``parallelize`` of
    pickled rows plan an RDD scan instead, so every action over them
    pays a Python-worker job (4-core VM, local[2]: collecting a 16-row
    query frame took about 250 ms and 1 job that way, 35 ms and 0 jobs
    as a local relation). Use for any O(KB) driver-built frame:
    codebooks, parameter tables, probe lists, rank offsets. Not for
    anything data-proportional: the rows live in the query plan.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    width = len(struct.fields)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(
            f"local_rows_df: row {bad!r} has {len(bad)} fields, the "
            f"schema {struct.simpleString()} has {width}"
        )
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
