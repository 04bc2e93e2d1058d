"""session.local_rows_df — the driver-built frame every catalog probe,
codebook write and probe list goes through. Its contract: the same
values and dtypes as ``spark.createDataFrame(rows, schema)`` for every
schema shape the call sites pass, planned as a JVM-local
``LocalTableScan`` so that collecting it (or a select/limit over it,
the bounded query collect) starts zero Spark jobs, and broadcasting
it needs no Python worker."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vector_io_spark.session import local_rows_df

_SHAPES = {
    # (rows, schema) as the call sites build them
    "string": ([("alpha",), ("beta",), ("",)], "t string"),
    "long": ([(1,), (10,), (2**40,)], "top_k long"),
    "string_bigint": (
        [("a", 2**40), ("b", -3)], "source_a string, __na bigint"
    ),
    "string_int_bigint": (
        [("q1", 7, 1_000_000), ("q2", 4095, -2)],
        "query_id string, bucket int, wq_int bigint",
    ),
    "int_long": ([(0, 0), (3, 2**33)], "_pid int, _offset long"),
    "all_long": (
        [(8, 16, 10, 1_000_000, 64)],
        "num_subspaces long, codebook_size long, iters long, "
        "scale long, dim long",
    ),
    "array_float": (
        [(5, 1, [0.1, -2.5, 1e-8]), (6, 3, [3.25, 0.0, -0.0])],
        "query_id bigint, cell int, __qv array<float>",
    ),
    "array_double": (
        [(0, [0.1, 1.0 / 3.0]), (1, [-1e300, 2.5])],
        "cell int, centroid array<double>",
    ),
    "struct_long_id": (
        [(1, 0), (1, 3), (2, 1)],
        StructType(
            [
                StructField("query_id", LongType()),
                StructField("__cell", IntegerType()),
            ]
        ),
    ),
    "struct_string_id": (
        [("7#0", 2), ("7#1", 0)],
        StructType(
            [
                StructField("query_id", StringType()),
                StructField("__cell", IntegerType()),
            ]
        ),
    ),
    "struct_array_double": (
        [("q", [0.5, 0.25])],
        StructType(
            [
                StructField("query_id", StringType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        ),
    ),
    "nones": (
        [(None, None, None), ("x", None, [1.0, None])],
        "s string, n bigint, v array<float>",
    ),
    "zero_rows_ddl": ([], "query_id bigint, cell int, __qv array<float>"),
    "zero_rows_struct": (
        [],
        StructType([StructField("vec_id", LongType())]),
    ),
}


def _jobs(spark, action) -> int:
    sc = spark.sparkContext
    group = f"local-rows-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_local_rows_df_matches_create_dataframe(spark, shape):
    rows, schema = _SHAPES[shape]
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.dtypes == want.dtypes
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_local_rows_df_collect_and_broadcast_are_jvm_local(spark, shape):
    rows, schema = _SHAPES[shape]
    df = local_rows_df(spark, rows, schema)
    first = df.columns[0]
    assert _jobs(spark, df.collect) == 0
    # the bounded query collect of every probe: select + limit
    assert _jobs(
        spark, lambda: df.select(first).limit(100_001).collect()
    ) == 0
    # a broadcast ships the LocalTableScan's rows from the JVM: no
    # Python-worker RDD scan anywhere in the plan
    joined = spark.range(4).select(F.col("id").alias("__k")).crossJoin(
        F.broadcast(df)
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert joined.count() == 4 * len(rows)


def test_local_rows_df_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="fields"):
        local_rows_df(spark, [(1, 2), (3,)], "a int, b int")
