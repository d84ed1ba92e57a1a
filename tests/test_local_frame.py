"""local_frame must build the same frame as the list path it replaces.

Every driver-built DataFrame goes through
``functions.frames.local_frame`` (a pyarrow Table under the declared
schema, planned as a LocalTableScan) instead of
``spark.createDataFrame(list_of_tuples, ddl)`` (pickled rows, planned
as ExistingRDD).  For every DDL type the call sites use, and for the
two schema-object sites, the schema and the collected rows must match
the list path exactly.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from antidote_data_framework_spark.functions.frames import local_frame
from antidote_data_framework_spark.plans import physical_plan

_DDL = "i INT, b BIGINT, d DOUBLE, s STRING, f BOOLEAN, a ARRAY<BIGINT>"
_ROWS = [
    (1, 2**40, 0.5, "x", True, [1, 2**40]),
    (-7, -1, -2.25, "", False, []),
    (None, None, None, None, None, None),
    (2**31 - 1, 0, 1e300, "ünï", True, [None, 3]),
]


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    return got


def test_every_call_site_type_matches_list_path(spark):
    _same(spark, _ROWS, _DDL)
    # one column at a time too, so a type-specific mismatch names itself
    for k, field in enumerate(_DDL.split(", ")):
        _same(spark, [(r[k],) for r in _ROWS], field)


def test_plans_as_local_table_scan(spark):
    plan = physical_plan(local_frame(spark, _ROWS, _DDL))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_empty_rows_with_struct_type(spark):
    # operators/timeseries.chunked_carry_fold's empty-input state table
    st = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("carry_level", T.DoubleType()),
        ]
    )
    got = _same(spark, [], st)
    assert got.count() == 0
    # the site itself passes its state schema as DDL
    assert _same(spark, [], "user_id BIGINT, carry_level DOUBLE").count() == 0


def test_collected_rows_with_their_schema(spark):
    # ml/glm.q_glm_logreg_irls re-uploads collected Rows under out.schema,
    # including the non-nullable fields that F.lit produces
    src = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(0.25).alias("beta"),
        (F.col("id") * 1.5).alias("v"),
        F.lit("s").alias("tag"),
    )
    rows = src.collect()
    assert isinstance(rows[0], Row)
    got = _same(spark, rows, src.schema)
    assert got.schema == src.schema


def test_names_only_site_keeps_inferred_type(spark):
    # operators/stats_nonparam.q_autocorr_acf's lag dim was names-only;
    # the list path infers BIGINT, which the DDL now states
    rows = [(1,), (2,), (3,), (7,)]
    assert (
        local_frame(spark, rows, "lag BIGINT").schema
        == spark.createDataFrame(rows, ["lag"]).schema
    )
