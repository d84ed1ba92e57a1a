"""Driver-built DataFrames as Arrow local relations.

Every small frame the engine builds on the driver — a query's
one-row result of counts, a literal dim, the antidote rows uploaded
each loop iteration — goes through ``local_frame``.  The rows become
a ``pyarrow.Table`` under the declared schema and reach the JVM in
one Arrow stream, where the frame plans as a ``LocalTableScan``.

Why not ``spark.createDataFrame(list_of_tuples, ddl)``: that path
pickles the rows, ``parallelize``s them and converts them back with
``_to_java_object_rdd``, so the frame plans as ``ExistingRDD`` and
every read of it starts a Python-worker task per slice.  In the
antidote loop that frame is the X̃ upload that each ALS fit re-reads,
and those tasks were the workload's only Python-worker work.  The
rows, types and Spark jobs are the same on both paths.

One site keeps the list path on purpose: the partition-pruning dim in
``operators/scans.q_dpp_partition_pruned_join``.  As a local relation
its filter is folded away at optimisation time (``ConvertToLocalRelation``),
so dynamic partition pruning has no filtered build side to inject and
never fires.  tests/test_plans.py source-scans the package: raw
``createDataFrame(`` may appear only here and at that site.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame of ``rows`` (tuples or ``Row``s, positional) under
    ``schema`` (a DDL string or a ``StructType``), planned as a
    ``LocalTableScan``."""
    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(st)
    cols = list(zip(*rows))
    if cols:
        table = pa.Table.from_arrays(
            [
                pa.array(c, type=f.type)
                for c, f in zip(cols, arrow_schema, strict=True)
            ],
            schema=arrow_schema,
        )
    else:
        table = arrow_schema.empty_table()
    return spark.createDataFrame(table, st)
