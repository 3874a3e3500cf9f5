"""Driver-sized frames: the one way library code turns Python rows into a
DataFrame, and the one bounded way it brings rows back to the driver.

``spark.createDataFrame(<list>, schema)`` pickles the rows into a
parallelized RDD and plans a ``LogicalRDD`` over it, so every action
on the frame runs a Spark job over ``defaultParallelism`` slices, even
for one row. :func:`local_frame` sends the rows as one Arrow table
instead; Spark plans a ``LocalRelation``, which the optimizer can fold
projections and filters into, and which a collect answers on the
driver without a job. The Arrow table is built from the Python values
column by column, so a bigint above 2**53 next to a NULL keeps its
exact value (a pandas frame would coerce it to float64), and the path
does not depend on ``spark.sql.execution.arrow.pyspark.enabled``:
with that conf off, a pandas frame silently falls back to the pickled
RDD. No session conf is changed.

:func:`bounded_collect` is a plain ``collect`` that fails with
:class:`DriverBoundError` when the result exceeds the row bound the
caller's algorithm assumes.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


class DriverBoundError(RuntimeError):
    """A driver-side collect returned more rows than its stated bound."""


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A ``LocalRelation`` frame over ``rows`` (tuples or ``Row``s in
    ``schema`` field order). ``schema`` is a ``StructType`` or a DDL
    string such as ``"k int, v bigint"``.

    Values convert as ``createDataFrame`` converts them: naive
    ``datetime`` values of a ``timestamp`` column go through
    ``TimestampType.toInternal`` (local wall-clock time), so a
    timestamp round-trips to the same value a collect returns."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    arrow = to_arrow_schema(schema)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow)):
        values = [r[i] for r in rows]
        if isinstance(field.dataType, TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        columns.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list[Row]:
    """``df.collect()``, raising :class:`DriverBoundError` when it holds
    more than ``max_rows`` rows; ``what`` names the result in the
    error. The check runs on the collected rows, so it costs no job: a
    ``LIMIT max_rows + 1`` would make Spark scan partitions one batch
    at a time, a job per batch."""
    rows = df.collect()
    if len(rows) > max_rows:
        raise DriverBoundError(f"{what}: {len(rows)} rows, bound {max_rows}")
    return rows
