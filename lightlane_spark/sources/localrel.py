"""Driver-local row lists as Arrow-backed DataFrames.

``SparkSession.createDataFrame(list_of_tuples)`` ships the rows
through ``sc.parallelize`` over ``defaultParallelism`` slices: every
downstream action then schedules one near-empty Python-worker task
per core (measured ~0.5 s per action at local[32] for a 3-row
relation — pure scheduling + pickling overhead, and at cluster scale
the same shape wastes a full wave of executor tasks on bytes that fit
in one Arrow batch). The Arrow path instead converts on the
driver and lands as few partitions as the data needs (one batch for
anything small) with no Python worker in the loop (~0.1 s for the
same action, guide §4/§6: move small data as one batch, not as a
task per core).

Use :func:`local_df` for every small driver-side relation — probe
sets, merge tables, codebooks, manifests. Values are identical to the
``createDataFrame(list)`` path; only the construction changes.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """DataFrame from a driver-local list of row tuples via one
    Arrow table (no pickled-RDD fan-out).

    ``schema`` is a DDL string (``"a: int, b: string"``) or a
    ``StructType`` — always explicit, never inferred, so the result's
    dtypes match the ``createDataFrame(list, schema)`` form exactly.
    ``createDataFrame`` takes the Arrow table whatever the session's
    ``spark.sql.execution.arrow.pyspark.enabled`` says, so the
    caller's session is left as it was.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    rows = list(rows)
    if not rows:
        # the classic path costs nothing at zero rows
        return spark.createDataFrame([], st)
    columns = list(zip(*rows))
    table = pa.table(
        {name: list(col) for name, col in zip(st.fieldNames(), columns)},
        schema=to_arrow_schema(st),
    )
    return spark.createDataFrame(table, st)
