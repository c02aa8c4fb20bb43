"""Driver side of every size gate: one fetch, one local-relation build, one
carried table.

Several iterative operators (connected components, shortest paths, the halo
fixpoints, flow accumulation's contracted forest) probe their input size and,
under a gate, solve it with a numpy kernel on the driver instead of one Spark
job per round. Every such kernel needs the same three steps, and they live
here so the Python<->JVM boundary is crossed in exactly one way:

- `fetch(df)`: the frame's rows as a `pyarrow.Table` — one Spark job
  (`DataFrame.toArrow`), or none when the frame already carries its table.
- `build(spark, data, schema)`: a local relation from columns the kernel
  produced, created from an Arrow table. `createDataFrame(pa.Table, schema)`
  takes the same path whatever `spark.sql.execution.arrow.pyspark.enabled`
  says; the pandas route does not (without Arrow it infers row by row, and a
  nullable integer column degrades to float and is rejected).
- `carry(df, table)`: attach the table to the DataFrame, so the next operator
  runs its own numpy kernel on it without fetching again. A carried table
  always holds exactly the frame's rows; any transformation of the frame
  returns a new DataFrame without it, which falls back to the Spark path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

_CARRIED = "_local_arrow"


def carried(df: DataFrame) -> pa.Table | None:
    """The Arrow table `df` carries, or None."""
    return getattr(df, _CARRIED, None)


def carry(df: DataFrame, table: pa.Table) -> DataFrame:
    """Attach `table`, which must hold exactly df's rows, to `df`; returns
    df."""
    setattr(df, _CARRIED, table)
    return df


def fetch(df: DataFrame) -> pa.Table:
    """df's rows on the driver: the carried table, else one toArrow job."""
    table = carried(df)
    return table if table is not None else df.toArrow()


def build(spark: SparkSession, data, schema: str | StructType) -> DataFrame:
    """Local relation of `data` — anything indexable by column name: a dict
    of numpy arrays, lists or Arrow arrays, or a pandas frame — under
    `schema`, carrying the schema-typed Arrow table."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    table = pa.table(
        {n: data[n] for n in schema.names}, schema=to_arrow_schema(schema)
    )
    return carry(spark.createDataFrame(table, schema), table)
