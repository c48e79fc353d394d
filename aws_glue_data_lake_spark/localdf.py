"""Driver-local metadata DataFrames as JVM local relations.

Metadata-sized frames (file maps, DV descriptors, version maps, snapshot
listings, path lists for ``mapInPandas`` readers) are built from rows
that already live on the driver. ``spark.createDataFrame(rows, schema)``
or ``createDataFrame(sc.parallelize(rows), schema)`` turn them into an
RDD of pickled rows followed by a Python ``.map`` (``toInternal``), so
every job that touches the frame — each broadcast built from a 5-row
file map, for one — first starts Python workers to unpickle a handful of
rows: 130-290 ms a job, against nothing for the data itself.

``local_df`` converts the rows on the driver instead (the same
``toInternal`` the RDD route runs in the workers) and hands them to the
JVM as one Arrow table. Spark stores the result as a ``LocalRelation``
(up to ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
default), planned as ``LocalTableScan``:

- a broadcast of it collects on the driver with no job at all;
- Catalyst folds projections and filters into it, and an empty one lets
  ``PropagateEmptyRelation`` drop the joins and unions it feeds;
- the scan spreads its rows over min(rows,
  ``spark.sql.leafNodeDefaultParallelism``) partitions, so a path frame
  feeding a ``mapInPandas`` reader still reads its files concurrently.
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    DayTimeIntervalType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_json_string,
)


@functools.lru_cache(maxsize=256)
def _ddl_json(ddl: str) -> str:
    # one JVM parse per distinct DDL string; callers get a fresh object
    return DataType.fromDDL(ddl).json()


def _internal_arrow_type(dt: DataType) -> pa.DataType:
    """Arrow type of ``dt``'s ``toInternal`` values; Spark's own Arrow
    cast takes it to the column's type (epoch-µs int64 -> timestamp,
    epoch-day int32 -> date32)."""
    if isinstance(dt, (TimestampType, TimestampNTZType, DayTimeIntervalType)):
        return pa.int64()
    if isinstance(dt, DateType):
        return pa.int32()
    if isinstance(dt, ArrayType):
        return pa.list_(_internal_arrow_type(dt.elementType))
    if isinstance(dt, MapType):
        return pa.map_(
            _internal_arrow_type(dt.keyType),
            _internal_arrow_type(dt.valueType),
        )
    if isinstance(dt, StructType):
        return pa.struct(
            [(f.name, _internal_arrow_type(f.dataType)) for f in dt.fields]
        )
    return to_arrow_type(dt)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a ``LocalTableScan``.

    ``rows``: any iterable of tuples or ``Row`` objects — or of bare
    values when ``schema`` is an atomic type, which names the single
    column ``value`` as ``createDataFrame`` does. ``schema``: a DDL
    string, a ``StructType`` or an atomic ``DataType``.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_json_string(_ddl_json(schema))
    if not isinstance(schema, StructType):
        schema = StructType([StructField("value", schema, True)])
        rows = ((v,) for v in rows)
    internal = [schema.toInternal(r) for r in rows]
    columns = (
        zip(*internal, strict=True)
        if internal
        else ([] for _ in schema.fields)
    )
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=_internal_arrow_type(f.dataType))
            for col, f in zip(columns, schema.fields, strict=True)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)
