"""Driver-local DataFrame constructors that bypass the Python-RDD path.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into a
pickled Python RDD with ``defaultParallelism`` slices; every downstream
action then round-trips the JVM↔Python boundary once per slice — a
16-row metadata frame costs seconds to evaluate on a 32-core master
(measured: 2.6 s for ``count()``, ~6 s for ``coalesce(1).write``).
These helpers keep metadata-sized frames on the fast paths:

* :func:`local_df` — build via a pyarrow Table (a JVM LocalRelation:
  ~0.2 s evaluation, no Python workers);
* :func:`empty_df` — an empty frame from an empty pyarrow Table
  (an empty LocalRelation, no RDD at all);
* :func:`write_local_parquet` — write driver-local rows as ONE parquet
  file via pyarrow directly (no Spark job; for driver-owned metadata
  directories like index centroids, not for ``TableIO``-managed
  tables).

Only for METADATA-sized data (centroids, manifests rows, summaries):
anything row-scale must stay distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Empty DataFrame whose ``.schema == schema``, nullability
    included — an empty LocalRelation built from an empty pyarrow Table
    instead of an empty Python RDD whose evaluation still schedules
    ``defaultParallelism`` tasks."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows → DataFrame via the Arrow fast path.

    ``rows`` is a list of tuples (as for ``createDataFrame``); ``schema``
    a StructType or DDL string. Each column becomes one ``pa.array`` of
    the schema's Arrow type built from the Python values as given
    (``from_pandas=False``): NaN stays NaN, None stays NULL and int64
    keeps every bit. Falls back to the plain constructor if the Arrow conversion rejects the
    data (never silently wrong)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import TimestampType

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if not rows:
        return empty_df(spark, schema)
    names = [f.name for f in schema.fields]
    if {len(r) for r in rows} != {len(names)}:
        # fail like createDataFrame(rows, schema) would — a silent
        # zip() truncation would ship arity bugs into metadata tables
        raise ValueError(
            f"local_df: row arity {sorted({len(r) for r in rows})} != "
            f"schema arity {len(names)}"
        )

    def _column(field, values):
        typ = to_arrow_type(field.dataType)
        if isinstance(field.dataType, TimestampType):
            # the plain constructor's own conversion: NAIVE datetimes
            # are read in the SYSTEM-local zone (time.mktime, DST gaps
            # included), aware ones by their offset. pyarrow would take
            # either wall clock as UTC, so hand it epoch micros instead
            micros = [field.dataType.toInternal(v) for v in values]
            return pa.array(micros, type=pa.int64()).cast(typ)
        return pa.array(values, type=typ, from_pandas=False)

    try:
        table = pa.table(
            {f.name: _column(f, list(col)) for f, col in zip(schema.fields, zip(*rows))}
        )
        return spark.createDataFrame(table, schema)
    except Exception:  # pragma: no cover — conversion edge cases
        return spark.createDataFrame(rows, schema)


def write_local_parquet(path: str, table) -> None:
    """Write a pyarrow Table as ``<path>/part-00000.parquet`` (fresh
    directory), readable by ``spark.read.parquet(path)``. Driver-side
    only — no Spark job; use for tiny driver-owned metadata."""
    import os
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), compression="snappy")
