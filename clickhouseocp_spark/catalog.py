"""Fixture catalog: the ten driver tables (TESTDATA.md / FIXTURES.md) as views.

ClickHouse organizes fixed-schema tables into databases with a ``system``
introspection surface (reference Dockerfile:219, Dockefile-ubuntu:52); the Spark
analog is the session catalog + temp views.  ``register_tables`` is the
equivalent of the server's table setup: each parquet file becomes a named view
the SQL entry point can query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that are always broadcast-join candidates at any
#: scale factor (nation/region are bounded by geography; supplier/customer/part
#: scale with SF and must NOT be assumed broadcastable at 100 TB).
BOUNDED_DIMS = ("region", "nation")


def _session_key(spark: SparkSession) -> str:
    """Identity of a live session for the per-session memos (schemas, views,
    UDFs).  applicationId distinguishes a fresh session that reused a GC'd
    id()."""
    return f"{id(spark)}:{spark.sparkContext.applicationId}"


#: (session, absolute path, st_mtime_ns, st_size) → (Spark schema, the
#: TIMESTAMP(NANOS) column names).  Parquet schema inference launches a
#: Spark job (about 0.1 s warm); reading with the remembered schema does
#: not.  The file's mtime and size are in the key, so a file rewritten in
#: place is inferred afresh.
_SCHEMAS: dict[tuple[str, str, int, int], tuple[StructType, tuple[str, ...]]] = {}


def parquet_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, tuple[str, ...]]:
    """The Spark schema of a parquet file as ``spark.read.parquet`` infers
    it, plus the columns stored as TIMESTAMP(NANOS).  Spark has no
    nanosecond timestamp type, so those are read as raw int64 (the session
    gets ``spark.sql.legacy.parquet.nanosAsLong``) and appear as bigint in
    the schema."""
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (_session_key(spark), path, st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(key)
    if hit is not None:
        return hit
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = tuple(
        f.name
        for f in pq.read_schema(path)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for k in [k for k in _SCHEMAS if k[:2] == key[:2]]:
        del _SCHEMAS[k]  # an older version of the same file
    hit = _SCHEMAS[key] = (spark.read.parquet(path).schema, nanos)
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain columnar parquet scan — Catalyst handles
    column pruning + predicate pushdown from here.

    TIMESTAMP(NANOS) columns (unsupported by Spark's reader) are read as int64
    via ``spark.sql.legacy.parquet.nanosAsLong`` and floor-divided to
    microseconds — the same truncation DuckDB applies, so oracle comparisons
    stay exact.  The conf is runtime-settable, so this works on any session the
    driver hands us.

    The schema comes from :func:`parquet_schema`, so only the first read of a
    file launches a Spark job.  Every call still builds a fresh relation:
    two reads of one table must carry distinct attribute ids, or a self-join
    would compare a column with itself.
    """
    # Defensive runtime confs: the driver may hand us a vanilla session.
    # Both are runtime-settable; UTC matches the reference pin
    # (Dockerfile:220) and the DuckDB oracle's naive timestamps.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = parquet_schema(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros(div(`{c}`, 1000))"))
    return df


def local_frame(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """A DataFrame of driver-side rows, built as a ``LocalRelation`` from an
    Arrow table.  ``spark.createDataFrame(rows, schema)`` gives the same
    rows, but as a pickled Python RDD: running it starts Python workers,
    which costs about 0.3 s even for one row."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    # toInternal applies createDataFrame's own conversions: dates to days,
    # timestamps to epoch micros (naive ones in the driver's local zone)
    cols = list(zip(*(schema.toInternal(r) for r in rows))) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


#: (session id, sf_dir, tables) whose views are already registered — temp
#: views survive for the session, so re-registering is pure driver latency
#: (10 parquet footer reads + schema resolutions per SQL-text query).
_REGISTERED: dict[tuple[str, str, tuple[str, ...]], dict[str, DataFrame]] = {}


def invalidate_cache() -> None:
    """Drop the registration and schema memos — the next ``register_tables``
    re-reads the parquet fixtures fresh.  Needed after
    ``ChSparkEngine.execute`` mutations (which replace session views in
    place) when pristine fixtures are wanted again, e.g. between tests."""
    _REGISTERED.clear()
    _SCHEMAS.clear()


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after the table.

    Mirrors the DuckDB oracle environment (same view names) so any
    ``spark.sql`` text in queries/*.py reads identically on both engines.
    Idempotent per (session, sf_dir): repeat calls return the cached views —
    the SQL-text entry path calls this once per query, and the setup must not
    dominate the query itself.  A DIFFERENT sf_dir on the same session
    re-registers (last writer wins, same as createOrReplaceTempView).
    """
    key = (_session_key(spark), os.path.abspath(sf_dir), tuple(tables))
    # Invalidate stale same-session entries pointing at another sf_dir: their
    # view names were just overwritten.
    cached = _REGISTERED.get(key)
    if cached is not None:
        return cached
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    for k in [k for k in _REGISTERED if k[0] == key[0] and k != key]:
        del _REGISTERED[k]
    _REGISTERED[key] = out
    return out
