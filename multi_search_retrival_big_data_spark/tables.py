"""Loaders for the driver's synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

At 100 TB these become partitioned/bucketed parquet datasets; the
loaders stay the same because everything downstream is expressed
against the DataFrame schema, not the file layout. `load()` is a thin
`spark.read.parquet` so Catalyst keeps predicate pushdown and column
pruning into the scan.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLE_NAMES = (
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


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def local(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """A request-sized table built on the driver (a result page, a
    vote list) as an Arrow-backed LocalRelation: creating, reading and
    collecting it runs no Spark job, where createDataFrame(list) builds
    an RDD that every read (and every broadcast of it) re-runs as a
    job. Empty `rows` give an empty relation of the same schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in zip(cols, st.fields)],
        names=st.names,
    )
    return spark.createDataFrame(table, st)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has shipped as TIMESTAMP(NANOS) in some testdata
    generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others.
    Handle both: NANOS is read as LONG (legacy conf) and truncated to
    microseconds (identical to DuckDB's ns→us truncation); MICROS-NTZ
    arrives as timestamp_ntz and is cast to session-TZ timestamp
    (identity wall-clock under the UTC session, see session.py) so
    downstream watermarks/windows see one consistent type."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed in newer Spark → nanos files unsupported there
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer division — a double `/ 1000` can round UP across a
        # microsecond boundary, drifting 1µs from DuckDB's truncation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so spark.sql() queries mirror
    the DuckDB oracle's pre-registered views."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
