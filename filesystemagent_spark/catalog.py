"""Table catalog over a directory of parquet tables.

The reference keeps its catalog in SQLite
(/root/reference/src/file_indexing_system.py:35-56); here the catalog
is just schema-on-read parquet — the layout that scales to 100 TB
(partition pruning + column pruning + predicate pushdown all reach the
scan). Tables are cached DataFrame handles, not materialized data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from filesystemagent_spark.handles import HANDLES

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTRA_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTRA_TABLES

# Tables whose parquet timestamps are NANOS-precision (see _read_table()).
_NANO_TS_COLS = {"events": ("ts",)}

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5 rows, nation=25 at every SF; supplier/part grow
# sub-linearly vs lineitem). Fact tables must never be broadcast.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name in _NANO_TS_COLS:
        # Parquet TIMESTAMP(NANOS) is unreadable by Spark's native
        # reader; it ingests as int64 nanos (nanosAsLong, set by
        # session.py) and is truncated to microsecond timestamps
        # (integer div — these values exceed double precision).
        df = spark.read.parquet(path)
        for col in _NANO_TS_COLS[name]:
            if isinstance(df.schema[col].dataType, ST.LongType):
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"{col} div 1000"))
                )
    else:
        df = spark.read.parquet(path)
    return Catalog._normalize_ts(df)


class Catalog:
    """Lazy handle set over ``{sf_dir}/{table}.parquet``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        """The table's plan handle, shared by every Catalog of the
        session through the stamp-keyed handle memo (handles.py): each
        query call builds a fresh Catalog, and a cold ``read.parquet``
        costs 0.1-0.5 s of py4j round trips and JVM analysis."""
        path = os.path.join(self.sf_dir, f"{name}.parquet")
        return HANDLES.get(self.spark, _read_table, path, name)

    @staticmethod
    def _normalize_ts(df: DataFrame) -> DataFrame:
        """Pin every timestamp-like column to TIMESTAMP_NTZ. Pandas-
        written parquet (isAdjustedToUTC=false) reads as NTZ under
        Spark 4 defaults but as LTZ when `inferTimestampNTZ` is off —
        the cast (identity under the UTC session tz session.py sets) makes
        query semantics and output schemas independent of the reader
        config of whatever session the driver hands us. DATE columns
        are widened the same way: the driver regenerates testdata
        between rounds and has already changed temporal physical types
        once (NANOS→micros), so a DATE l_shipdate must not change any
        query's comparison or formatting behavior."""
        ts_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ST.TimestampType, ST.DateType))
        ]
        for c in ts_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in ALL_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, tables: tuple[str, ...] = ALL_TABLES) -> None:
        """Expose tables as temp views for the SQL surface."""
        for name in tables:
            self.table(name).createOrReplaceTempView(name)
