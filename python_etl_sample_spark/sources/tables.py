"""Parquet table loader + normalization layer (SURVEY.md §7 M0).

The one semantic normalization this engine needs at load time
(FIXTURES.md): ``events.ts`` must come out as ``timestamp_ntz``
whatever physical unit the fixture generation used. The driver has
shipped the column both as timestamp[ns] (rounds 1-3 — Spark reads it
as bigint nanos under ``nanosAsLong=true``; convert via
**integer-division** microseconds ``ts div 1000``, value-exact against
DuckDB) and as timestamp[us] (round 4+ — Spark reads it natively as
TIMESTAMP_NTZ; no conversion). The loader branches on the LOADED type,
not on an assumption about the file, so either vintage of fixture
works unmodified.

Schema memo: ``spark.read.parquet(path)`` without a schema runs a Spark
job that reads the file footers to infer one, while the query is still
being built. The loader does that once per file version in a process:
``raw_schema`` keeps the inferred ``StructType`` keyed by the file's
identity ``(abspath, st_ino, st_mtime_ns, st_size)``, and every read
after the first supplies it (``spark.read.schema(s).parquet(path)``),
which plans the same scan without the inference job. A rewritten file
changes its identity and is inferred again. The memo holds file
metadata only — about ten schemas, no rows, plans or persisted data —
so results are still recomputed on every action. Paths that are not
local regular files (directories, object-store URIs) bypass the memo
and pay inference on each read; at that scale a catalog supplies the
schema (SCALE.md "Loader").

Scale note: loading is purely lazy — each table is a parquet scan plan,
so Catalyst column-pruning/predicate-pushdown reach the scan. No data is
cached or materialized here.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from python_etl_sample_spark.session import ensure_session_configs

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

#: file identity -> schema Spark inferred for it. Two threads missing
#: the same key at once both infer the same schema; the later store
#: overwrites an equal value, so no lock is needed.
_SCHEMAS: dict[tuple[str, int, int, int], StructType] = {}


def _identity(path: str) -> tuple[str, int, int, int] | None:
    """Memo key of a local regular file, or None when it cannot be memoized."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path (object-store URI) or missing
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size)


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Schema of ``{sf_dir}/{name}.parquet`` as Spark reads it, before
    normalization; inferred at most once per file version (see module doc)."""
    ensure_session_configs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _identity(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key is not None:
            _SCHEMAS[key] = schema
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame, normalized."""
    schema = raw_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        if isinstance(schema["ts"].dataType, LongType):
            # timestamp[ns] fixture read as bigint nanos (nanosAsLong)
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all ten fixture tables; keys per FIXTURES.md."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views for the SQL path."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
