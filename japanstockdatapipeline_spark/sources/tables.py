"""Parquet table sources.

The driver testdata is a TPC-H-ish star schema plus an `events`
stream table and `documents`/`embeddings` for the LLM-pipeline
operators (TESTDATA.md). Reads are lazy; Catalyst prunes columns
and pushes predicates into the parquet scan, so loading "all"
tables costs nothing until an action runs.

At 100 TB these would be date-partitioned directories; the reader
API is the same (`spark.read.parquet(dir)` + partition pruning).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Parquet schema cache, keyed by file path. Schema inference runs a
# Spark job (footer read) per `spark.read.parquet` call; composite
# panels load the same table once per member, so without this cache a
# single plan build re-reads the same footer up to 11 times. The
# schema is a property of the (immutable per round) file, not the
# session, so caching across sessions is safe; with a cached schema
# `spark.read.schema(s).parquet(path)` builds job-free.
# `streaming.incremental.read_published` reads each published version
# `root/v=<n>` through this cache too. That is safe because version
# directories are write-once: `publish_version` numbers each new
# version past the highest present, and `prune_versions` always keeps
# the highest, so a version number is never written twice.
_SCHEMA_CACHE: dict = {}
# One lock per path, so loads of the same table from concurrent threads
# (the pipeline's silver and indicators steps both load events) run one
# schema-inference job between them instead of one each.
_SCHEMA_LOCKS: dict = {}

# Serializes the TIMESTAMP(NANOS) fallback of `_load_events`, which sets
# and restores a session-wide conf: two interleaved fallbacks could
# unset the flag under each other, or restore it to the other's "true"
# and leave it set for the rest of the session.
_NANOS_FLAG_LOCK = threading.Lock()


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    s = _SCHEMA_CACHE.get(path)
    if s is not None:
        return spark.read.schema(s).parquet(path)
    with _SCHEMA_LOCKS.setdefault(path, threading.Lock()):
        s = _SCHEMA_CACHE.get(path)
        if s is not None:
            return spark.read.schema(s).parquet(path)
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, f"{sf_dir}/{name}.parquet")
    return _read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events with a normalized bigint `ts_us` (epoch microseconds).

    The driver has generated `events.ts` as parquet TIMESTAMP(NANOS) in
    some rounds and TIMESTAMP(MICROS) in others, so dispatch on the type
    Spark actually loads rather than assuming one:

    - ``timestamp[ns]``: Spark's reader rejects nanos unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set; retry the read with
      the flag scoped (set → read → restore) and truncate ns → µs, the
      same coercion DuckDB applies for its µs TIMESTAMP.
    - ``timestamp[us]`` (NTZ or LTZ): convert directly to epoch micros,
      matching DuckDB's ``epoch_us(ts)``.

    Everything downstream (windows, as-of joins, sessionization) orders
    and arithmetics on the bigint, which is also the cheapest sort key.
    """
    try:
        df = _read_parquet_cached(spark, path)
    except Exception:
        # (the nanos path below is never schema-cached: its schema is
        # only valid while the legacy flag is in effect)
        # Likely TIMESTAMP(NANOS); retry with the legacy flag, scoped so
        # the session-wide setting is not mutated as a load side effect.
        with _NANOS_FLAG_LOCK:
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            try:
                df = spark.read.parquet(path)
                # Force schema resolution while the flag is active.
                df.schema
            finally:
                if prev is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        ts_us = F.expr("ts DIV 1000")
    elif ts_type == "timestamp_ntz":
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    elif ts_type == "timestamp":
        ts_us = F.unix_micros(F.col("ts"))
    else:
        raise TypeError(f"unexpected events.ts type {ts_type!r} at {path}")
    return df.withColumn("ts_us", ts_us.cast("bigint")).drop("ts")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]
