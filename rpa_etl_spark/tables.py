"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table per scale factor.

We read with schema-on-file (parquet carries the schema; no inference cost)
and never collect. Loaders return plain DataFrames so every declared query
is a pure logical plan Catalyst can optimize end-to-end (filter pushdown,
column pruning reach the parquet scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make timestamp semantics session-independent.

    The driver runs queries in its OWN session (not our factory), where
    parquet timestamps may arrive as TIMESTAMP_NTZ and the timezone may
    not be UTC. Both knobs are runtime-settable; setting them here means
    every load() call — no matter who built the session — sees the same
    deterministic UTC timestamp semantics the oracles assume.
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS); some Spark
        # configurations reject it unless read as a raw long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


# Schema memo: (sf_dir, name, mtime_ns, size) -> inferred StructType, per
# live session. `spark.read.parquet` costs ~100 ms of DRIVER work per call
# (path resolution + footer schema inference + file-index build) and every
# query re-pays it for every table it touches — pure metadata work,
# re-derived identically each time (measured: 218 load() calls per bench
# pass, so ~20 s/pass of footer re-inference). Production engines resolve
# a table's schema through a catalog exactly once; this memo is that
# catalog equivalence for the fixed test tables. Only the SCHEMA is
# cached: each call still builds a fresh DataFrame (fresh attribute ids —
# two loads of one table stay independent relations for joins) with
# `spark.read.schema(s)` (~15 ms), and every action still scans the
# parquet bytes. The (mtime, size) key drops the entry if anyone rewrites
# the file; WeakKeyDictionary scopes entries to their session's lifetime.
import weakref

_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        # memoize REGULAR FILES only: for a directory-style dataset the
        # dir's (mtime, size) does not track part-file rewrites, so a
        # stale schema could be served (round-14 ADVICE). The driver's
        # tables are single files; anything else re-infers every call.
        import stat as _stat

        if _stat.S_ISREG(st.st_mode):
            key = (sf_dir, name, st.st_mtime_ns, st.st_size)
        else:
            key = None
    except OSError:
        key = None  # non-local/odd path: fall through, no memo
    memo = _SCHEMA_MEMO.setdefault(spark, {}) if key is not None else None
    if memo is not None and key in memo:
        df = spark.read.schema(memo[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if memo is not None:
            memo[key] = df.schema
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives as a
        # raw nano count. Truncate to micros (same as DuckDB/Arrow readers).
        # integer div — ns counts exceed double's 2^53 exact range
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ-proofing: sessions without inferTimestampNTZ=false read parquet
    # timestamps as TIMESTAMP_NTZ, which unix_millis/date_trunc reject.
    # With the UTC session timezone the cast is value-identical.
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Rebalance a DataFrame to CPU parallelism ahead of a compute-bound
    stage (regex chains, hash signatures, codecs, edit distance, expand-
    based multi-distinct, Python kernels).

    Spark sizes scan stages by input splits — the right currency for I/O,
    the wrong one for CPU: a single-row-group file scans as ONE task, so
    everything narrow downstream runs on one core; AQE broadcast joins
    likewise leave the probe side at scan parallelism. The explicit
    exchange here is sized to ``defaultParallelism`` instead. Pass the
    downstream join/aggregation ``keys`` when one exists — a keyed
    exchange satisfies that operator's required distribution, so at
    production scale it REPLACES the shuffle the join would have planned
    (cost: zero); unkeyed round-robin costs one pass over the (narrow)
    kernel input, repaid whenever kernel-cost ≫ row-width. See SCALE.md
    section 8.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(n, *keys)
    return df.repartition(n)
