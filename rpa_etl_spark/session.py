"""SparkSession factory.

Single place where execution knobs live. Test/bench runs use local[N]; the
same confs are what we would ship to a 1000-executor cluster (AQE on, skew
join handling on, Arrow for the few pandas-UDF paths, explicit shuffle
parallelism — on a real cluster `spark.sql.shuffle.partitions` would be
sized ~2-3x total cores and AQE coalesces the rest).

Python workers get one fix that no conf can carry. Every task's worker calls
`importlib.invalidate_caches()` (`pyspark/worker_util.py:setup_spark_files`).
On CPython < 3.13 that makes each `zipimporter` in `sys.path_importer_cache`
re-read its archive's whole central directory. A warm worker holds 16 of
them, over `pyspark.zip`, the py4j zip and the `spark-core` jar that
`SparkContext.jarOfObject` puts on the worker path. Together they cost
170-280 ms of worker CPU per task on a 4-core box, against < 2 ms in the
user function.
CPython 3.13 changed `zipimporter.invalidate_caches` to only drop the cache,
so the fix is gated to older versions. `rpa_etl_spark/_worker.py` replaces
the method with one that re-reads an archive only when its (mtime, size,
inode) stamp moved. It is installed when the package is imported inside a
worker (engine functions are pickled by reference, so every worker that runs
engine code imports it), not through `spark.python.daemon.module`: that conf
would miss the sessions this factory does not build, such as an external
driver's own `SparkSession`. The driver's import machinery is left alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "rpa-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Confs chosen for scale, not just for the local test harness:
    - AQE + skew-join: runtime re-planning (partition coalescing, skew
      splitting, dynamic broadcast) — essential at 100 TB where static
      estimates are wrong.
    - Arrow: every pandas-UDF boundary is Arrow-batched.
    - UTC session timezone: deterministic timestamp semantics everywhere.
    - parquet pushdown/pruning left at defaults (on): all declared queries
      are expressed declaratively so Catalyst can push filters into scans.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEF_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark 4
        # rejects by default; read as long and convert in tables.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read parquet timestamps as LTZ; with the UTC session timezone this
        # is value-identical to NTZ and keeps unix_millis & friends usable
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf (read at SparkContext start). The bar's JVM thread
        # writes \r-repaints to stderr asynchronously; under a merged
        # stdout+stderr capture a repaint can land INSIDE a stdout line.
        # bench.py sets this env so its one-JSON-line stdout contract
        # cannot be corrupted (cost rounds 3 and 4 their bench records).
        .config(
            "spark.ui.showConsoleProgress",
            "false" if os.environ.get("SPARK_GRAFT_NO_PROGRESS") else "true",
        )
        # the invoice-parse projections generate large methods; the default
        # 8k-bytecode fallback threshold forces interpreted eval too eagerly
        .config("spark.sql.codegen.hugeMethodLimit", "65535")
        # static conf, default 100: with 80+ declared queries (x several
        # codegen units each) the generated-class cache cycles completely,
        # so every repeated run recompiles and re-JITs from scratch —
        # measured as multi-x swings on the heavy parse plans. One class
        # is a few KB; 5000 entries is ~tens of MB against 128 GiB.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # 70+ codegen-heavy queries in one JVM can exhaust the default
        # ~240 MB JIT code cache; once full the JIT disables itself and
        # every later query runs interpreted (observed as multi-x
        # slowdowns on queries late in the bench order). Only takes
        # effect at JVM launch — i.e. the first getOrCreate in a process.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    return builder.getOrCreate()
