"""Environment record attached to every benchmark run, and the rule for
which records may be compared."""

from __future__ import annotations

import hashlib
import os
import subprocess

# records that differ in any of these were taken on different parallelism
PARALLELISM_KEYS = ("nproc", "spark_graft_cpus", "default_parallelism")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def source_digest(root: str) -> str:
    """sha256 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "rpa_etl_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def record(spark, root: str, load_start: list[float]) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
    }


def comparable(a: dict, b: dict) -> list[str]:
    """Reasons two environment records must not be compared (empty when
    they may be)."""
    return [f"{k}: {a.get(k)} != {b.get(k)}" for k in PARALLELISM_KEYS
            if a.get(k) != b.get(k)]
