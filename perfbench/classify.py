"""Derive the query workloads' membership properties and check the frozen
lists in ``membership.py`` against them.

    python3 perfbench/classify.py

Builds every declared query twice on each query workload's tables (seed
1; sf 0.1 for ``sql_analytics``, sf 0.01 for ``iterative_lakehouse``) and
measures the second build, so one-time work such as schema inference does
not count:

- ``construct_jobs``: Spark jobs started while the registry callable runs;
- ``python_plan``: the executed plan has a Python node or an RDD scan;
- ``writes_table``: the callable writes a ``tablefmt`` table.

Prints one JSON object with both eligible sets and exits 1 when a frozen
member no longer has its workload's property.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, membership  # noqa: E402
from perfbench.run import ROOT, prepare_env, stop_engine  # noqa: E402
from perfbench.workloads import ITERATIVE_SF, SQL_SF  # noqa: E402

PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|ArrowWindowPython|"
    r"PythonUDTF|InPandasWithState|PythonDataSource|ExistingRDD")


def sql_eligible(p: dict) -> bool:
    return not p["python_plan"] and p["construct_jobs"] == 0


def iterative_eligible(p: dict) -> bool:
    return p["construct_jobs"] >= 5 or p["writes_table"]


def classify(spark, data: str, tag: str) -> dict[str, dict]:
    """Properties of every declared query on the tables in ``data``;
    ``tag`` keeps the job groups of one call apart from another's."""
    from rpa_etl_spark import registry

    registry.load_all_plans()
    sc = spark.sparkContext
    out = {}
    for name, fn in registry.QUERIES.items():
        fn(spark, data)
        group = f"classify-{tag}-{name}"
        sc.setJobGroup(group, name)
        df = fn(spark, data)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = {
            "construct_jobs": jobs,
            "python_plan": bool(PYTHON_NODE.search(plan)),
            "writes_table": "tablefmt" in inspect.getsource(fn),
        }
    return out


def main() -> int:
    from rpa_etl_spark.session import get_spark

    work = os.path.join(ROOT, "perfbench", "work", f"classify-{os.getpid()}")
    prepare_env(work)
    spark = None
    try:
        spark = get_spark("perfbench-classify")
        spark.sparkContext.setLogLevel("ERROR")
        props = {}
        for sf in (SQL_SF, ITERATIVE_SF):
            data = os.path.join(work, f"data-{sf}")
            datagen.generate(data, 1, sf)
            props[sf] = classify(spark, data, f"sf{sf}")
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    sql = sorted(n for n, p in props[SQL_SF].items() if sql_eligible(p))
    iterative = sorted(n for n, p in props[ITERATIVE_SF].items() if iterative_eligible(p))
    stale = ([n for n in membership.SQL_ANALYTICS if n not in sql]
             + [n for n in membership.ITERATIVE_LAKEHOUSE if n not in iterative])
    print(json.dumps({"sql_analytics_eligible": sql,
                      "iterative_lakehouse_eligible": iterative,
                      "frozen_members_without_property": stale}, indent=1))
    return 1 if stale else 0


if __name__ == "__main__":
    sys.exit(main())
