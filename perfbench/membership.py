"""Frozen query membership of the two query workloads.

Derived by ``python3 perfbench/classify.py`` from two properties of each
declared query, measured after one warm-up build on each workload's own
tables (sf 0.1 for ``sql_analytics``, sf 0.01 for ``iterative_lakehouse``):

- ``sql_analytics`` draws from the queries whose executed plan has no
  Python node and no RDD scan, and whose construction starts no Spark job
  (113 of 180 declared queries when this list was frozen; 105 when the
  jobs of a cold first build are counted too);
- ``iterative_lakehouse`` draws from the queries whose construction starts
  five or more Spark jobs or that write a ``tablefmt`` table (17).

The lists are fixed subsets of those sets, sized so that a fresh JVM can
warm, check and time every member within the benchmark's per-run time
budget; ``classify.py`` checks that every member still has its property.
"""

SQL_ANALYTICS = [
    "q_join_anti",          # anti join
    "q_tpch_q3_shape",      # TPC-H q3: three-way join, aggregate, top-k
    "q_window_rank",        # window functions
    "q_grouping_sets",      # grouping sets
    "q_hll_sketch_merge",   # HyperLogLog sketches
    "q_stream_tumbling",    # events streaming shape: tumbling windows
]

ITERATIVE_LAKEHOUSE = [
    "q_table_time_travel", "q_pagerank_dangling", "q_dedup_clusters",
]
