"""Scale-pattern tests: salting correctness + bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rpa_etl_spark.operators.skew import salted_sum_count
from rpa_etl_spark.plans.common import dec, money
from rpa_etl_spark.tables import load


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    """Salted two-phase aggregation must be bit-identical to the direct
    decimal aggregation (exact arithmetic → same values, any split)."""
    li = load(spark, sf_dir, "lineitem")
    plain = {
        (r["l_returnflag"],): (r["total"], r["n_rows"])
        for r in li.groupBy("l_returnflag")
        .agg(
            money(F.sum(dec("l_extendedprice"))).alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["total"], r["n_rows"])
        for r in salted_sum_count(li, ["l_returnflag"], "l_extendedprice").collect()
    }
    assert plain == salted


def test_salt_spreads_hot_key(spark, sf_dir):
    """A single hot key must land in many salt partitions."""
    from rpa_etl_spark.operators.skew import with_salt

    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "N")
    n_salts = with_salt(li.select("l_orderkey", "l_extendedprice"), 16).select(
        "_salt"
    ).distinct().count()
    assert n_salts >= 12  # deterministic hash spreads across most buckets


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """bucketBy co-location: both sides bucketed on the join key by the
    same bucket count → the sort-merge join reads buckets directly, with
    no Exchange in the plan. This is the pre-shuffle-once, join-many-times
    pattern for repeated 100 TB fact-fact joins."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        orders = load(spark, sf_dir, "orders")
        customer = load(spark, sf_dir, "customer")
        orders.write.mode("overwrite").option(
            "path", str(tmp_path / "orders_b")
        ).bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
        customer.write.mode("overwrite").option(
            "path", str(tmp_path / "customer_b")
        ).bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Replicate-and-salt join must be row-identical to the plain join."""
    from rpa_etl_spark.operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = sorted(
        tuple(r) for r in orders.join(customer, "o_custkey").collect()
    )
    salted = sorted(
        tuple(r) for r in salted_join(orders, customer, "o_custkey", n_salts=8).collect()
    )
    assert plain == salted


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout: a filter on the partition column must
    show up as PartitionFilters (directory pruning — at 100 TB the
    difference between scanning one partition and the whole lake)."""
    path = str(tmp_path / "orders_by_status")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the partition's rows
    expect = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == expect


def test_no_row_at_a_time_python_udfs():
    """Source-level gate: no `F.udf(` / `@udf` row-at-a-time Python UDFs
    anywhere in the package — the Python boundary is Arrow-batched only
    (pandas_udf / mapInPandas / applyInPandas). See SCALE.md section 3."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "rpa_etl_spark"
    offenders = []
    for p in pkg.rglob("*.py"):
        src = p.read_text()
        for m in re.finditer(r"(?<!pandas_)\budf\s*\(", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{p.name}:{line}")
    assert not offenders, f"row-at-a-time UDFs found: {offenders}"


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join handling must actually fire: join a deliberately
    skewed fact (every lineitem keyed to ONE hot order) against a dim,
    with the skew thresholds lowered to test-corpus scale, and assert the
    executed (adaptive, final) plan marks the sort-merge join as skew=true.
    This is the runtime half of the skew story — the pre-planned salting
    recipes (q_join_skew_salted / q_agg_skew_salted) are the other half."""
    from pyspark.sql import functions as F

    from rpa_etl_spark.tables import load

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")

    # 80% of rows share key 0, the rest spread over 8-9 — a real hot key,
    # not a constant (a constant equi-key would fold to a cartesian).
    skew_key = F.when(F.col("l_orderkey") % 10 < 8, F.lit(0)).otherwise(
        F.col("l_orderkey") % 10
    )
    # repartition(8) first: skew splits happen at MAP-OUTPUT granularity,
    # and the single-file test scan would otherwise feed the join exchange
    # from one mapper, making the hot reduce partition unsplittable —
    # the same reason a production single-file hot table defeats AQE.
    li = load(s, sf_dir, "lineitem").repartition(8).withColumn("k", skew_key)
    dim = s.range(10).select(F.col("id").alias("k"), F.col("id").alias("dim_val"))
    joined = li.join(dim, "k").select("l_orderkey", "dim_val")
    # action on the SAME DataFrame so its adaptive plan finalizes
    assert len(joined.collect()) > 0
    final = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "skew=true" in final, final[:2000]


def test_spread_sizes_to_cpu_parallelism(spark, sf_dir):
    """tables.spread must decouple kernel parallelism from input splits:
    the single-row-group test files scan as ONE partition, and the round-4
    perf work depends on spread() widening that before compute-bound
    stages (SCALE.md section 8). Guard both the before and after."""
    from rpa_etl_spark.tables import load, spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n_cpu = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= n_cpu:
        # environment-dependent precondition: on a 1-core runner (or if the
        # fixture parquet ever gains multiple row groups) the hazard spread()
        # guards against doesn't exist here — nothing to test
        pytest.skip("scan partitions already >= defaultParallelism")
    assert spread(docs).rdd.getNumPartitions() == n_cpu
    assert spread(docs, "doc_id").rdd.getNumPartitions() == n_cpu


def test_ivf_sqrt_cells_recall_gate(spark):
    """The q_ann_ivf_trained docstring's production-sizing claim as a
    machine gate (round-8 verdict ask #3): with n_cells ~ sqrt(N) on
    clustered corpora of scale-free geometry (sqrt(N) clusters of sqrt(N)
    points), recall at FIXED n_probe holds as the corpus grows 4x while
    candidates/query grow only ~2x (=sqrt(4); brute force grows 4x). The
    round-8 full-size probe (N=2048/8192, n_probe=4, k=10) recorded
    recall 1.000 at both sizes and 180 → 367 candidates/query (2.04x;
    SCALE.md §10b); this is the same geometry at suite-friendly sizes.
    Uniform-corpus honesty note lives in SCALE.md §10b: on uniform
    vectors recall tracks probed fraction — a data property no index
    sizing beats."""
    import math

    import numpy as np

    from rpa_etl_spark.operators import similarity as SIM

    DIM, N_PROBE = 64, 4
    stats = {}
    for n in (512, 2048):
        n_cells = int(math.isqrt(n))
        per = n // n_cells
        rng = np.random.default_rng(7)
        centers = rng.normal(size=(n_cells, DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = [
            (
                int(c * per + j),
                [float(x) for x in centers[c] + 0.05 * rng.normal(size=DIM)],
            )
            for c in range(n_cells)
            for j in range(per)
        ]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = corpus.where(F.col("vec_id") % per == 0)
        # n_cells=None → the AUTO-SIZED production path (round-10 verdict
        # #4): the trainer must derive √N cells itself from its own count
        cb = SIM.train_ivf_codebook(corpus, DIM, n_cells=None, iters=3)
        assert cb.shape[0] == n_cells, (
            f"auto-sizing picked {cb.shape[0]} cells, expected isqrt({n})={n_cells}"
        )
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.brute_force_topk(corpus, queries, k=10).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(
                corpus, queries, DIM, k=10, n_cells=n_cells,
                n_probe=N_PROBE, codebook=cb,
            ).collect()
        }
        sizes = {
            r["cell"]: r["n"]
            for r in corpus.select(
                F.element_at(
                    SIM._nearest_cells_kernel(cb, 1)(F.col("embedding")), 1
                ).alias("cell")
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        probed = queries.select(
            F.explode(
                SIM._nearest_cells_kernel(cb, N_PROBE)(F.col("embedding"))
            ).alias("cell")
        ).collect()
        cand = sum(sizes.get(r["cell"], 0) for r in probed) / queries.count()
        stats[n] = (len(got & truth) / len(truth), cand)
    (rec_s, cand_s), (rec_b, cand_b) = stats[512], stats[2048]
    assert rec_b >= 0.85 and rec_b >= rec_s - 0.05, f"recall {rec_s} -> {rec_b}"
    ratio = cand_b / cand_s
    assert ratio <= 2.6, f"candidates/query grew {ratio:.2f}x at 4x data"


def test_salted_join_hot_cold_matches_plain_join(spark, sf_dir):
    """Selective salting (round 10): with hot_threshold set, hot keys take
    the salted path, cold keys the plain path, and the union is
    row-identical to the plain join — verified on a fixture where both
    branches are provably non-empty."""
    from pyspark.sql import functions as F

    from rpa_etl_spark.operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    # blow up one customer to ~40x weight so exactly it crosses the bar
    hot_key = orders.agg(F.min("o_custkey")).collect()[0][0]
    clones = (
        orders.where(F.col("o_custkey") == hot_key)
        .select(
            "o_custkey",
            F.explode(F.sequence(F.lit(1), F.lit(39))).alias("k"),
            "o_orderkey",
        )
        .select("o_custkey", (F.col("o_orderkey").cast("long") + F.col("k").cast("long") * 10**9).alias("o_orderkey"))
    )
    fact = orders.unionByName(clones)
    per_key = fact.groupBy("o_custkey").count()
    threshold = 35 * int(per_key.where(F.col("o_custkey") == hot_key).collect()[0]["count"]) // 40
    assert per_key.where(F.col("count") > threshold).count() >= 1  # hot branch live
    assert per_key.where(F.col("count") <= threshold).count() >= 1  # cold branch live

    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment").withColumnRenamed("c_custkey", "o_custkey")
    plain = sorted(tuple(r) for r in fact.join(customer, "o_custkey").collect())
    hotcold = sorted(
        tuple(r)
        for r in salted_join(
            fact, customer, "o_custkey", n_salts=8, hot_threshold=threshold
        ).collect()
    )
    assert plain == hotcold
    # left-join identity too (unmatched fact rows null-extend exactly once)
    fact2 = fact.withColumn("o_custkey", F.col("o_custkey").cast("long") + 10**12)  # no matches
    left = salted_join(fact2.limit(100), customer, "o_custkey", n_salts=4,
                       how="left", hot_threshold=10)
    assert left.count() == 100 and left.where(F.col("c_mktsegment").isNull()).count() == 100


def test_salted_agg_salt_cols_outside_projection(spark, sf_dir):
    """Round-10 review: the documented duplicate-heavy escape hatch —
    passing a unique-id column as salt_cols — must work even when that
    column is neither a group key nor the value (it previously crashed
    unresolved), and still match the plain aggregation exactly."""
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: (r["total"], r["n_rows"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["total"], r["n_rows"])
        for r in salted_sum_count(
            li, ["l_returnflag"], "l_quantity", salt_cols=["l_orderkey", "l_linenumber"]
        ).collect()
    }
    assert plain == salted

    # and a pre-existing _salt column is a loud error, not silent loss
    import pytest

    from rpa_etl_spark.operators.skew import with_salt

    with pytest.raises(ValueError, match="_salt"):
        with_salt(li.withColumn("_salt", F.lit(1)))


def test_salted_join_hot_side_broadcasts_without_auto_threshold(spark, sf_dir):
    """Round-15 (r14 verdict #6): the hot partition's join must be a
    BroadcastHashJoin BY CONSTRUCTION, not by the planner's size estimate
    — the hot dim slice is bounded by |hot keys| x n_salts, but after the
    semi-join split the estimate is unreliable and at 100 TB the full dim
    is far over any auto-broadcast threshold. Gate: with auto-broadcast
    DISABLED (the scale condition), the executed plan still broadcasts
    the replicated hot dim, and the result stays row-identical."""
    import re

    from pyspark.sql import functions as F

    from rpa_etl_spark.operators.skew import salted_join

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    hot_key = orders.agg(F.min("o_custkey")).collect()[0][0]
    clones = (
        orders.where(F.col("o_custkey") == hot_key)
        .select(
            "o_custkey",
            F.explode(F.sequence(F.lit(1), F.lit(39))).alias("k"),
            "o_orderkey",
        )
        .select(
            "o_custkey",
            (F.col("o_orderkey").cast("long") + F.col("k").cast("long") * 10**9).alias(
                "o_orderkey"
            ),
        )
    )
    fact = orders.unionByName(clones)
    per_key = fact.groupBy("o_custkey").count()
    hot_n = per_key.where(F.col("o_custkey") == hot_key).collect()[0]["count"]
    threshold = 35 * int(hot_n) // 40
    customer = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(
            fact, customer, "o_custkey", n_salts=8, hot_threshold=threshold
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the hot branch joins on (key, _salt); that join must broadcast
        hot_joins = [
            ln
            for ln in plan.splitlines()
            if "Join" in ln and "_salt" in ln and "LeftSemi" not in ln
            and "LeftAnti" not in ln
        ]
        assert hot_joins, f"no hot-side (key, _salt) join found in plan:\n{plan}"
        assert all("BroadcastHashJoin" in ln for ln in hot_joins), (
            f"hot-side join did not broadcast with auto-threshold off:\n"
            + "\n".join(hot_joins)
        )
        # identity still holds under the forced strategy
        plain = sorted(tuple(r) for r in fact.join(customer, "o_custkey").collect())
        got = sorted(tuple(r) for r in joined.collect())
        assert plain == got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
