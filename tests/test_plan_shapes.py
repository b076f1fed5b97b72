"""Physical-plan regression gates: the scale properties (broadcast where
intended, pushdown reaching scans, no nested-loop joins in pair queries,
column pruning) must survive refactors. Checked on the pre-AQE plan string
— strategy choices appear there even though codegen nodes do not."""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rpa_etl_spark import registry
from rpa_etl_spark.tables import load

registry.load_all_plans()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, sf_dir, name: str) -> str:
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return _executed(registry.QUERIES[name](spark, sf_dir))


@contextmanager
def _broadcast_off(spark):
    """The 100 TB condition: only HINTED broadcasts plan a BroadcastExchange."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


# One planning pass per conf, shared by the registry sweeps. Two passes, not
# one: under -1 q_scalar_subquery plans a BroadcastNestedLoopJoin and
# q_pagerank_dangling a CartesianProduct that the default conf does not.
@pytest.fixture(scope="module")
def default_plans(spark, sf_dir) -> dict[str, str]:
    return {n: _plan(spark, sf_dir, n) for n in sorted(registry.QUERIES)}


@pytest.fixture(scope="module")
def broadcast_off_plans(spark, sf_dir) -> dict[str, str]:
    with _broadcast_off(spark):
        return {n: _plan(spark, sf_dir, n) for n in sorted(registry.QUERIES)}


def _offenders(plans: dict[str, str], rule, allowed=()) -> dict[str, list[str]]:
    return {n: bad for n, plan in plans.items() if n not in allowed and (bad := rule(plan))}


def test_flagship_broadcasts_dims_not_facts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_flagship")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoop" not in plan
    # shipdate filter pushed into the lineitem scan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)


def test_filter_predicates_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_filter_predicates")
    pushed = re.search(r"PushedFilters: \[(.*?)\], ReadSchema", plan, re.S).group(1)
    for frag in ("In(l_returnflag", "GreaterThanOrEqual(l_quantity", "GreaterThan(l_discount"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_scan_projects_only_needed_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_project")
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert cols == {"p_partkey", "p_brand", "p_type", "p_size", "p_retailprice"}


@pytest.mark.parametrize("name", ["q_dedup_ngram_jaccard", "q_dedup_embedding"])
def test_pair_queries_use_hash_joins_not_bnlj(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastNestedLoop" not in plan, f"{name} regressed to all-pairs join"


def test_semi_anti_join_strategies(spark, sf_dir):
    for name, kind in (("q_join_semi", "LeftSemi"), ("q_join_anti", "LeftAnti")):
        plan = _plan(spark, sf_dir, name)
        assert kind in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "q_topk")


def test_asof_join_is_single_window_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_asof")
    # union+window implementation: no join operator at all
    assert "Join" not in plan
    assert "Window" in plan


def _quadratic_joins(plan: str) -> list[str]:
    return [k for k in ("CartesianProduct", "BroadcastNestedLoopJoin") if k in plan]


def test_no_query_plans_quadratic_joins(default_plans):
    """Global hygiene sweep: no declared query may plan a CartesianProduct
    or BroadcastNestedLoopJoin — every pair-generating operator must have
    been rewritten into an equi-join (banding/bucketing/LSH). A BNLJ that
    appears here would be quadratic at 100 TB.

    Four deliberate exceptions where BNLJ IS the right plan — the nested
    side is a tiny bounded broadcast and the corpus side streams through
    without a shuffle (cost linear in the corpus):
    - q_join_range: 5-row interval-band table (theta-join demo)
    - q_sim_topk: 50-vector exact brute-force baseline
    - q_pagerank_dangling: the per-round dangling-mass scalar (a 1-row
      aggregate cross-joined onto every node — the distributed rendering
      of a broadcast variable; operators/pagerank.py)
    - q_profile_stats: the string-column min/max scalar (a 1-row keyless
      aggregate broadcast onto the 1-row multi-DISTINCT stats aggregate —
      both sides are single rows by construction, so the "nested loop" is
      1x1; splitting the string aggregate out is what lets the x6 Expand
      plan as HashAggregate instead of two full SortAggregate passes)
    """
    allowed_bnlj = {
        "q_join_range", "q_sim_topk", "q_pagerank_dangling", "q_profile_stats",
    }
    offenders = _offenders(default_plans, _quadratic_joins, allowed_bnlj)
    assert not offenders, f"quadratic join shapes: {offenders}"


@pytest.mark.parametrize(
    "how, kind", [("inner", "CartesianProduct"), ("left", "BroadcastNestedLoopJoin")]
)
def test_quadratic_join_rule_flags_non_equi_join(spark, how, kind):
    a, b = spark.range(100).toDF("a"), spark.range(100).toDF("b")
    with _broadcast_off(spark):
        assert _quadratic_joins(_executed(a.join(b, a.a < b.b, how))) == [kind]


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """Return windowspecdefinition(...) fragments that have NO partition
    columns — i.e. every top-level argument is an ORDER BY expression
    (`... ASC/DESC NULLS ...`) or the frame spec. Such a window forces the
    entire input through one task: a scale-killer."""
    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, args, cur = m.end(), 1, [], ""
        while i < len(plan) and depth:
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if not depth:
                    break
            if ch == "," and depth == 1:
                args.append(cur.strip())
                cur = ""
            else:
                cur += ch
            i += 1
        args.append(cur.strip())
        has_partition = any(
            not (" ASC" in a or " DESC" in a or a.startswith("specifiedwindowframe"))
            for a in args
        )
        if not has_partition:
            out.append(plan[m.start() : i + 1][:120])
    return out


def test_no_query_plans_unpartitioned_windows(default_plans):
    """No declared query may plan a Window with an empty PARTITION BY —
    that is a single-partition total sort of the full input. Distribution
    ranks (q_window_ntile) must use the range-partition + offset two-pass
    instead."""
    offenders = _offenders(default_plans, _unpartitioned_window_specs)
    assert not offenders, f"unpartitioned windows: {offenders}"


def test_unpartitioned_window_rule_flags_global_order_by(spark):
    df, rn = spark.range(100).withColumn("k", F.col("id") % 7), F.row_number()
    flat = _executed(df.withColumn("rn", rn.over(Window.orderBy("id"))))
    keyed = _executed(df.withColumn("rn", rn.over(Window.partitionBy("k").orderBy("id"))))
    assert _unpartitioned_window_specs(flat) and not _unpartitioned_window_specs(keyed)


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection (on by default in the
    session factory via Spark 4 defaults) must prune the fact side of a
    shuffle join against a selectively-filtered build side: the executed
    plan gets a `might_contain(bloom_filter_agg(...))` filter on the fact
    scan. The 100 TB payoff: the fact shuffle carries only probable
    matches instead of the full table. Thresholds are lowered here because
    the test corpus is far below the production defaults (10 GB scan /
    10 MB creation side)."""
    s = spark.newSession()  # thresholds stay out of the shared session
    bloom = "spark.sql.optimizer.runtime.bloomFilter."
    s.conf.set(bloom + "creationSideThreshold", "1g")
    s.conf.set(bloom + "applicationSideScanSizeThreshold", "1")
    # force a shuffle join: broadcast joins get no benefit from a
    # runtime filter, so Catalyst skips injection for them
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = load(s, sf_dir, "lineitem")
    orders = load(s, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_extendedprice", "o_totalprice"
    )
    plan = _executed(j)
    assert "might_contain" in plan and "bloom_filter_agg" in plan


FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(lines: list[str], k: int) -> list[str]:
    """Node k of an indented plan-tree rendering and all its descendants."""
    end = k + 1
    while end < len(lines) and lines[end].strip() and _depth(lines[end]) > _depth(lines[k]):
        end += 1
    return lines[k:end]


def _broadcast_subtrees(plan: str) -> list[list[str]]:
    """Every BroadcastExchange subtree: the exchange and its build side."""
    lines = plan.splitlines()
    return [_subtree(lines, k) for k, line in enumerate(lines) if "BroadcastExchange" in line]


def _scans_fact(sub: list[str]) -> bool:
    return any(f"/{t}.parquet" in line for line in sub for t in FACT_TABLES)


_AGG_LIMIT_RE = re.compile(
    r"^\s*[:+\- ]*\*?\(?\d*\)?\s*"
    r"(HashAggregate|SortAggregate|ObjectHashAggregate|"
    r"CollectLimit|GlobalLimit|LocalLimit|TakeOrderedAndProject)\b",
    re.M,
)
_FILTER_LINE_RE = re.compile(r"^\s*[:+\- ]*\*?\(?\d*\)?\s*Filter (.*)$", re.M)
# a Filter bounds the build side only if it actually compares something —
# Catalyst's injected isnotnull(joinkey) filters contain no comparison and
# must NOT count (they exist on every equi-join side)
_CMP_RE = re.compile(r"[<>=]|\bIN\b|LIKE|Contains|StartsWith|EndsWith|rlike", re.I)


def _semi_join_bounds(sub: list[str]) -> bool:
    """A LEFT SEMI join bounds only if its own build side is a broadcast of
    no fact table: salted_join's dim LEFT SEMI broadcast(hot-key set), whose
    bounding Aggregate+Filter hide behind a localCheckpoint (ExistingRDD)."""
    for k, line in enumerate(sub):
        if "LeftSemi" not in line or len(join := _subtree(sub, k)) < 2:
            continue
        # the last child is the build side: a semi join builds right
        build = _subtree(join, max(i for i, x in enumerate(join) if _depth(x) == _depth(join[1])))
        if "BroadcastExchange" in build[0] and not _scans_fact(build):
            return True
    return False


def _bounded(sub: list[str]) -> bool:
    text = "\n".join(sub)
    if _AGG_LIMIT_RE.search(text) or _semi_join_bounds(sub):
        return True
    return any(_CMP_RE.search(m.group(1)) for m in _FILTER_LINE_RE.finditer(text))


def _unbounded_fact_broadcasts(plan: str) -> list[str]:
    """Broadcasts of a fact table or a cache with no bounding node."""
    return [
        sub[0][:100]
        for sub in _broadcast_subtrees(plan)
        if (_scans_fact(sub) or "InMemoryTableScan" in "".join(sub)) and not _bounded(sub)
    ]


def test_no_query_broadcasts_unbounded_fact_side(broadcast_off_plans):
    """The flagship dims-only broadcast rule, generalized to every declared
    query: with autoBroadcastJoinThreshold=-1 only HINTED broadcasts plan a
    BroadcastExchange, and no hinted build side may be an UNREDUCED fact /
    corpus table — at 100 TB that broadcast grows with the data (the
    q_ann_ivf_trained regression this gate pins, round-6 verdict #1). A
    fact-derived build side is fine when something bounds it first: a
    Filter (selective predicate), a Limit/TakeOrdered, an Aggregate
    (group-count-bounded), or a semi join against a bounded broadcast
    (_semi_join_bounds). Cached relations get the same rule: an
    InMemoryTableScan inside a hinted broadcast with no bounding node is a
    corpus-sized broadcast wearing a cache."""
    offenders = _offenders(broadcast_off_plans, _unbounded_fact_broadcasts)
    assert not offenders, f"unbounded fact-side broadcasts: {offenders}"


def test_fact_broadcast_rule_rejects_semi_join_over_fact(spark, sf_dir, broadcast_off_plans):
    """`orders LEFT SEMI lineitem` is as large as orders; q_join_skew_salted's
    semi against its checkpointed hot-key set is bounded."""
    orders, li = load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")
    semi = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
    with _broadcast_off(spark):
        plan = _executed(cust.join(F.broadcast(semi), cust.c_custkey == semi.o_custkey))
    assert _unbounded_fact_broadcasts(plan), plan
    salted = broadcast_off_plans["q_join_skew_salted"]
    assert "LeftSemi" in salted and not _unbounded_fact_broadcasts(salted)


def test_funnel_is_single_exchange(spark, sf_dir):
    """q_funnel's three chained conditional window minima plus the final
    groupBy must share ONE hash partitioning on user_id — the whole funnel
    is a single shuffle of the events fact."""
    plan = _plan(spark, sf_dir, "q_funnel")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_window_value_funcs_share_one_sort(spark, sf_dir):
    """first/last/nth_value share one (o_custkey) exchange and one
    (o_orderdate, o_orderkey) sort — Catalyst must not re-shuffle or
    re-sort between the two frame variants."""
    plan = _plan(spark, sf_dir, "q_window_value_funcs")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"^\s*\*?\(?\d*\)?\s*Sort ", plan, re.M)) <= 1, plan


def test_bucketed_join_has_zero_exchanges(spark, sf_dir):
    """q_join_bucketed's whole point: bucketed layout deletes the shuffle
    from the join AND the following same-key aggregation. Any Exchange in
    the executed plan means the bucket spec stopped lining up with the
    join/group keys."""
    plan = _plan(spark, sf_dir, "q_join_bucketed")
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan


def test_bloom_probe_is_constant_folded(spark, sf_dir):
    """q_dedup_bloom's probe must embed the filter as a folded constant:
    no join/shuffle on the probe side except the single broadcast used
    for the exact-hit ground-truth column."""
    plan = _plan(spark, sf_dir, "q_dedup_bloom")
    assert plan.count("BroadcastHashJoin") == 1  # exact_hit only
    assert "SortMergeJoin" not in plan
    # the probe expression folded to literal masks (no CreateArray of
    # 1024 lit children evaluated per row)
    assert "element_at" not in plan.lower() or "createarray" not in plan.lower()


def test_reservoir_sample_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k must push the k-limit map-side (WindowGroupLimit
    partial before the lang shuffle) — the difference between shuffling
    k·groups rows and shuffling the whole corpus."""
    plan = _plan(spark, sf_dir, "q_sample_reservoir")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") == 1


def test_linear_regression_is_single_aggregate_pass(spark, sf_dir):
    """OLS = one partial/final aggregate over the scan; the only exchange
    is the 1-row SinglePartition reduce."""
    plan = _plan(spark, sf_dir, "q_linear_regression")
    assert plan.count("Exchange") == 1
    assert "SinglePartition" in plan
    # column pruning: only the three regression columns leave the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount"}


def test_cusum_is_single_user_shuffle(spark, sf_dir):
    """Both CUSUM windows (cumsum + running min) share one user_id sort
    and one exchange — the detector is a single sorted pass per entity."""
    plan = _plan(spark, sf_dir, "q_cusum_changepoint")
    assert plan.count("Exchange") == 1


def test_pagerank_lineage_cut_bounds_plan(spark, sf_dir):
    """The localCheckpoint in operators/pagerank.py must keep the
    3-iteration plan bounded: without it the edge subtree re-derives per
    consumer (measured 40 FileScans / 59 Exchanges); with it the edge
    data enters as checkpointed RDDs (zero file re-scans) and the
    exchange count stays in the per-iteration-constant regime."""
    plan = _plan(spark, sf_dir, "q_pagerank")
    assert "FileScan" not in plan
    assert plan.count("Exchange") <= 20, plan.count("Exchange")


def test_tpch_q21_aqe_runtime_replan(spark, sf_dir):
    """Round-10 verdict #8: the 100x posture of the multi-join shapes is
    ASSERTED from the runtime-adaptive plan, not assumed. q_tpch_q21 is
    the heaviest relational shape (4-way fact join + anti/semi); after
    executing it through its own QueryExecution the AdaptiveSparkPlan
    must have finalized (isFinalPlan=true — AQE replanned with real
    shuffle statistics) and at least one AQEShuffleRead must have
    COALESCED post-shuffle partitions (the runtime knob that keeps a
    fixed spark.sql.shuffle.partitions sane from sf0.001 to 100 TB).
    Skew handling has its own forced-threshold gate below — this
    fixture's q21 partitions are too small to trip the 256 MB default,
    which is itself the correct production behavior."""
    df = registry.QUERIES["q_tpch_q21_shape"](spark, sf_dir)
    df.collect()  # execute THIS plan: the write path builds a copy
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:2000]


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's skew-join split, demonstrated at test scale by lowering the
    size thresholds (production defaults need multi-hundred-MB
    partitions): a join where one key holds ~83% of the rows must
    finalize with SortMergeJoin(skew=true) and an AQEShuffleRead marked
    `skewed` — the hot partition was split into advisory-sized slices
    instead of serializing one reducer. This is the engine-level
    complement to the explicit salting operator (operators/skew.py):
    salting restructures the query when the author knows the skew;
    AQE handles the skew nobody predicted, and this gate proves the
    session's conf set actually delivers it."""
    s = spark.newSession()  # thresholds stay out of the shared session
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # keep the SMJ
    s.conf.set("spark.sql.shuffle.partitions", "8")
    left = (
        s.range(60000)
        .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
        .withColumn("k", F.when(F.col("v") < 50000, F.lit(0)).otherwise(F.col("k")))
    )
    right = s.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    j = left.join(right, "k")
    assert j.count() == 60000  # row identity: splitting must not duplicate/drop
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert "skewed" in plan  # the AQEShuffleRead over the hot side


def _plan_nodes(node, above=()):
    """Every node of a physical plan, with the nodes above it."""
    yield node, above
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), (*above, node))


def _pipeline_python_violations(df) -> list[str]:
    """The document pipeline's Python nodes: one MapInPandas (extract), one
    ArrowEvalPython (parse + validate/score/route), and no higher-order
    lambda in a Project above the ArrowEvalPython — such a lambda is
    judging work left to the JVM after the parse batch."""
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n, _ in nodes]
    bad = [f"{k} x{names.count(k)}" for k in ("MapInPandas", "ArrowEvalPython")
           if names.count(k) != 1]
    for node, above in nodes:
        if node.nodeName() != "ArrowEvalPython":
            continue
        for proj in (a for a in above if a.nodeName() == "Project"):
            exprs = proj.expressions()
            bad += [f"lambda above ArrowEvalPython: {e.toString()[:200]}"
                    for e in (exprs.apply(i) for i in range(exprs.size()))
                    if "lambdafunction" in e.toString()]
    return bad


@pytest.fixture(scope="module")
def invoice_pdf_dir(tmp_path_factory) -> str:
    from rpa_etl_spark.sources import minipdf
    from tests.test_parsing import GOLDEN

    d = tmp_path_factory.mktemp("invoice_pdfs")
    for i, text in enumerate([GOLDEN, GOLDEN.replace("R$ 4.450,00", "R$ 44.500,00")]):
        (d / f"inv{i}.pdf").write_bytes(minipdf.write_pdf([text.split("\n")]))
    return str(d)


def test_pipeline_judges_inside_the_parse_batch(spark, invoice_pdf_dir):
    from rpa_etl_spark.pipeline import process_documents
    from rpa_etl_spark.sources.pdf import pdf_pipeline

    df = process_documents(pdf_pipeline(spark, invoice_pdf_dir))
    assert _pipeline_python_violations(df) == []
    assert {r["route"] for r in df.collect()} == {"processamento_normal", "auditoria_fiscal"}


def test_python_node_rule_rejects_column_judge_above_parse(spark, invoice_pdf_dir):
    """Negative case: the Column validate/score/route chain over the parse
    kernel's output (the pipeline's earlier shape) fails the lambda rule."""
    from rpa_etl_spark.functions.parsing_arrow import parse_invoices_arrow
    from rpa_etl_spark.functions.text import normalize_text
    from rpa_etl_spark.sources.pdf import pdf_pipeline
    from tests.test_pipeline_judge import column_judge

    df = pdf_pipeline(spark, invoice_pdf_dir).withColumn(
        "normalized_text", normalize_text(F.col("text")))
    bad = _pipeline_python_violations(
        column_judge(parse_invoices_arrow(df, text_col="normalized_text")))
    assert bad and all(b.startswith("lambda above") for b in bad), bad
