#!/usr/bin/env python
"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO
JSON lines: first the full record ({"metric": ..., "value": min_total_sec,
"unit": "sec", "queries": {name: min_sec}, "queries_median": {...}, ...}),
then a compact HEADLINE as the last stdout line (same scalars + slowest-5
dicts) sized to survive the driver's 2000-char tail capture intact. The
full record is also written to BENCH_LOCAL.json for round-over-round
deltas.

Timing excludes result transfer to the driver: each query executes into
Spark's noop sink, so the number is plan execution (scan → compute →
shuffle), which is what scales."""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rpa_etl_spark import registry  # noqa: E402
from rpa_etl_spark.session import get_spark  # noqa: E402
from tools.bench_delta import compare  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    registry.load_all_plans()
    # the console progress bar writes to stderr from a JVM thread that is
    # ASYNC to this script's stdout: in a merged stdout+stderr capture a
    # repaint can interleave INTO the final JSON line (observed: rounds 3
    # and 4 both recorded `parsed: null` driver-side while the visible
    # 2000-char tail looked clean — the corruption sat in the earlier,
    # invisible part of the 3 KB line). Kill the bar for the bench run.
    os.environ.setdefault("SPARK_GRAFT_NO_PROGRESS", "1")
    spark = get_spark("rpa-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm fixed session costs (JVM codegen paths, shuffle machinery, the
    # Python/Arrow worker pool) so per-query numbers measure the queries,
    # not one-time startup. Standard steady-state benching practice.
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _warm(v):  # noqa: ANN001
        return v * 1.0

    warm = spark.range(100_000).select(
        F.col("id").cast("double").alias("x"), (F.col("id") % 7).alias("k")
    )
    warm.groupBy("k").agg(F.sum(F.col("x")) + F.sum(_warm(F.col("x")))).write.mode(
        "overwrite"
    ).format("noop").save()

    # JMH-style steady-state measurement: one untimed warm-up pass of every
    # query AT THE TARGET SCALE, then the timed pass. A one-shot cold run
    # mixes Janino compilation, interpreted execution, and tiered-JIT
    # promotion into the number (measured: invoice parse 20 s+ cold vs
    # 2.7 s steady; smaller-scale warm-ups don't push the generated methods
    # past C2 thresholds). On any long-lived deployment — and at 100 TB,
    # where data is ~10^6x the compile cost — only the steady-state number
    # scales. The warm-up cost is reported in its own field, not hidden.
    warmup_dir = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", SF_DIR)
    t_warm = time.perf_counter()
    for name in sorted(registry.QUERIES):
        try:
            registry.QUERIES[name](spark, warmup_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as e:  # noqa: BLE001 — warm-up must never fail the bench
            print(f"  [warmup] {name} failed: {e}", file=sys.stderr, flush=True)
    warmup_sec = round(time.perf_counter() - t_warm, 3)

    # Three timed passes, per-query min AND median: single-shot numbers on
    # a shared box carry multi-x transient contention spikes (observed
    # repeatedly — e.g. the same query 1.9 s and 7.6 s across adjacent runs
    # with zero code change). Min reports the query's actual cost; median
    # is the round-over-round delta signal — with 3 samples a single spike
    # can't move it, so a 1.4x noise swing can't masquerade as a plan
    # regression (round-6 verdict #6).
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    samples: dict[str, list[float]] = {}
    for i in range(n_passes):
        for name in sorted(registry.QUERIES):
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            dt = round(time.perf_counter() - t0, 3)
            samples.setdefault(name, []).append(dt)
            if os.environ.get("SPARK_GRAFT_BENCH_VERBOSE"):
                print(f"  [pass {i}] {name}: {dt}s", file=sys.stderr, flush=True)
    import statistics

    timings = {n: min(v) for n, v in samples.items()}
    medians = {n: round(statistics.median(v), 3) for n, v in samples.items()}

    # Document-pipeline throughput: the reference's headline figure is
    # ~2 docs/s/core through its full normalize->parse->validate->score
    # chain (BASELINE.md); print the engine's equivalent as a first-class
    # number each round instead of leaving it to inference. One untimed
    # warm pass (the chain is already warm from the query battery, but the
    # full-pipeline composition may not be), then best-of-2 timed.
    from rpa_etl_spark.pipeline import process_documents
    from rpa_etl_spark.tables import spread

    # spread(): the test fixture is a single row group, which scans as ONE
    # task — a 100 TB corpus arrives in thousands of splits, so rebalance
    # to CPU parallelism here or the per-core figure divides 1-core work
    # by 32 cores
    docs = spread(spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")))
    n_docs = docs.count()
    n_cores = spark.sparkContext.defaultParallelism
    # N of the local[N] master get_spark resolved (SPARK_MASTER/_GRAFT_CPUS/nproc)
    m = re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)
    cpus = int(m.group(1)) if m else n_cores
    pipe_sec = None
    # best-of-3 timed (was best-of-2): the round-13→14 bisect showed the
    # per-pass spread on identical code is ±20% (interleaved A/B runs
    # flip sign with ordering), so one extra ~3 s sample buys real signal
    for i in range(4):
        t0 = time.perf_counter()
        process_documents(docs).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        if i > 0:  # pass 0 is the untimed warm-up
            pipe_sec = dt if pipe_sec is None else min(pipe_sec, dt)
    docs_per_sec_per_core = round(n_docs / pipe_sec / n_cores, 2)

    # CPU-scaling sentinel (round-14 verdict #7): at sf0.1 most declared
    # queries are floor-bound (job submission + plan + bounded collects),
    # so their low-core/high-core wall ratios sit near 1 and the driver
    # cannot tell "harness ignored $SPARK_GRAFT_CPUS" from "workload has
    # no data parallelism to give". This sentinel is a FIXED amount of
    # embarrassingly parallel JVM compute (no Python, no shuffle, no I/O;
    # 128 partitions regardless of core count) whose wall time scales
    # ~linearly with cores — its ratio is the harness's core-count proof.
    # It is reported alongside the declared queries (additions-only) and
    # NOT folded into the total.
    sentinel_sec = None
    for i in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 4_800_000_000, 1, 128)
            .select(F.xxhash64("id").alias("h"))
            .agg(F.expr("bit_xor(h)"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        dt = time.perf_counter() - t0
        if i > 0:  # pass 0 warms codegen
            sentinel_sec = dt if sentinel_sec is None else min(sentinel_sec, dt)
    sentinel_sec = round(sentinel_sec, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Deltas go FIRST and both streams are flushed before the JSON lines:
    # the driver captures merged stdout+stderr, keeps only the LAST 2000
    # chars as `tail`, and parses the LAST line. The report is
    # best-effort: no exception in it may ever suppress the JSON contract.
    try:
        _report_deltas(timings, medians, (float(sf), cpus, n_cores))
    except Exception as e:  # noqa: BLE001
        print(f"[bench-delta] report failed: {e}", file=sys.stderr)
    sys.stderr.flush()
    full = {
        "metric": "total_declared_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 3),
        "sf": float(sf),
        "n_queries": len(timings),
        "warmup_pass_sf": float(warmup_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "warmup_sec": warmup_sec,
        "timed_passes": n_passes,
        "pipeline_docs": n_docs,
        "pipeline_sec": round(pipe_sec, 3),
        "pipeline_cores": n_cores,
        "docs_per_sec_per_core": docs_per_sec_per_core,
        "cpus": cpus,
        "default_parallelism": n_cores,
        "sentinel_cpu_scaling": sentinel_sec,
    }
    # Persist the full record locally: the driver's tail capture truncates
    # the per-query dicts (>2000 chars since round 3), so round-over-round
    # deltas need a local source of truth for per-query numbers.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
            "w",
        ) as f:
            json.dump(full, f, separators=(",", ":"))
    except OSError as e:
        print(f"[bench] local record write failed: {e}", file=sys.stderr)
    # stop the JVM BEFORE emitting the contract lines: no Spark thread may
    # write to stderr after (or concurrently with) the final stdout lines
    spark.stop()
    sys.stderr.flush()
    # Full record first (complete per-query dicts for anyone reading the
    # whole log), compact HEADLINE LAST: the driver's 2000-char tail always
    # retains the headline line intact, so min total AND median total both
    # survive every round (round-7 verdict: r6's tail kept the min dict,
    # r7's the median dict, and naive cross-round deltas compared medians
    # against mins). slowest5 keys let the judge spot the expensive tail
    # without the full dict.
    print(json.dumps(full, separators=(",", ":")), flush=True)
    slowest5_min = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    slowest5_med = dict(sorted(medians.items(), key=lambda kv: -kv[1])[:5])
    headline = {
        k: full[k]
        for k in (
            "metric",
            "value",
            "value_median",
            "unit",
            "sf",
            "n_queries",
            "warmup_sec",
            "timed_passes",
            "pipeline_docs",
            "pipeline_sec",
            "pipeline_cores",
            "docs_per_sec_per_core",
            "cpus",
            "default_parallelism",
            "sentinel_cpu_scaling",
        )
    }
    # "queries" stays a real {name: sec} dict (slowest-5 mins) so driver
    # code that iterates parsed["queries"] keeps working; the full dicts
    # are on the previous line and in BENCH_LOCAL.json. The CPU-scaling
    # sentinel rides along as an extra entry (additions-only) so the
    # driver's low-core/high-core per-query ratio check always has one
    # genuinely CPU-bound data point.
    headline["queries"] = dict(slowest5_min)
    headline["queries"]["sentinel_cpu_scaling"] = sentinel_sec
    headline["queries_median"] = slowest5_med
    headline["queries_note"] = "slowest-5 only; full dicts on previous stdout line"
    print(json.dumps(headline, separators=(",", ":")), flush=True)


def _report_deltas(
    timings: dict[str, float],
    medians: dict[str, float],
    key: tuple[float, int, int],
    paths: list[str] | None = None,
) -> None:
    """Round-over-round per-query deltas vs the newest prior record taken
    at the same `key` = (sf, cpus, default_parallelism), on stderr (stdout
    stays the one-JSON-line driver contract): a record from another core
    count measures the cores, not the code. Movers are flagged by
    tools/bench_delta.compare's rule, so a 50× environment wobble (seen
    round 2) is investigated in the round it appears. Medians are compared
    when the prior record carries them (round 7+); older records fall back
    to min-vs-min."""
    here = os.path.dirname(os.path.abspath(__file__))
    # Prefer the local full record (written by the previous bench run):
    # driver BENCH_r{N}.json tails truncate the per-query dicts, and from
    # round 8 on the driver-parsed record carries only the slowest-5.
    paths = paths or [os.path.join(here, "BENCH_LOCAL.json")] + sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    )
    # walk back to the newest record that actually parsed — r03's driver
    # record was `parsed: null`, which must not silence deltas for every
    # later round
    prior, name, prior_is_median = {}, None, False
    for path in paths:
        try:
            with open(path) as f:
                doc = json.load(f)
            # the driver's BENCH_r{N}.json wraps our JSON line under "parsed"
            parsed = doc.get("parsed") or doc
            fields = ("sf", "cpus", "default_parallelism")
            if tuple(float(parsed.get(k, doc.get(k))) for k in fields) != key:
                continue
            # derive the median flag from the dict actually adopted: an
            # empty/absent queries_median must not label a mins dict as
            # medians (round-7 ADVICE)
            pm = parsed.get("queries_median")
            if pm:
                prior, prior_is_median = pm, True
            else:
                prior, prior_is_median = parsed.get("queries", {}), False
            if not isinstance(prior, dict):  # round-8+ headline note strings
                prior = {}
        except (OSError, ValueError, AttributeError, TypeError):
            continue
        if prior:
            name = os.path.basename(path)
            break
    if not prior:
        print(f"[bench-delta] no prior record at (sf, cpus, dp) = {key}", file=sys.stderr)
        return
    now_side = medians if prior_is_median else timings
    movers = compare(
        {"queries": prior}, {"queries": now_side}, threshold=1.5, floor=0.5, allow=set()
    )["regressions"]
    total_then = sum(v for v in prior.values() if isinstance(v, (int, float)))
    total_now = sum(now_side.values())
    kind = "median" if prior_is_median else "min"
    print(
        f"[bench-delta] vs {name} ({kind}): total {total_then:.1f}s -> {total_now:.1f}s",
        file=sys.stderr,
    )
    # per-cohort line for the table verbs (round-13 verdict #4: their
    # feature tax grew 13–37% across r12→r13 under the global gate —
    # keep the cohort visible even when the total is quiet)
    tbl_then = sum(v for q, v in prior.items()
                   if q.startswith("q_table_") and isinstance(v, (int, float)))
    tbl_now = sum(v for q, v in now_side.items() if q.startswith("q_table_"))
    if tbl_then or tbl_now:
        shared = [q for q in now_side if q.startswith("q_table_") and q in prior]
        tbl_then_shared = sum(prior[q] for q in shared)
        tbl_now_shared = sum(now_side[q] for q in shared)
        ratio = tbl_now_shared / tbl_then_shared if tbl_then_shared else float("nan")
        print(
            f"[bench-delta]   table cohort ({kind}): {tbl_then:.2f}s -> "
            f"{tbl_now:.2f}s total; shared {len(shared)} queries "
            f"{tbl_then_shared:.2f}s -> {tbl_now_shared:.2f}s ({ratio:.2f}x)",
            file=sys.stderr,
        )
    for r in movers:
        print(
            f"[bench-delta]   {r['query']}: {r['old_sec']:.2f}s -> {r['new_sec']:.2f}s "
            f"({r['ratio']:.1f}x) — outside noise band, investigate",
            file=sys.stderr,
        )
    if not movers:
        print("[bench-delta]   all queries within noise band", file=sys.stderr)


if __name__ == "__main__":
    main()
