"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``perfbench/work/``; the engine is the ``rpa_etl_spark`` package of
the same checkout, in this process and in every Python worker. The report
lines go to stdout, followed by one JSON line with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The run record with
its environment is also written to ``perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import envinfo  # noqa: E402

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s"}
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "registry.load_s": "s",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.python_bytes_sent": "B", "exec.python_bytes_received": "B",
    "exec.disk_write_bytes": "B", "minipdf.extract_ms_per_doc": "ms",
    "pdf.scan_s": "s", "pdf.extract_s": "s", "parsing_arrow.parse_s": "s",
    "pipeline.score_route_s": "s", "sinks.write_s": "s", "ladder.total_s": "s",
    "trace.op_p50_s": "s", "trace.overhead_frac": "frac",
}
# per-op counts read from the status stores, averaged over traced ops
COUNT_METRICS = {
    "plans.construct_jobs": "construct_jobs", "exec.jobs": "jobs",
    "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
    "exec.python_bytes_sent": "python_bytes_sent",
    "exec.python_bytes_received": "python_bytes_received",
    "exec.disk_write_bytes": "disk_write_bytes",
}


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and point the Python
    workers at this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    tempfile.tempdir = None
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_GRAFT_NO_PROGRESS"] = "1"
    env.setdefault("SPARK_GRAFT_CPUS", str(envinfo.nproc()))


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def quantile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(run, setup_s: float) -> dict[str, float]:
    """Latency statistics per op name, then averaged with every name
    weighted equally: a run that stops inside a round keeps the query mix,
    and the median of a mix of differently priced queries, which jumps
    between price levels from run to run, is never taken."""
    by_name: dict[str, list[float]] = {}
    for name, traced, dt in run.ops:
        if not traced:
            by_name.setdefault(name, []).append(dt)
    means = [statistics.fmean(v) for v in by_name.values()]
    medians = [statistics.median(v) for v in by_name.values()]
    return {"setup_s": setup_s, "ops_per_s": len(means) / sum(means),
            "op_p50_s": statistics.fmean(medians)}


def per_layer(run) -> dict[str, float]:
    tr = run.tracer
    _, n = tr.total("op")
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update(run.layer)
    out["plans.construct_s"] = tr.total("plans.construct")[0] / n
    out["exec.execute_s"] = tr.total("exec.execute")[0] / n
    for metric, key in COUNT_METRICS.items():
        out[metric] = tr.summed_count("op", key) / n
    out["session.peak_rss_mb"] = run.probe.peak_rss_mb()
    traced = [dt for _, t, dt in run.ops if t]
    out["trace.op_p50_s"] = statistics.median(traced)
    # overhead: per pair of the same op, traced over untraced latency
    ratios = [(a[2] / b[2]) if a[1] else (b[2] / a[2])
              for a, b in zip(run.ops[0::2], run.ops[1::2]) if a[0] == b[0] and a[1] != b[1]]
    out["trace.overhead_frac"] = statistics.median(ratios) - 1
    return out


def report(workload: str, run, e2e: dict[str, float]) -> list[str]:
    """Human-readable metric lines, each with its unit."""
    lat = [dt for _, traced, dt in run.ops if not traced]
    lines = [f"setup_s {e2e['setup_s']:.3f} s"]
    if workload == "invoice_pdf_etl":
        lines.append(f"docs_per_s {run.info['docs_per_op'] * e2e['ops_per_s']:.2f} docs/s")
    else:
        lines.append(f"queries_per_s {e2e['ops_per_s']:.3f} queries/s")
    lines.append(f"op_p50_s {e2e['op_p50_s']:.4f} s")
    if workload == "sql_analytics":
        p90 = quantile(lat, 0.9)
        lines.append(f"op_p90_s {p90:.4f} s ({len(lat)} ops, {sum(x > p90 for x in lat)} above)")
    lines.append(f"failed_frac {run.failed / max(run.attempted, 1):.4f} "
                 f"({run.failed}/{run.attempted} ops)")
    return lines


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS, Run

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_start = envinfo.loadavg()
    work = os.path.join(ROOT, "perfbench", "work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    run = Run(work, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run).run_all()
        env = envinfo.record(run.spark, ROOT, load_start)
        layer = per_layer(run) if run.trace else None
    finally:
        if run.spark is not None:
            stop_engine(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.t_first_op - T_START - run.excluded_s
    e2e = end_to_end(run, setup_s)
    lines = report(args.workload, run, e2e)
    if run.trace:
        lines += [f"{k} {v:.6g} {LAYER_UNITS[k]}" for k, v in layer.items()]
        if "ladder_unresolved" in run.info:
            lines.append("ladder layers within their prefixes' spread: "
                         + (", ".join(run.info["ladder_unresolved"]) or "none"))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "info": run.info,
              "failures": run.failures[:20], "end_to_end": e2e, "per_layer": layer,
              "layer_raw": run.layer, "ops": run.ops}
    results = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if run.trace:
        run.tracer.write(os.path.join(results, name + ".spans.json"))

    for line in lines:
        print(line)
    print("env " + json.dumps(env))
    for failure in run.failures[:20]:
        print("failure " + failure)
    sys.stdout.flush()
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
