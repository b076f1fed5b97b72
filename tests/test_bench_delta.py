"""bench.py's delta report compares only records taken at the same
(sf, cpus, default_parallelism) and flags movers by bench_delta.compare."""

import json

import bench


def test_report_deltas_skips_records_at_other_core_counts(tmp_path, capsys):
    rec = {"sf": 0.1, "default_parallelism": 4}
    newest, older = tmp_path / "BENCH_LOCAL.json", tmp_path / "BENCH_r15.json"
    newest.write_text(json.dumps(dict(rec, cpus=32, queries_median={"q_slow": 9.0})))
    prior = {"q_slow": 1.0, "q_same": 2.0}
    older.write_text(json.dumps({"cpus": 4, "parsed": dict(rec, queries_median=prior)}))
    now = {"q_slow": 3.0, "q_same": 2.0}
    bench._report_deltas(now, now, (0.1, 4, 4), [str(newest), str(older)])
    err = capsys.readouterr().err
    assert "vs BENCH_r15.json (median)" in err
    assert "q_slow: 1.00s -> 3.00s" in err and "q_same" not in err
    bench._report_deltas(now, now, (0.1, 4, 4), [str(newest)])
    assert "no prior record" in capsys.readouterr().err
