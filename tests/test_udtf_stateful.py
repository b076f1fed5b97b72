"""Tests for the Python escape hatches: UDTF block splitting, grouped
applyInPandas percentiles, applyInPandasWithState running totals."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from rpa_etl_spark.operators.udtf_blocks import percentile_summary, split_blocks
from rpa_etl_spark.streaming.stateful import running_user_totals
from rpa_etl_spark.tables import load
from tests.test_parsing import GOLDEN


def test_udtf_block_split(spark):
    df = spark.createDataFrame([(1, GOLDEN)], "doc_id long, text string")
    rows = split_blocks(df).collect()
    by_type = {r["block_type"]: r for r in rows}
    assert set(by_type) == {"HEADER", "ISSUER", "RECIPIENT", "ITEMS", "FINANCIALS"}
    assert "TECH SOLUTIONS" in by_type["ISSUER"]["block_text"]
    assert "COMERCIO GLOBAL" in by_type["RECIPIENT"]["block_text"]
    assert "4.450,00" in by_type["FINANCIALS"]["block_text"]
    # blocks are ordered and non-overlapping
    positions = sorted(r["pos"] for r in rows)
    assert positions == [r["pos"] for r in sorted(rows, key=lambda r: r["pos"])]


def test_udtf_empty_and_unstructured(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "no markers here at all")], "doc_id long, text string"
    )
    rows = split_blocks(df).collect()
    # empty text yields nothing; unstructured yields a single HEADER block
    assert [(r["doc_id"], r["block_type"]) for r in rows] == [(2, "HEADER")]


def test_percentile_summary_matches_numpy(spark, sf_dir):
    import numpy as np

    orders = load(spark, sf_dir, "orders")
    out = {
        r["o_orderstatus"]: r
        for r in percentile_summary(orders, "o_orderstatus", "o_totalprice").collect()
    }
    rows = orders.select("o_orderstatus", "o_totalprice").collect()
    by_status: dict[str, list[float]] = {}
    for r in rows:
        by_status.setdefault(r["o_orderstatus"], []).append(r["o_totalprice"])
    for status, vals in by_status.items():
        assert out[status]["n"] == len(vals)
        assert abs(out[status]["p50"] - float(np.percentile(vals, 50))) < 1e-9


def test_stateful_running_totals(spark, tmp_path):
    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {
            "event_id": i,
            "ts": (base + timedelta(seconds=i)).isoformat(sep=" "),
            "user_id": i % 3,
            "event_type": "click",
            "value": float(i),
            "props": "{}",
        }
        for i in range(30)
    ]
    src = tmp_path / "stream"
    src.mkdir()
    (src / "f1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).json(str(src))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # availableNow must end once the input is drained; a timeout
        # that queues a no-data batch on every trigger never lets it
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    got = {r["user_id"]: r for r in spark.table("state_out").collect()}
    for uid in (0, 1, 2):
        vals = [float(i) for i in range(30) if i % 3 == uid]
        assert got[uid]["n_events"] == len(vals)
        assert abs(got[uid]["total_value"] - sum(vals)) < 1e-9


class FakeGroupState:
    """GroupState stand-in for driving an update function without Spark."""

    def __init__(self):
        self.v = None
        self.timeout = None
        self.wm = 0
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.v is not None

    @property
    def get(self):
        return self.v

    def update(self, v):
        self.v = v

    def remove(self):
        self.v = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def setTimeoutTimestamp(self, t):
        assert t > self.wm
        self.timeout = t


def test_running_totals_state_expires_by_event_time():
    """running_user_totals' expiry: the timeout is the user's newest event
    time plus STATE_TTL_MS, an event without a time does not move it, and
    a timed-out key is removed without emitting."""
    import pandas as pd

    from rpa_etl_spark.streaming.stateful import STATE_TTL_MS, _update

    t0 = 1_700_000_000_000
    st = FakeGroupState()
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime([t0, t0 + 5_000, None], unit="ms"),
         "value": [1.0, 2.0, None]}
    )
    (out,) = list(_update((7,), iter([b1]), st))
    assert (out["n_events"][0], out["total_value"][0]) == (3, 3.0)
    assert st.timeout == t0 + 5_000 + STATE_TTL_MS
    st.wm = t0
    b2 = pd.DataFrame({"ts": pd.to_datetime([None], unit="ms"), "value": [4.0]})
    (out,) = list(_update((7,), iter([b2]), st))
    assert (out["n_events"][0], out["total_value"][0]) == (4, 7.0)
    assert st.timeout == t0 + 5_000 + STATE_TTL_MS
    st.wm, st.hasTimedOut = st.timeout, True
    assert list(_update((7,), iter([]), st)) == []
    assert st.v is None


def test_expiring_sessions_v1_late_event_bridges_sessions():
    """Round-10 review fix, v1 form (make_session_update): a late-but-
    within-watermark event must be able to BRIDGE two held sessions into
    one and back-extend session_start; in-batch gaps must NOT emit before
    the watermark passes their horizon."""
    import pandas as pd

    from rpa_etl_spark.streaming.stateful import make_session_update

    gap = 5 * 60 * 1000
    update = make_session_update(gap)
    st = FakeGroupState()
    t0 = 1_700_000_000_000
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime([t0, t0 + 6 * 60 * 1000], unit="ms"),
         "value": [1.0, 2.0]}
    )
    # two sessions 6 min apart: nothing emits at wm=0 (the old form
    # emitted the first one immediately — the review defect)
    assert list(update((7,), iter([b1]), st)) == []
    assert st.v == ([t0, t0 + 6 * 60 * 1000], [t0, t0 + 6 * 60 * 1000], [1, 1], [1.0, 2.0])
    # late event BETWEEN them (above watermark) bridges both into ONE
    st.wm = t0 + 60_000
    b2 = pd.DataFrame(
        {"ts": pd.to_datetime([t0 + 3 * 60 * 1000], unit="ms"), "value": [4.0]}
    )
    assert list(update((7,), iter([b2]), st)) == []
    assert st.v == ([t0], [t0 + 6 * 60 * 1000], [3], [7.0])
    assert st.timeout == t0 + 6 * 60 * 1000 + gap
    # watermark passes the horizon: the single merged session emits whole
    st.wm = st.timeout
    st.hasTimedOut = True
    out = list(update((7,), iter([]), st))
    assert len(out) == 1
    r = out[0]
    assert r["n_events"][0] == 3 and r["total_value"][0] == 7.0
    assert r["session_start"][0] == pd.to_datetime(t0, unit="ms")
    assert r["session_end"][0] == pd.to_datetime(t0 + 6 * 60 * 1000, unit="ms")
    assert st.v is None
