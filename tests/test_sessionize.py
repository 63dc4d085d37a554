"""Custom stateful streaming operator (applyInPandasWithState
sessionization): closed sessions emitted by the stream must match the
batch-equivalent sessionization exactly; open sessions stay in state."""

from __future__ import annotations

import os
import shutil

import pytest


def test_stream_sessions_match_batch(spark, tmp_path):
    from tests.streaming.events_stream import events_stream
    from tests.streaming.sessionize import (
        sessionize_batch, sessionize_stream,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata missing")
    src_dir = tmp_path / "events"
    src_dir.mkdir()
    shutil.copy(src, src_dir / "part-0.parquet")

    gap = 3600  # 1h gap on the sparse sf0.001 event stream
    batch = {tuple(r) for r in
             sessionize_batch(spark.read.parquet(str(src_dir)),
                              gap_s=gap).collect()}

    q = (sessionize_stream(events_stream(spark, str(src_dir)), gap_s=gap)
         .writeStream.format("memory").queryName("sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from sessions").collect()}

    # append mode emits only sessions CLOSED by the watermark; every
    # emitted session must match the batch result exactly
    assert len(got) > 0
    assert got <= batch
    # the un-emitted remainder is exactly the still-open tail sessions:
    # per user at most the final session can be open
    missing = batch - got
    users_missing = [m[0] for m in missing]
    assert len(users_missing) == len(set(users_missing))


class _FakeState:
    """Minimal GroupState stand-in for driving _sessionize_fn directly."""

    def __init__(self):
        self.hasTimedOut = False
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def setTimeoutTimestamp(self, ts):
        pass


def test_multichunk_arrow_batches_pair_ts_with_value():
    """Regression: events for one user arriving as MULTIPLE Arrow chunks
    (each with its own RangeIndex starting at 0) must not mispair values
    with timestamps. The old code concatenated without ignore_index and
    realigned values via .loc[ts.index], which fans out on duplicate
    labels — 4 timestamps yielded 8 values."""
    import pandas as pd

    from tests.streaming.sessionize import _sessionize_fn

    # two chunks, overlapping RangeIndex labels 0..1, out of order
    c1 = pd.DataFrame({
        "user_id": [7, 7],
        "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:00:00"]),
        "value": [10.0, 1.0],
    })
    c2 = pd.DataFrame({
        "user_id": [7, 7],
        "ts": pd.to_datetime(["2024-01-01 00:05:00", "2024-01-01 05:00:00"]),
        "value": [5.0, 100.0],
    })
    state = _FakeState()
    out = list(_sessionize_fn(gap_s=1800)((7,), iter([c1, c2]), state))

    # first session closes (1+5+10 = 16 -> 16000 milli, 3 events)
    assert len(out) == 1
    row = out[0].iloc[0]
    assert int(row["n_events"]) == 3
    assert int(row["value_milli"]) == 16000
    # open session state holds the 05:00 event only
    assert state.exists
    assert state.get[2] == 1 and state.get[3] == 100000


def test_stream_rounding_matches_spark_half_up():
    """value*1000 landing exactly on .5 must round HALF_UP like Spark's
    F.round in the batch oracle (0.0625 -> 62.5 -> 63, not 62)."""
    import pandas as pd

    from tests.streaming.sessionize import _sessionize_fn

    c = pd.DataFrame({
        "user_id": [1],
        "ts": pd.to_datetime(["2024-01-01 00:00:00"]),
        "value": [0.0625],
    })
    state = _FakeState()
    list(_sessionize_fn(gap_s=60)((1,), iter([c]), state))
    assert state.get[3] == 63
