"""Shard-keyed state wrapper (operators/shard_state.py): trigger-by-trigger
equivalence with per-key grouping, including event-time timer firing.

The wrapper's whole correctness claim is that running a per-key
``applyInPandasWithState`` function shard-keyed changes NOTHING about what
is emitted or when — only the Python-invocation granularity. These tests
replay a small multi-wave keyed stream through the SAME state function
grouped (a) per key by Spark and (b) shard-keyed via the wrapper, and
compare the emitted rows PER MICRO-BATCH (so a timer that fired one
trigger late would fail even if the end-of-run multiset matched).
"""

from __future__ import annotations

import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_notebooks_spark.operators.shard_state import (
    shard_keyed_state,
    shards_for_keys,
)


def _write_wave(path, rows):
    """rows: list of (user_id, ts_s, v)."""
    tbl = pa.table(
        {
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts_us": pa.array([r[1] * 1_000_000 for r in rows], pa.int64()),
            "v": pa.array([r[2] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def waves_dir(tmp_path_factory):
    """4 waves; key 1 goes idle after wave 0 (its timer must fire from a
    shard that keeps receiving OTHER keys' data), key 4 appears late, and
    wave 3 is a far-future sentinel that expires every surviving timer."""
    d = tmp_path_factory.mktemp("shardstate")
    import os

    waves = [
        [(1, 100, 10), (2, 100, 20), (3, 101, 30)],
        [(2, 160, 21), (3, 161, 31)],
        [(2, 220, 22), (4, 221, 40)],
        [(99, 100_000, 0)],  # sentinel: watermark past every deadline
    ]
    for i, rows in enumerate(waves):
        p = f"{d}/{i:02d}_wave.parquet"
        _write_wave(p, rows)
        os.utime(p, (i, i))
    return str(d)


# session-gap sessionizer with event-time timeout: emits (user_id, n, status)
# revisions on data, and a CLOSED revision when the 50 s gap timer fires —
# exercises exists/get/update/remove/setTimeoutTimestamp/hasTimedOut and
# emission from BOTH the data path and the timer path.
OUT_SCHEMA = "user_id bigint, n bigint, closed boolean"


def _make_sess_fn():
    """Factory: the returned closure is cloudpickled by VALUE, so Spark
    workers don't need this test module on their import path."""

    def _sess_fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            n, last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "closed": [True]}
            )
            return
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        new = pd.concat(chunks, ignore_index=True)
        n, last = state.get if state.exists else (0, -(1 << 40))
        n += len(new)
        last = max(int(last), int(new["ts_us"].max() // 1_000_000))
        state.update((int(n), int(last)))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last * 1000 + 50 * 1000 + 1, wm + 1))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "closed": [False]}
        )

    return _sess_fn


def _stream(spark, waves_dir):
    raw = (
        spark.readStream.schema("user_id bigint, ts_us bigint, v bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(waves_dir)
    )
    return raw.withColumn(
        "ev_time", F.timestamp_micros("ts_us")
    ).withWatermark("ev_time", "0 seconds")


def _collect_batches(spark, df):
    """Run df (append mode) with foreachBatch, return {batch_id: sorted rows}."""
    got = {}

    def sink(bdf, bid):
        rows = sorted(tuple(r) for r in bdf.collect())
        if rows:
            got[bid] = rows

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        q = (
            df.writeStream.foreachBatch(sink)
            .queryName("shardstate_" + uuid.uuid4().hex[:8])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return got


def test_shards_for_keys_scales():
    assert shards_for_keys(10, 8) == 8
    assert shards_for_keys(100_000, 8) == 25
    assert shards_for_keys(0, 4) == 4


def test_sharded_equals_per_key_per_trigger(spark, waves_dir):
    from pyspark.sql.streaming.state import GroupStateTimeout

    per_key = _collect_batches(
        spark,
        _stream(spark, waves_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sess_fn(),
            OUT_SCHEMA,
            "n bigint, last bigint",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        ),
    )
    sharded = _collect_batches(
        spark,
        shard_keyed_state(
            _stream(spark, waves_dir),
            ["user_id"],
            _make_sess_fn(),
            OUT_SCHEMA,
            "append",
            "event",
            shards=2,  # 5 keys across 2 shards: forces multi-key shards
        ),
    )
    assert sharded == per_key
    # sanity: the replay actually exercised both paths — revisions from
    # every wave and at least one timer-fired CLOSED row
    all_rows = [r for rows in per_key.values() for r in rows]
    assert any(r[2] for r in all_rows), "expected timer-fired CLOSED rows"
    assert any(not r[2] for r in all_rows)


def test_sharded_single_shard_equals_per_key(spark, waves_dir):
    """Degenerate shards=1 (every key in one group) still matches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    per_key = _collect_batches(
        spark,
        _stream(spark, waves_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sess_fn(),
            OUT_SCHEMA,
            "n bigint, last bigint",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        ),
    )
    sharded = _collect_batches(
        spark,
        shard_keyed_state(
            _stream(spark, waves_dir),
            ["user_id"],
            _make_sess_fn(),
            OUT_SCHEMA,
            "append",
            "event",
            shards=1,
        ),
    )
    assert sharded == per_key


def test_timer_needs_event_timeout(spark):
    """Setting a timer in a shim dispatched with ``timeout='none'`` raises,
    as Spark's GroupState does under NoTimeout; under ``'event'`` the
    timer arms the shard's own."""
    from pyspark.errors import PySparkRuntimeError

    captured = {}

    class FakeDF:
        def withColumn(self, *_):
            return self

        def groupBy(self, *_):
            return self

        def applyInPandasWithState(self, fn, *_):
            captured["shard_fn"] = fn

    class FakeState:
        exists = False
        armed = None

        def getCurrentWatermarkMs(self):
            return 0

        def update(self, _):
            pass

        def setTimeoutTimestamp(self, ts):
            self.armed = ts

    def fn(key, pdfs, state):
        state.setTimeoutTimestamp(1000)
        yield from ()

    batch = pd.DataFrame({"k": [1], "__fns_shard": [0]})
    shard_keyed_state(FakeDF(), ["k"], fn, "k int", "append", "none", 2)
    with pytest.raises(PySparkRuntimeError):
        list(captured["shard_fn"]((0,), iter([batch]), FakeState()))
    shard_keyed_state(FakeDF(), ["k"], fn, "k int", "append", "event", 2)
    state = FakeState()
    list(captured["shard_fn"]((0,), iter([batch]), state))
    assert state.armed == 1000
