"""Streaming engine tests: notebook-01 replay (streaming datagen, watermark,
tumbling window), result polling with NOT_READY/PAYLOAD, pause/cancel (T5),
and the job monitor (T6/T7)."""

from __future__ import annotations

import os
import time

import pytest

from flink_notebooks_spark.engine import Engine
from flink_notebooks_spark.streaming import JobMonitor

STREAM_DDL = """
CREATE TABLE clickstream (
    user_id INT,
    page_id INT,
    action STRING,
    event_time TIMESTAMP(3),
    WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND
) WITH (
    'connector' = 'datagen',
    'rows-per-second' = '200',
    'fields.user_id.min' = '1',
    'fields.user_id.max' = '100',
    'fields.page_id.min' = '1',
    'fields.page_id.max' = '20',
    'fields.action.length' = '10'
)
"""


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)  # default runtime mode: streaming
    yield eng
    eng.close()


def wait_stream_idle(stmt, timeout: float = 30.0) -> None:
    """Wait until no trigger is in flight and no data is pending, so a
    subsequent query.stop() cannot interrupt a foreachBatch mid-collect
    (which would surface as InterruptedException → statement ERROR instead
    of the natural-FINISH path the flush tests pin)."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        try:
            st = stmt.query.status
        except Exception:  # noqa: BLE001 — already stopped
            return
        if not st.get("isTriggerActive") and not st.get("isDataAvailable"):
            return
        time.sleep(0.3)


def poll_rows(stmt, want: int, timeout: float = 60.0):
    rows, token, t0 = [], 0, time.time()
    while len(rows) < want and time.time() - t0 < timeout:
        page = stmt.fetch(token)
        if page.result_type == "PAYLOAD":
            rows.extend(page.data)
            token = page.next_token
        elif page.result_type == "EOS":
            break
        else:
            time.sleep(0.5)  # reference streaming poll interval
    return rows


def test_notebook01_streaming_select_and_cancel(engine):
    engine.execute_sql(STREAM_DDL)
    assert engine.tables["clickstream"].watermark.delay == "5 seconds"

    # streaming SELECT: rows arrive incrementally (examples/01:29)
    stmt = engine.execute_sql("SELECT user_id, page_id, action FROM clickstream")
    assert stmt.is_streaming
    rows = poll_rows(stmt, want=20)
    assert len(rows) >= 20
    assert all(1 <= r["fields"][0] <= 100 for r in rows)
    assert all(1 <= r["fields"][1] <= 20 for r in rows)
    assert all(len(r["fields"][2]) == 10 for r in rows)

    # pause → NOT_READY regardless of data; resume → data again (T5)
    stmt.pause()
    assert stmt.fetch(0).result_type == "NOT_READY"
    stmt.resume()

    # cancel (T5): query stops, state CANCELED
    stmt.cancel()
    assert stmt.status() == "CANCELED"
    assert not stmt.query.isActive
    engine.execute_sql("DROP TABLE clickstream")


@pytest.mark.slow
def test_notebook01_tumbling_window_agg(engine):
    engine.execute_sql(STREAM_DDL)
    # examples/01:47 — 10s tumble per page_id; seconds-scale windows so the
    # test completes quickly (update mode emits windows as they develop)
    stmt = engine.execute_sql(
        "SELECT window(event_time, '10 seconds').start AS ws, page_id, COUNT(*) AS views "
        "FROM clickstream GROUP BY window(event_time, '10 seconds'), page_id"
    )
    rows = poll_rows(stmt, want=5, timeout=90)
    assert len(rows) >= 5
    assert all(len(r["fields"]) == 3 for r in rows)
    stmt.cancel()
    engine.execute_sql("DROP TABLE clickstream")


def test_job_monitor_sees_streaming_query(engine):
    engine.execute_sql(STREAM_DDL.replace("clickstream", "monitored"))
    stmt = engine.execute_sql("SELECT user_id FROM monitored")
    mon = JobMonitor(engine.spark)
    try:
        poll_rows(stmt, want=1)
        jobs = mon.streaming_jobs()
        assert any(j.state == "RUNNING" for j in jobs)
        j = next(j for j in jobs if j.state == "RUNNING")
        assert "numRecordsIn" in j.metrics
        # cancel through the monitor (job-level cancel, flinkJobClient.ts:164-175)
        assert mon.cancel(j.job_id)
        time.sleep(1)
        assert stmt.query.isActive is False
    finally:
        stmt.cancel()
        engine.execute_sql("DROP TABLE monitored")


def test_runtime_mode_switch_rematerializes(engine):
    engine.execute_sql(STREAM_DDL.replace("clickstream", "modal"))
    # streaming mode: unbounded view
    assert engine.spark.table("modal").isStreaming
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    # batch mode: same table is now a bounded DataFrame (SURVEY §7.4)
    assert not engine.spark.table("modal").isStreaming
    rows_stmt = engine.execute_sql("SELECT COUNT(*) AS c FROM modal")
    page = rows_stmt.fetch(0)
    assert page.result_type == "PAYLOAD"
    engine.execute_sql("DROP TABLE modal")


@pytest.mark.slow
def test_notebook01_verbatim_flink_sql(engine):
    """The reference's flagship cell SQL, verbatim (examples/01:47) — the
    Flink group-window dialect is rewritten to Spark window()/selectors."""
    engine.execute_sql(STREAM_DDL)
    stmt = engine.execute_sql(
        "SELECT \n"
        "  page_id,\n"
        "  COUNT(*) as click_count,\n"
        "  TUMBLE_START(event_time, INTERVAL '10' SECOND) as window_start,\n"
        "  TUMBLE_END(event_time, INTERVAL '10' SECOND) as window_end\n"
        "FROM clickstream\n"
        "GROUP BY \n"
        "  page_id,\n"
        "  TUMBLE(event_time, INTERVAL '10' SECOND)"
    )
    rows = poll_rows(stmt, want=5, timeout=90)
    assert len(rows) >= 5
    # page_id, count, window_start, window_end
    for r in rows:
        assert len(r["fields"]) == 4
        assert 1 <= r["fields"][0] <= 20
        assert r["fields"][1] >= 1
    stmt.cancel()
    engine.execute_sql("DROP TABLE clickstream")


def test_runner_file_sink_drain(spark, sf_dir, tmp_path):
    """streaming/runner.py: checkpointed bounded drain to a parquet sink."""
    from flink_notebooks_spark.io import events_stream_schema
    from flink_notebooks_spark.session import tune
    from flink_notebooks_spark.streaming import SinkSpec, drain

    tune(spark)
    stream = (
        spark.readStream.schema(events_stream_schema(f"{sf_dir}/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("event_id", "user_id", "event_type")
    )
    spec = SinkSpec(
        fmt="parquet",
        path=f"{tmp_path}/out",
        checkpoint=f"{tmp_path}/ckpt",
    )
    drain(stream, spec, query_name="runner_test")
    back = spark.read.parquet(f"{tmp_path}/out")
    assert back.count() == spark.read.parquet(f"{sf_dir}/events.parquet").count()


# ------------------------------------------------- changelog kinds (§1.1)
def test_changelog_entries_pure():
    from flink_notebooks_spark.engine.statement import changelog_entries

    seen = {}
    # batch 1: two new groups
    out = changelog_entries([["a", 1], ["b", 2]], [0], "update", seen)
    assert [e["kind"] for e in out] == ["INSERT", "INSERT"]
    # batch 2: group a changes → -U(old) +U(new); b unchanged (re-emitted)
    out = changelog_entries([["a", 5], ["b", 2]], [0], "update", seen)
    assert out == [
        {"kind": "UPDATE_BEFORE", "fields": ["a", 1]},
        {"kind": "UPDATE_AFTER", "fields": ["a", 5]},
    ]
    # complete mode: b vanishes → DELETE
    out = changelog_entries([["a", 5]], [0], "complete", seen)
    assert out == [{"kind": "DELETE", "fields": ["b", 2]}]
    assert set(seen) == {("a",)}


@pytest.mark.slow
def test_streaming_agg_emits_update_kinds(engine):
    """A continuous GROUP BY count over streaming datagen runs in update
    mode; as keys repeat, the result pages must carry Flink's changelog
    encoding: first INSERT per key, then UPDATE_BEFORE/UPDATE_AFTER pairs
    (reference models/types.ts:24-27)."""
    engine.execute_sql(STREAM_DDL)
    stmt = engine.execute_sql(
        "SELECT user_id, COUNT(*) AS c FROM clickstream GROUP BY user_id"
    )
    try:
        rows = poll_rows(stmt, want=150, timeout=90)
        kinds = [r["kind"] for r in rows]
        assert "INSERT" in kinds and "UPDATE_AFTER" in kinds
        # every UPDATE_BEFORE is immediately followed by its UPDATE_AFTER,
        # for the same key, with the count strictly growing
        for i, r in enumerate(rows):
            if r["kind"] == "UPDATE_BEFORE":
                if i + 1 == len(rows):
                    # the poll cutoff split the pair: its UPDATE_AFTER is
                    # first in the next page — pairing holds in the stream,
                    # not in an arbitrary poll prefix
                    continue
                nxt = rows[i + 1]
                assert nxt["kind"] == "UPDATE_AFTER"
                assert nxt["fields"][0] == r["fields"][0]
                assert nxt["fields"][1] > r["fields"][1]
    finally:
        stmt.cancel()
        engine.execute_sql("DROP TABLE clickstream")


@pytest.mark.slow
def test_streaming_cumulate_tvf(engine):
    """CUMULATE windowing TVF on an unbounded table: the explode rewrite is
    stateless, the downstream agg runs in update mode, and counts for a
    given window only grow as events accumulate (cumulative semantics)."""
    engine.execute_sql(
        """CREATE TABLE cml (user_id INT, event_time TIMESTAMP(3),
           WATERMARK FOR event_time AS event_time - INTERVAL '2' SECOND)
           WITH ('connector'='datagen','rows-per-second'='200',
                 'fields.user_id.min'='1','fields.user_id.max'='10')"""
    )
    stmt = engine.execute_sql(
        "SELECT window_start, window_end, COUNT(*) AS c FROM "
        "TABLE(CUMULATE(TABLE cml, DESCRIPTOR(event_time), "
        "INTERVAL '2' SECOND, INTERVAL '10' SECOND)) "
        "GROUP BY window_start, window_end"
    )
    try:
        rows = poll_rows(stmt, want=15, timeout=90)
        assert len(rows) >= 15
        spans = set()
        for r in rows:
            ws, we = r["fields"][0], r["fields"][1]
            delta = (we - ws).total_seconds()
            assert delta % 2 == 0 and 2 <= delta <= 10  # grown in step units
            spans.add(delta)
        assert len(spans) > 1  # multiple growing spans of the same window
        # changelog semantics: an update never shrinks a cumulative count
        for i, r in enumerate(rows):
            if r["kind"] == "UPDATE_BEFORE":
                nxt = rows[i + 1]
                assert nxt["kind"] == "UPDATE_AFTER"
                assert nxt["fields"][2] >= r["fields"][2]
    finally:
        stmt.cancel()
        engine.execute_sql("DROP TABLE cml")


def test_partial_pages_do_not_strand_rows():
    """Protocol regression: tokens are cursors over rows ready at serve
    time. After a 2-row partial page, the NEXT token must yield the rows
    that arrive right after — not wait for a 100-row boundary."""
    from flink_notebooks_spark.engine.statement import StreamingStatement

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

        def stop(self):
            self.isActive = False

    stmt = StreamingStatement.__new__(StreamingStatement)
    import threading

    from flink_notebooks_spark.engine.statement import Statement

    Statement.__init__(stmt)
    stmt.is_streaming = True
    stmt._columns = []
    stmt._buffer = []
    stmt._lock = threading.Lock()
    stmt._paused = False
    stmt.truncated = False
    stmt._mode_holder = {}
    stmt._key_idx = None
    stmt._seen = {}
    stmt._offsets = {0: 0}
    stmt.query = FakeQuery()
    stmt.state = "RUNNING"

    stmt._buffer.extend({"kind": "INSERT", "fields": [i]} for i in range(2))
    p0 = stmt.fetch(0)
    assert p0.result_type == "PAYLOAD" and len(p0.data) == 2
    # retry of the same token is byte-identical
    assert [r["fields"] for r in stmt.fetch(0).data] == [[0], [1]]
    # two more rows trickle in: the next token serves them immediately
    stmt._buffer.extend({"kind": "INSERT", "fields": [i]} for i in (2, 3))
    p1 = stmt.fetch(p0.next_token)
    assert p1.result_type == "PAYLOAD"
    assert [r["fields"] for r in p1.data] == [[2], [3]]
    # nothing new yet → NOT_READY at the live head
    assert stmt.fetch(p1.next_token).result_type == "NOT_READY"
    stmt.query.stop()
    assert stmt.fetch(p1.next_token).result_type == "EOS"


def test_changelog_transfer_bounded_on_oversized_trigger(spark, monkeypatch):
    """One update-mode trigger with more changed keys than MAX_STREAM_ROWS
    must NOT materialize the whole micro-batch on the driver: the collect is
    limit-capped at MAX_STREAM_ROWS + 1, the buffer fills to the cap, the
    _seen key map stays bounded by the cap, and `truncated` reports honestly
    that serveable output was dropped. A post-saturation trigger transfers
    nothing at all."""
    from flink_notebooks_spark.engine import statement as st

    monkeypatch.setattr(st, "MAX_STREAM_ROWS", 40)

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

        def stop(self):
            self.isActive = False

    class SpyDF:
        """Counts driver transfers; delegates everything else."""

        def __init__(self, df, root=None):
            self._df = df
            self._root = root or self  # derived frames count on the root
            self.limits: list[int] = []
            self.full_collects = 0

        def filter(self, cond):
            return SpyDF(self._df.filter(cond), self._root)

        def repartition(self, n):
            return SpyDF(self._df.repartition(n), self._root)

        def limit(self, n):
            self._root.limits.append(n)
            return self._df.limit(n)

        def collect(self):
            self._root.full_collects += 1
            return self._df.collect()

        def __getattr__(self, a):
            return getattr(self._df, a)

    big = spark.createDataFrame([(i, 1) for i in range(100)], "k int, v int")
    captured = {}

    def start_fn(on_batch):
        captured["on_batch"] = on_batch
        return FakeQuery()

    stmt = st.StreamingStatement(
        big, start_fn, changelog_keys=["k"], mode_holder={"mode": "update"}
    )
    spy = SpyDF(big)
    captured["on_batch"](spy, 0)
    assert spy.limits == [41]  # MAX_STREAM_ROWS + 1 — the only transfer
    assert spy.full_collects == 0  # never the whole batch
    assert len(stmt._buffer) == 40 and stmt.truncated
    assert len(stmt._seen) <= 40  # state bounded by the cap too
    # post-saturation trigger: short-circuits without any transfer at all
    spy2 = SpyDF(big)
    captured["on_batch"](spy2, 1)
    assert spy2.limits == [] and spy2.full_collects == 0
    # dropped keys keep their last-EMITTED value in _seen, so a later
    # UPDATE_BEFORE for a key served now still matches the client's view
    served_keys = {r["fields"][0] for r in stmt._buffer}
    assert served_keys == {k[0] for k in stmt._seen}


def test_complete_mode_deletes_exact_under_transfer_cap(spark, monkeypatch):
    """VERDICT r12 #3: an oversized complete-mode trigger keeps EXACT DELETE
    semantics — absence of a served key from the whole snapshot is decided
    by a distributed anti-join (ships only vanished keys), never by the
    capped partial collect, and never by materializing the batch. Transfer
    stays bounded: one limit(cap+1) collect plus ≤ |served| key rows."""
    from flink_notebooks_spark.engine import statement as st

    monkeypatch.setattr(st, "MAX_STREAM_ROWS", 40)

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

        def stop(self):
            self.isActive = False

    class SpyDF:
        def __init__(self, df, root=None):
            self._df = df
            self._root = root or self  # derived frames count on the root
            self.limits: list[int] = []
            self.full_collects = 0

        def filter(self, cond):
            return SpyDF(self._df.filter(cond), self._root)

        def repartition(self, n):
            return SpyDF(self._df.repartition(n), self._root)

        def limit(self, n):
            self._root.limits.append(n)
            return self._df.limit(n)

        def collect(self):
            self._root.full_collects += 1
            return self._df.collect()

        def __getattr__(self, a):
            return getattr(self._df, a)

    base = spark.createDataFrame([(i, i * 10) for i in range(5)], "k int, v int")
    captured = {}

    def start_fn(on_batch):
        captured["on_batch"] = on_batch
        return FakeQuery()

    stmt = st.StreamingStatement(
        base, start_fn, changelog_keys=["k"], mode_holder={"mode": "complete"}
    )
    # trigger 0: a 5-key complete snapshot, fits → 5 INSERTs served
    captured["on_batch"](SpyDF(base), 0)
    assert {r["fields"][0] for r in stmt._buffer} == set(range(5))
    # trigger 1: 60-key snapshot (caps at 40) where keys 0-4 VANISHED —
    # exact DELETEs must still be emitted, before new-key INSERTs
    big = spark.createDataFrame(
        [(i, i * 10) for i in range(5, 65)], "k int, v int"
    )
    spy = SpyDF(big)
    captured["on_batch"](spy, 1)
    assert spy.limits == [41] and spy.full_collects == 0  # bounded transfer
    deletes = [r for r in stmt._buffer if r["kind"] == "DELETE"]
    assert sorted(r["fields"] for r in deletes) == [[i, i * 10] for i in range(5)]
    assert stmt.truncated  # inserts past the cap were genuinely dropped
    assert len(stmt._buffer) <= 40
    # the served-key map forgot the deleted keys and only them
    assert all((i,) not in stmt._seen for i in range(5))


def test_sliced_off_deletes_are_requeued_not_lost(spark, monkeypatch):
    """ADVICE r13: when buffer room is smaller than the DELETE count, the
    sliced-off DELETEs must NOT leave _seen — popping before the slice lost
    them permanently (client keeps a stale row; a reappearing key would be
    re-served as a duplicate INSERT). Now only the DELETEs that actually
    made it into the buffer pop their key; the rest stay in _seen so the
    next trigger's anti-join re-detects them."""
    from flink_notebooks_spark.engine import statement as st

    monkeypatch.setattr(st, "MAX_STREAM_ROWS", 40)

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

        def stop(self):
            self.isActive = False

    base = spark.createDataFrame([(i, i * 10) for i in range(38)], "k int, v int")
    captured = {}

    def start_fn(on_batch):
        captured["on_batch"] = on_batch
        return FakeQuery()

    stmt = st.StreamingStatement(
        base, start_fn, changelog_keys=["k"], mode_holder={"mode": "complete"}
    )
    # trigger 0: 38-key snapshot fits → buffer 38, room left = 2
    captured["on_batch"](base, 0)
    assert len(stmt._buffer) == 38 and len(stmt._seen) == 38
    # trigger 1: ALL 38 keys vanish, 65 brand-new keys appear (caps at 40)
    # → 38 DELETEs prepended, but room is only 2: exactly 2 DELETEs serve
    big = spark.createDataFrame(
        [(i, i * 10) for i in range(100, 165)], "k int, v int"
    )
    captured["on_batch"](big, 1)
    tail = stmt._buffer[38:]
    assert len(tail) == 2 and all(r["kind"] == "DELETE" for r in tail)
    assert stmt.truncated
    # only the 2 SERVED deletes left _seen; the 36 sliced-off keys remain
    served = {r["fields"][0] for r in tail}
    remaining_old = {k[0] for k in stmt._seen if k[0] < 100}
    assert remaining_old == set(range(38)) - served and len(remaining_old) == 36
    # and the anti-join re-detects exactly those keys next trigger,
    # without mutating _seen itself (the pop is the caller's job)
    before = dict(stmt._seen)
    redetected = {k[0] for k, _ in stmt._distributed_deletes(big)}
    assert redetected == remaining_old and stmt._seen == before


def test_changelog_entries_partial_snapshot_suppresses_deletes():
    """Complete-mode DELETE reconstruction needs the WHOLE snapshot: with a
    transfer-capped partial batch (exhaustive=False) a key absent from the
    visible rows may simply sit past the cap and must not emit DELETE."""
    from flink_notebooks_spark.engine.statement import changelog_entries

    seen = {("a",): ["a", 1], ("b",): ["b", 2]}
    out = changelog_entries([["a", 1]], [0], "complete", seen, exhaustive=False)
    assert out == [] and ("b",) in seen  # no spurious DELETE
    out = changelog_entries([["a", 1]], [0], "complete", seen, exhaustive=True)
    assert [e["kind"] for e in out] == ["DELETE"] and ("b",) not in seen


@pytest.mark.slow
def test_streaming_match_recognize_through_sql(spark, tmp_path):
    """MATCH_RECOGNIZE on a STREAMING table through the engine's SQL
    surface: keyed state, frontier emission, and the
    'match-recognize.close-after' session property concluding tail matches
    once the watermark passes the idle deadline (the far-future noise row
    advances it, like Flink's end-of-input watermark)."""
    import time

    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    rows = [
        # user 1 funnel: view(10) click(20) click(30) purchase(40)
        {"user_id": 1, "ts_s": 10, "event_type": "view"},
        {"user_id": 1, "ts_s": 20, "event_type": "click"},
        {"user_id": 1, "ts_s": 30, "event_type": "click"},
        {"user_id": 1, "ts_s": 40, "event_type": "purchase"},
        # user 2: no purchase → no match
        {"user_id": 2, "ts_s": 10, "event_type": "view"},
        {"user_id": 2, "ts_s": 20, "event_type": "click"},
        # far-future noise advances the watermark past every deadline
        {"user_id": 99, "ts_s": 10_000, "event_type": "other"},
    ]
    pdf = pd.DataFrame(rows)
    pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")

    eng = Engine(spark)
    eng.execute_sql("SET 'match-recognize.close-after' = '1 second'")
    eng.execute_sql(
        f"""CREATE TABLE mrstream (
              user_id BIGINT, ts_s BIGINT, event_type STRING, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet')"""
    )
    stmt = eng.execute_sql(
        """SELECT * FROM mrstream MATCH_RECOGNIZE (
             PARTITION BY user_id
             ORDER BY ev_time
             MEASURES FIRST(A.ts_s) AS start_s, LAST(C.ts_s) AS end_s,
                      COUNT(B.*) AS n_clicks
             PATTERN (A B+ C)
             DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
                    C AS C.event_type = 'purchase'
           )"""
    )
    got, t0 = [], time.time()
    while not got and time.time() - t0 < 90:
        page = stmt.fetch(0, max_rows=100)
        got = [r["fields"] for r in page.data]
        time.sleep(0.5)
    stmt.cancel()
    eng.close()
    assert got == [[1, 10, 40, 2]]


def _over_events_table(spark, tmp_path, name):
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    rows = [
        {"user_id": 1, "ts_s": 10, "amount": 1.5},
        {"user_id": 1, "ts_s": 20, "amount": 2.0},
        {"user_id": 1, "ts_s": 40, "amount": 3.0},
        {"user_id": 2, "ts_s": 10, "amount": 5.0},
        # far-future row advances the watermark so every real row matures
        {"user_id": 99, "ts_s": 10_000, "amount": 0.0},
    ]
    pdf = pd.DataFrame(rows)
    pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE {name} (
              user_id BIGINT, ts_s BIGINT, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet')"""
    )
    return eng


def _fetch_rows(stmt, want, timeout_s=90):
    import time

    got, t0 = [], time.time()
    while len(got) < want and time.time() - t0 < timeout_s:
        page = stmt.fetch(0, max_rows=100)
        got = [r["fields"] for r in page.data]
        time.sleep(0.5)
    stmt.cancel()
    return sorted(got)


@pytest.mark.slow
def test_streaming_over_range_through_sql(spark, tmp_path):
    """Event-time RANGE OVER on a STREAMING table through the engine's SQL
    surface (Flink's rowtime OVER; Spark alone raises
    NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING): each row emits once when
    the watermark passes it, aggregated over its trailing 15 s frame."""
    eng = _over_events_table(spark, tmp_path, "ovr")
    stmt = eng.execute_sql(
        """SELECT user_id, ts_s,
                  SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
                      RANGE BETWEEN INTERVAL '15' SECOND PRECEDING AND CURRENT ROW) AS s,
                  COUNT(*) OVER (PARTITION BY user_id ORDER BY ev_time
                      RANGE BETWEEN INTERVAL '15' SECOND PRECEDING AND CURRENT ROW) AS c
           FROM ovr"""
    )
    got = _fetch_rows(stmt, want=4)
    eng.close()
    assert got == [
        [1, 10, 1.5, 1],
        [1, 20, 3.5, 2],  # 10 s row inside the 15 s frame
        [1, 40, 3.0, 1],  # both prior rows aged out of the frame
        [2, 10, 5.0, 1],
    ]


@pytest.mark.slow
def test_streaming_over_unbounded_and_restrictions(spark, tmp_path):
    """UNBOUNDED PRECEDING runs with O(1) running-accumulator state; the
    Flink streaming restrictions raise loudly: mismatched OVER specs in one
    SELECT, and ORDER BY on a non-time-attribute column."""
    import pytest

    eng = _over_events_table(spark, tmp_path, "ovu")
    stmt = eng.execute_sql(
        """SELECT user_id, ts_s,
                  SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           FROM ovu WHERE user_id < 99"""
    )
    got = _fetch_rows(stmt, want=4)
    assert got == [
        [1, 10, 1.5],
        [1, 20, 3.5],
        [1, 40, 6.5],  # running sum never ages out
        [2, 10, 5.0],
    ]
    with pytest.raises(ValueError, match="must be identical"):
        eng.execute_sql(
            """SELECT SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
                   RANGE BETWEEN INTERVAL '15' SECOND PRECEDING AND CURRENT ROW) AS a,
                  SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
                   RANGE BETWEEN INTERVAL '30' SECOND PRECEDING AND CURRENT ROW) AS b
               FROM ovu"""
        )
    with pytest.raises(ValueError, match="time attribute"):
        eng.execute_sql(
            """SELECT SUM(amount) OVER (PARTITION BY user_id ORDER BY ts_s
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS a
               FROM ovu"""
        )
    eng.close()


@pytest.mark.slow
def test_streaming_over_alias_literals_and_partition_exprs(spark, tmp_path):
    """Two streaming-OVER SQL-surface edge cases: (1) a table alias is only
    stripped at identifier positions — a string literal containing 't.'
    in the WHERE clause must survive verbatim (a blind regex sub would
    rewrite substr('t.',1,1)='t' into substr('',1,1)='t' and silently
    filter everything out); (2) a PARTITION BY expression (not a plain
    column) raises a clear unsupported-shape error instead of shredding on
    bare commas into a misleading unknown-column failure."""
    import pytest

    eng = _over_events_table(spark, tmp_path, "ova")
    stmt = eng.execute_sql(
        """SELECT t.user_id, t.ts_s,
                  SUM(t.amount) OVER (PARTITION BY t.user_id ORDER BY t.ev_time
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           FROM ova t WHERE substr('t.', 1, 1) = 't' AND t.user_id < 99"""
    )
    got = _fetch_rows(stmt, want=4)
    assert got == [
        [1, 10, 1.5],
        [1, 20, 3.5],
        [1, 40, 6.5],
        [2, 10, 5.0],
    ]
    with pytest.raises(NotImplementedError, match="plain columns"):
        eng.execute_sql(
            """SELECT user_id,
                      SUM(amount) OVER (PARTITION BY greatest(user_id, ts_s)
                          ORDER BY ev_time
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
               FROM ova"""
        )
    eng.close()


def test_incremental_topn_bounded_per_trigger(spark, tmp_path):
    """Streaming Top-N must be incremental: with several micro-batches, each
    trigger transfers at most N rows to the merge (no complete-mode re-sort
    of the full aggregate), and the folded result equals the batch top-N."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    # 3 files -> 3 triggers (maxFilesPerTrigger=1); 40 keys, values >= 0
    rows_all = []
    for f in range(3):
        ks = list(range(40))
        vs = [float((k * 7 + f * 13) % 50) for k in ks]
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.float64())}),
            str(tmp_path / f"f{f}.parquet"),
        )
        rows_all += list(zip(ks, vs))

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path))
    )
    agg = stream.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    rows, batch_sizes = _incremental_topn(agg, n=5)

    assert len(batch_sizes) >= 3  # one per file trigger
    # bounded driver transfer: per trigger ≤ n picked + |tracked| updates,
    # where tracked grows by ≤ n per earlier trigger — far below the 40-key
    # cardinality a complete-mode re-sort would ship every trigger
    for i, b in enumerate(batch_sizes):
        assert b <= 5 + 5 * i
    assert max(batch_sizes) < 40

    import collections

    totals = collections.defaultdict(float)
    counts = collections.defaultdict(int)
    for k, v in rows_all:
        totals[k] += v
        counts[k] += 1
    want = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [(k, float(t), c) for k, t, c in rows]
    assert got == [(k, t, counts[k]) for k, t in want]


def test_incremental_topn_retraction_safe_for_ranked_keys(spark, tmp_path):
    """Negative deltas: leaders whose totals DROP after ranking must compete
    at their latest totals, not their stale peaks. Batch 1 ranks k1..k3 at
    the top; batch 2 retracts them below five other keys — the final top-3
    must equal the batch (full-recompute) answer, which the old
    evict-and-forget candidate set got wrong by keeping peak totals."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    f0 = {1: 100.0, 2: 90.0, 3: 80.0, 4: 10.0, 5: 9.0, 6: 8.0, 7: 7.0, 8: 6.0}
    f1 = {1: -99.0, 2: -89.0, 3: -79.5, 4: 0.1, 5: 0.1, 6: 0.1, 7: 0.1, 8: 0.1}
    rows_all = []
    for fi, data in enumerate((f0, f1)):
        ks, vs = list(data), [data[k] for k in data]
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.float64())}),
            str(tmp_path / f"f{fi}.parquet"),
        )
        rows_all += list(zip(ks, vs))

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path))
    )
    agg = stream.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    rows, _ = _incremental_topn(agg, n=3)

    totals = collections.defaultdict(float)
    counts = collections.defaultdict(int)
    for k, v in rows_all:
        totals[k] += v
        counts[k] += 1
    want = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(k, float(t), c) for k, t, c in rows] == [
        (k, t, counts[k]) for k, t in want
    ]


@pytest.mark.slow
def test_incremental_topn_tracked_set_plateaus_under_churn(spark, tmp_path):
    """VERDICT r12 #4: the bounded-mode tracked set must PLATEAU under
    top-N membership churn instead of growing with its lifetime. Eight
    triggers, each introducing a fresh wave of keys that displaces the
    previous wave's contenders: with tracked_cap=12 the set stays at ~12
    (without eviction it would reach triggers × n = 24), while the result
    stays exactly equal to the batch oracle — the eviction rule is exact
    for monotone aggregates."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    rows_all = []
    for fi in range(8):
        # wave fi: 20 fresh keys with rising bases (later waves displace
        # earlier contenders), plus a slow grower (key 9999) that only
        # enters the true top-3 through its final increments
        data = {fi * 100 + j: float(10 * fi + (j % 7)) for j in range(20)}
        data[9999] = 11.0
        ks, vs = list(data), [data[k] for k in data]
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.float64())}),
            str(tmp_path / f"f{fi}.parquet"),
        )
        rows_all += list(zip(ks, vs))

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path))
    )
    agg = stream.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    dbg: dict = {}
    rows, _ = _incremental_topn(agg, n=3, tracked_cap=12, debug=dbg)

    sizes = dbg["tracked_sizes"]
    assert len(sizes) >= 8
    assert max(sizes) <= 15  # plateau near the cap (ties never evicted)
    assert max(sizes) < 24  # well below the no-eviction growth

    totals = collections.defaultdict(float)
    counts = collections.defaultdict(int)
    for k, v in rows_all:
        totals[k] += v
        counts[k] += 1
    want = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(k, float(t), c) for k, t, c in rows] == [
        (k, t, counts[k]) for k, t in want
    ]


def test_runner_checkpoint_resume_is_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once recovery contract (reference flink-conf.yaml:61-63): a
    second drain that REUSES the checkpoint directory resumes from the commit
    log — files processed before the restart are not re-emitted, files added
    after it are emitted once, and a third drain with no new input emits
    nothing. This is the property a crash-restart cycle relies on."""
    from pyspark.sql import functions as F

    from flink_notebooks_spark.streaming import SinkSpec, drain

    src = tmp_path / "src"
    src.mkdir()
    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    chunk1 = base.filter(F.col("event_id") % 2 == 0)
    chunk2 = base.filter(F.col("event_id") % 2 == 1)
    chunk1.write.mode("overwrite").parquet(f"{src}/c1")

    def stream():
        return (
            spark.readStream.schema(base.schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )

    spec = SinkSpec(
        fmt="parquet", path=f"{tmp_path}/out", checkpoint=f"{tmp_path}/ckpt"
    )
    drain(stream(), spec, query_name="resume_1")
    n1 = spark.read.parquet(f"{tmp_path}/out").count()
    assert n1 == chunk1.count()

    # "restart": a NEW query object, SAME checkpoint, source grew meanwhile
    chunk2.write.mode("overwrite").parquet(f"{src}/c2")
    drain(stream(), spec, query_name="resume_2")
    out = spark.read.parquet(f"{tmp_path}/out")
    assert out.count() == base.count()  # no chunk1 re-emission
    assert out.select("event_id").distinct().count() == base.count()

    # idle restart: commit log says everything is processed
    drain(stream(), spec, query_name="resume_3")
    assert spark.read.parquet(f"{tmp_path}/out").count() == base.count()


def test_incremental_topn_exact_mode_never_ranked_key(spark, tmp_path):
    """exact_retractions=True closes the one residual gap of the bounded
    fold: k9 never ranks in any batch (it never changes after batch 1,
    where it was far below the leaders), but the leaders' later retractions
    promote it into the true top-3. The key-complete state mode must match
    the batch answer; the bounded default demonstrably cannot."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    # batch 0: five strong leaders + weak k9 (never in any top-3)
    f0 = {1: 100.0, 2: 90.0, 3: 80.0, 4: 70.0, 5: 60.0, 9: 5.0}
    # batch 1 retracts the leaders below k9; k9 does NOT change (update
    # mode will not re-emit it), so only key-complete state can rank it
    f1 = {1: -99.0, 2: -89.0, 3: -79.0, 4: -69.0, 5: -59.0}
    rows_all = []
    for fi, data in enumerate((f0, f1)):
        ks, vs = list(data), [data[k] for k in data]
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.float64())}),
            str(tmp_path / f"f{fi}.parquet"),
        )
        # the file source orders batches by modification time — equal
        # mtimes let f1 process before f0, which changes the scenario
        import os

        os.utime(str(tmp_path / f"f{fi}.parquet"), (1_600_000_000 + fi, 1_600_000_000 + fi))
        rows_all += list(zip(ks, vs))

    def make_agg():
        stream = (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path))
        )
        return stream.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
            F.count("*").alias("n"),
        )

    totals = collections.defaultdict(float)
    counts = collections.defaultdict(int)
    for k, v in rows_all:
        totals[k] += v
        counts[k] += 1
    want = [
        (k, t, counts[k])
        for k, t in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    ]
    assert want[0][0] == 9  # the fixture really promotes the never-ranked key

    exact, _ = _incremental_topn(make_agg(), n=3, exact_retractions=True)
    assert [(k, float(t), c) for k, t, c in exact] == want

    # and the bounded default genuinely cannot see k9 — this pins that the
    # exact mode is NOT redundant with the tracked-set fold. (Only valid
    # when the two files really arrived as separate triggers; if the file
    # source coalesced them the retraction never happened incrementally.)
    bounded, sizes = _incremental_topn(make_agg(), n=3)
    if len(sizes) >= 2:
        assert 9 not in [k for k, _, _ in bounded]


def test_incremental_topn_exact_mode_empty_source(spark, tmp_path):
    """exact_retractions=True on a source that produces ZERO micro-batches
    must return an empty result like the bounded default, not crash on the
    never-written state dir (round-6 review fix)."""
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    (tmp_path / "empty").mkdir()
    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "empty"))
    )
    agg = stream.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    rows, _sizes = _incremental_topn(agg, n=3, exact_retractions=True)
    assert rows == []


@pytest.mark.slow
def test_incremental_topn_exact_state_plateaus_under_churn(spark, tmp_path):
    """VERDICT r6/r7 #2: the key-complete exact-retraction state must be
    O(distinct keys + compact_every triggers of churn) ON DISK — NOT
    O(total changed rows). 12 triggers each re-emit the same 10 keys
    (120 appended state rows without compaction); with compact_every=3 the
    state table must hold far fewer rows and files at the end, and the
    final top-N must still equal the batch answer (including the
    negative-delta retraction in the last trigger)."""
    import collections

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.streaming import _incremental_topn

    src = tmp_path / "src"
    src.mkdir()
    state = tmp_path / "state"
    rows_all = []
    n_files = 12
    for fi in range(n_files):
        ks = list(range(10))
        # last trigger retracts the long-time leader k0 below everyone
        vs = [
            -200.0 if (fi == n_files - 1 and k == 0) else float((k * 3 + fi) % 17)
            for k in ks
        ]
        pq.write_table(
            pa.table({"k": pa.array(ks, pa.int64()), "v": pa.array(vs, pa.float64())}),
            str(src / f"f{fi:02d}.parquet"),
        )
        import os

        os.utime(str(src / f"f{fi:02d}.parquet"), (1_600_000_000 + fi,) * 2)
        rows_all += list(zip(ks, vs))

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = stream.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    rows, sizes = _incremental_topn(
        agg,
        n=3,
        exact_retractions=True,
        state_path=str(state),
        n_buckets=4,
        compact_every=3,
    )

    totals = collections.defaultdict(float)
    counts = collections.defaultdict(int)
    for k, v in rows_all:
        totals[k] += v
        counts[k] += 1
    want = [
        (k, t, counts[k])
        for k, t in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    ]
    assert [(k, float(t), c) for k, t, c in rows] == want

    if len(sizes) < n_files:
        return  # file source coalesced triggers; plateau claim needs 12
    # state on disk: latest-per-key compaction ran at triggers 3,6,9 — the
    # table holds 10 compacted rows + <=3 uncompacted triggers x 10 keys,
    # nowhere near the 120 rows of total churn
    st = spark.read.parquet(str(state))
    n_rows = st.count()
    assert n_rows <= 10 + 3 * 10, n_rows
    assert n_rows < 120
    # and every key resolves to exactly one latest row
    assert st.select("k").distinct().count() == 10
    # small-file count is re-bounded too: without compaction 12 triggers x
    # up to 8 shuffle partitions each would leave O(100) data files
    import pathlib

    files = [
        p
        for p in pathlib.Path(state).rglob("*.parquet")
        if not p.name.startswith("_")
    ]
    assert len(files) <= 4 * 2 + 3 * 10, len(files)


def test_topn_value_mode_is_metadata_only(spark, tmp_path, sf_dir):
    """VERDICT r6/r7 #3: streaming_topn's mode must come from an explicit
    argument or parquet FOOTER statistics — never a batch scan of the
    source. Pins: (a) footer min >= 0 -> monotone, (b) a negative min ->
    retract, (c) explicit mode bypasses the resolver entirely, (d) the
    testdata events file resolves without error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_notebooks_spark.queries import streaming as S

    pos = tmp_path / "pos.parquet"
    pq.write_table(pa.table({"value": pa.array([0.0, 5.0, 2.5])}), str(pos))
    neg = tmp_path / "neg.parquet"
    pq.write_table(pa.table({"value": pa.array([1.0, -0.5])}), str(neg))
    assert S._topn_value_mode(str(pos)) == "monotone"
    assert S._topn_value_mode(str(neg)) == "retract"

    # the shipped testdata resolves (both vintages carry stats)
    assert S._topn_value_mode(f"{sf_dir}/events.parquet") in (
        "monotone",
        "retract",
    )

    # explicit mode: resolver must not run at all (contract-driven path)
    import pytest as _pytest

    from flink_notebooks_spark.queries import streaming as S2

    def boom(path):  # pragma: no cover - called only on regression
        raise AssertionError("resolver ran despite explicit mode")

    orig = S2._topn_value_mode
    S2._topn_value_mode = boom
    try:
        with _pytest.raises(ValueError, match="monotone|retract"):
            S2.streaming_topn(spark, sf_dir, mode="bogus")
        # a valid explicit mode reaches the stream build without the
        # resolver; run the full monotone query end-to-end
        out = S2.streaming_topn(spark, sf_dir, mode="monotone")
        assert out.count() > 0
    finally:
        S2._topn_value_mode = orig


def test_saturated_append_buffer_skips_driver_transfer():
    """VERDICT r8 #3: once the 10k-row buffer is full (terminal — tokens
    are cursors over a buffer that never drains), later micro-batches must
    execute NO collect(); and the boundary batch must fetch only
    room+1 rows, not the whole batch."""
    from flink_notebooks_spark.engine.statement import (
        MAX_STREAM_ROWS,
        StreamingStatement,
    )

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

    class FakeSchema:
        fields = []

    class FakeDF:
        """Stands in for both the streamed df (schema/columns only) and
        the per-trigger batch dfs (limit/collect)."""

        schema = FakeSchema()
        columns = []

        def __init__(self, n_rows=0, counter=None):
            self.n_rows = n_rows
            self.counter = counter if counter is not None else {"collects": 0, "limits": []}

        def limit(self, n):
            self.counter["limits"].append(n)
            return FakeDF(min(self.n_rows, n), self.counter)

        def filter(self, cond):
            return self

        def repartition(self, n):
            return self

        def collect(self):
            self.counter["collects"] += 1
            return [[i] for i in range(self.n_rows)]

        def isEmpty(self):
            self.counter.setdefault("empties", 0)
            self.counter["empties"] += 1
            return self.n_rows == 0

    holder = {}
    captured = {}

    def start_fn(cb):
        captured["on_batch"] = cb
        return FakeQuery()

    stmt = StreamingStatement(FakeDF(), start_fn, mode_holder=holder)
    on_batch = captured["on_batch"]

    # boundary batch: bigger than the buffer — only room+1 rows transfer
    big = FakeDF(MAX_STREAM_ROWS + 5000)
    on_batch(big, 0)
    assert stmt.truncated and len(stmt._buffer) == MAX_STREAM_ROWS
    assert big.counter["limits"] == [MAX_STREAM_ROWS + 1]
    assert big.counter["collects"] == 1

    # post-cap batch: no limit, no collect — zero driver transfer
    post = FakeDF(100)
    on_batch(post, 1)
    assert post.counter["collects"] == 0 and post.counter["limits"] == []
    assert len(stmt._buffer) == MAX_STREAM_ROWS and stmt.truncated

    # update-mode saturation also short-circuits (the _seen map must stop
    # growing once nothing can ever serve)
    holder["mode"] = "update"
    stmt._key_idx = [0]
    before = dict(stmt._seen)
    upd = FakeDF(10)
    on_batch(upd, 2)
    assert upd.counter["collects"] == 0 and stmt._seen == before


def test_exactly_full_buffer_truncates_only_on_a_real_row():
    """An EXACT 10k fill drops nothing — truncated must stay False through
    later EMPTY micro-batches (no-data triggers), flip on the first real
    post-cap row, and never probe again once set."""
    from flink_notebooks_spark.engine.statement import (
        MAX_STREAM_ROWS,
        StreamingStatement,
    )

    class FakeQuery:
        isActive = True
        lastProgress = {"stateOperators": []}

        def exception(self):
            return None

    class FakeSchema:
        fields = []

    class FakeDF:
        schema = FakeSchema()
        columns = []

        def __init__(self, n_rows=0):
            self.n_rows = n_rows
            self.counter = {"collects": 0, "limits": [], "empties": 0}

        def limit(self, n):
            out = FakeDF(min(self.n_rows, n))
            out.counter = self.counter
            self.counter["limits"].append(n)
            return out

        def filter(self, cond):
            return self

        def repartition(self, n):
            return self

        def collect(self):
            self.counter["collects"] += 1
            return [[i] for i in range(self.n_rows)]

        def isEmpty(self):
            self.counter["empties"] += 1
            return self.n_rows == 0

    captured = {}
    stmt = StreamingStatement(
        FakeDF(), lambda cb: captured.setdefault("cb", cb) and FakeQuery() or FakeQuery()
    )
    on_batch = captured["cb"]

    on_batch(FakeDF(MAX_STREAM_ROWS), 0)  # exact fill, nothing dropped
    assert len(stmt._buffer) == MAX_STREAM_ROWS and not stmt.truncated

    empty = FakeDF(0)
    on_batch(empty, 1)  # no-data trigger: probed, NOT truncated
    assert not stmt.truncated
    assert empty.counter["empties"] == 1 and empty.counter["collects"] == 0

    real = FakeDF(3)
    on_batch(real, 2)  # first real post-cap row: flips the flag
    assert stmt.truncated and real.counter["collects"] == 0

    late = FakeDF(5)
    on_batch(late, 3)  # flag already set: zero probes, zero transfer
    assert late.counter["empties"] == 0 and late.counter["collects"] == 0
    assert len(stmt._buffer) == MAX_STREAM_ROWS


def _write_keys(src, i, keys):
    """Micro-batch ``i`` of a file stream: one parquet file of ``keys``,
    renamed into ``src`` so the source never lists a half-written file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = f"{src}.staging-{i:02d}.parquet"
    pq.write_table(pa.table({"k": pa.array(keys, pa.int32())}), tmp)
    os.rename(tmp, f"{src}/{i:02d}.parquet")


def _wait_batch(query, batch_id, timeout=60.0):
    """Wait until micro-batch ``batch_id`` has committed (or the query
    died, which the caller's assertions then report)."""
    t0 = time.time()
    while time.time() - t0 < timeout and query.isActive:
        p = query.lastProgress
        if p and p["batchId"] >= batch_id and "addBatch" in p["durationMs"]:
            return
        time.sleep(0.2)


def _key_stream(spark, src):
    return spark.readStream.schema("k int").option("maxFilesPerTrigger", "1").parquet(src)


def _make_count_fn():
    """Per-key running count for the keyed-state shim (a nested function,
    so the Python workers get it by value)."""

    def count_fn(key, pdfs, state):
        import pandas as pd

        n = (state.get[0] if state.exists else 0) + sum(len(p) for p in pdfs)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    return count_fn


def _keyed_counts(df, shards=None):
    from flink_notebooks_spark.operators.shard_state import apply_keyed_state

    return apply_keyed_state(
        df, ["k"], _make_count_fn(), "k int, n long", "n long", "update",
        "none", shards=shards,
    )


@pytest.mark.parametrize(
    "first_keys, keyed",
    [(100, False), (40, False), (400, True)],
    ids=["overflow", "exact-fill", "keyed-overflow"],
)
def test_truncating_stateful_trigger_keeps_committing(
    engine, tmp_path, monkeypatch, first_keys, keyed
):
    """A stateful stream whose result outgrows MAX_STREAM_ROWS must keep
    running. ``overflow``: the first micro-batch of a GROUP BY holds more
    keys than the cap, so its bounded collect stops short of the whole
    batch. ``exact-fill``: the first batch fills the buffer exactly and the
    next one reaches the post-saturation emptiness probe. ``keyed-overflow``:
    per-key Python state whose partitions each emit more rows than the cap
    (a GROUP BY's state stage commits even when its output is read only in
    part; per-key Python state commits only once its output is drained).
    Every read must still drain every state partition,
    and later triggers run while shipping nothing — a batch with an
    undrained partition failed the query ("Not all StateStores
    committed")."""
    from flink_notebooks_spark.engine import statement as st

    monkeypatch.setattr(st, "MAX_STREAM_ROWS", 40)
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_keys(src, 0, list(range(first_keys)))
    events = _key_stream(engine.spark, src)
    stmt = engine.execute_stream_df(
        _keyed_counts(events) if keyed else events.groupBy("k").count()
    )
    q = stmt.query
    try:
        _wait_batch(q, 0)
        for i in (1, 2):
            _write_keys(src, i, list(range(1000 * i, 1000 * i + 40)))
            _wait_batch(q, i)
        assert q.exception() is None
        assert q.lastProgress["batchId"] == 2
        stmt.fetch(0)
        assert stmt.status() == "RUNNING" and stmt.truncated
        assert len(stmt._buffer) == 40
    finally:
        q.stop()


def test_keyed_stream_runs_one_task_wave_per_trigger(engine, tmp_path):
    """A keyed-shim stream started by the engine has one state partition
    per core (the session's own shuffle-partition count is left as it
    was), and each trigger's result collection is a single Spark job."""
    from flink_notebooks_spark.operators.shard_state import shards_for_keys

    spark = engine.spark
    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_keys(src, 0, list(range(40)) * 3)
    df = _keyed_counts(_key_stream(spark, src), shards=shards_for_keys(40, cores))
    session_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    stmt = engine.execute_stream_df(df)
    q = stmt.query
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_partitions
        _wait_batch(q, 0)
        _write_keys(src, 1, list(range(20)))
        _wait_batch(q, 1)
        wait_stream_idle(stmt)
    finally:
        q.stop()
    assert q.exception() is None
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == cores
    assert len(poll_rows(stmt, 60, timeout=10)) == 60  # 40 + 20 revisions
    triggers = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(triggers) == 2 and len(jobs) == len(triggers)


def test_cancel_is_terminal_before_stop_completes():
    """The cancel-vs-poll race: state must read CANCELED the moment cancel
    begins (before query.stop() returns), a stop-induced query exception
    must never reclassify it to ERROR, and a liveness probe that raises
    mid-teardown must yield a valid protocol page, not an exception."""
    from flink_notebooks_spark.engine.statement import StreamingStatement

    class FakeSchema:
        fields = []

    class FakeDF:
        schema = FakeSchema()
        columns = []

    states = []

    class RacingQuery:
        """stop() observes the statement state at the moment it runs —
        the old ordering saw RUNNING here."""

        def __init__(self):
            self.stopped = False

        @property
        def isActive(self):
            if self.stopped:
                raise RuntimeError("py4j: JVM object torn down")
            return True

        def exception(self):
            raise RuntimeError("stop-induced StreamingQueryException")

        def stop(self):
            states.append(stmt.state)
            self.stopped = True

    q = RacingQuery()
    stmt = StreamingStatement(FakeDF(), lambda cb: q)
    stmt.cancel()
    assert states == ["CANCELED"], "state must be terminal before stop() runs"
    assert stmt.state == "CANCELED"
    # a poll after teardown: probe raises -> treated as inactive; state is
    # not RUNNING so no ERROR reclassification; response is protocol-valid
    page = stmt.fetch(0)
    assert page.result_type in ("PAYLOAD", "NOT_READY", "EOS")
    assert stmt.state == "CANCELED"


def test_streaming_over_honors_state_ttl_property(spark, tmp_path, monkeypatch):
    """Flink's `SET 'table.exec.state.ttl' = ...` bounds the streaming OVER
    operator's idle-key horizon: the engine parses the Flink duration
    syntax and passes it through (the eviction behavior itself is pinned at
    the operator level in tests/test_streaming4.py)."""
    eng = _over_events_table(spark, tmp_path, "ovttl")
    eng.execute_sql("SET 'table.exec.state.ttl' = '30 min'")
    seen = {}
    from flink_notebooks_spark.operators import over_window as ow

    orig = ow.streaming_over_window

    def spy(*a, **kw):
        seen.update(kw)
        return orig(*a, **kw)

    monkeypatch.setattr(ow, "streaming_over_window", spy)
    stmt = eng.execute_sql(
        """SELECT user_id, SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           FROM ovttl"""
    )
    stmt.cancel()
    assert seen.get("idle_horizon_s") == 1800
    # Flink TimeUtils aliases parse ('5 m' = 5 minutes); '0' is Flink's
    # TTL-DISABLED value → idle eviction off (horizon 0), not 1 second
    eng.execute_sql("SET 'table.exec.state.ttl' = '5 m'")
    assert eng._state_ttl_s() == 300
    eng.execute_sql("SET 'table.exec.state.ttl' = '0'")
    assert eng._state_ttl_s() == 0
    eng.execute_sql("SET 'table.exec.state.ttl' = '1500'")  # bare ms
    assert eng._state_ttl_s() == 2  # rounded UP, never down to disabled
    eng.execute_sql("SET 'table.exec.state.ttl' = '30 min'")
    # bad duration syntax raises at SET-use time, loudly
    eng.execute_sql("SET 'table.exec.state.ttl' = 'soon'")
    import pytest

    with pytest.raises(ValueError, match="state.ttl"):
        eng.execute_sql(
            """SELECT SUM(amount) OVER (PARTITION BY user_id ORDER BY ev_time
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
               FROM ovttl"""
        )
    eng.close()


@pytest.mark.slow
def test_current_watermark_through_sql(spark, tmp_path):
    """Flink's CURRENT_WATERMARK(rowtime) built-in, emulated per micro-batch
    (the engine owns each streaming statement's foreachBatch; Spark exposes
    no per-operator watermark to SQL). Three single-file micro-batches: rows
    of batch 1 see NULL (no watermark yet — Flink's behavior), each later
    batch sees the previous batches' max event time (delay '0'), which IS
    the watermark Spark's operators use for that trigger. Batch queries and
    non-SELECT-item positions raise loudly."""
    import pandas as pd
    import pytest

    from flink_notebooks_spark.engine import Engine

    files = [
        [(1, 10, 1.0), (1, 20, 2.0)],
        [(1, 30, 3.0)],
        [(99, 10_000, 0.0)],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts_s", "amount"])
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))  # stable order
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwev (
              user_id BIGINT, ts_s BIGINT, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT user_id, ts_s, ev_time, CURRENT_WATERMARK(ev_time) AS wm FROM cwev"
    )
    # token-following poll (fetch(0) pages freeze idempotently by design;
    # rows from later micro-batches live behind later tokens)
    got = [r["fields"] for r in poll_rows(stmt, want=4, timeout=90)]
    stmt.cancel()
    by_ts = {r[1]: r for r in got}
    ev = {ts: r[2] for ts, r in by_ts.items()}
    wm = {ts: r[3] for ts, r in by_ts.items()}
    assert wm[10] is None and wm[20] is None  # first batch: no watermark yet
    assert wm[30] == ev[20]  # batch 2's input watermark = batch 1 max ts
    assert wm[10_000] == ev[30]  # batch 3's = batch 2 max ts
    # WHERE lateness predicate — Flink's primary CURRENT_WATERMARK use:
    # rows still advance the watermark (the filter applies inside
    # foreachBatch), first-batch rows drop (NULL watermark → UNKNOWN),
    # later batches keep rows newer than the batch watermark
    stmt = eng.execute_sql(
        "SELECT user_id, ts_s FROM cwev WHERE ev_time > CURRENT_WATERMARK(ev_time)"
    )
    kept = sorted(r["fields"][1] for r in poll_rows(stmt, want=2, timeout=90))
    stmt.cancel()
    assert kept == [30, 10_000]  # batch-1 rows (10, 20) dropped on NULL wm
    # batch mode raises, like Flink outside streaming
    eng.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    with pytest.raises(ValueError, match="streaming"):
        eng.execute_sql("SELECT CURRENT_WATERMARK(ev_time) AS wm FROM cwev")
    eng.execute_sql("SET 'execution.runtime-mode' = 'streaming'")
    # non-canonical shapes are a loud unsupported error, not silent nonsense
    with pytest.raises(NotImplementedError, match="single-table"):
        eng.execute_sql(
            "SELECT user_id, CURRENT_WATERMARK(ev_time) AS wm FROM cwev "
            "GROUP BY user_id"
        )
    # the argument must be the declared time attribute (Flink-parity check)
    with pytest.raises(ValueError, match="time attribute"):
        eng.execute_sql("SELECT CURRENT_WATERMARK(amount) AS wm FROM cwev")
    # keywords INSIDE string literals must not trip the unsupported-shape
    # guard (ADVICE r12): this is a valid single-table lateness form
    stmt = eng.execute_sql(
        "SELECT user_id, ts_s FROM cwev "
        "WHERE CAST(user_id AS STRING) <> 'ORDER BY' "
        "AND ev_time > CURRENT_WATERMARK(ev_time)"
    )
    kept = sorted(r["fields"][1] for r in poll_rows(stmt, want=2, timeout=90))
    stmt.cancel()
    assert kept == [30, 10_000]
    eng.close()


@pytest.mark.slow
def test_current_watermark_lateness_filtered_window_agg(spark, tmp_path):
    """VERDICT r12 #5: the canonical Flink composition — a CURRENT_WATERMARK
    lateness filter feeding a TUMBLE-TVF windowed aggregation. The engine
    evaluates the windowed agg per micro-batch with the watermark
    substituted, merges per-window partials driver-side, and emits each
    window ONCE when the operator watermark passes window_end (Flink's
    append-mode TVF semantics). Late rows for already-closed windows drop;
    unsupported aggregate shapes raise loudly."""
    import pandas as pd
    import pytest

    from flink_notebooks_spark.engine import Engine

    files = [
        [(5, 1.0), (8, 2.0)],  # batch 1: wm NULL → kept via the IS NULL arm
        [(12, 4.0)],  # batch 2 (wm=8): opens [10,20)
        [(35, 8.0)],  # batch 3 (wm=12): closes [0,10) → emit c=2 s=3
        [(60, 16.0), (3, 100.0)],  # batch 4 (wm=35): closes [10,20); ts=3 is
        # late for the CLOSED [0,10) window → dropped by the window operator
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["ts_s", "amount"])
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwwin (
              ts_s BIGINT, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, COUNT(*) AS c, "
        "SUM(amount) AS s "
        "FROM TABLE(TUMBLE(TABLE cwwin, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '1' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end"
    )
    got = [r["fields"] for r in poll_rows(stmt, want=2, timeout=120)]
    stmt.cancel()
    assert all(r["kind"] == "INSERT" for r in poll_rows(stmt, want=0, timeout=1) or [])
    rows = sorted(got, key=lambda r: r[0])
    # [0,10): the two first-batch rows; the late ts=3 row (amount 100) is NOT
    # in the sum — its window had already closed
    assert rows[0][2] == 2 and rows[0][3] == 3.0
    # [10,20): the single batch-2 row
    assert rows[1][2] == 1 and rows[1][3] == 4.0
    assert rows[0][1] == rows[1][0]  # adjacent tumble windows
    # HOP: same composition, overlapping windows — each (start, end) closes
    # independently. Windows of size 20 sliding by 10: the ts=5/8 rows land
    # in [-10,10) and [0,20); by watermark 35 (batch 4) the closed windows
    # are [-10,10) (c=2), [0,20) (c=3: ts 5,8,12), [10,20)... — assert the
    # two earliest closures carry the right counts
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, COUNT(*) AS c "
        "FROM TABLE(HOP(TABLE cwwin, DESCRIPTOR(ev_time), "
        "INTERVAL '10' SECOND, INTERVAL '20' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '1' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end"
    )
    hop = sorted(
        (r["fields"] for r in poll_rows(stmt, want=2, timeout=120)),
        key=lambda r: r[0],
    )
    stmt.cancel()
    assert hop[0][2] == 2  # [-10,10): ts 5, 8
    assert hop[1][2] == 3  # [0,20): ts 5, 8, 12
    # unsupported aggregate shapes raise loudly, not silently wrong
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        eng.execute_sql(
            "SELECT window_start, window_end, COUNT(DISTINCT ts_s) AS c "
            "FROM TABLE(TUMBLE(TABLE cwwin, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
            "WHERE ev_time > CURRENT_WATERMARK(ev_time) GROUP BY window_start, window_end"
        )
    with pytest.raises(NotImplementedError, match="SELECT item"):
        eng.execute_sql(
            "SELECT window_start, window_end, percentile(ts_s, 0.5) AS p "
            "FROM TABLE(TUMBLE(TABLE cwwin, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
            "WHERE ev_time > CURRENT_WATERMARK(ev_time) GROUP BY window_start, window_end"
        )
    # SESSION now has a cross-batch gap-merge path (r14, VERDICT r13 #5) —
    # e2e pinned in test_current_watermark_session_window_agg below; the
    # former NotImplementedError raise is gone. PARTITION BY on a non-
    # SESSION TVF still raises (Flink FLIP-403: only SESSION partitions).
    with pytest.raises(ValueError, match="PARTITION BY"):
        eng.execute_sql(
            "SELECT window_start, window_end, COUNT(*) AS c "
            "FROM TABLE(TUMBLE(TABLE cwwin PARTITION BY ts_s, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
            "WHERE ev_time > CURRENT_WATERMARK(ev_time) GROUP BY window_start, window_end"
        )
    eng.close()


@pytest.mark.slow
def test_current_watermark_keyed_window_agg_distributed_state(spark, tmp_path):
    """VERDICT r13 #1: the common Flink form — a CURRENT_WATERMARK lateness
    filter feeding a keyed TUMBLE-TVF aggregation (GROUP BY window_start,
    window_end, user_id). Emit-once per (window, key) at watermark-pass,
    late rows drop, and the windows × keys live state is ON DISK in a
    window-end-partitioned parquet state table — never a driver map. When
    the query terminates naturally, remaining live windows flush (Flink's
    bounded-source final MAX_WATERMARK, ADVICE r13)."""
    import glob as _glob

    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    files = [
        # batch 1: wm NULL → kept via the IS NULL arm
        [(5, "a", 1.0), (8, "b", 2.0), (5, "a", 3.0)],
        [(12, "a", 4.0)],  # batch 2 (wm=8): opens [10,20)×a
        [(35, "b", 8.0)],  # batch 3 (wm=12): closes [0,10) → a:(2,4), b:(1,2)
        # batch 4 (wm=35): closes [10,20)×a; ts=3 is late for the CLOSED
        # [0,10) window → dropped
        [(60, "a", 16.0), (3, "a", 100.0)],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["ts_s", "user_id", "amount"])
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwkey (
              ts_s BIGINT, user_id STRING, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, user_id, COUNT(*) AS c, "
        "SUM(amount) AS s, AVG(amount) AS a "
        "FROM TABLE(TUMBLE(TABLE cwkey, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '1' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end, user_id"
    )
    got = [r["fields"] for r in poll_rows(stmt, want=3, timeout=120)]
    rows = sorted(got, key=lambda r: (r[0], r[2]))
    # [0,10): per-key counts/sums; the late ts=3 (amount 100) contributes
    # to NOTHING — its window closed before it arrived
    assert rows[0][2:] == ["a", 2, 4.0, 2.0]
    assert rows[1][2:] == ["b", 1, 2.0, 2.0]
    # [10,20)×a closed at wm=35
    assert rows[2][2:] == ["a", 1, 4.0, 4.0]
    # the live-window state is ON DISK: a window-end-partitioned parquet
    # state table under the engine checkpoint root, with a partition dir
    # per unclosed window end ([60,70) is live; [30,40) too unless the
    # watermark-advance no-data batch already closed it)
    parts = _glob.glob(f"{eng._checkpoint_root}/cw-state-*/__we_ms=*")
    assert len(parts) >= 1, parts
    # natural termination (NOT cancel) flushes the remaining live windows —
    # Flink's bounded-source MAX_WATERMARK. Stopping the underlying query
    # directly leaves state RUNNING with no exception, which is exactly how
    # a bounded source's natural FINISH presents to fetch(). Wait for the
    # trigger loop to go idle first so stop() cannot interrupt an in-flight
    # foreachBatch (InterruptedException would read as ERROR, not FINISH).
    wait_stream_idle(stmt)
    stmt.query.stop()
    allrows = [r["fields"] for r in poll_rows(stmt, want=5, timeout=60)]
    # rows 4+5 arrive as (no-data batch close of [30,40)) + (flush of
    # [60,70)), or both from the flush — order covered by the sort
    tail = sorted(allrows[3:], key=lambda r: r[0])
    assert tail[0][2:] == ["b", 1, 8.0, 8.0]  # [30,40)×b (ts=35)
    assert tail[1][2:] == ["a", 1, 16.0, 16.0]  # [60,70)×a (ts=60)
    assert stmt.state == "FINISHED"
    # flushed state is dropped from disk too
    assert _glob.glob(f"{eng._checkpoint_root}/cw-state-*/__we_ms=*") == []

    # HOP keyed: overlapping windows close independently per (window, key)
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, user_id, COUNT(*) AS c "
        "FROM TABLE(HOP(TABLE cwkey, DESCRIPTOR(ev_time), "
        "INTERVAL '10' SECOND, INTERVAL '20' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '1' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end, user_id"
    )
    hop = sorted(
        (r["fields"] for r in poll_rows(stmt, want=4, timeout=120)),
        key=lambda r: (r[0], r[2]),
    )
    stmt.cancel()
    # [-10,10): a→2 (ts 5,5), b→1 (ts 8); [0,20): a→3 (ts 5,5,12), b→1
    assert [r[2:] for r in hop[:4]] == [["a", 2], ["b", 1], ["a", 3], ["b", 1]]
    eng.close()


@pytest.mark.slow
def test_current_watermark_session_window_agg(spark, tmp_path):
    """VERDICT r13 #5: CURRENT_WATERMARK lateness filter over a SESSION
    window TVF (PARTITION BY key) — the composition the r12/r13 raise said
    was impossible per-batch. Sessions STITCH ACROSS micro-batches (a
    [20,30) partial from one batch merges with a [26,36) partial from the
    next), emit once when the watermark passes session end (= last event +
    gap), late partial sessions drop, and end-of-stream flushes the open
    tail sessions."""
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    gap = 10  # seconds
    files = [
        # batch 1 (wm NULL): a rows 5,8 → session [5,18); b row 7 → [7,17)
        [(5, "a", 1.0), (8, "a", 2.0), (7, "b", 4.0)],
        # batch 2 (wm=8): a row 20 → new session partial [20,30)
        [(20, "a", 8.0)],
        # batch 3 (wm=20): a row 26 merges CROSS-BATCH into [20,36);
        # watermark 20 closes a:[5,18) (c=2, s=3) and b:[7,17) (c=1, s=4)
        [(26, "a", 16.0)],
        # batch 4 (wm=26): b row 60 opens [60,70); the late a row ts=3
        # (partial session [3,13), end ≤ wm) drops entirely
        [(60, "b", 32.0), (3, "a", 100.0)],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["ts_s", "user_id", "amount"])
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwsess (
              ts_s BIGINT, user_id STRING, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, user_id, COUNT(*) AS c, "
        "SUM(amount) AS s "
        f"FROM TABLE(SESSION(TABLE cwsess PARTITION BY user_id, "
        f"DESCRIPTOR(ev_time), INTERVAL '{gap}' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '10' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end, user_id"
    )
    got = [r["fields"] for r in poll_rows(stmt, want=2, timeout=120)]
    rows = sorted(got[:2], key=lambda r: r[2])
    spans = [(int(r[0].timestamp()), int(r[1].timestamp())) for r in rows]
    assert spans == [(5, 18), (7, 17)]  # end = last event + gap
    assert rows[0][3:] == [2, 3.0]  # a: ts 5,8 — late ts=3 contributed 0
    assert rows[1][3:] == [1, 4.0]  # b: ts 7
    # natural FINISH flushes the open tail sessions — including the one
    # stitched across batches 2+3 ([20,36), c=2: rows 20 and 26). Idle
    # first so stop() cannot interrupt an in-flight trigger.
    wait_stream_idle(stmt)
    stmt.query.stop()
    allrows = [r["fields"] for r in poll_rows(stmt, want=4, timeout=60)]
    tail = sorted(allrows[2:], key=lambda r: r[2])
    tspans = [(int(r[0].timestamp()), int(r[1].timestamp())) for r in tail]
    assert tspans == [(20, 36), (60, 70)]
    assert tail[0][3:] == [2, 24.0]  # a: cross-batch merged session
    assert tail[1][3:] == [1, 32.0]  # b: [60,70)
    assert stmt.state == "FINISHED"

    # unkeyed SESSION (no PARTITION BY): global gap-merge across all rows
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, COUNT(*) AS c "
        f"FROM TABLE(SESSION(TABLE cwsess, DESCRIPTOR(ev_time), "
        f"INTERVAL '{gap}' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '10' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end"
    )
    # rows 5,7,8 merge into [5,18); rows 20,26 into [20,36); by wm=26 the
    # first closes (c=3)
    first = poll_rows(stmt, want=1, timeout=120)
    f0 = first[0]["fields"]
    assert (int(f0[0].timestamp()), int(f0[1].timestamp()), f0[2]) == (5, 18, 3)
    stmt.cancel()
    eng.close()


@pytest.mark.slow
def test_current_watermark_unkeyed_flush_on_natural_finish(spark, tmp_path):
    """ADVICE r13: the unkeyed CW windowed agg also flushes its trailing
    live windows when the query finishes naturally — the [30,40) and
    [60,70) windows of the canonical fixture, which a cancel (Flink job
    cancel) correctly does NOT flush."""
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    files = [
        [(5, 1.0), (8, 2.0)],
        [(12, 4.0)],
        [(35, 8.0)],
        [(60, 16.0)],
    ]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["ts_s", "amount"])
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwflush (
              ts_s BIGINT, amount DOUBLE, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT window_start AS ws, window_end AS we, COUNT(*) AS c, "
        "SUM(amount) AS s "
        "FROM TABLE(TUMBLE(TABLE cwflush, DESCRIPTOR(ev_time), INTERVAL '10' SECOND)) "
        "WHERE ev_time > CURRENT_WATERMARK(ev_time) - INTERVAL '1' MINUTE "
        "   OR CURRENT_WATERMARK(ev_time) IS NULL "
        "GROUP BY window_start, window_end"
    )
    assert len(poll_rows(stmt, want=2, timeout=120)) >= 2
    wait_stream_idle(stmt)
    stmt.query.stop()  # natural FINISH (bounded source), not cancel
    allrows = [r["fields"] for r in poll_rows(stmt, want=4, timeout=60)]
    tail = sorted(allrows[2:], key=lambda r: r[0])
    assert [r[2:] for r in tail] == [[1, 8.0], [1, 16.0]]  # [30,40), [60,70)
    assert stmt.state == "FINISHED"
    eng.close()


def test_current_watermark_at_epoch_zero(spark, tmp_path):
    """A genuine 0 ms watermark (event time exactly 1970-01-01, delay '0')
    is distinct from 'no watermark yet': Spark's internals report both as
    batchWatermarkMs=0, so the engine disambiguates through the progress
    string, which exists only once a watermark has been established (ADVICE
    r12). The batch-2 row must see wm = epoch 0, not NULL."""
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    for i, ts in enumerate([0, 100]):
        pdf = pd.DataFrame({"user_id": [1], "ts_s": [ts]})
        pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype(
            "datetime64[us]"
        )
        path = f"{tmp_path}/f{i}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE cwez (
              user_id BIGINT, ts_s BIGINT, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet',
                    'source.max-files-per-trigger'='1')"""
    )
    stmt = eng.execute_sql(
        "SELECT ts_s, ev_time, CURRENT_WATERMARK(ev_time) AS wm FROM cwez"
    )
    got = [r["fields"] for r in poll_rows(stmt, want=2, timeout=90)]
    stmt.cancel()
    ev = {r[0]: r[1] for r in got}
    wm = {r[0]: r[2] for r in got}
    assert wm[0] is None  # first batch: genuinely no watermark yet
    assert wm[100] == ev[0]  # batch 2's watermark IS epoch 0, not NULL
    eng.close()


def test_state_ttl_construction_property_reaches_builders(spark, sf_dir):
    """table.exec.state.ttl passed as a CONSTRUCTION-TIME property (Flink's
    EnvironmentSettings/flink-conf path) must reach the embedded keyed-state
    builders exactly like a SET would — same conf mirror, same lazy
    validation (ADVICE r12: previously only SET-issued TTLs were mirrored,
    a split-brain between the two configuration surfaces)."""
    import pytest

    from flink_notebooks_spark.engine import Engine
    from flink_notebooks_spark.io import session_state_ttl_s

    eng = Engine(spark, properties={"table.exec.state.ttl": "2 h"})
    try:
        assert session_state_ttl_s(spark) == 7200
    finally:
        eng.close()
    # close() clears the mirror; a TTL-less engine starts disabled
    assert session_state_ttl_s(spark) is None
    # an unparsable construction-time value raises lazily at first use,
    # matching the SET surface's pinned contract
    eng = Engine(spark, properties={"table.exec.state.ttl": "soon"})
    try:
        with pytest.raises(ValueError, match="state.ttl"):
            session_state_ttl_s(spark)
    finally:
        eng.close()


def test_state_ttl_property_reaches_embedded_keyed_state_builders(spark, sf_dir):
    """`SET 'table.exec.state.ttl'` is session-scoped like Flink's: the
    engine mirrors it into the Spark session conf, and every open-key-domain
    keyed-state builder (funnel/retention/anomaly/near-dup dedup) resolves a
    default horizon from it — so a notebook user who builds a stream AFTER
    the SET and submits it through execute_stream_df gets the bounded-state
    form, not a per-query constant. Structural witness: the TTL path adds
    the watermark node the EventTimeTimeout timers need; eviction behavior
    itself is pinned by the two-wave proofs in tests/test_streaming3.py."""
    from flink_notebooks_spark.engine import Engine
    from flink_notebooks_spark.io import session_state_ttl_s
    from flink_notebooks_spark.queries.corpus import _funnel_state_stream

    def has_wm(df):
        return "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()

    eng = Engine(spark)
    try:
        # unset → Flink's default: TTL disabled, NoTimeout plan (no watermark)
        assert session_state_ttl_s(spark) is None
        assert not has_wm(_funnel_state_stream(spark, sf_dir))
        eng.execute_sql("SET 'table.exec.state.ttl' = '1 h'")
        assert session_state_ttl_s(spark) == 3600
        assert has_wm(_funnel_state_stream(spark, sf_dir))  # TTL'd form now
        # explicit '0' is Flink's TTL-DISABLED value → back to NoTimeout
        eng.execute_sql("SET 'table.exec.state.ttl' = '0'")
        assert session_state_ttl_s(spark) is None
        assert not has_wm(_funnel_state_stream(spark, sf_dir))
        # an unparsable value raises as loudly here as on the SQL surface
        # (validation is lazy at SET, the pinned Flink-parity contract)
        eng.execute_sql("SET 'table.exec.state.ttl' = 'soon'")
        import pytest

        with pytest.raises(ValueError, match="state.ttl"):
            session_state_ttl_s(spark)
        # RESET returns the session to the default
        eng.execute_sql("RESET 'table.exec.state.ttl'")
        assert session_state_ttl_s(spark) is None
        # an explicit builder argument always wins over the session default
        eng.execute_sql("SET 'table.exec.state.ttl' = '1 h'")
        assert has_wm(_funnel_state_stream(spark, sf_dir, horizon_s=60))
    finally:
        eng.close()
    # close() clears the mirror off the shared SparkSession
    assert session_state_ttl_s(spark) is None


@pytest.mark.slow
def test_streaming_window_tvf_join_through_sql(spark, tmp_path):
    """Flink's window TVF JOIN — `TABLE(TUMBLE(l)) JOIN TABLE(TUMBLE(r)) ON
    window + key` — executes on a STREAMING table through the existing TVF
    rewrite (each TVF becomes a subquery deriving the window from the
    already-WATERMARKED rowtime, so the native stream-stream equi-join
    gets watermarked inputs): same-window pairs join, cross-window pairs
    don't. The DataFrame-level state-eviction proof for this plan shape is
    tests/test_streaming4.py::test_window_join_state_evicts_closed_windows."""
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    rows = [
        {"user_id": 1, "ts_s": 10, "event_type": "view"},
        {"user_id": 1, "ts_s": 20, "event_type": "purchase"},
        {"user_id": 2, "ts_s": 10, "event_type": "view"},
        {"user_id": 2, "ts_s": 4000, "event_type": "purchase"},  # next window
        {"user_id": 99, "ts_s": 100_000, "event_type": "other"},  # wm advance
    ]
    pdf = pd.DataFrame(rows)
    pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE wjtvf (
              user_id BIGINT, ts_s BIGINT, event_type STRING, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet')"""
    )
    stmt = eng.execute_sql(
        """SELECT L.user_id, L.ts_s AS view_s, R.ts_s AS purchase_s
           FROM TABLE(TUMBLE(TABLE wjtvf, DESCRIPTOR(ev_time), INTERVAL '1' HOUR)) L
           JOIN TABLE(TUMBLE(TABLE wjtvf, DESCRIPTOR(ev_time), INTERVAL '1' HOUR)) R
             ON L.window_start = R.window_start AND L.user_id = R.user_id
           WHERE L.event_type = 'view' AND R.event_type = 'purchase'"""
    )
    assert stmt.is_streaming
    got = _fetch_rows(stmt, want=1)
    eng.close()
    # only user 1's pair shares a window; user 2's purchase is 4000 s away
    assert got == [[1, 10, 20]]


@pytest.mark.slow
def test_streaming_interval_join_through_sql(spark, tmp_path):
    """Flink's interval-join SQL — `ON l.k = r.k AND r.ev BETWEEN l.ev AND
    l.ev + INTERVAL` — executes on STREAMING tables through the plain SQL
    path (Spark's native stream-stream join with a time-range condition
    over the tables' declared watermarks): in-range pairs join, out-of-
    range pairs don't."""
    import pandas as pd

    from flink_notebooks_spark.engine import Engine

    rows = [
        {"user_id": 1, "ts_s": 10, "event_type": "view"},
        {"user_id": 1, "ts_s": 40, "event_type": "purchase"},   # +30 s: in
        {"user_id": 2, "ts_s": 10, "event_type": "view"},
        {"user_id": 2, "ts_s": 200, "event_type": "purchase"},  # +190 s: out
        {"user_id": 99, "ts_s": 100_000, "event_type": "other"},
    ]
    pdf = pd.DataFrame(rows)
    pdf["ev_time"] = pd.to_datetime(pdf["ts_s"], unit="s").astype("datetime64[us]")
    pdf.to_parquet(f"{tmp_path}/events.parquet")
    eng = Engine(spark)
    eng.execute_sql(
        f"""CREATE TABLE ivj (
              user_id BIGINT, ts_s BIGINT, event_type STRING, ev_time TIMESTAMP_LTZ(3),
              WATERMARK FOR ev_time AS ev_time - INTERVAL '0' SECOND
            ) WITH ('connector'='filesystem','path'='{tmp_path}','format'='parquet')"""
    )
    stmt = eng.execute_sql(
        """SELECT L.user_id, L.ts_s AS view_s, R.ts_s AS purchase_s
           FROM ivj L JOIN ivj R
             ON L.user_id = R.user_id
            AND R.ev_time BETWEEN L.ev_time
                              AND L.ev_time + INTERVAL '1' MINUTE
           WHERE L.event_type = 'view' AND R.event_type = 'purchase'"""
    )
    assert stmt.is_streaming
    got = _fetch_rows(stmt, want=1)
    eng.close()
    assert got == [[1, 10, 40]]
