"""Streaming OVER aggregation — Flink's event-time OVER windows on streams.

Reference capability: Flink SQL supports ``agg OVER (PARTITION BY k ORDER BY
rowtime RANGE|ROWS BETWEEN ... PRECEDING AND CURRENT ROW)`` on streaming
input (stock Flink 1.20 planner, reference flink-runtime/build.gradle:37;
SURVEY.md §2.6 W4-W6 cover the batch forms — this module adds the streaming
forms). Spark Structured Streaming has no native streaming OVER, so the
operator is a keyed-state buffer (``apply_keyed_state``), the same
place Flink's OverAggregate operator keeps its row state:

* rows buffer per key until the WATERMARK passes their event time — then
  they finalize IN EVENT-TIME ORDER, each emitting one output row whose
  aggregates cover its preceding frame (Flink's OVER operator emits on
  watermark exactly like this);
* a finalized row's frame is COMPLETE by construction: every frame member
  has ``ts ≤`` the finalized row's ``ts ≤ watermark``, and anything older
  than the watermark that hasn't arrived is late data (dropped — Flink's
  rowtime OVER drops late rows the same way);
* state is BOUNDED: emitted rows are retained only while future frames can
  reach them (the RANGE horizon, or the last N rows for a ROWS frame), and
  a fully idle key evicts whole on an event-time timer after
  ``IDLE_HORIZON_S`` (Flink's ``table.exec.state.ttl``; a user returning
  later restarts with an empty frame — the documented TTL divergence, same
  as streaming3's sessionize numbering note).

Determinism contract: the measure column (2-decimal ``events.value``) is
converted ONCE to integer cents (``rint(value·100)``) and every aggregate is
integer arithmetic — bit-stable at any parallelism, hash-matching the DuckDB
window-SQL oracle (same cents conversion, same frame spec).

Scale design (the 100 TB argument): predicates and the cents conversion run
JVM-side before the single ``groupBy(user_id)`` shuffle; matching state per
key is O(rows in the live frame horizon + unmature buffer) — the identical
bound Flink's OverAggregate keeps — and the per-batch work is one Arrow
transfer plus O(n) numpy prefix sums / a monotonic-deque max per key, no
quadratic rescans of the buffer.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._registry import query
from .streaming import (
    _keyed_shards,
    _read_events_stream,
    _run_to_memory,
    _staged_events_stream,
)
from .streaming3 import EVENTS_STATE_HORIZON_S as IDLE_HORIZON_S

# RANGE frame: 2 days preceding, in µs. At the fixture's per-user density
# (~2 events/day) frames hold a handful of rows — enough to exercise frame
# membership without degenerating to frame == current row.
OVER_RANGE_US = 2 * 86_400 * 1_000_000
# ROWS frame: 5 preceding + current.
OVER_ROWS_K = 5


def _over_shards(spark, sf_dir) -> int:
    """Shard count for the user-keyed OVER replays (see
    streaming._keyed_shards for the derivation contract)."""
    return _keyed_shards(spark, sf_dir, "events")

def _over_state_stream(
    spark,
    sf_dir,
    frame: str,
    horizon_s: int = IDLE_HORIZON_S,
    range_us: int = OVER_RANGE_US,
    rows_k: int = OVER_ROWS_K,
    staged=None,
):
    """The registered streaming OVER replays, built on the GENERAL operator
    (operators/over_window.py — the same code path the engine's streaming
    OVER SQL uses). ``frame``: 'range' (event time within ``range_us``
    preceding, peers included — SQL RANGE ... CURRENT ROW semantics) or
    'rows' (``rows_k`` preceding by (ts, event_id) order — SQL ROWS ...
    CURRENT ROW). ``staged`` overrides the input stream (tests stage their
    own multi-batch replays); it must carry user_id/event_id/ev_time/ts_us/
    value with a watermark on ev_time."""
    from ..operators.over_window import OverAgg, streaming_over_window

    assert frame in ("range", "rows")
    # shard-keyed only on the registered replay path: tests that stage
    # their own waves (sf_dir=None) keep per-key grouping, so their
    # state-row-count assertions still observe per-KEY eviction
    shards = None
    if staged is None:
        staged = _staged_events_stream(spark, sf_dir, with_value=True)
        shards = _over_shards(spark, sf_dir)
    stream = staged.select(
        "user_id",
        "event_id",
        "ev_time",
        "ts_us",
        # one cents conversion, JVM-side, shared with the oracle's
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    return streaming_over_window(
        stream,
        partition_by=["user_id"],
        time_us_col="ts_us",
        frame=("range", range_us) if frame == "range" else ("rows", rows_k),
        aggs=[
            OverAgg("count", None, "w_cnt"),
            OverAgg("sum", "cents", "w_sum_cents"),
            OverAgg("max", "cents", "w_max_cents"),
        ],
        carry=["user_id", "event_id", "ts_us"],
        tiebreak=["event_id"],
        idle_horizon_s=horizon_s,
        shards=shards,
    )


_OVER_BASE_SQL = """
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events)
"""


@query(
    "streaming_over_range_agg",
    oracle=f"""
    {_OVER_BASE_SQL}
    SELECT user_id, event_id, ts_us,
           COUNT(*) OVER w AS w_cnt,
           SUM(cents) OVER w AS w_sum_cents,
           MAX(cents) OVER w AS w_max_cents
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {OVER_RANGE_US} PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_us, event_id
    """,
)
def streaming_over_range_agg(spark, sf_dir):
    """Streaming event-time RANGE OVER aggregation (Flink's rowtime
    ``RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW``): one output
    row per input row, aggregates over the trailing 2-day frame including
    peers, emitted when the watermark passes the row. State per key =
    rows inside the live frame horizon + the unmature buffer (bounded);
    idle keys evict whole on an event-time timer. The bounded replay's
    sentinel matures every real row, so the output hash-matches the batch
    window-SQL oracle exactly."""
    out = _run_to_memory(_over_state_stream(spark, sf_dir, "range"), "append")
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "ts_us", "event_id"
    )


@query(
    "streaming_over_rows_agg",
    oracle=f"""
    {_OVER_BASE_SQL}
    SELECT user_id, event_id, ts_us,
           COUNT(*) OVER w AS w_cnt,
           SUM(cents) OVER w AS w_sum_cents,
           MAX(cents) OVER w AS w_max_cents
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN {OVER_ROWS_K} PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_us, event_id
    """,
)
def streaming_over_rows_agg(spark, sf_dir):
    """Streaming event-time ROWS OVER aggregation (Flink's rowtime
    ``ROWS BETWEEN n PRECEDING AND CURRENT ROW``): the trailing-5-rows
    frame in (event time, event_id) order. Retention per key = the last 5
    emitted rows + the unmature buffer; same watermark-mature emission and
    idle-horizon eviction as the RANGE form."""
    out = _run_to_memory(_over_state_stream(spark, sf_dir, "rows"), "append")
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "ts_us", "event_id"
    )


@query(
    "streaming_over_unbounded_agg",
    oracle=f"""
    {_OVER_BASE_SQL}
    SELECT user_id, event_id, ts_us,
           COUNT(*) OVER w AS w_cnt,
           SUM(cents) OVER w AS w_sum_cents,
           MAX(cents) OVER w AS w_max_cents
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_us, event_id
    """,
)
def streaming_over_unbounded_agg(spark, sf_dir):
    """Streaming UNBOUNDED PRECEDING OVER aggregation (Flink's running
    per-key cumulative form): emitted rows fold into O(1) running
    accumulators — exact int64 count/sum and running max — so retained
    state per key is a handful of scalars plus the unmature buffer, the
    smallest state any streaming OVER can keep."""
    from ..operators.over_window import OverAgg, streaming_over_window

    stream = _staged_events_stream(spark, sf_dir, with_value=True).select(
        "user_id",
        "event_id",
        "ev_time",
        "ts_us",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    res = streaming_over_window(
        stream,
        partition_by=["user_id"],
        time_us_col="ts_us",
        frame=("unbounded", "rows"),
        aggs=[
            OverAgg("count", None, "w_cnt"),
            OverAgg("sum", "cents", "w_sum_cents"),
            OverAgg("max", "cents", "w_max_cents"),
        ],
        carry=["user_id", "event_id", "ts_us"],
        tiebreak=["event_id"],
        idle_horizon_s=IDLE_HORIZON_S,
        shards=_over_shards(spark, sf_dir),
    )
    out = _run_to_memory(res, "append")
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "ts_us", "event_id"
    )


# ---------------------------------------------------------------------------
# Window TVF join — Flink's `FROM TUMBLE(l) JOIN TUMBLE(r) ON l.window_start
# = r.window_start AND ...` (stock planner, reference
# flink-runtime/build.gradle:37). Spark-first: assign each side its tumbling
# window column (F.window — epoch-aligned, same bucketing as the oracle's
# floor division), watermark both, and let Structured Streaming's native
# stream-stream equi-join manage the state — the watermark bounds both join
# buffers to the live window, no custom state code at all.
# ---------------------------------------------------------------------------
WJOIN_WINDOW_S = 21_600  # 6 h tumble: ~200 view×purchase pairs at sf0.01


@query(
    "streaming_window_join",
    oracle=f"""
    SELECT l.user_id AS user_id,
           (epoch_us(l.ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000))
             * {WJOIN_WINDOW_S} AS w_start,
           l.event_id AS view_id, r.event_id AS purchase_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND (epoch_us(l.ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000))
       = (epoch_us(r.ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000))
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
    ORDER BY w_start, l.user_id, view_id, purchase_id
    """,
)
def streaming_window_join(spark, sf_dir):
    """Streaming window join (Flink's window TVF join): views paired with
    purchases by the same user inside the same 6 h tumbling window, as a
    NATIVE stream-stream equi-join on (window, user_id). The window column
    is the join key, exactly the TVF formulation. State bound: the
    watermark is declared on the raw event time BEFORE the window column is
    derived — the metadata then propagates onto the window, and Spark
    evicts each side's join state once the watermark passes a window's end
    (the same bound Flink's window join keeps; proven in
    tests/test_streaming4.py — declaring the watermark on the window struct
    itself joins correctly but never cleans state)."""
    joined = _window_join_stream(spark, sf_dir)
    out = _run_to_memory(joined, "append", partitions=4)
    return out.orderBy("w_start", "user_id", "view_id", "purchase_id")


def _window_join_stream(spark, sf_dir, staging_dir=None, window_s=None):
    """The unsinked windowed stream-stream join (tests attach their own
    sink and read ``numRowsTotal`` off the query progress)."""
    win = f"{window_s or WJOIN_WINDOW_S} seconds"

    def _src():
        if staging_dir is None:
            return _read_events_stream(spark, sf_dir)
        from ..io import events_stream_schema, stream_ts_cols

        raw = (
            spark.readStream.schema(
                events_stream_schema(f"{staging_dir}/00_part.parquet")
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(staging_dir)
        )
        return stream_ts_cols(raw)

    l = (
        _src()
        .filter(F.col("event_type") == "view")
        .withWatermark("ev_time", "0 seconds")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.window("ev_time", win).alias("w"),
        )
    )
    r = (
        _src()
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ev_time", "0 seconds")
        .select(
            F.col("user_id").alias("r_uid"),
            F.col("event_id").alias("purchase_id"),
            F.window("ev_time", win).alias("rw"),
        )
    )
    return l.join(
        r,
        (F.col("user_id") == F.col("r_uid")) & (F.col("w") == F.col("rw")),
        "inner",
    ).select(
        "user_id",
        F.unix_timestamp(F.col("w.start")).alias("w_start"),
        "view_id",
        "purchase_id",
    )


# ---------------------------------------------------------------------------
# Window Top-N — Flink's window TVF Top-N (`SELECT * FROM (SELECT *,
# ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY cnt DESC) rn FROM
# TUMBLE(...) GROUP BY ...) WHERE rn <= N`), the per-closed-window ranking
# form (distinct from W7's CONTINUOUS streaming Top-N). Spark-first: an
# APPEND-mode windowed aggregation emits a window's rows exactly once, all
# in the micro-batch where the watermark closes it — so ranking inside that
# batch, grouped by window, is EXACT with O(1) retained ranking state.
# ---------------------------------------------------------------------------
WTOPN_N = 3


@query(
    "streaming_window_topn",
    oracle=f"""
    WITH c AS (
      SELECT (epoch_us(ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000))
               * {WJOIN_WINDOW_S} AS w_start,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start
                    ORDER BY cnt DESC, event_type) AS rk FROM c)
    SELECT w_start, event_type, cnt, rk FROM r WHERE rk <= {WTOPN_N}
    ORDER BY w_start, rk
    """,
)
def streaming_window_topn(spark, sf_dir):
    """Streaming window Top-N: the busiest event types per closed 6 h
    tumbling window. One keyed-state operator, keyed by WINDOW START —
    exactly Flink's WindowRank operator shape: per-type counts accumulate
    in the window's state row, an event-time timer fires when the
    watermark passes the window end, the ranked top N emit, and the
    window's state is removed (Spark rejects a second stateful stage after
    a streaming aggregation, so agg-then-rank cannot compose — the single
    operator IS the supported composition). State = live windows x types;
    every window's state is freed at close, so retention equals the
    watermark lag. Ties break on event_type (deterministic, matching the
    oracle)."""
    out = _run_to_memory(_window_topn_stream(spark, sf_dir), "append", partitions=4)
    return out.orderBy("w_start", "rk")


def _window_topn_stream(spark, sf_dir):
    """The unsinked window Top-N stream (tests attach their own sink and
    assert the closed-window state really frees)."""
    import pandas as pd

    from ..operators.shard_state import apply_keyed_state

    w_us = WJOIN_WINDOW_S * 1_000_000
    w_ms = WJOIN_WINDOW_S * 1000
    events = (
        # sentinel 7 h out: past every 6 h window end, so each window's
        # close timer really fires and the replay matches the batch oracle.
        # The sentinel row is NOT filtered here: a pre-stateful filter gets
        # pushed below the watermark node and the sentinel then never
        # advances the watermark (observed: the last window never closes) —
        # it is excluded inside the state function instead.
        _staged_events_stream(spark, sf_dir, sentinel_gap_s=WJOIN_WINDOW_S + 3600)
        .select(
            "ev_time",
            "event_type",
            (F.expr(f"ts_us div {w_us}") * WJOIN_WINDOW_S).alias("w_start"),
        )
    )

    def rank_window(key, pdfs, state):
        if state.hasTimedOut:
            types, cnts = state.get
            state.remove()
            pdf = pd.DataFrame({"event_type": types, "cnt": cnts}).sort_values(
                ["cnt", "event_type"], ascending=[False, True]
            )
            top = pdf.head(WTOPN_N).reset_index(drop=True)
            top.insert(0, "w_start", key[0])
            top["rk"] = range(1, len(top) + 1)
            yield top[["w_start", "event_type", "cnt", "rk"]]
            return
        counts: dict[str, int] = {}
        if state.exists:
            types, cnts = state.get
            counts = dict(zip(types, (int(c) for c in cnts)))
        for chunk in pdfs:
            chunk = chunk[chunk["event_type"] != "__close__"]  # the sentinel
            for t, c in chunk.groupby("event_type").size().items():
                counts[t] = counts.get(t, 0) + int(c)
        state.update((list(counts), [counts[t] for t in counts]))
        # fire when the watermark passes the window end (strictly above the
        # current watermark, as Spark requires of event-time timers)
        state.setTimeoutTimestamp(
            max(int(key[0]) * 1000 + w_ms + 1, state.getCurrentWatermarkMs() + 1)
        )

    return apply_keyed_state(
        events,
        ["w_start"],
        rank_window,
        "w_start long, event_type string, cnt long, rk long",
        "types array<string>, cnts array<long>",
        "append",
        "event",
    )


# ---------------------------------------------------------------------------
# Window deduplication — Flink's window TVF dedup (`SELECT * FROM (SELECT *,
# ROW_NUMBER() OVER (PARTITION BY window_start, k ORDER BY rowtime) rn FROM
# TUMBLE(...)) WHERE rn = 1`): the FIRST row per key per window. Spark-first:
# this is just an append-mode windowed MIN_BY aggregation — all JVM, no
# custom state code, window state freed at close by the engine itself.
# ---------------------------------------------------------------------------
@query(
    "streaming_window_dedup",
    oracle=f"""
    WITH r AS (
      SELECT (epoch_us(ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000))
               * {WJOIN_WINDOW_S} AS w_start,
             user_id, event_id, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (
               PARTITION BY (epoch_us(ts) // (CAST({WJOIN_WINDOW_S} AS BIGINT) * 1000000)),
                            user_id
               ORDER BY epoch_us(ts), event_id) AS rn
      FROM events)
    SELECT w_start, user_id, event_id AS first_event_id, ts_us AS first_ts_us
    FROM r WHERE rn = 1 ORDER BY w_start, user_id
    """,
)
def streaming_window_dedup(spark, sf_dir):
    """Streaming window deduplication (Flink's window TVF dedup): the first
    event per (6 h tumbling window, user), ordered by (event time,
    event_id). Pure built-in composition — an append-mode windowed
    ``min_by`` aggregation, whole-stage-codegen JVM all the way, with the
    window's aggregation state freed by the engine when the watermark
    closes it. No custom state code at all: when Spark's operators CAN
    express a Flink feature, composition beats a hand-rolled stateful op."""
    win = f"{WJOIN_WINDOW_S} seconds"
    # pack the (ts_us, event_id) order key so ONE min_by decides both the
    # dedup winner and the emitted columns atomically (tie-broken exactly
    # like the oracle's ROW_NUMBER ordering)
    dedup = (
        # sentinel 7 h out: the append-mode agg emits a window only when the
        # watermark passes its END, up to 6 h past the last real event — the
        # default 1 h gap would close the final window only by luck
        _staged_events_stream(spark, sf_dir, sentinel_gap_s=WJOIN_WINDOW_S + 3600)
        .groupBy(F.window("ev_time", win).alias("w"), "user_id")
        .agg(
            F.min_by(
                F.struct("ts_us", "event_id"),
                F.struct("ts_us", "event_id"),
            ).alias("first"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "user_id",
            F.col("first.event_id").alias("first_event_id"),
            F.col("first.ts_us").alias("first_ts_us"),
        )
    )
    out = _run_to_memory(dedup, "append", partitions=4)
    return out.filter(F.col("user_id") >= 0).orderBy("w_start", "user_id")
