"""Streaming event-time OVER windows — the general keyed-state operator.

Reference capability: Flink SQL runs ``agg OVER (PARTITION BY k ORDER BY
rowtime RANGE|ROWS BETWEEN ... PRECEDING AND CURRENT ROW)`` on streaming
tables (stock Flink 1.20 planner, reference flink-runtime/build.gradle:37);
Spark Structured Streaming rejects window functions on streams
(``NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING``), so this module supplies
the operator: a keyed row buffer in ``apply_keyed_state`` — the same
state shape Flink's OverAggregate keeps — with

* watermark-mature emission: a row emits (exactly once, in event-time
  order) when the watermark passes its event time; its frame is complete
  by construction, since every frame member has ``ts ≤`` the row's
  ``ts ≤ watermark`` and older data is late (dropped, Flink's rowtime OVER
  behavior);
* frame-horizon retention: emitted rows stay in state only while a future
  row's frame can still reach them — the RANGE interval, the last N rows
  for ROWS, or (UNBOUNDED PRECEDING) nothing at all, because finalized
  rows fold into O(1) running accumulators;
* idle-key eviction: a key with nothing pending evicts whole on an
  event-time timer after ``idle_horizon_s`` (off by default, matching
  Flink's ``table.exec.state.ttl = 0`` default;
  a row arriving later restarts with an empty frame — the standard TTL
  divergence).

Supported measures: COUNT(*) / COUNT(col) / SUM / MIN / MAX / AVG over
numeric columns (integer columns aggregate in exact int64; AVG divides
once at emission). Nulls in measure columns are not supported (Flink's
OVER skips nulls; the synthetic sources here produce none — a null raises
loudly rather than silently diverging).

Scale: one ``groupBy(partition)`` shuffle; per-key, per-batch work is one
Arrow transfer + O(n) prefix sums and a monotonic deque for MIN/MAX — no
quadratic buffer rescans. State per key = live frame horizon + unmature
buffer (RANGE/ROWS) or a handful of scalars (UNBOUNDED).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

_FUNCS = ("count", "sum", "min", "max", "avg")

# Spark type string → state-array element type + numpy dtype kind
_COL_TYPES = {
    "bigint": ("bigint", "i"),
    "int": ("bigint", "i"),
    "smallint": ("bigint", "i"),
    "tinyint": ("bigint", "i"),
    "double": ("double", "f"),
    "float": ("double", "f"),
    "string": ("string", "O"),
    "boolean": ("boolean", "O"),
}


@dataclass(frozen=True)
class OverAgg:
    func: str  # count | sum | min | max | avg
    col: str | None  # None = COUNT(*)
    alias: str


def streaming_over_window(
    df: DataFrame,
    partition_by: list[str],
    time_us_col: str,
    frame: tuple,
    aggs: list[OverAgg],
    carry: list[str],
    tiebreak: list[str] = (),
    idle_horizon_s: int = 0,
    keep_col: str | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Apply a streaming OVER window to ``df`` (a WATERMARKED streaming
    DataFrame — the watermark timestamp column must still be present).

    ``time_us_col``: BIGINT epoch-µs event-time column (the caller derives
    it from the rowtime attribute; keeping µs integers makes frame
    arithmetic exact). ``frame``: ``("range", us)`` — event time within
    ``us`` preceding, peers included (SQL RANGE ... CURRENT ROW);
    ``("rows", k)`` — k preceding in (time, *tiebreak) order (SQL ROWS ...
    CURRENT ROW; pass a unique tiebreak for a deterministic total order);
    ``("unbounded",)`` — RANGE UNBOUNDED PRECEDING, running aggregates with
    O(1) retained state per key. ``carry``: input columns copied onto each
    output row. Output schema: carry columns (input types) + agg aliases.

    ``idle_horizon_s = 0`` — the DEFAULT — disables idle-key eviction
    entirely, matching Flink's default ``table.exec.state.ttl = 0`` (state
    is never cleaned); positive values evict a key once the watermark
    passes its newest event + horizon. The engine passes the session
    property through when set; standalone callers must opt in.

    ``keep_col``: optional boolean column — rows where it is false are
    DISCARDED on arrival inside the operator, after they have advanced the
    watermark. This is how a SQL ``WHERE`` before a streaming OVER must be
    applied: a plain ``.filter`` gets pushed below the watermark node, so
    filtered-out rows stop advancing the watermark and downstream rows
    stall (Flink's watermark is source-generated metadata and flows
    through filters; this reproduces that semantic).

    ``shards``: when set, the operator runs SHARD-keyed (operators/
    shard_state.py) — one Python invocation per shard of keys per
    micro-batch instead of one per key, with per-key state/timer semantics
    reproduced inside the shard (results identical by construction; pinned
    by the shard_state parity tests). Pass a key-domain-derived count
    (``shards_for_keys``); ``None`` keeps plain per-key grouping.
    """
    import numpy as np
    import pandas as pd

    from .shard_state import apply_keyed_state

    kind = frame[0]
    if kind not in ("range", "rows", "unbounded"):
        raise ValueError(f"streaming OVER: unknown frame {frame!r}")
    range_us = int(frame[1]) if kind == "range" else 0
    rows_k = int(frame[1]) if kind == "rows" else 0
    # UNBOUNDED PRECEDING sub-kind: "rows" ends the frame AT the current
    # row; "range" includes the current row's PEERS (SQL RANGE semantics)
    unb_range = kind == "unbounded" and len(frame) > 1 and frame[1] == "range"
    dtypes = dict(df.dtypes)
    for a in aggs:
        if a.func not in _FUNCS:
            raise ValueError(f"streaming OVER: unsupported function {a.func!r}")
        if a.col is not None and _COL_TYPES.get(dtypes.get(a.col, ""), ("", "O"))[1] == "O":
            raise ValueError(
                f"streaming OVER: {a.func}({a.col}) needs a numeric column, "
                f"got {dtypes.get(a.col)!r}"
            )
        if a.col is None and a.func != "count":
            raise ValueError(f"streaming OVER: {a.func}(*) is not defined")
    # buffered columns, fixed order: time, tiebreaks, then the rest
    buf_cols: list[str] = [time_us_col]
    for c in [*tiebreak, *carry, *[a.col for a in aggs if a.col]]:
        if c not in buf_cols:
            buf_cols.append(c)
    missing = [c for c in buf_cols if c not in dtypes]
    if missing:
        raise ValueError(f"streaming OVER: unknown columns {missing}")
    if dtypes[time_us_col] != "bigint":
        raise ValueError(
            f"streaming OVER: {time_us_col} must be BIGINT epoch-µs, "
            f"got {dtypes[time_us_col]!r}"
        )
    col_state = []  # (name, state elem type, numpy kind)
    for c in buf_cols:
        t = _COL_TYPES.get(dtypes[c])
        if t is None:
            raise ValueError(
                f"streaming OVER: cannot buffer column {c} of type "
                f"{dtypes[c]!r} (convert timestamps to epoch-µs first)"
            )
        col_state.append((c, t[0], t[1]))
    state_fields = [f"b{i} array<{t}>" for i, (_, t, _) in enumerate(col_state)]
    state_fields.append("n_ctx bigint")
    # newest event time ever seen on this key — anchors the idle-eviction
    # deadline (a maturation timer must NOT evict a key whose context is
    # still inside the frame horizon)
    state_fields.append("last_ts bigint")
    # UNBOUNDED accumulators, one slot per agg: exact int64 lane for
    # integer columns, float lane for doubles, count lane for COUNT/AVG
    state_fields += ["acc_n array<bigint>", "acc_l array<bigint>", "acc_d array<double>"]
    state_schema = ", ".join(state_fields)

    agg_long = [
        a.col is not None and _COL_TYPES[dtypes[a.col]][1] == "i" for a in aggs
    ]
    out_fields = []
    for c in carry:
        out_fields.append(f"`{c}` {dtypes[c]}")
    for a, is_l in zip(aggs, agg_long):
        if a.func == "count":
            out_fields.append(f"`{a.alias}` bigint")
        elif a.func == "avg":
            out_fields.append(f"`{a.alias}` double")
        else:
            out_fields.append(f"`{a.alias}` {'bigint' if is_l else 'double'}")
    out_schema = ", ".join(out_fields)
    out_cols = [*carry, *[a.alias for a in aggs]]
    horizon_ms = idle_horizon_s * 1000
    n_bufs = len(col_state)
    nb_tie = len(tiebreak)
    agg_specs = [(a.func, a.col, a.alias) for a in aggs]

    def _np(kindc, vals):
        if kindc == "i":
            return np.asarray(vals, dtype=np.int64)
        if kindc == "f":
            return np.asarray(vals, dtype=np.float64)
        return np.asarray(vals, dtype=object)

    def over_fn(key, pdfs, state):
        if state.exists:
            got = state.get
            bufs = [
                _np(col_state[i][2], got[i]) for i in range(n_bufs)
            ]
            n_ctx = int(got[n_bufs])
            last_ts = int(got[n_bufs + 1])
            acc_n = list(got[n_bufs + 2])
            acc_l = list(got[n_bufs + 3])
            acc_d = list(got[n_bufs + 4])
        else:
            bufs = [_np(k2, []) for _, _, k2 in col_state]
            n_ctx = 0
            last_ts = -(1 << 62)
            acc_n = [0] * len(agg_specs)
            acc_l = [0] * len(agg_specs)
            acc_d = [0.0] * len(agg_specs)
        chunks = [c for c in pdfs if len(c)]
        if keep_col is not None:
            chunks = [
                kept
                for c in chunks
                if len(kept := c[c[keep_col].fillna(False).astype(bool)])
            ]
        if chunks:
            new = pd.concat(chunks, ignore_index=True)
            for name, _, k2 in col_state:
                if k2 != "O" and new[name].isna().any():
                    raise ValueError(
                        f"streaming OVER: null in buffered column {name} "
                        "(null measures are unsupported — filter them "
                        "upstream)"
                    )
            pend = [
                np.concatenate(
                    [bufs[i][n_ctx:], _np(k2, new[name].to_numpy())]
                )
                for i, (name, _, k2) in enumerate(col_state)
            ]
            order = np.lexsort((*reversed(pend[1 : 1 + nb_tie]), pend[0]))
            bufs = [
                np.concatenate([bufs[i][:n_ctx], pend[i][order]])
                for i in range(n_bufs)
            ]
        ts = bufs[0]
        n = len(ts)
        if n:
            last_ts = max(last_ts, int(ts[-1]))
        wm_us = state.getCurrentWatermarkMs() * 1000
        # finalize strictly-mature rows only (ts < wm): Spark's late filter
        # still ADMITS a row at ts == wm, so emitting at the boundary could
        # miss an equal-timestamp peer arriving in a later micro-batch —
        # its RANGE frame and the already-emitted row's would disagree
        m = n_ctx + int(np.searchsorted(ts[n_ctx:], wm_us, side="left"))
        out = None
        if m > n_ctx:
            col_of = {name: bufs[i] for i, (name, _, _) in enumerate(col_state)}
            n_out = m - n_ctx
            data: dict[str, object] = {c: col_of[c][n_ctx:m] for c in carry}
            csums = {
                c: np.concatenate([[0], np.cumsum(col_of[c])])
                for c in {a.col for a in aggs if a.col}
            }
            if kind == "range":
                lefts = np.searchsorted(ts, ts[n_ctx:m] - range_us, "left")
                rights = np.searchsorted(ts, ts[n_ctx:m], "right")
            elif kind == "rows":
                lefts = np.maximum(np.arange(n_ctx, m) - rows_k, 0)
                rights = np.arange(n_ctx, m) + 1
            else:  # unbounded: running accumulators + this batch's prefix
                lefts = np.zeros(n_out, dtype=np.int64)
                rights = (
                    np.searchsorted(ts, ts[n_ctx:m], "right")  # RANGE: peers
                    if unb_range
                    else np.arange(n_ctx, m) + 1  # ROWS: frame ends at row
                )
            for ai, (func, colname, alias) in enumerate(agg_specs):
                if func == "count":
                    vals = (rights - lefts) + (acc_n[ai] if kind == "unbounded" else 0)
                elif func in ("sum", "avg"):
                    cs = csums[colname]
                    vals = cs[rights] - cs[lefts]
                    if kind == "unbounded":
                        vals = vals + (acc_l[ai] if agg_long[ai] else acc_d[ai])
                    if func == "avg":
                        cnt = (rights - lefts) + (
                            acc_n[ai] if kind == "unbounded" else 0
                        )
                        vals = vals / cnt
                else:  # min / max
                    cvals = col_of[colname]
                    vals = _window_extreme(np, cvals, lefts, rights, func)
                    if kind == "unbounded" and acc_n[ai] > 0:
                        prior = acc_l[ai] if agg_long[ai] else acc_d[ai]
                        vals = (
                            np.minimum(vals, prior)
                            if func == "min"
                            else np.maximum(vals, prior)
                        )
                data[alias] = vals
            out = pd.DataFrame(data, columns=out_cols)
        # fold finalized rows into the running accumulators (unbounded) and
        # retain only what future frames can reach
        if kind == "unbounded" and m > n_ctx:
            fin = slice(n_ctx, m)
            for ai, (func, colname, _) in enumerate(agg_specs):
                acc_n[ai] += m - n_ctx
                if colname is None:
                    continue
                seg = bufs[[c for c, *_ in col_state].index(colname)][fin]
                if func in ("sum", "avg"):
                    if agg_long[ai]:
                        acc_l[ai] += int(seg.sum())
                    else:
                        acc_d[ai] += float(seg.sum())
                elif func in ("min", "max"):
                    ext = seg.min() if func == "min" else seg.max()
                    if acc_n[ai] - (m - n_ctx) == 0:  # first fold
                        prior = ext
                    else:
                        prior = acc_l[ai] if agg_long[ai] else acc_d[ai]
                        prior = (
                            min(prior, ext) if func == "min" else max(prior, ext)
                        )
                    if agg_long[ai]:
                        acc_l[ai] = int(prior)
                    else:
                        acc_d[ai] = float(prior)
        if kind == "range":
            # side="left": a row at exactly wm - range is still inside the
            # frame of a future row arriving at exactly ts == wm
            keep_from = int(np.searchsorted(ts[:m], wm_us - range_us, "left"))
        elif kind == "rows":
            keep_from = max(0, m - rows_k)
        else:
            keep_from = m  # folded into the accumulators
        bufs = [b[keep_from:] for b in bufs]
        n_ctx = m - keep_from
        has_state = len(bufs[0]) > 0 or (
            kind == "unbounded" and any(acc_n)
        )
        # idle deadline: the key's NEWEST event + horizon. A maturation
        # timer can fire long before that (another key advanced the
        # watermark) — it must not evict context still inside the frame
        # horizon, nor UNBOUNDED running accumulators
        idle = horizon_ms > 0 and wm_us >= last_ts + horizon_ms * 1000
        if not has_state:
            if state.exists:
                state.remove()
        elif (
            state.hasTimedOut
            and not chunks
            and n_ctx == len(bufs[0])  # nothing pending: context/accs only
            and idle
        ):
            state.remove()  # idle horizon reached — Flink state TTL
        else:
            state.update(
                (
                    *[b.tolist() for b in bufs],
                    n_ctx,
                    last_ts,
                    acc_n,
                    acc_l,
                    acc_d,
                )
            )
            wm_ms = state.getCurrentWatermarkMs()
            if n_ctx < len(bufs[0]):
                state.setTimeoutTimestamp(
                    max(int(bufs[0][n_ctx]) // 1000 + 1, wm_ms + 1)
                )
            elif horizon_ms > 0:
                # wake at the idle deadline (anchored to last activity,
                # not the current watermark — re-arming on wm would defer
                # eviction forever on a busy stream); horizon 0 = TTL
                # disabled: set no timer, the key's state persists
                state.setTimeoutTimestamp(
                    max(last_ts // 1000 + horizon_ms + 1, wm_ms + 1)
                )
        if out is not None:
            yield out

    return apply_keyed_state(
        df,
        list(partition_by),
        over_fn,
        out_schema,
        state_schema,
        "append",
        "event",
        shards=shards,
    )


def _window_extreme(np, vals, lefts, rights, func):
    """MIN/MAX over [lefts[i], rights[i]) windows with both boundaries
    non-decreasing — one monotonic-deque pass, O(n) total."""
    from collections import deque

    out = np.empty(len(lefts), dtype=vals.dtype)
    dq: deque[int] = deque()
    j = 0
    better = (lambda a, b: a <= b) if func == "max" else (lambda a, b: a >= b)
    for i in range(len(lefts)):
        while j < rights[i]:
            while dq and better(vals[dq[-1]], vals[j]):
                dq.pop()
            dq.append(j)
            j += 1
        while dq and dq[0] < lefts[i]:
            dq.popleft()
        out[i] = vals[dq[0]]
    return out
