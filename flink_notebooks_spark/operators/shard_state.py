"""The package's one keyed-state layer, and shard-keyed execution of
per-key ``applyInPandasWithState`` operators.

``apply_keyed_state`` is the only place the package calls Spark's keyed-
state API: with ``shards=None`` it is Spark's per-key form, otherwise the
shard-keyed wrapper below.

Problem (guide §4: the JVM↔Python boundary): ``applyInPandasWithState``
invokes the Python function once PER GROUP per micro-batch, and each
invocation pays a fixed protocol cost (Arrow slice handoff, state Row
conversion, generator plumbing) measured on this suite at ~1–3 ms. A
fine-grained key domain — e.g. ``user_id`` with ~1.5k live keys — therefore
spends seconds per trigger on invocation overhead alone while each key's
actual work is microseconds. The streaming near-dup dedups solved this in
round 14/15 by grouping on a SHARD of buckets instead of single buckets;
this module generalizes that fix so any per-key stateful operator can run
shard-keyed WITHOUT rewriting its state function.

``shard_keyed_state(df, key_cols, fn, ...)`` groups by
``pmod(xxhash64(*key_cols), shards)`` and runs a dispatcher that reproduces
per-key GroupState semantics inside the shard:

* each logical key's state is one pickled tuple in the shard row's
  parallel arrays (pickled key, state blob, timer deadline);
* keys with data in the batch are invoked exactly as Spark would invoke
  them (``hasTimedOut=False``, their rows only, previous timer cleared on
  invocation — Spark clears a group's timeout every time the function is
  called on it);
* keys WITHOUT data whose deadline lies strictly below the current
  watermark are invoked with ``hasTimedOut=True`` and no rows — Spark's
  event-time timeout fires "when the watermark advances beyond the set
  timestamp", and the shard-level timer (the min over per-key deadlines)
  guarantees the shard is scheduled in the same micro-batch a per-key
  timer would have fired;
* untouched keys keep their pickled blob byte-for-byte (no re-serialize).

Result identity: the wrapped function runs per key with the same rows, the
same watermark values, and the same timeout firing schedule as under
``groupBy(*key_cols)``, so the emitted multiset is unchanged — sharding
only sets the Python-invocation and state-I/O granularity. The oracle/
parity suites pin this per operator.

Scale contract (100 TB): per-key grouping round-trips only TOUCHED keys'
state per trigger but pays one Python call per key; shard-keying
round-trips whole shards but pays one call per shard. ``shards`` must
therefore grow with the live key domain — callers derive it via
``shards_for_keys`` (target keys/shard) or from corpus row counts — so
per-shard state stays bounded while a notebook-scale replay is not taxed
thousands of protocol round-trips per trigger. Hot logical keys cannot
skew a shard beyond the cap because the shard key is a hash of the
ALREADY-keyed domain (each key's state is bounded by the wrapped
operator's own retention rules).
"""

from __future__ import annotations

import pickle

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Deadline sentinel: no timer set for this key.
_NO_TIMER = -(1 << 62)

# Target live keys per shard — bounds the state blob one shard call
# round-trips (same dial class as streaming.STREAM_SHARD_TARGET_MEMBERS).
SHARD_TARGET_KEYS = 4096

_SHARD_COL = "__fns_shard"


def shards_for_keys(n_keys: int, parallelism: int) -> int:
    """Shard count for ~``n_keys`` live logical keys: at least the cluster
    parallelism (so every core sees work), growing with the key domain so
    expected keys per shard stay at or under ``SHARD_TARGET_KEYS``."""
    return max(int(parallelism), -(-int(n_keys) // SHARD_TARGET_KEYS), 1)


def apply_keyed_state(
    df: DataFrame,
    key_cols: list[str],
    fn,
    out_schema: str,
    state_schema: str,
    mode: str,
    timeout: str,
    shards: int | None = None,
) -> DataFrame:
    """The one keyed-state layer: every stateful Python operator of the
    package runs through here. ``shards=None`` is Spark's per-key form,
    plain ``groupBy(*key_cols).applyInPandasWithState`` (state rows follow
    ``state_schema``); a shard count runs the shard-keyed wrapper, where
    per-key state is pickled and ``state_schema`` sets the tuple arity that
    ``state.update`` must match, as Spark's state conversion enforces on
    the per-key form. ``timeout``: ``'event'`` or ``'none'``."""
    if shards is not None:
        return shard_keyed_state(
            df, key_cols, fn, out_schema, mode, timeout, shards, state_schema
        )
    return df.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, mode, _group_state_timeout(timeout)
    )


def latest_revision(df: DataFrame, keys: list[str]) -> DataFrame:
    """The rows of each key's latest revision (the ``rev`` column): the
    final state of an update-mode keyed stream whose revisions are
    cumulative, read back from its sink."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("maxrev", F.max("rev").over(w))
        .filter(F.col("rev") == F.col("maxrev"))
        .drop("maxrev")
    )


def _group_state_timeout(timeout: str):
    from pyspark.sql.streaming.state import GroupStateTimeout

    if timeout not in ("event", "none"):
        raise ValueError(f"keyed state: unknown timeout {timeout!r}")
    return (
        GroupStateTimeout.EventTimeTimeout
        if timeout == "event"
        else GroupStateTimeout.NoTimeout
    )


class _KeyState:
    """Per-logical-key GroupState shim: the exact API surface the repo's
    state functions use (exists/get properties, update/remove,
    hasTimedOut, setTimeoutTimestamp, getCurrentWatermarkMs). The
    watermark is fetched LAZILY through ``wm`` (a callable) — a NoTimeout
    operator over an un-watermarked stream must be able to run without
    ever touching it (Spark raises on the access, not at plan time).
    ``event_timeout``: whether the operator was dispatched with
    ``timeout='event'``; setting a timer without it raises, as Spark's
    GroupState does under NoTimeout. ``n_fields``: the state schema's
    top-level field count; ``update`` rejects a tuple of another length,
    as Spark's state conversion does (None: unchecked)."""

    __slots__ = (
        "_val", "_dl", "_timed_out", "_wm", "_touched", "_event_timeout", "_n_fields"
    )

    def __init__(self, val, timed_out: bool, wm, event_timeout: bool, n_fields):
        self._val = val  # unpickled tuple or None
        self._dl = _NO_TIMER  # cleared on invocation, like Spark
        self._timed_out = timed_out
        self._wm = wm
        self._touched = False
        self._event_timeout = event_timeout
        self._n_fields = n_fields

    @property
    def exists(self) -> bool:
        return self._val is not None

    @property
    def get(self):
        if self._val is None:
            raise ValueError("state has no value")
        return self._val

    @property
    def hasTimedOut(self) -> bool:  # noqa: N802 — mirrors GroupState
        return self._timed_out

    def update(self, new) -> None:
        if new is None:
            raise ValueError("cannot update state to None")
        new = tuple(new)
        if self._n_fields is not None and len(new) != self._n_fields:
            raise ValueError(
                f"state tuple has {len(new)} fields, the state schema "
                f"{self._n_fields}"
            )
        self._val = new
        self._touched = True

    def remove(self) -> None:
        self._val = None
        self._dl = _NO_TIMER
        self._touched = True

    def setTimeoutTimestamp(self, ts_ms: int) -> None:  # noqa: N802
        if not self._event_timeout:
            from pyspark.errors import PySparkRuntimeError

            raise PySparkRuntimeError(
                errorClass="CANNOT_WITHOUT",
                messageParameters={
                    "condition1": "set timeout timestamp",
                    "condition2": "enabling event time timeout in applyInPandasWithState",
                },
            )
        ts_ms = int(ts_ms)
        wm_ms = self._wm()
        if ts_ms <= wm_ms:
            raise ValueError(
                f"timeout timestamp {ts_ms} must be above watermark {wm_ms}"
            )
        self._dl = ts_ms
        self._touched = True

    def getCurrentWatermarkMs(self) -> int:  # noqa: N802
        return self._wm()


def shard_keyed_state(
    df: DataFrame,
    key_cols: list[str],
    fn,
    out_schema: str,
    mode: str,
    timeout: str,
    shards: int,
    state_schema: str | None = None,
) -> DataFrame:
    """Run per-key state function ``fn(key, pdfs, state)`` shard-keyed.

    ``df`` must carry ``key_cols`` (and, for ``timeout='event'``, a
    watermark). ``fn`` is invoked per LOGICAL key exactly as
    ``df.groupBy(*key_cols).applyInPandasWithState(fn, ...)`` would invoke
    it; only the grouping (and hence Python-call/state-I/O granularity)
    changes. ``timeout``: ``'event'`` (EventTimeTimeout) or ``'none'``.
    ``state_schema``: the per-key state's DDL; its top-level field count,
    taken here on the driver, is the arity ``state.update`` must match.
    """
    from pyspark.sql.types import DataType

    group_timeout = _group_state_timeout(timeout)
    n_fields = (
        None if state_schema is None else len(DataType.fromDDL(state_schema).fields)
    )
    shards = int(shards)
    key_list = list(key_cols)

    def shard_fn(shard_key, pdfs, state):
        import pandas as pd

        # lazy watermark: only touched for 'event' timeout dispatch or when
        # the wrapped fn itself asks (un-watermarked NoTimeout streams raise
        # on access, exactly as they would under per-key grouping)
        wm_cache: list[int] = []

        def wm() -> int:
            if not wm_cache:
                wm_cache.append(state.getCurrentWatermarkMs())
            return wm_cache[0]

        if state.exists:
            pks, blobs, dls = state.get
            keys = [pickle.loads(k) for k in pks]
            entries = {
                k: [b, int(d)] for k, b, d in zip(keys, blobs, dls)
            }  # key -> [pickled blob, deadline]
        else:
            entries = {}
        out_parts = []

        def invoke(key, chunks, timed_out):
            ent = entries.get(key)
            val = pickle.loads(ent[0]) if ent is not None else None
            ks = _KeyState(val, timed_out, wm, timeout == "event", n_fields)
            for out in fn(key, chunks, ks):
                if out is not None and len(out):
                    out_parts.append(out)
            if ks._touched or ent is not None:
                if ks._val is None and ks._dl == _NO_TIMER:
                    entries.pop(key, None)
                else:
                    blob = pickle.dumps(ks._val) if ks._touched else ent[0]
                    entries[key] = [blob, ks._dl]

        chunks = [c for c in pdfs if len(c)]
        data_keys = set()
        if chunks:
            new = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            new = new.drop(columns=[_SHARD_COL])
            for key, grp in new.groupby(key_list, sort=False, dropna=False):
                if not isinstance(key, tuple):  # pandas<2 single-col groupby
                    key = (key,)
                key = tuple(
                    k.item() if hasattr(k, "item") else k for k in key
                )
                data_keys.add(key)
                invoke(key, iter((grp,)), False)
        # fire per-key event-time timers: keys without data this batch whose
        # deadline the watermark has passed (strictly — Spark's rule)
        if timeout == "event":
            for key in [
                k
                for k, (_, dl) in entries.items()
                if dl != _NO_TIMER and dl < wm() and k not in data_keys
            ]:
                invoke(key, iter(()), True)
        if entries:
            state.update(
                (
                    [pickle.dumps(k) for k in entries],
                    [b for b, _ in entries.values()],
                    [d for _, d in entries.values()],
                )
            )
            if timeout == "event":
                arm = min(
                    (d for _, d in entries.values() if d != _NO_TIMER),
                    default=_NO_TIMER,
                )
                if arm != _NO_TIMER:
                    # a deadline at/below the watermark (set before this
                    # batch, not yet fired under the strict rule) re-arms
                    # just above it so the next advance fires the key
                    state.setTimeoutTimestamp(max(arm, wm() + 1))
        elif state.exists:
            state.remove()
        if out_parts:
            yield pd.concat(out_parts, ignore_index=True) if len(
                out_parts
            ) > 1 else out_parts[0]

    sharded = df.withColumn(
        _SHARD_COL, F.pmod(F.xxhash64(*key_list), F.lit(shards)).cast("int")
    )
    return sharded.groupBy(_SHARD_COL).applyInPandasWithState(
        shard_fn,
        out_schema,
        "pks array<binary>, blobs array<binary>, dls array<bigint>",
        mode,
        group_timeout,
    )
