"""Trigger-by-trigger parity of the two streaming dedups' state functions
(``queries/streaming.py``: ``_minhash_bucket_fn``, ``_embedding_bucket_fn``)
with the NoTimeout/TTL pairs they replaced, kept below verbatim as the
reference. A fake GroupState replays several micro-batches per mode —
bucket collisions, replayed arrivals, multi-chunk groups, watermark
pruning, emptied shards and idle-shard timeouts — and every trigger's
emitted pairs, state rows and timers must be identical."""

from __future__ import annotations

import copy

import numpy as np
import pandas as pd
import pytest

from flink_notebooks_spark.queries.streaming import (
    STREAM_BUCKET_CAP,
    _embedding_bucket_fn,
    _minhash_bucket_fn,
)


def _old_minhash_pair(ttl_s):
    def bucket_pairs(key, pdfs, state):
        # state: one SHARD of buckets, packed as parallel arrays
        # (bucket hashes, per-bucket member counts, flattened members)
        store: dict[int, list[int]] = {}
        if state.exists:
            bhs, cnts, flat = state.get
            off = 0
            for h, c in zip(bhs, cnts):
                store[int(h)] = [int(x) for x in flat[off : off + c]]
                off += c
        pairs = []
        for pdf in pdfs:
            for bh, d in zip(pdf["bh"], pdf["doc_id"]):
                mem = store.setdefault(int(bh), [])
                d = int(d)
                if d in mem:  # replayed arrival
                    continue
                pairs.extend((min(d, m), max(d, m)) for m in mem)
                mem.append(d)
                if len(mem) > STREAM_BUCKET_CAP:
                    raise ValueError(
                        f"streaming_dedup_minhash: LSH bucket {key} exceeds "
                        f"{STREAM_BUCKET_CAP} members — near-constant content "
                        "has collapsed this band; salt-split or pre-filter "
                        "boilerplate"
                    )
        state.update(
            (
                list(store.keys()),
                [len(v) for v in store.values()],
                [x for v in store.values() for x in v],
            )
        )
        if pairs:
            yield pd.DataFrame(pairs, columns=["a", "b"], dtype="int64")

    def bucket_pairs_ttl(key, pdfs, state):
        # TTL form: members carry arrival ms; stale members are pruned at
        # every touch, empty shards drop their state row, idle shards are
        # evicted whole on event-time timeout. State is O(live window).
        if state.hasTimedOut:
            state.remove()
            return
        store: dict[int, tuple[list[int], list[int]]] = {}
        if state.exists:
            bhs, cnts, flat, mts = state.get
            off = 0
            for h, c in zip(bhs, cnts):
                store[int(h)] = (
                    [int(x) for x in flat[off : off + c]],
                    [int(m) for m in mts[off : off + c]],
                )
                off += c
        cutoff_ms = state.getCurrentWatermarkMs() - ttl_s * 1000
        for h in list(store):
            mem, ts = store[h]
            keep = [(d, m) for d, m in zip(mem, ts) if m > cutoff_ms]
            if keep:
                store[h] = ([d for d, _ in keep], [m for _, m in keep])
            else:
                del store[h]
        pairs = []
        for pdf in pdfs:
            for bh, d, aus in zip(pdf["bh"], pdf["doc_id"], pdf["arrival_us"]):
                mem, ts = store.setdefault(int(bh), ([], []))
                d = int(d)
                if d in mem:  # replayed arrival
                    continue
                pairs.extend((min(d, m), max(d, m)) for m in mem)
                mem.append(d)
                ts.append(int(aus) // 1000)
                if len(mem) > STREAM_BUCKET_CAP:
                    raise ValueError(
                        f"streaming_dedup_minhash_ttl: LSH bucket {key} "
                        f"exceeds {STREAM_BUCKET_CAP} members within one TTL "
                        "window — salt-split or pre-filter boilerplate"
                    )
        if store:
            state.update(
                (
                    list(store.keys()),
                    [len(v[0]) for v in store.values()],
                    [x for v in store.values() for x in v[0]],
                    [m for v in store.values() for m in v[1]],
                )
            )
            newest_ms = max(m for v in store.values() for m in v[1])
            # evict the whole shard once its newest member ages out (strictly
            # above the watermark, which Spark requires of event-time timers)
            state.setTimeoutTimestamp(
                max(newest_ms + ttl_s * 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        if pairs:
            yield pd.DataFrame(pairs, columns=["a", "b"], dtype="int64")
    return bucket_pairs if ttl_s is None else bucket_pairs_ttl


def _old_embedding_pair(ttl_s):
    def _bucket_arrivals(pdfs, ttl: bool):
        """One micro-batch's rows for this (band, shard) group, grouped by
        bucket in vec_id order: yields (sig, vec_ids int64 array, prefix
        bytes list[, arrival_us array]). Within-batch duplicate vec_ids are
        dropped here (first kept) — the emitted-pair multiset is order- and
        duplicate-independent, so grouping per bucket is exactly equivalent
        to the old one-arrival-at-a-time walk."""
        chunks = list(pdfs)
        if not chunks:
            return
        batch = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)).sort_values(
            "vec_id"
        )
        for sg, grp in batch.groupby("sig", sort=False):
            aids = grp["vec_id"].to_numpy(np.int64)
            if len(aids) > 1:
                keep = np.concatenate(([True], aids[1:] != aids[:-1]))
                if not keep.all():
                    grp = grp[keep]
                    aids = aids[keep]
            aprefs = [bytes(p) for p in grp["prefix"]]
            if ttl:
                yield int(sg), aids, aprefs, grp["arrival_us"].to_numpy(np.int64)
            else:
                yield int(sg), aids, aprefs, None

    def _emit_bucket(ids, prefs_m, aids, aprefs, out):
        """Insert one bucket's new arrivals and emit their candidate pairs,
        vectorized: every row of a (band, shard) group carries the same
        prefix width w = 2·band bytes, so member prefixes stack into ONE
        (n, w/2) uint16 matrix and the first-agreeing-band rule is a single
        numpy row-compare per arrival instead of an ``np.frombuffer`` per
        (arrival, member) pair (guide §4.2 — the per-pair loop measured
        ~2-3 s of every trigger at sf0.1). Emitted multiset is identical:
        a pair is emitted by the arrival processed later, iff no earlier
        band bucketed the two together — order-independent.

        Returns the kept-arrival boolean mask (replayed vec_ids dropped);
        mutates ids/prefs_m by appending the kept arrivals."""
        m = len(ids)
        if m:
            ids_arr = np.asarray(ids, dtype=np.int64)
            newmask = ~np.isin(aids, ids_arr)
            if not newmask.any():
                return newmask
            if not newmask.all():
                aids = aids[newmask]
                aprefs = [p for p, kp in zip(aprefs, newmask) if kp]
        else:
            ids_arr = np.empty(0, dtype=np.int64)
            newmask = np.ones(len(aids), dtype=bool)
        k = len(aids)
        w = len(aprefs[0]) // 2  # prefix lanes = band index, group-constant
        ids_all = np.concatenate((ids_arr, aids))
        if w:
            P = np.empty((m + k, w), dtype="<u2")
            if m:
                P[:m] = np.frombuffer(b"".join(prefs_m), dtype="<u2").reshape(m, w)
            P[m:] = np.frombuffer(b"".join(aprefs), dtype="<u2").reshape(k, w)
        for i in range(k):
            base = m + i
            if not base:
                continue
            if w:
                others = ids_all[:base][~(P[:base] == P[base]).any(axis=1)]
            else:
                others = ids_all[:base]
            if others.size:
                d = ids_all[base]
                out.append(
                    np.stack((np.minimum(others, d), np.maximum(others, d)), axis=1)
                )
        ids.extend(int(x) for x in aids)
        prefs_m.extend(aprefs)
        return newmask

    def _pairs_df(out):
        cat = np.concatenate(out)
        return pd.DataFrame({"a": cat[:, 0], "b": cat[:, 1]})

    def bucket_pairs(key, pdfs, state):
        store: dict[int, tuple[list[int], list[bytes]]] = {}
        if state.exists:
            sigs_s, cnts, ids_s, prefs = state.get
            off = 0
            for sg, c in zip(sigs_s, cnts):
                store[int(sg)] = (
                    [int(x) for x in ids_s[off : off + c]],
                    [bytes(p) for p in prefs[off : off + c]],
                )
                off += c
        out: list = []
        for sg, aids, aprefs, _ in _bucket_arrivals(pdfs, ttl=False):
            ids, prefs_m = store.setdefault(sg, ([], []))
            _emit_bucket(ids, prefs_m, aids, aprefs, out)
            if len(ids) > STREAM_BUCKET_CAP:
                raise ValueError(
                    f"streaming_dedup_embedding: LSH bucket {key} exceeds "
                    f"{STREAM_BUCKET_CAP} members — raise CLUSTER_LSH_BITS "
                    "or pre-filter degenerate embeddings"
                )
        state.update(
            (
                list(store.keys()),
                [len(v[0]) for v in store.values()],
                [x for v in store.values() for x in v[0]],
                [p for v in store.values() for p in v[1]],
            )
        )
        if out:
            yield _pairs_df(out)

    def bucket_pairs_ttl(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        store: dict[int, tuple[list[int], list[bytes], list[int]]] = {}
        if state.exists:
            sigs_s, cnts, ids_s, prefs, mts = state.get
            off = 0
            for sg, c in zip(sigs_s, cnts):
                store[int(sg)] = (
                    [int(x) for x in ids_s[off : off + c]],
                    [bytes(p) for p in prefs[off : off + c]],
                    [int(m) for m in mts[off : off + c]],
                )
                off += c
        cutoff_ms = state.getCurrentWatermarkMs() - ttl_s * 1000
        for sg in list(store):
            ids, prefs_m, ts = store[sg]
            keep = [
                (d, p, m) for d, p, m in zip(ids, prefs_m, ts) if m > cutoff_ms
            ]
            if keep:
                store[sg] = (
                    [d for d, _, _ in keep],
                    [p for _, p, _ in keep],
                    [m for _, _, m in keep],
                )
            else:
                del store[sg]
        out: list = []
        for sg, aids, aprefs, aus in _bucket_arrivals(pdfs, ttl=True):
            ids, prefs_m, ts = store.setdefault(sg, ([], [], []))
            newmask = _emit_bucket(ids, prefs_m, aids, aprefs, out)
            ts.extend(int(x) // 1000 for x in aus[newmask])
            if len(ids) > STREAM_BUCKET_CAP:
                raise ValueError(
                    f"streaming_dedup_embedding_ttl: LSH bucket {key} "
                    f"exceeds {STREAM_BUCKET_CAP} members within one TTL "
                    "window — raise CLUSTER_LSH_BITS or pre-filter"
                )
        if store:
            state.update(
                (
                    list(store.keys()),
                    [len(v[0]) for v in store.values()],
                    [x for v in store.values() for x in v[0]],
                    [p for v in store.values() for p in v[1]],
                    [m for v in store.values() for m in v[2]],
                )
            )
            newest_ms = max(m for v in store.values() for m in v[2])
            state.setTimeoutTimestamp(
                max(newest_ms + ttl_s * 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        if out:
            yield _pairs_df(out)

    return bucket_pairs if ttl_s is None else bucket_pairs_ttl


class FakeGroupState:
    """Spark's GroupState contract as the dedups use it: ``get`` hands out
    a copy of the stored row, the timer is cleared on every invocation,
    a timer must lie above the watermark and needs an event-time timeout,
    and an un-watermarked (NoTimeout) stream has no watermark to read."""

    def __init__(self, value, timed_out, watermark_ms, event_timeout):
        self.value = value
        self.hasTimedOut = timed_out
        self.timeout = None
        self._wm = watermark_ms
        self._event_timeout = event_timeout

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        if self.value is None:
            raise ValueError("state has no value")
        return copy.deepcopy(self.value)

    def update(self, value):
        self.value = tuple(copy.deepcopy(list(value)))

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):  # noqa: N802
        if self._wm is None:
            raise RuntimeError("no watermark on this stream")
        return self._wm

    def setTimeoutTimestamp(self, ts):  # noqa: N802
        if not self._event_timeout:
            raise RuntimeError("timer without an event-time timeout")
        if ts <= self.getCurrentWatermarkMs():
            raise ValueError("timer at or below the watermark")
        self.timeout = ts


def _replay(fn, triggers, event_timeout):
    """Run ``fn`` over ``triggers`` — (watermark ms, {key: [chunk, ...]})
    each — as Spark's per-key operator would: keys with data are invoked
    with their chunks; under an event-time timeout, keys without data
    whose timer lies below the watermark are invoked timed out. Returns,
    per trigger, the calls made, the rows each emitted, and every key's
    state row and timer afterwards."""
    store: dict = {}  # key -> (state row, timer)
    log = []
    for wm, data in triggers:
        calls = [(k, data[k], False) for k in sorted(data)]
        if event_timeout:
            calls += [
                (k, [], True)
                for k in sorted(store)
                if k not in data and store[k][1] is not None and store[k][1] < wm
            ]
        emitted = {}
        for key, chunks, timed_out in calls:
            state = FakeGroupState(
                store.get(key, (None, None))[0], timed_out, wm, event_timeout
            )
            emitted[(key, timed_out)] = [
                tuple(int(x) for x in row)
                for out in fn(key, iter(chunks), state)
                for row in out.itertuples(index=False)
            ]
            if state.value is None:
                store.pop(key, None)
            else:
                store[key] = (state.value, state.timeout)
        log.append((emitted, copy.deepcopy(store)))
    return log


# six triggers one second of arrivals apart; with a 2 s TTL, members age
# out after two triggers and the shard that goes idle after trigger 1
# times out in trigger 5 (its timer is newest arrival + TTL + 1 ms, and a
# timer fires once the watermark passes it)
N_TRIGGERS = 6
TTL_S = 2
IDLE_AFTER = 1
ROWS = 12  # per key and trigger


def _watermark(t, ttl_s):
    # the previous trigger's newest arrival (a 0 s watermark delay), so the
    # TTL cutoff lands exactly on a member's arrival
    return None if ttl_s is None else max(0, (t - 1) * 1000 + ROWS - 1)


def _triggers(make_rows, keys, ttl_s, seed):
    rng = np.random.default_rng(seed)
    triggers = []
    for t in range(N_TRIGGERS):
        data = {}
        for key in keys:
            if key == keys[-1] and t > IDLE_AFTER:
                continue  # the idle shard
            pdf = make_rows(rng, key, t)
            if ttl_s is not None:
                pdf["arrival_us"] = (t * 1000 + np.arange(len(pdf))) * 1000
            # two Arrow chunks for one group, as maxRecordsPerBatch splits
            cut = len(pdf) // 2
            data[key] = [pdf.iloc[:cut], pdf.iloc[cut:]]
        triggers.append((_watermark(t, ttl_s), data))
    return triggers


def _minhash_rows(rng, key, t):
    # few bucket hashes -> collisions; ids from earlier triggers -> replays
    return pd.DataFrame(
        {
            "bh": rng.integers(0, 4, size=ROWS).astype("int64") + 100 * key[0],
            "doc_id": rng.integers(0, 10 * (t + 1), size=ROWS).astype("int64"),
        }
    )


def _embedding_rows(rng, key, t):
    # prefix width is 2 bytes per earlier band; two lane values per band
    # make some pairs agree in an earlier band (not emitted here) and
    # others not (emitted)
    lanes = rng.integers(0, 2, size=(ROWS, key[0])).astype("<u2")
    return pd.DataFrame(
        {
            "vec_id": rng.integers(0, 10 * (t + 1), size=ROWS).astype("int64"),
            "sig": rng.integers(0, 3, size=ROWS).astype("int64"),
            "prefix": [row.tobytes() for row in lanes],
        }
    )


CASES = {
    "minhash": (_minhash_bucket_fn, _old_minhash_pair, _minhash_rows),
    "embedding": (_embedding_bucket_fn, _old_embedding_pair, _embedding_rows),
}


@pytest.mark.parametrize("ttl_s", [None, TTL_S], ids=["no_timeout", "ttl"])
@pytest.mark.parametrize("dedup", sorted(CASES))
def test_folded_state_fn_matches_the_old_pair(dedup, ttl_s):
    new_fn, old_fn, make_rows = CASES[dedup]
    keys = [(0, 0), (2, 1), (3, 0)]  # (band, shard); the last goes idle
    for seed in range(3):
        triggers = _triggers(make_rows, keys, ttl_s, seed)
        got = _replay(new_fn(ttl_s), triggers, ttl_s is not None)
        want = _replay(old_fn(ttl_s), triggers, ttl_s is not None)
        assert got == want
    # the replay reached every branch the TTL adds
    pairs = [r for emitted, _ in want for rows in emitted.values() for r in rows]
    assert pairs
    if ttl_s is not None:
        timed_out = [k for emitted, _ in want for k in emitted if k[1]]
        assert timed_out == [(keys[-1], True)]
        oldest = [min(states[keys[0]][0][-1]) for _, states in want]
        assert oldest[-1] > oldest[0], "no member aged out"


def test_over_cap_bucket_raises_in_both_modes(monkeypatch):
    from flink_notebooks_spark.queries import streaming

    monkeypatch.setattr(streaming, "STREAM_BUCKET_CAP", 3)
    pdf = pd.DataFrame({"bh": [7] * 4, "doc_id": [1, 2, 3, 4]})
    for ttl_s in (None, TTL_S):
        if ttl_s is not None:
            pdf["arrival_us"] = 0
        state = FakeGroupState(None, False, 0 if ttl_s else None, bool(ttl_s))
        with pytest.raises(ValueError, match="exceeds 3 members"):
            list(_minhash_bucket_fn(ttl_s)((0, 0), iter([pdf]), state))
