"""Structured-Streaming correctness queries.

The reference's streaming surface is Flink SQL run in streaming runtime mode
(reference: examples/01-datagen-streaming.flinknb:12,47 — watermarked source,
tumbling-window agg; SURVEY.md §2.8). Here the same semantics run as real
Structured Streaming jobs: ``readStream`` over the events parquet, watermark,
event-time window aggregation / streaming dedup, memory sink (the notebook
result-delivery analog, SURVEY.md T4), ``Trigger.AvailableNow`` so the run is
bounded and deterministic — which also makes the result oracle-checkable
against plain batch SQL.

At production scale the memory sink is only ever the notebook *display* path
(capped rows, like the reference's 10k-row client cap); pipelines write to
files/Kafka via ``writeStream`` with checkpointing (see streaming/runner.py).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import events_stream_schema, load_table, stream_ts_cols
from ..session import scoped_shuffle_partitions, tune
from ._registry import query, sql_dsum
from .relational import SEQ_GROUP_ORACLE


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream with event-time columns.

    The readStream schema is footer-driven (io.events_stream_schema) so both
    testdata vintages — µs timestamps and raw-nano longs — replay correctly;
    io.stream_ts_cols normalizes to ``ev_time`` (TimestampType) + ``ts_us``
    (epoch-µs bigint), matching the batch/oracle readers exactly.
    maxFilesPerTrigger=1 keeps micro-batches deterministic.
    """
    tune(spark)
    # the file stream source wants a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(events_stream_schema(f"{sf_dir}/events.parquet"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return stream_ts_cols(raw)


def _run_to_memory(df: DataFrame, mode: str, partitions: int = 8) -> DataFrame:
    """Run a bounded streaming query into a memory sink; return the table.

    Stateful streaming instantiates one state store per shuffle partition;
    for these bounded single-file replays 64 stores are pure overhead, so the
    partition count is scoped down around query start (the conf is captured
    at start, so restoring it immediately after is safe). On a real cluster
    size this to the executor count via spark.sql.shuffle.partitions.

    The checkpoint is explicit and UNIQUE under the ephemeral root
    (io.ephemeral_dir): these replays used a throwaway temp checkpoint
    anyway, and the state-store/WAL commits against it were ~25% of every
    trigger on slow-metadata disks (round-14 probe; guide §6). A unique dir
    per start also means a replay can never resume a previous run's offsets.
    """
    from ..io import ephemeral_dir

    spark = df.sparkSession
    name = "strm_" + uuid.uuid4().hex[:12]
    with scoped_shuffle_partitions(spark, partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ephemeral_dir("ckpt_mem_"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(name)


@query(
    "streaming_tumble_window",
    oracle=f"""
    SELECT CAST(FLOOR(EXTRACT(EPOCH FROM ts) / 10) AS BIGINT) * 10 AS w,
           event_type, COUNT(*) AS c, {sql_dsum("value", "sv")}
    FROM events GROUP BY 1, 2 ORDER BY w, event_type
    """,
)
def streaming_tumble_window(spark, sf_dir):
    """10s tumbling event-time window with a 5s watermark — the reference's
    flagship streaming query (examples/01-datagen-streaming.flinknb:47,
    watermark declared at :12) — executed as a real streaming job and
    verified against the batch oracle (same bucketing as q13).

    Complete output mode: every window is emitted at the end of the bounded
    run, so the result equals the batch aggregation.
    """
    stream = _read_events_stream(spark, sf_dir).withWatermark("ev_time", "5 seconds")
    agg = (
        stream.groupBy(F.window("ev_time", "10 seconds").alias("win"), "event_type")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv_dec"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        # window.start is TimestampType (UTC instant) → epoch seconds
        F.unix_timestamp("win.start").alias("w"),
        "event_type",
        "c",
        F.col("sv_dec").cast("double").alias("sv"),
    ).orderBy("w", "event_type")


@query(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
)
def streaming_dedup_keys(spark, sf_dir):
    """Streaming deduplication (SURVEY.md W8 — Flink's ROW_NUMBER()=1 dedup
    idiom) via ``dropDuplicates`` on a streaming DataFrame. Emits the first
    row per key; projecting the key columns makes the result deterministic
    (= DISTINCT) regardless of arrival order.
    """
    stream = _read_events_stream(spark, sf_dir)
    dedup = stream.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    out = _run_to_memory(dedup, "append")
    return out.orderBy("user_id", "event_type")


SESSION_GAP_S = 1800  # 30 min, matches the batch events_sessionize analog


@query(
    "streaming_session_window",
    oracle=f"""
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
    f AS (SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) > {SESSION_GAP_S * 1_000_000}
                    THEN 1 ELSE 0 END AS nf FROM b),
    s AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
    SELECT user_id, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) + {SESSION_GAP_S * 1_000_000} AS end_us
    FROM s GROUP BY user_id, sid ORDER BY user_id, start_us
    """,
)
def streaming_session_window(spark, sf_dir):
    """Native session windows (SURVEY.md W3): ``F.session_window`` with a 30
    min gap on a streaming DataFrame — Flink's SESSION(...) group window.
    session_window.end = last event + gap, mirrored in the oracle."""
    stream = _read_events_stream(spark, sf_dir).withWatermark("ev_time", "5 seconds")
    agg = stream.groupBy(
        F.session_window("ev_time", f"{SESSION_GAP_S} seconds").alias("win"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        "n_events",
        F.unix_micros("win.start").alias("start_us"),
        F.unix_micros("win.end").alias("end_us"),
    ).orderBy("user_id", "start_us")


TEN_MIN_S = 600


@query(
    "streaming_interval_join",
    oracle=f"""
    SELECT p.event_id AS p_id, COUNT(*) AS n_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts) - {TEN_MIN_S * 1_000_000}
     AND epoch_us(c.ts) < epoch_us(p.ts)
    GROUP BY p.event_id ORDER BY p_id
    """,
)
def streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join (SURVEY.md J6): two watermarked streams
    joined on key + event-time range — Flink's interval join, native in
    Structured Streaming. The joined pairs land in the sink; the count-per-
    purchase is display-side post-processing on the sink table."""
    p = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("ev_time").alias("p_time"))
        .withWatermark("p_time", "10 seconds")
    )
    c = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_uid"), F.col("ev_time").alias("c_time"))
        .withWatermark("c_time", "10 seconds")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("c_time") >= F.col("p_time") - F.expr(f"INTERVAL {TEN_MIN_S} SECONDS"))
        & (F.col("c_time") < F.col("p_time")),
        "inner",
    )
    # 4 state partitions measured fastest for this DOUBLE-stateful plan
    # (two watermarked scans + join state; r6 median-of-3: 2.16 s vs
    # 2.62 s at 8): per-partition per-trigger machinery dominates below
    # core count. At cluster scale size to executors via shuffle conf.
    out = _run_to_memory(joined.select("p_id"), "append", partitions=4)
    return out.groupBy("p_id").agg(F.count("*").alias("n_clicks")).orderBy("p_id")


# shared by the NoTimeout form below and the TTL'd form in streaming3.py —
# the two must verify against the SAME ground truth for their output-parity
# claim to mean anything
SESSIONIZE_ORACLE = """
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
    f AS (SELECT *, CASE WHEN ts_us - LAG(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000
                    THEN 1 ELSE 0 END AS nf FROM b),
    s AS (SELECT *, CAST(1 + SUM(nf) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f)
    SELECT user_id, sid, COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
    FROM s GROUP BY user_id, sid ORDER BY user_id, sid
    """


@query("streaming_stateful_sessionize", oracle=SESSIONIZE_ORACLE)
def streaming_stateful_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (SURVEY.md T9/W9 class):
    ``apply_keyed_state`` sessionization — arbitrary per-key state, the
    escape hatch for operators Spark SQL can't express. The bounded
    AvailableNow replay delivers each key in one batch, so sessions close
    deterministically at end-of-input (an unbounded run would emit on
    watermark timeouts instead; same state logic)."""
    import pandas as pd

    stream = _read_events_stream(spark, sf_dir).select("user_id", "event_id", "ts_us")

    gap = 1_800_000_000

    def sessionize(key, pdfs, state):
        rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        sessions, sid, n, start, last = [], 0, 0, None, None
        for ts in rows["ts_us"]:
            if last is None or ts - last > gap:
                if n:
                    sessions.append((key[0], sid, n, start, last))
                sid, n, start = sid + 1, 0, ts
            n += 1
            last = ts
        if n:
            sessions.append((key[0], sid, n, start, last))
        yield pd.DataFrame(
            sessions, columns=["user_id", "sid", "n_events", "start_us", "end_us"]
        )

    from ..operators.shard_state import apply_keyed_state

    out_schema = "user_id long, sid long, n_events long, start_us long, end_us long"
    sessions = apply_keyed_state(
        stream,
        ["user_id"],
        sessionize,
        out_schema,
        "last_us long",  # state schema (persisted key state across batches)
        "update",
        "none",
        shards=_keyed_shards(spark, sf_dir),
    )
    out = _run_to_memory(sessions, "update")
    return out.orderBy("user_id", "sid")


# synthetic arrival clock for tables that carry no event time (documents,
# embeddings): file i arrives at ARRIVAL_T0_S + i*step. In production the
# ingestion timestamp rides the record; the staged replay synthesizes it so
# the TTL'd dedup variants have a watermark to evict against.
ARRIVAL_T0_S = 1_000_000

# staged-replay input files, memoized per (sf_dir, table, shape): see
# _staged_table_stream and streaming_cdc_apply — immutable directories, not
# Spark caches (clearCache() cannot drop them), so not a session_cache
_STAGING_MEMO: dict = {}


def _staged_table_stream(
    spark,
    sf_dir,
    table: str,
    sort_col: str,
    schema: str,
    n_files: int = 4,
    staging_dir: str | None = None,
    arrival_step_s: int | None = None,
) -> DataFrame:
    """A table replayed as an arriving corpus: ``sort_col``-ordered slices
    across ``n_files`` files (mtime-ordered), one micro-batch each — so
    streaming dedup state genuinely carries across triggers instead of
    collapsing into a single batch. Columns are taken from ``schema``.
    ``staging_dir`` pins the staging path (idempotently populated) so a
    restarted query can resume from a checkpoint that references it.
    ``arrival_step_s`` stamps every row of file i with a synthetic arrival
    time ``arrival_us = (ARRIVAL_T0_S + i*step) * 1e6`` (appended to the
    schema) — the ingestion-time stand-in the TTL'd variants watermark on.

    The staged files are a pure deterministic function of
    ``(sf_dir, table, schema, n_files, arrival_step_s)``, so when no
    explicit ``staging_dir`` is pinned they are staged ONCE per process
    under the ephemeral root and reused by later calls (bench reps): the
    streaming run itself always starts fresh (new checkpoint, new state) —
    only the immutable input files are shared (~0.12-0.24s of driver-side
    pyarrow read+sort+write per call otherwise, and the file-source listing
    hits the RAM fs instead of disk)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..engine.sql_text import split_top
    from ..io import ephemeral_dir

    tune(spark)
    cols = [c.strip().split()[0] for c in split_top(schema)]
    if arrival_step_s is not None:
        schema = schema + ", arrival_us bigint"
    memo_key = None
    if staging_dir is None:
        memo_key = (sf_dir, table, schema, n_files, arrival_step_s)
        tmp = _STAGING_MEMO.get(memo_key)
        if tmp is None:
            tmp = ephemeral_dir(f"fns-{table}stream-")
    else:
        tmp = staging_dir
        os.makedirs(tmp, exist_ok=True)
    staged = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    if staged:
        # reused staging (pinned staging_dir) must match the requested shape:
        # silently reading files staged WITHOUT arrival_us under a schema
        # that declares it would fill nulls and crash the TTL state op
        have = "arrival_us" in pq.read_schema(f"{tmp}/{sorted(staged)[0]}").names
        if have != (arrival_step_s is not None):
            raise ValueError(
                f"staging dir {tmp} was populated "
                f"{'with' if have else 'without'} arrival_us but this call "
                f"requests the {'non-' if have else ''}TTL shape — use a "
                "separate staging_dir per variant"
            )
    else:
        tbl = pq.read_table(f"{sf_dir}/{table}.parquet", columns=cols).sort_by(
            sort_col
        )
        step = -(-tbl.num_rows // n_files)
        for i in range(n_files):
            sl = tbl.slice(i * step, step)
            if sl.num_rows == 0:
                break
            if arrival_step_s is not None:
                aus = (ARRIVAL_T0_S + i * arrival_step_s) * 1_000_000
                sl = sl.append_column(
                    "arrival_us", pa.array([aus] * sl.num_rows, pa.int64())
                )
            p = f"{tmp}/{i:02d}_{table}.parquet"
            pq.write_table(sl, p)
            os.utime(p, (i, i))  # the file source orders by modification time
    if memo_key is not None:
        # memoize only once fully staged — a crash mid-staging must not
        # poison later calls with a half-staged replay
        _STAGING_MEMO[memo_key] = tmp
    # one file per trigger = ONE input partition per micro-batch; fan the
    # rows out before the (expensive) signature projection so it runs on
    # every core instead of one — the raw row exchange is trivia next to
    # per-row minhash/hyperplane signatures. The fanout must track the
    # machine, not a constant: the original hard-coded 8 left 3/4 of a
    # 32-core host idle through the heaviest stage of every trigger
    # (round-14 probe: the 1250-doc signature projection measured ~1.5 s at
    # 8 tasks vs ~0.4 s at defaultParallelism). The STATE exchange further
    # down is scoped separately (_run_to_memory's partitions arg) — this
    # count only spreads the stateless per-row compute.
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
        .repartition(spark.sparkContext.defaultParallelism)
    )


# Streaming near-dup state cap per LSH bucket: mirrors the batch path's loud
# >100k hot-bucket failure (queries/llm.py) — a bucket this hot means the
# band hash has collapsed (near-constant content) and silent O(members²)
# pair emission would follow.
STREAM_BUCKET_CAP = 100_000
# State-key granularity: buckets are sharded pmod(bh, shards) so one Python
# state-group call covers a shard of buckets, not a single bucket (see the
# grouping comment in _minhash_pair_stream). The shard
# count is CORPUS-derived (like llm.lsh_bits_for), never the core count:
# per-shard members ≈ live docs / shards, so this target bounds the state
# blob one group call round-trips while keeping Python invocations per
# trigger (bands × shards) as low as that bound allows — the fixed
# per-group protocol cost (Arrow round-trip + state Row conversion) was
# measured at ~2-3 ms, and a fixed shards=8 spent ~20% of the whole sf0.1
# entry on it (r15 A/B: shards 8 → size-derived on the same data:
# embedding cand stream 14.2 → 11.4 s, minhash 12.4 → 10.8 s).
STREAM_SHARD_TARGET_MEMBERS = 4096


def stream_bucket_shards(n_rows: int) -> int:
    """Shards for a corpus of ``n_rows`` live documents: smallest count
    that keeps expected members per (band, shard) group at or under
    ``STREAM_SHARD_TARGET_MEMBERS`` (every band sees each live doc once).
    Emitted pairs are shard-independent — sharding only sets state/call
    granularity — so this dial never changes results, only constants."""
    return max(1, -(-int(n_rows) // STREAM_SHARD_TARGET_MEMBERS))


def _table_rowcount(spark, sf_dir, table: str) -> int:
    """Row count of a corpus table — parquet footer when the path is a
    single file (the fixture layout), else a metadata-only Spark count
    (mirrors llm._embeddings_rowcount)."""
    try:
        import pyarrow.parquet as pq

        return pq.read_metadata(f"{sf_dir}/{table}.parquet").num_rows
    except Exception:  # noqa: BLE001 - directory layout or remote store
        return load_table(spark, sf_dir, table).count()


def _keyed_shards(spark, sf_dir, table: str = "events") -> int:
    """Shard count for the per-user/per-key streaming state ops run
    shard-keyed (operators/shard_state.py): ``table``'s ROWCOUNT is a
    conservative upper bound on the live key domain, so per-shard state
    stays bounded at any scale (shards ≥ keys/SHARD_TARGET_KEYS), while a
    notebook-scale replay collapses to ~cluster-parallelism shards — one
    Python state call per core per trigger instead of one per key (~1.5k
    user keys at sf0.1; the fixed per-call protocol cost was the dominant
    term of every user-keyed entry, guide §4). Overshooting the key domain
    is safe: empty shards are never invoked, so calls per trigger ≤
    min(shards, keys with data) — never more than per-key grouping paid."""
    from ..operators.shard_state import shards_for_keys

    return shards_for_keys(
        _table_rowcount(spark, sf_dir, table),
        spark.sparkContext.defaultParallelism,
    )


def _minhash_bucket_fn(ttl_s: int | None):
    """The state function of ``_minhash_pair_stream``'s (band, shard)
    groups. State packs the shard's buckets as parallel arrays: bucket
    hashes, per-bucket member counts, the flattened members and, with
    ``ttl_s``, each member's arrival ms (``mts``). With a TTL, members
    older than ``watermark − ttl`` are pruned at every touch, a shard whose
    members all aged out removes its state row, and an idle shard is
    evicted whole on event-time timeout: state is O(live window)."""
    from itertools import repeat

    import pandas as pd

    ttl = ttl_s is not None
    width = 2 if ttl else 1  # member columns: ids[, mts]
    op = "streaming_dedup_minhash" + ("_ttl" if ttl else "")
    window = " within one TTL window" if ttl else ""

    def bucket_pairs(key, pdfs, state):
        if state.hasTimedOut:  # TTL only: an idle shard, every member stale
            state.remove()
            return
        store: dict[int, tuple[list[int], ...]] = {}
        if state.exists:
            bhs, cnts, *cols = state.get
            off = 0
            for h, c in zip(bhs, cnts):
                store[int(h)] = tuple(
                    [int(x) for x in col[off : off + c]] for col in cols
                )
                off += c
        if ttl:
            cutoff_ms = state.getCurrentWatermarkMs() - ttl_s * 1000
            for h, (mem, ts) in list(store.items()):
                keep = [(d, m) for d, m in zip(mem, ts) if m > cutoff_ms]
                if keep:
                    store[h] = ([d for d, _ in keep], [m for _, m in keep])
                else:
                    del store[h]
        pairs = []
        for pdf in pdfs:
            arrivals = pdf["arrival_us"] if ttl else repeat(None)
            for bh, d, aus in zip(pdf["bh"], pdf["doc_id"], arrivals):
                cols = store.setdefault(int(bh), ([], []) if ttl else ([],))
                mem, d = cols[0], int(d)
                if d in mem:  # replayed arrival
                    continue
                pairs.extend((min(d, m), max(d, m)) for m in mem)
                mem.append(d)
                if ttl:
                    cols[1].append(int(aus) // 1000)
                if len(mem) > STREAM_BUCKET_CAP:
                    raise ValueError(
                        f"{op}: LSH bucket {key} exceeds {STREAM_BUCKET_CAP} "
                        f"members{window} — near-constant content has "
                        "collapsed this band; salt-split or pre-filter "
                        "boilerplate"
                    )
        if store:
            vals = store.values()
            state.update(
                (list(store), [len(v[0]) for v in vals])
                + tuple([x for v in vals for x in v[i]] for i in range(width))
            )
            if ttl:
                # evict the whole shard once its newest member ages out
                # (strictly above the watermark, as Spark requires of
                # event-time timers)
                newest_ms = max(m for v in vals for m in v[1])
                state.setTimeoutTimestamp(
                    max(newest_ms + ttl_s * 1000 + 1, state.getCurrentWatermarkMs() + 1)
                )
        else:
            state.remove()
        if pairs:
            yield pd.DataFrame(pairs, columns=["a", "b"], dtype="int64")

    return bucket_pairs


@query("streaming_dedup_minhash")
def streaming_dedup_minhash(spark, sf_dir):
    """Streaming MinHash-LSH near-dedup: detect each arriving document's
    near-duplicates among everything seen SO FAR — the online form of
    ``dedup_minhash_lsh`` (rows-only like it: LSH candidates are
    probabilistic; tests pin exact parity with the batch operator).

    Plan: per-row MinHash(128) signatures as pure Catalyst expressions
    (``array_min`` over a ``transform`` lambda — identical hash derivation
    to the batch explode/min-reduce, so signatures are bit-equal), explode
    to 32 (band, band-hash) keys, then ONE keyed-state operator
    keyed by bucket: state is the member doc_id list (longs only — never
    text or signatures), each new arrival emits candidate pairs against
    the stored members. Exact-Jaccard verification is a STREAM-STATIC join
    against the corpus shingle sets, so candidate state stays compact and
    verification never enters the state store.

    100 TB notes: state size = corpus doc-count × 32 bands × 8 bytes,
    hash-partitioned across executors by bucket key; the bucket cap raises
    loudly at {cap} members (the batch path's hot-bucket contract — at
    scale, salt-split or drop boilerplate buckets upstream). Bounded replay
    uses NoTimeout; the production (unbounded-stream) form is
    ``streaming_dedup_minhash_ttl`` (queries/streaming3.py), which TTLs the
    bucket state to the live ingestion window via EventTimeTimeout.
    Duplicate candidate emissions (same pair caught by several
    bands/triggers) are collapsed after the sink — the verified rows are
    identical, so DISTINCT is exact.""".format(cap=STREAM_BUCKET_CAP)
    out = _run_to_memory(_minhash_pair_stream(spark, sf_dir), "append")
    return out.distinct().orderBy("a", "b")


def _minhash_pair_stream(
    spark, sf_dir, staging_dir: str | None = None, ttl_s: int | None = None
):
    """``ttl_s=None`` → the session's ``table.exec.state.ttl`` when set
    through the engine (io.session_state_ttl_s), else the NoTimeout
    bounded-replay form. With a TTL, each
    bucket member carries its arrival time: members older than
    ``watermark − ttl`` are pruned at every touch (so new docs only pair
    against the live window), a shard whose members ALL aged out removes its
    state row, and a fully idle shard is evicted whole via
    ``EventTimeTimeout`` — state is O(docs per TTL window), Flink's
    ``table.exec.state.ttl`` on its dedup operators. Eviction is one batch
    delayed (the watermark is the previous batch's), same as Flink."""
    from ..io import session_state_ttl_s
    from ..operators.shard_state import apply_keyed_state
    from .llm import BAND_ROWS, N_HASHES, NGRAMS, WORDS, shingled_docs

    if ttl_s is None:
        ttl_s = session_state_ttl_s(spark)
    n_bands = N_HASHES // BAND_ROWS
    extra = () if ttl_s is None else ("arrival_us",)
    docs = _staged_table_stream(
        spark, sf_dir, "documents", "doc_id", "doc_id bigint, text string",
        staging_dir=staging_dir,
        arrival_step_s=None if ttl_s is None else 1,
    )
    shingled = docs.select(
        "doc_id",
        *extra,
        F.expr(NGRAMS.format(ws=WORDS, k=5)).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    # per-row MinHash: hash each shingle string once to a fixed-width long,
    # then fold the 128 signature mins in ONE `aggregate` expression — the
    # same two-level xxhash64 scheme as the batch operator (int seed, long
    # input), so signatures are bit-equal. One expression matters: 128
    # separate array_min(transform(...)) columns get projection-collapsed by
    # Catalyst, re-evaluating the shingle-hash transform 128× per row
    # (measured 8 ms/doc vs ~1.4 ms for the fold).
    sig_expr = (
        "aggregate(transform(shingles, s -> xxhash64(s)), "
        f"array_repeat(9223372036854775807, {N_HASHES}), "
        "(acc, x) -> transform(acc, (a, i) -> least(a, xxhash64(i, x))))"
    )
    # explode-of-singleton is the optimizer BARRIER: a Generate node
    # materializes `sig` once per row, so the band projection's four
    # element_at references read an attribute, not four copies of the fold
    sig = shingled.select(
        "doc_id", *extra, F.explode(F.array(F.expr(sig_expr))).alias("sig")
    )
    band_expr = (
        f"transform(sequence(0, {n_bands - 1}), b -> named_struct("
        "'band', b, 'bh', xxhash64("
        + ", ".join(
            f"element_at(sig, {BAND_ROWS}*b+{r + 1})" for r in range(BAND_ROWS)
        )
        + ")))"
    )
    bands = sig.select(
        "doc_id", *extra, F.explode(F.expr(band_expr)).alias("bb")
    ).select(
        "doc_id", *extra, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )

    # Group by (band, shard-of-bucket), NOT (band, bucket): Python is invoked
    # once PER GROUP per trigger, and (band, bucket) keys are ~1 group per
    # input row (measured ~2 ms/group ⇒ the state op dominated end-to-end).
    # The shard count is the granularity dial: groups per trigger ≤
    # bands × shards (Python overhead), while each group's state round-trip
    # covers its whole shard (state I/O per trigger grows from
    # O(touched buckets) toward O(all state) as shards shrink). It is
    # derived from the corpus size (stream_bucket_shards), so growth raises
    # shards to keep per-shard state bounded while a notebook-scale corpus
    # is not taxed bands×8 Python calls per trigger for state one call
    # could carry.
    shards = stream_bucket_shards(_table_rowcount(spark, sf_dir, "documents"))
    sharded = bands.withColumn(
        "shard", F.pmod("bh", F.lit(shards)).cast("int")
    )
    if ttl_s is not None:
        # the watermark ATTRIBUTE must reach the state op's input (Spark
        # tags the column, not just the plan), so it is declared on the
        # final pre-group projection — equivalent placement: everything
        # upstream is row-wise
        sharded = sharded.withColumn(
            "ev_time", F.timestamp_micros(F.col("arrival_us"))
        ).withWatermark("ev_time", "0 seconds")
    cand = apply_keyed_state(
        sharded,
        ["band", "shard"],
        _minhash_bucket_fn(ttl_s),
        "a long, b long",
        "bhs array<long>, cnts array<int>, members array<long>"
        + ("" if ttl_s is None else ", mts array<long>"),
        "append",
        "none" if ttl_s is None else "event",
    )
    # exact verification: STREAM-STATIC join against the corpus shingle sets
    # (same expressions as the batch _verify_pairs, minus the sort — ORDER BY
    # is a batch op, applied after the sink). The static sides are BROADCAST:
    # streaming micro-batch plans get no AQE, so an unhinted join sort-merges
    # the whole corpus EVERY trigger. Broadcast caches the shingle sets once
    # and reuses them across triggers — right up to notebook/dim-table scale;
    # when the corpus outgrows broadcast, route candidates to the sink and
    # verify in a batch join instead (candidates are the small side there).
    static = shingled_docs(spark, sf_dir).filter(F.size("shingles") > 0)
    sa = static.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sha"))
    sb = static.select(F.col("doc_id").alias("b"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter.cast("double") / (F.size("sha") + F.size("shb") - inter)
    verified = (
        cand.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .filter(jac >= 0.8)
        .select("a", "b", F.round(jac, 6).alias("jac"))
    )
    return verified


@query("streaming_dedup_embedding")
def streaming_dedup_embedding(spark, sf_dir):
    """Streaming embedding near-dup: each arriving vector's cosine-similar
    (≥ CLUSTER_SIM_T) partners among everything seen so far — the online
    form of the batch banded-hyperplane pipeline (`cluster_pairs_lsh_df`),
    rows-only like it; tests pin exact pair/sim parity.

    Same geometry end-to-end: identical (seed, dim)-derived hyperplanes in
    a streaming ``mapInPandas`` (signatures are bit-equal to batch), 80
    bands × 6 bits exploded to compact (vec_id, band, sig, prefix) rows,
    and ONE shard-keyed keyed-state operator whose state
    holds member ids + their packed earlier-band signatures. The batch
    path's FIRST-AGREEING-BAND rule runs inside the state op — a pair is
    emitted only by its earliest agreeing band, so no pair-keyed dedup
    shuffle and no duplicate exact verifications downstream (a near-dup
    pair agrees in many bands; naive emission would verify it up to
    80×). Exact fp64 cosine verification is a broadcast stream-static
    join — the fp64 corpus never enters the state store, matching the
    batch contract that only the signature stage touches embeddings."""
    out = _run_to_memory(_embedding_pair_stream(spark, sf_dir), "append")
    return out.distinct().orderBy("a", "b")


def _embedding_pair_stream(spark, sf_dir, ttl_s: int | None = None):
    """The unsinked verified-pair stream behind ``streaming_dedup_embedding``
    (+ its TTL'd form): the candidate stream plus the exact fp64 cosine
    verification joins. ``ttl_s=None`` → the session's
    ``table.exec.state.ttl`` when set through the engine
    (io.session_state_ttl_s), else NoTimeout bounded-replay state;
    with a TTL, bucket members carry arrival ms and are pruned past
    ``watermark − ttl``, empty shards drop their state row, idle shards
    evict whole on ``EventTimeTimeout`` — the same contract as
    ``_minhash_pair_stream``'s TTL mode."""
    from .llm import _DOT, _with_norm, CLUSTER_SIM_T

    cand = _embedding_cand_stream(spark, sf_dir, ttl_s)
    ea = _with_norm(load_table(spark, sf_dir, "embeddings"), "a")
    eb = _with_norm(load_table(spark, sf_dir, "embeddings"), "b")
    dot = F.expr(_DOT.format(a="emb_a", b="emb_b"))
    return (
        cand.join(F.broadcast(ea), "a")
        .join(F.broadcast(eb), "b")
        .withColumn("sim", dot / (F.col("norm_a") * F.col("norm_b")))
        .filter(F.col("sim") >= CLUSTER_SIM_T)
        .select("a", "b", F.round("sim", 6).alias("sim"))
    )


def _embedding_cand_stream(spark, sf_dir, ttl_s: int | None = None):
    """The candidate (a, b) pair stream: staged replay → hyperplane
    signatures → band/prefix rows → ONE shard-keyed stateful op (split from
    the verify joins so the stages can be measured independently)."""
    import numpy as np
    import pandas as pd

    from ..io import session_state_ttl_s
    from ..operators.shard_state import apply_keyed_state
    from .llm import CLUSTER_LSH_BANDS, hyperplane_signatures
    from .llm import _embeddings_rowcount, lsh_bits_for

    if ttl_s is None:
        ttl_s = session_state_ttl_s(spark)
    # adaptive bit count (same geometry as the batch twin, so the exact
    # batch-parity tests stay bit-equal): fixed bits make bucket occupancy
    # — and the per-arrival pair loop in bucket_pairs — grow linearly with
    # the corpus, turning the operator quadratic (measured in the r12
    # scale probe: 73x wall for 10x rows at 6 bits; ~8x after this change)
    n_vecs = _embeddings_rowcount(spark, sf_dir)
    bits, bands = lsh_bits_for(n_vecs), CLUSTER_LSH_BANDS
    shards = stream_bucket_shards(n_vecs)
    raw = _staged_table_stream(
        spark, sf_dir, "embeddings", "vec_id", "vec_id bigint, embedding array<float>",
        arrival_step_s=None if ttl_s is None else 1,
    )

    def signatures(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            sig_mat, sigpack = hyperplane_signatures(M, bits, bands)
            cols = {
                "vec_id": pdf["vec_id"],
                "sigs": list(sig_mat),
                "sigpack": sigpack,
            }
            if ttl_s is not None:
                cols["arrival_us"] = pdf["arrival_us"]
            yield pd.DataFrame(cols)

    sig_schema = "vec_id long, sigs array<long>, sigpack binary" + (
        "" if ttl_s is None else ", arrival_us long"
    )
    extra = () if ttl_s is None else ("arrival_us",)
    sigged = raw.mapInPandas(signatures, sig_schema)
    rows = sigged.select(
        "vec_id", F.posexplode("sigs").alias("band", "sig"), "sigpack", *extra
    ).select(
        "vec_id",
        "band",
        "sig",
        # earlier-band prefix only (2 bytes per band) — the state never
        # holds more signature payload than the dedup rule needs
        F.expr("substring(sigpack, 1, 2 * band)").alias("prefix"),
        F.pmod("sig", F.lit(shards)).cast("int").alias("shard"),
        *extra,
    )
    if ttl_s is not None:
        # watermark declared AFTER mapInPandas: the signature stage replaces
        # every attribute, so a pre-map watermark tag would not survive to
        # the state op's input (Spark requires the tagged column there)
        rows = rows.withColumn(
            "ev_time", F.timestamp_micros(F.col("arrival_us"))
        ).withWatermark("ev_time", "0 seconds")

    return apply_keyed_state(
        rows,
        ["band", "shard"],
        _embedding_bucket_fn(ttl_s),
        "a long, b long",
        "sigs array<long>, cnts array<int>, ids array<long>, prefs array<binary>"
        + ("" if ttl_s is None else ", mts array<long>"),
        "append",
        "none" if ttl_s is None else "event",
    )


def _embedding_bucket_fn(ttl_s: int | None):
    """The state function of ``_embedding_cand_stream``'s (band, shard)
    groups. State packs the shard's buckets as parallel arrays: bucket
    signatures, per-bucket member counts, the flattened member ids and
    earlier-band prefixes and, with ``ttl_s``, each member's arrival ms
    (``mts``) — pruned, emptied and evicted as in ``_minhash_bucket_fn``."""
    import numpy as np
    import pandas as pd

    ttl = ttl_s is not None
    width = 3 if ttl else 2  # member columns: ids, prefixes[, mts]
    op = "streaming_dedup_embedding" + ("_ttl" if ttl else "")
    window = " within one TTL window" if ttl else ""

    def _bucket_arrivals(pdfs):
        """One micro-batch's rows for this (band, shard) group, grouped by
        bucket in vec_id order: yields (sig, vec_ids int64 array, prefix
        bytes list, arrival_us array or None). Within-batch duplicate vec_ids are
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
            aus = grp["arrival_us"].to_numpy(np.int64) if ttl else None
            yield int(sg), aids, aprefs, aus

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

    def bucket_pairs(key, pdfs, state):
        if state.hasTimedOut:  # TTL only: an idle shard, every member stale
            state.remove()
            return
        store: dict[int, tuple[list, ...]] = {}
        if state.exists:
            sigs_s, cnts, *cols = state.get
            off = 0
            for sg, c in zip(sigs_s, cnts):
                store[int(sg)] = tuple(
                    [conv(x) for x in col[off : off + c]]
                    for conv, col in zip((int, bytes, int), cols)
                )
                off += c
        if ttl:
            cutoff_ms = state.getCurrentWatermarkMs() - ttl_s * 1000
            for sg, v in list(store.items()):
                keep = [i for i, m in enumerate(v[2]) if m > cutoff_ms]
                if keep:
                    store[sg] = tuple([col[i] for i in keep] for col in v)
                else:
                    del store[sg]
        out: list = []
        for sg, aids, aprefs, aus in _bucket_arrivals(pdfs):
            cols = store.setdefault(sg, ([], [], []) if ttl else ([], []))
            newmask = _emit_bucket(cols[0], cols[1], aids, aprefs, out)
            if ttl:
                cols[2].extend(int(x) // 1000 for x in aus[newmask])
            if len(cols[0]) > STREAM_BUCKET_CAP:
                raise ValueError(
                    f"{op}: LSH bucket {key} exceeds {STREAM_BUCKET_CAP} "
                    f"members{window} — raise CLUSTER_LSH_BITS or pre-filter "
                    "degenerate embeddings"
                )
        if store:
            vals = store.values()
            state.update(
                (list(store), [len(v[0]) for v in vals])
                + tuple([x for v in vals for x in v[i]] for i in range(width))
            )
            if ttl:
                newest_ms = max(m for v in vals for m in v[2])
                state.setTimeoutTimestamp(
                    max(newest_ms + ttl_s * 1000 + 1, state.getCurrentWatermarkMs() + 1)
                )
        else:
            state.remove()
        if out:
            cat = np.concatenate(out)
            yield pd.DataFrame({"a": cat[:, 0], "b": cat[:, 1]})

    return bucket_pairs


def _staged_events_stream(
    spark, sf_dir, with_value: bool = False, sentinel_gap_s: int = 3600
):
    """Stage the events table for a terminating streaming replay: the
    events file first, then a single far-future sentinel row on its own
    key (user_id=-1) — the bounded-input analog of Flink's end-of-input
    MAX_WATERMARK. Processing the sentinel advances the GLOBAL watermark
    past every real key's close_after deadline, so idle keys' held tail
    matches conclude in the final no-data batch. Shared by every
    streaming MATCH_RECOGNIZE query over the events table (and, with
    ``with_value=True``, the streaming OVER aggregations, which read the
    ``value`` measure column too).

    Staging is memoized per (sf_dir, with_value, sentinel_gap_s) — the
    staged dir is a symlink plus a one-row deterministic sentinel file, so
    bench reps reuse it; each replay still runs against a fresh checkpoint."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..io import ephemeral_dir

    tune(spark)
    events_path = f"{sf_dir}/events.parquet"
    memo_key = (sf_dir, with_value, sentinel_gap_s, "mrstage")
    tmp = _STAGING_MEMO.get(memo_key)
    if tmp is not None:
        raw = (
            spark.readStream.schema(events_stream_schema(events_path))
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        return (
            stream_ts_cols(raw)
            .withWatermark("ev_time", "0 seconds")
            .select(
                "user_id",
                "event_id",
                "ev_time",
                "ts_us",
                "event_type",
                *(["value"] if with_value else []),
            )
        )
    tmp = ephemeral_dir("fns-mrstream-")
    os.symlink(events_path, f"{tmp}/00_events.parquet")
    # order the replay: events file first, sentinel file second (the file
    # source orders by modification time)
    os.utime(f"{tmp}/00_events.parquet", (0, 0), follow_symlinks=False)
    # max event time from parquet row-group statistics — replay staging
    # only, no Spark job
    meta = pq.ParquetFile(events_path).metadata
    ts_idx = meta.schema.names.index("ts")
    max_ts = max(
        meta.row_group(g).column(ts_idx).statistics.max for g in range(meta.num_row_groups)
    )
    if hasattr(max_ts, "timestamp"):  # datetime stats (timestamp vintage)
        # the stats datetime is naive NTZ: pin it to UTC before epoch
        # conversion — bare .timestamp() would interpret it in the HOST
        # timezone and shift the sentinel by the UTC offset
        max_us = int(
            max_ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
        )
    else:  # raw-nano int stats
        max_us = int(max_ts) // 1000
    # default: one hour past the last real event; callers whose timers
    # anchor to wider windows (window Top-N's 6 h tumble) pass a gap that
    # clears every window end
    sentinel_us = max_us + sentinel_gap_s * 1_000_000
    schema_str = events_stream_schema(events_path)
    # the sentinel is its own key (user_id=-1): processing it advances the
    # GLOBAL watermark past every real key's close_after deadline, so idle
    # keys' held tail matches conclude in the final no-data batch
    if "ts timestamp" in schema_str:
        ts_arr = pa.array(
            [datetime.datetime.fromtimestamp(sentinel_us / 1e6, datetime.timezone.utc)
             .replace(tzinfo=None)],
            pa.timestamp("us"),
        )
    else:
        ts_arr = pa.array([sentinel_us * 1000], pa.int64())
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["__close__"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([""], pa.string()),
            }
        ),
        f"{tmp}/99_sentinel.parquet",
    )
    # memoize only once the dir is fully staged — a crash mid-staging must
    # not poison later calls with a half-staged replay
    _STAGING_MEMO[memo_key] = tmp

    raw = (
        spark.readStream.schema(schema_str)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
    )
    stream = (
        stream_ts_cols(raw)
        .withWatermark("ev_time", "0 seconds")
        .select(
            "user_id",
            "event_id",
            "ev_time",
            "ts_us",
            "event_type",
            *(["value"] if with_value else []),
        )
    )
    return stream


@query(
    "streaming_match_recognize",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ), nxt AS (
      SELECT l.user_id, l.rn AS lrn, l.ts_us AS start_us,
             (SELECT MIN(rn) FROM s x WHERE x.user_id = l.user_id
                AND x.rn > l.rn AND x.event_type <> 'click') AS nrn
      FROM s l WHERE l.event_type = 'view')
    SELECT n.user_id, n.start_us, p.ts_us AS end_us,
           (n.nrn - n.lrn - 1) AS n_clicks
    FROM nxt n JOIN s p ON p.user_id = n.user_id AND p.rn = n.nrn
    WHERE p.event_type = 'purchase' AND n.nrn - n.lrn >= 2
    ORDER BY n.user_id, n.start_us
    """,
)
def streaming_match_recognize(spark, sf_dir):
    """Streaming MATCH_RECOGNIZE (SURVEY.md W9 streaming): the q33
    view→click+→purchase funnel as a real streaming job over keyed state
    (operators/match_recognize.py match_recognize_stream). Matches emit in
    append mode once a mature row closes them; the replay stages the events
    file plus a single far-future sentinel row — the bounded-input analog of
    Flink's end-of-input MAX_WATERMARK — so the watermark passes every real
    event and idle keys' close_after deadlines conclude tail matches.
    Verified against the same window-function oracle as batch q33."""
    from ..operators.match_recognize import match_recognize_stream

    stream = _staged_events_stream(spark, sf_dir)
    matched = match_recognize_stream(
        stream,
        """
        PARTITION BY user_id
        ORDER BY ev_time, event_id
        MEASURES A.ts_us AS start_us, LAST(C.ts_us) AS end_us,
                 COUNT(B.*) AS n_clicks
        PATTERN (A B+ C)
        DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
               C AS C.event_type = 'purchase'
        """,
        close_after="1 second",
    )
    # 16 keyed-state partitions measured fastest at sf0.1 (r6: 4.2 s vs
    # 4.8–5.4 s at 32): the per-trigger per-partition machinery floor
    # outweighs extra matcher parallelism once tasks < cores
    out = _run_to_memory(matched, "append", partitions=16)
    return out.select("user_id", "start_us", "end_us", "n_clicks").orderBy(
        "user_id", "start_us"
    )


@query("streaming_seq_group", oracle=SEQ_GROUP_ORACLE)
def streaming_seq_group(spark, sf_dir):
    """Streaming MATCH_RECOGNIZE with an UNBOUNDED sequence group — batch
    q37's ``PATTERN (S (V C)+ P)`` as a real keyed-state streaming job.
    The frontier-contact rule holds any match whose greedier repetition
    was cut off by the visible frame, so the streaming answer equals the
    batch parse exactly; verified against the same recursive-CTE
    greedy-chain oracle as q37 (queries/relational.py)."""
    from ..operators.match_recognize import match_recognize_stream

    stream = _staged_events_stream(spark, sf_dir)
    matched = match_recognize_stream(
        stream,
        """
        PARTITION BY user_id
        ORDER BY ev_time, event_id
        MEASURES FIRST(S.ts_us) AS start_us, LAST(P.ts_us) AS end_us,
                 COUNT(V.*) AS n_pairs
        PATTERN (S (V C)+ P)
        DEFINE S AS S.event_type = 'signup', V AS V.event_type = 'view',
               C AS C.event_type = 'click', P AS P.event_type = 'purchase'
        """,
        close_after="1 second",
    )
    out = _run_to_memory(matched, "append", partitions=16)
    return out.select("user_id", "start_us", "end_us", "n_pairs").orderBy(
        "user_id", "start_us"
    )


@query(
    "streaming_lookup_join",
    oracle="""
    SELECT e.event_id, c.c_nationkey, c.c_mktsegment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    ORDER BY e.event_id
    """,
)
def streaming_lookup_join(spark, sf_dir):
    """Lookup join (SURVEY.md J8): a stream enriched against a batch
    dimension table. Spark broadcast-joins the dim side into every
    micro-batch — the same shape as Flink's JDBC lookup join (per-batch
    refresh happens when the dim is re-read; a static dim is a single
    broadcast reused across batches)."""
    from ..io import load_table as _lt

    stream = _read_events_stream(spark, sf_dir).select("event_id", "user_id")
    dim = _lt(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "inner"
    ).select("event_id", "c_nationkey", "c_mktsegment")
    out = _run_to_memory(joined, "append")
    return out.orderBy("event_id")


@query(
    "streaming_topn",
    oracle=f"""
    SELECT user_id, {sql_dsum("value", "total")}, COUNT(*) AS n
    FROM events GROUP BY user_id ORDER BY total DESC, user_id LIMIT 10
    """,
)
def streaming_topn(spark, sf_dir, mode: str | None = None):
    """Streaming Top-N (SURVEY.md W7): continuous per-user aggregation with
    an INCREMENTAL top-10 — Flink's update-stream Top-N. Update-mode
    aggregation emits only the keys whose totals changed in each trigger;
    _incremental_topn folds each micro-batch into a bounded tracked set
    (per-trigger driver transfer O(N + tracked), never a global re-sort of
    the full aggregate — the complete-mode anti-pattern this replaced).

    Mode selection is EXPLICIT or metadata-only — never a data scan. The
    bounded tracked-set fold is exact for monotone totals and for
    retractions of keys that ever ranked; a NEVER-ranked key promoted
    purely by others' retractions is the one case it cannot see. Pass
    ``mode="monotone"`` (bounded fold) or ``mode="retract"`` (key-complete
    exact-retraction state, Flink RetractableTopNFunction semantics) from
    your pipeline's data contract. When mode is None, it is resolved from
    the parquet FOOTER min-statistics of ``value``
    (:func:`_topn_value_mode`) — driver-side metadata I/O only; the old
    probe ran a full batch ``filter(value<0)`` scan of the source before
    the stream started, a complete extra read at 100 TB just to pick a
    mode."""
    if mode is None:
        mode = _topn_value_mode(f"{sf_dir}/events.parquet")
    if mode not in ("monotone", "retract"):
        raise ValueError(f"streaming_topn mode must be monotone|retract, got {mode!r}")
    stream = _read_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
        F.count("*").alias("n"),
    )
    rows, _sizes = _incremental_topn(agg, n=10, exact_retractions=mode == "retract")
    return spark.createDataFrame(
        [(uid, float(total), cnt) for uid, total, cnt in rows],
        "user_id long, total double, n long",
    )


def _topn_value_mode(path: str) -> str:
    """Resolve the Top-N fold mode from parquet FOOTER statistics — no data
    scan. Reads each fragment's row-group min for ``value`` via pyarrow;
    returns ``"monotone"`` iff every row group proves min(value) >= 0, else
    ``"retract"`` (negative mins OR absent statistics — conservative: the
    key-complete exact mode is always correct, just costlier).

    Scale note: this is O(files) driver-side footer I/O, not a read of the
    data pages. At 100 TB a pipeline should pass ``mode=`` explicitly from
    its data contract and skip even this; the resolver exists so the
    registered query stays self-configuring against testdata
    regenerations (the old probe was a full batch filter(value<0) scan of
    the source inside a streaming query — see VERDICT r6/r7 #3)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    names = dataset.schema.names
    if "value" not in names:
        raise ValueError(f"no `value` column in {path}: {names}")
    for frag in dataset.get_fragments():
        frag.ensure_complete_metadata()
        for rg in frag.row_groups:
            stats = rg.statistics or {}
            col = stats.get("value")
            if not col or col.get("min") is None:
                return "retract"  # no proof of monotonicity
            if col["min"] < 0:
                return "retract"
    return "monotone"


def _incremental_topn(
    agg_df: DataFrame,
    n: int,
    partitions: int = 8,
    exact_retractions: bool = False,
    state_path: str | None = None,
    n_buckets: int = 16,
    compact_every: int = 8,
    tracked_cap: int | None = None,
    debug: dict | None = None,
):
    """Fold an update-mode streaming aggregation into a bounded top-N,
    retraction-safe for keys that ever ranked.

    Per trigger, update mode emits only keys whose aggregate changed. Each
    batch contributes two bounded row sets to the driver-side merge:

    1. the batch's local top-N (a distributed TakeOrdered — ≤ n rows), which
       admits new keys into the tracked set, and
    2. the current totals of already-tracked keys that changed this batch
       (a pushed-down IN filter — ≤ |tracked| rows),

    and tracked keys are only re-scored, never forgotten while they still
    contend. So a leader whose total later DECREASES (retraction / negative
    delta) competes at its latest value, not a stale peak — Flink's
    update-stream Top-N semantics for every key that ever ranked.
    Per-trigger driver transfer is O(n + |tracked|).

    |tracked| is BOUNDED (VERDICT r12 #4): after each trigger, keys ranked
    past ``tracked_cap`` (default max(8n, 64)) whose latest total is
    strictly below the current tracked n-th total are evicted, so the set
    plateaus at ~tracked_cap instead of growing with lifetime top-N
    membership churn. For MONOTONE aggregates the eviction is exact: totals
    only grow, so the current n-th tracked total is a lower bound of the
    final n-th, and an evicted key can re-enter the final top-N only by
    changing again — at which point fewer than n changed keys can outrank
    it without themselves being final top-N members, so the batch local
    top-N re-admits it. Under retractions the eviction inherits bounded
    mode's already-documented approximation (an evicted key promoted purely
    by OTHERS' later retractions is missed — same class as the never-ranked
    key below); the ``tracked_cap - n`` slack ranks keep near-contenders
    alive across moderate retraction churn, and ties with the n-th total
    are never evicted.

    Exactness: for monotone aggregates (sums/counts of non-negative inputs)
    this is exact, as before. With retractions it is exact whenever every
    key of the true final top-N ranked in some batch where it changed — the
    one residual gap is a key that NEVER ranked and rises into the top-N
    purely through later retractions of untracked leaders; closing that
    requires key-complete ranking state (what Flink's
    RetractableTopNFunction keeps in its single rank task), which is the
    O(all keys) state this operator deliberately bounds — unless
    ``exact_retractions=True``, which closes it with a DISTRIBUTED
    key-complete state table: each trigger appends the batch's changed
    rows (plus the batch id) to a bucket-partitioned parquet state path —
    a bounded distributed write, never a driver collect — and every
    ``compact_every`` triggers the buckets touched since the last
    compaction are rewritten latest-row-per-key via dynamic partition
    overwrite (the same template as the CDC state table,
    sources/cdc.py ``apply_changelog_stream``). The final answer is
    latest-row-per-key → TakeOrdered(n) over that table. Driver transfer
    stays O(n) (+ one ≤``n_buckets`` touched-bucket list per trigger);
    on-disk state is O(distinct keys + ``compact_every`` triggers of
    churn) and the small-file count is re-bounded at each compaction —
    the same asymptotics as Flink's RetractableTopNFunction keyed state,
    amortized. Without compaction the append-only table would grow with
    TOTAL churn, not distinct keys (VERDICT r6/r7 #2). The default stays
    the bounded tracked-set mode.

    Returns (rows, batch_sizes): rows are (key, total, count) tuples sorted
    (total DESC, key ASC); batch_sizes records per-trigger driver-transfer
    row counts in bounded mode (changed-row counts in exact mode; tests
    assert boundedness of the default).
    """
    spark = agg_df.sparkSession
    key_col, total_col, cnt_col = agg_df.columns[:3]
    key_type = agg_df.schema[key_col].dataType.simpleString()
    cap = max(tracked_cap if tracked_cap is not None else max(8 * n, 64), n)
    tracked: dict = {}
    batch_sizes: list[int] = []
    own_state = exact_retractions and state_path is None
    if own_state:
        from ..io import ephemeral_dir

        state_path = ephemeral_dir("topn_state_")
    touched: set[int] = set()  # buckets appended-to since last compaction
    exact_batches = [0]

    def _compact(spark):
        """Rewrite the touched buckets latest-row-per-key (CDC dynamic-
        overwrite template): collapses this cycle's appended churn to one
        row per key and re-bounds the small-file count. Bucket-pruned —
        untouched buckets' files are neither read nor rewritten."""
        from pyspark.sql import Window

        st = spark.read.parquet(state_path).filter(
            F.col("_bucket").isin(sorted(touched))
        )
        w = Window.partitionBy(key_col).orderBy(F.desc("_b"))
        latest = (
            st.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        (
            latest.write.partitionBy("_bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(state_path)
        )
        touched.clear()

    def merge(batch_df, batch_id):
        if exact_retractions:
            # key-complete mode: persist the changed rows distributed —
            # update mode re-emits a key every time its total changes, so
            # the max-batch_id row per key IS its latest total. persist()
            # so the write and the bookkeeping count share one computation
            # of the per-trigger aggregation (same as the bounded branch).
            batch_df.persist()
            try:
                b = batch_df.withColumn("_b", F.lit(batch_id)).withColumn(
                    "_bucket",
                    F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast(
                        "int"
                    ),
                )
                b.write.partitionBy("_bucket").mode("append").parquet(state_path)
                touched.update(
                    r["_bucket"] for r in b.select("_bucket").distinct().collect()
                )
                batch_sizes.append(batch_df.count())
            finally:
                batch_df.unpersist()
            exact_batches[0] += 1
            if touched and exact_batches[0] % compact_every == 0:
                _compact(batch_df.sparkSession)
            return
        # two bounded actions read the same batch aggregation — persist so
        # the per-trigger agg computes once, not once per action
        batch_df.persist()
        try:
            picked = (
                batch_df.orderBy(F.desc(total_col), key_col).limit(n).collect()
            )
            if tracked:
                # broadcast semi-join against the tracked keys: a constant
                # two-row plan regardless of churn (an IN literal would
                # grow with |tracked| and re-plan every trigger)
                keys_df = spark.createDataFrame(
                    [(k,) for k in tracked], f"{key_col} {key_type}"
                )
                updates = batch_df.join(
                    F.broadcast(keys_df), key_col, "left_semi"
                ).collect()
            else:
                updates = []
        finally:
            batch_df.unpersist()
        batch_sizes.append(len(picked) + len(updates))
        for r in updates:
            tracked[r[key_col]] = (r[total_col], r[cnt_col])
        for r in picked:
            tracked[r[key_col]] = (r[total_col], r[cnt_col])
        if len(tracked) > cap:
            # bound the tracked set (see docstring): evict keys ranked past
            # the cap whose latest total sits strictly below the current
            # n-th — they can only re-enter by changing again, which the
            # batch local top-N re-admits (exact for monotone aggregates)
            ranked = sorted(tracked.items(), key=lambda kv: (-kv[1][0], kv[0]))
            nth_total = ranked[n - 1][1][0]
            for k, v in ranked[cap:]:
                if v[0] < nth_total:
                    del tracked[k]
        if debug is not None:
            debug.setdefault("tracked_sizes", []).append(len(tracked))

    from ..io import ephemeral_dir

    with scoped_shuffle_partitions(spark, partitions):
        q = (
            agg_df.writeStream.foreachBatch(merge)
            .outputMode("update")
            .option("checkpointLocation", ephemeral_dir("ckpt_topn_"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    if exact_retractions:
        from pyspark.errors import AnalysisException
        from pyspark.sql import Window

        try:
            try:
                st = spark.read.parquet(state_path)
            except AnalysisException:
                # zero micro-batches ran (empty source): no state was ever
                # written — the answer is an empty top-N, same as the
                # bounded default on the same input
                return [], batch_sizes
            w = Window.partitionBy(key_col).orderBy(F.desc("_b"))
            rows = [
                (r[key_col], r[total_col], r[cnt_col])
                for r in (
                    st.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .orderBy(F.desc(total_col), key_col)
                    .limit(n)
                    .collect()
                )
            ]
        finally:
            if own_state:
                import shutil

                shutil.rmtree(state_path, ignore_errors=True)
        return rows, batch_sizes
    rows = [
        (k, v[0], v[1])
        for k, v in sorted(tracked.items(), key=lambda kv: (-kv[1][0], kv[0]))[:n]
    ]
    return rows, batch_sizes


# previous invocations' state/checkpoint dirs, deleted when a NEWER
# invocation supersedes them (the session cache's one-slot contract: only
# the latest returned DataFrame per session stays readable)
_CDC_RUN_DIRS: dict = {}


@query(
    "streaming_cdc_apply",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS price,
           o_orderstatus
    FROM orders WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey
    """,
)
def streaming_cdc_apply(spark, sf_dir):
    """CONTINUOUS CDC apply (SURVEY.md S6, reference CONNECTORS.md:124-140):
    the q28 deterministic Debezium change set — a create per order, a
    +1-price update for keys ≡0 (mod 10), a delete for keys ≡0 (mod 97) —
    replayed as THREE file-source micro-batches through
    ``cdc.apply_changelog_stream``: per trigger, a keyed upsert into a
    bucket-partitioned state table via dynamic partition overwrite (only
    touched buckets move, deletes persist as tombstones). The result is the
    final materialized snapshot, which must hash-match the batch oracle —
    proving the continuous path reaches the same state as the one-shot
    ``apply_changelog``."""
    import os

    from pyspark.sql import types as T

    from ..sources import cdc

    tune(spark)
    row_type = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price"), "o_orderstatus"
    )
    row = F.struct("o_orderkey", "price", "o_orderstatus")

    def env(before, after, op, ts):
        return F.to_json(
            F.struct(
                before.alias("before"), after.alias("after"),
                F.lit(op).alias("op"), F.lit(ts).cast("long").alias("ts_ms"),
            )
        ).alias("value")

    null_row = F.lit(None).cast(row_type)
    batches = [
        o.select(env(null_row, row, "c", 1)),
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("price", F.col("price") + 1.0)
        .select(
            env(null_row, F.struct("o_orderkey", "price", "o_orderstatus"), "u", 2)
        ),
        o.filter(F.col("o_orderkey") % 97 == 0).select(env(row, null_row, "d", 3)),
    ]
    # the staged change FILES are a pure deterministic function of the
    # input table — reuse them across calls in one session (bench reps);
    # the streaming run itself always starts fresh (new state + checkpoint)
    from ..io import ephemeral_dir

    run_key = (spark.sparkContext.applicationId, sf_dir)
    workdir = ephemeral_dir("cdc_stream_")
    # the PREVIOUS invocation's state/checkpoint are superseded — delete
    # them so bench reps don't accumulate full state-table copies in /tmp
    import shutil

    prev_run = _CDC_RUN_DIRS.pop(run_key, None)
    if prev_run is not None:
        shutil.rmtree(prev_run, ignore_errors=True)
    _CDC_RUN_DIRS[run_key] = workdir
    src = _STAGING_MEMO.get((sf_dir, "cdc"))
    if src is None or not os.path.isdir(src):
        # staged OUTSIDE the per-run workdir: the workdir (state + ckpt) is
        # deleted on the next invocation, but the change files are immutable
        # inputs and survive for reuse across bench reps
        src = ephemeral_dir("cdc_changes_")
        for i, df in enumerate(batches):
            # one file per change batch → one micro-batch per trigger;
            # mtimes pin the replay order (ts_ms makes the merge order-
            # independent, but a deterministic replay keeps batch ids
            # stable too)
            stage = os.path.join(workdir, f"stage{i}")
            df.coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            dst = os.path.join(src, f"b{i}.parquet")
            os.rename(os.path.join(stage, part), dst)
            os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
        _STAGING_MEMO[(sf_dir, "cdc")] = src

    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    changes = cdc.parse_debezium(raw, "value", row_type)
    with scoped_shuffle_partitions(spark, 8):
        q = cdc.apply_changelog_stream(
            changes,
            keys=["o_orderkey"],
            state_path=os.path.join(workdir, "state"),
            checkpoint_path=os.path.join(workdir, "ckpt"),
            n_buckets=16,
        )
    q.awaitTermination()
    snap = cdc.changelog_state_snapshot(spark, os.path.join(workdir, "state"))
    return snap.select("o_orderkey", "price", "o_orderstatus").orderBy("o_orderkey")
