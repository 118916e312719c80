"""Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md).

All tables are plain parquet scans — Catalyst pushes filters/projections down
to the scan, so callers should filter/select on the returned DataFrame rather
than pre-materializing. ``events`` needs special handling for its ``ts``
column, whose parquet vintage has varied across driver regenerations:

- **timestamp[us] (current)**: Spark reads it natively as TIMESTAMP_NTZ; we
  derive ``ts_us`` (epoch microseconds, bigint) with ``timestampdiff`` on an
  NTZ base — exact integer arithmetic, independent of session timezone.
- **TIMESTAMP(NANOS) (older vintage)**: Spark's reader maps it to a raw-nano
  long under ``spark.sql.legacy.parquet.nanosAsLong``; we truncate to µs with
  integer division — exactly what DuckDB's reader does — and rebuild an NTZ
  ``ts``.

Both vintages yield the same normalized columns (``ts`` TIMESTAMP_NTZ at µs
precision, ``ts_us`` bigint), so every downstream operator and oracle is
vintage-agnostic. Dispatch is on the dtype Spark actually read — never on an
assumption about the file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# readStream requires an explicit schema; pick the right one for the file
# vintage with events_stream_schema() (footer-driven).
EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_RAW_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def events_stream_schema(events_path: str) -> str:
    """Pick the readStream schema for an events parquet file from its footer.

    timestamp[ns] vintage → declare ``ts long`` (raw nanos via nanosAsLong);
    anything else (timestamp[us]/[ms], already-long) → the TIMESTAMP_NTZ
    schema. Footer sniff is a local pyarrow read of one footer — no Spark job.
    """
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_schema(events_path).field("ts").type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            return EVENTS_RAW_SCHEMA_NANOS
        if pa.types.is_integer(t):
            return EVENTS_RAW_SCHEMA_NANOS
    except Exception:
        pass
    return EVENTS_RAW_SCHEMA


def _events_ts_cols(df: DataFrame) -> DataFrame:
    """Normalize the raw ``ts`` column to (``ts`` NTZ µs, ``ts_us`` bigint).

    Dispatches on the dtype Spark actually read (see module docstring). The
    expressions are pure JVM arithmetic — no UDFs, stays in codegen — and
    timezone-independent (NTZ bases only).
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        # raw-nano vintage: integer µs truncation (DuckDB-reader equivalent)
        return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH_NTZ})")
        )
    if dtype.startswith("timestamp"):
        # µs-timestamp vintage: keep ts (normalize tz-aware → NTZ), derive µs
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df.withColumn(
            "ts_us", F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, ts)")
        )
    raise TypeError(
        f"events.ts has unsupported dtype {dtype!r}; expected a timestamp or a "
        "raw-nano bigint. The testdata vintage changed — teach io._events_ts_cols "
        "about the new type."
    )


def stream_ts_cols(df: DataFrame) -> DataFrame:
    """Streaming analog of ``_events_ts_cols``: add ``ev_time`` + ``ts_us``.

    ``ev_time`` is TimestampType (watermarks/windows operate on instants);
    under the UTC session timezone (session.RUNTIME_CONFS) the NTZ→timestamp
    cast is value-preserving, so both vintages produce identical instants.
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        df = df.withColumn("ev_time", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype.startswith("timestamp"):
        df = df.withColumn("ev_time", F.col("ts").cast("timestamp"))
    else:  # pragma: no cover - guarded upstream by events_stream_schema
        raise TypeError(f"unsupported streaming ts dtype {dtype!r}")
    return df.withColumn("ts_us", F.unix_micros("ev_time"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. ``events`` gets µs-exact ``ts`` plus ``ts_us``."""
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _events_ts_cols(df)
        # post-condition: the normalization contract every event-time
        # operator depends on. A testdata-vintage change fails HERE, loudly,
        # not as silent wrong answers downstream. (A real raise, not assert —
        # python -O must not strip the contract.)
        got = dict(df.dtypes)
        if got.get("ts_us") != "bigint" or not str(got.get("ts", "")).startswith(
            "timestamp"
        ):
            raise RuntimeError(f"events normalization broken: {got}")
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# --- ephemeral scratch space for bounded streaming replays --------------------
# The bounded-replay queries (memory-sink availableNow runs, staged file
# sources, foreachBatch gate sinks, throwaway checkpoints) create and discard
# many small files per micro-batch. Their durability requirement is zero —
# they were temp-deleted after the run even before this helper — but the
# default tempdir sits on the root disk, and on hosts with slow file
# metadata ops the checkpoint/WAL writes alone added ~25% to every streaming
# entry (round-14 A/B: streaming_dedup_minhash 14s → 10.2s, tumble 3.0s →
# 2.3s just by moving the checkpoint to a RAM-backed fs; guide §6 — I/O
# placement). Production pipelines are unaffected: anything needing a
# durable checkpoint passes an explicit checkpointLocation (streaming/
# runner.py, restart harness) and never routes through here.
#
# $SPARK_GRAFT_EPHEMERAL_DIR overrides the root; default is /dev/shm when
# writable (Linux RAM fs), else the system tempdir. The per-process tree is
# reclaimed at interpreter exit.
_EPHEMERAL_ROOT: list[str] = []


def ephemeral_dir(prefix: str) -> str:
    """A fresh scratch directory under the fastest local ephemeral root."""
    import atexit
    import os
    import shutil
    import tempfile

    if not _EPHEMERAL_ROOT:
        base = os.environ.get("SPARK_GRAFT_EPHEMERAL_DIR")
        if base is None:
            shm = "/dev/shm"
            base = shm if os.access(shm, os.W_OK) else tempfile.gettempdir()
        root = os.path.join(base, f"fns-ephemeral-{os.getpid()}")
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _EPHEMERAL_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_EPHEMERAL_ROOT[0])


# conf key the engine's SET handler mirrors `table.exec.state.ttl` into, so
# keyed-state builders created AFTER the SET pick up the session TTL even
# when submitted through the embedding surface (execute_stream_df)
STATE_TTL_CONF = "spark.flink_notebooks.state.ttl.ms"


def session_state_ttl_s(spark: SparkSession) -> int | None:
    """Resolve Flink's ``table.exec.state.ttl`` session property for a
    keyed-state stream builder.

    The engine mirrors the property into ``STATE_TTL_CONF`` (milliseconds,
    already parsed) on SET and removes it on RESET — session-scoped, like
    Flink, where the TTL applies to every stateful operator of queries
    planned while it is set. Returns idle-horizon seconds (rounded up, min
    1), or None when the property is unset or explicitly ``'0'`` (Flink's
    TTL-DISABLED default: state is never cleaned)."""
    try:
        raw = spark.conf.get(STATE_TTL_CONF, None)
    except Exception:  # noqa: BLE001 - conf surface unavailable → unset
        raw = None
    if raw is None or raw == "":
        return None
    if raw.startswith("ERR:"):
        # the engine mirrors unparsable SET values as a sentinel so the
        # embedding surface errors as loudly as the SQL surface (where the
        # pinned contract raises at first use, not at SET)
        raise ValueError(
            f"table.exec.state.ttl: cannot parse {raw[4:]!r} (use Flink "
            "duration syntax, e.g. '1 h', '30 min', '3600 s', or ms)"
        )
    ms = int(raw)
    return None if ms == 0 else max(1, (ms + 999) // 1000)
