"""Statement lifecycle + token-paged result delivery (SURVEY.md §3.1).

Mirrors the reference's SQL-gateway operation/result protocol:

- operation states PENDING/RUNNING/FINISHED/ERROR/CANCELED
  (reference vscode-extension/src/providers/flinkNotebookController.ts:145-153,
  flinkJobClient.ts:7-17)
- paged result fetch with tokens, ≤100 rows/page, result types
  NOT_READY / PAYLOAD / EOS
  (reference sqlGatewayClient.ts:124-140, flinkNotebookController.ts:165-241)
- rows carry a changelog ``kind`` alongside positional ``fields``
  (reference models/types.ts:24-27)
- streaming results buffer up to 10,000 rows — the reference client's cap
  (flinkNotebookController.ts:428)
- pause / resume / cancel of a running streaming statement
  (flinkNotebookController.ts:748-850)

Spark mapping: a batch statement reads its result as Arrow record batches.
The query's ``toArrowBatchRdd`` is served to this process one partition at a
time, with the next partition's job prefetched, so the Spark application
holds at most two partitions in the JVM and one Arrow batch (≤
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) in Python. A page is
a slice of that batch; its Python values are built column by column, by a
converter chosen once per column from the Spark type. A page has two views:
``data``, the values ``collect()`` returns, and ``wire()``, the JSON-ready
values the gateway sends. A streaming statement is a ``foreachBatch`` query
appending to a bounded in-memory buffer the client drains with the same
token protocol.
"""

from __future__ import annotations

import struct
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.serializers import SpecialLengths, read_int, write_int
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import local_connect_and_auth

PAGE_SIZE = 100  # reference sqlGatewayClient.ts:128
MAX_STREAM_ROWS = 10_000  # reference flinkNotebookController.ts:428

PENDING = "PENDING"
RUNNING = "RUNNING"
FINISHED = "FINISHED"
ERROR = "ERROR"
CANCELED = "CANCELED"


@dataclass
class ColumnInfo:
    name: str
    type: str
    nullable: bool = True


def _jsonable(v):
    """A row value as the JSON rowFormat carries it: JSON-native values as
    they are, containers element-wise, anything else through ``str``."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return str(v)


class ResultPage:
    """One page of a statement's result.

    ``data`` holds the rows as ``{kind, fields}`` with the values
    ``collect()`` returns; ``wire()`` gives the same rows with JSON-ready
    fields. A batch statement's page keeps its Arrow rows (``table``) and
    builds each view column by column on first use."""

    def __init__(
        self,
        result_type: str,  # NOT_READY | PAYLOAD | EOS
        columns: list[ColumnInfo] | None = None,
        data: list[dict[str, Any]] | None = None,
        next_token: int | None = None,
        table: pa.Table | None = None,
        codecs: list[_Column] | None = None,
    ):
        self.result_type = result_type
        self.columns = columns if columns is not None else []
        self.next_token = next_token
        self._data = [] if data is None and table is None else data
        self._table = table
        self._codecs = codecs
        self._wire: list[dict[str, Any]] | None = None

    @property
    def data(self) -> list[dict[str, Any]]:
        if self._data is None:
            self._data = self._rows("native")
        return self._data

    def wire(self) -> list[dict[str, Any]]:
        if self._wire is None:
            if self._table is None:
                self._wire = [
                    {"kind": r["kind"], "fields": _jsonable(r["fields"])}
                    for r in self.data
                ]
            else:
                self._wire = self._rows("wire")
        return self._wire

    def compact(self) -> None:
        """Copy the page's Arrow rows out of the batch they slice, so a kept
        page does not hold the whole batch."""
        if self._table is not None:
            self._table = self._table.take(np.arange(self._table.num_rows))

    def _rows(self, view: str) -> list[dict[str, Any]]:
        cols = [
            getattr(c, view)(a) for c, a in zip(self._codecs, self._table.columns)
        ]
        rows = zip(*cols) if cols else [()] * self._table.num_rows
        return [{"kind": "INSERT", "fields": list(f)} for f in rows]


def _columns_of(df: DataFrame) -> list[ColumnInfo]:
    return [
        ColumnInfo(f.name, f.dataType.simpleString().upper(), f.nullable)
        for f in df.schema.fields
    ]


def _rows(batch: list, kind: str = "INSERT") -> list[dict[str, Any]]:
    return [{"kind": kind, "fields": list(r)} for r in batch]


# ------------------------------------------------------------ Arrow results
# Types whose Arrow values, as Python lists, are already what collect()
# returns and what the JSON rowFormat carries.
_PLAIN = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)
# numpy unit and valid range (years 1-9999, Python's) of the types whose
# str() is an ISO string numpy can write for a whole column at once
_ISO = {
    T.DateType: ("D", -719_162, 2_932_896),
    T.TimestampNTZType: ("us", -62_135_596_800_000_000, 253_402_300_799_999_999),
}


def _same(v):
    return v


def _from_arrow(dt: T.DataType):
    """A function from one non-null Arrow ``to_pylist`` value to the value
    ``collect()`` returns for Spark type ``dt``, or None where they agree.
    Arrow values are read with integer temporal storage and struct fields
    named by position (``_arrow_read_type``), so each leaf goes through
    Spark's own ``fromInternal`` like the row path does."""
    if isinstance(dt, T.StructType):
        names = dt.names
        convs = [_from_arrow(f.dataType) for f in dt.fields]

        def struct(d):
            vals = zip(convs, d.values())
            return T._create_row(
                names, [v if c is None or v is None else c(v) for c, v in vals]
            )

        return struct
    if isinstance(dt, T.ArrayType):
        conv = _from_arrow(dt.elementType)
        if conv is None:
            return None
        return lambda xs: [None if x is None else conv(x) for x in xs]
    if isinstance(dt, T.MapType):
        kc = _from_arrow(dt.keyType) or _same
        vc = _from_arrow(dt.valueType) or _same
        order = _hashmap_order(dt.keyType)
        return lambda kvs: {kc(k): None if v is None else vc(v) for k, v in order(kvs)}
    if isinstance(dt, T.VariantType):
        return lambda d: T.VariantVal(*map(bytearray, d.values()))
    if isinstance(dt, T.UserDefinedType):
        inner = _from_arrow(dt.sqlType()) or _same
        return lambda v: dt.deserialize(inner(v))
    return dt.fromInternal if dt.needConversion() else None


def _i32(x: int) -> int:
    return (x + 2**31) % 2**32 - 2**31


def _java_hash(dt: T.DataType):
    """Java ``hashCode`` of a map key of Spark type ``dt``, from its Arrow
    value, as the boxed object the row path puts in a ``java.util.HashMap``;
    None for key types whose order is left as Arrow gives it."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.DateType)):
        return _same
    if isinstance(
        dt, (T.LongType, T.TimestampType, T.TimestampNTZType, T.DayTimeIntervalType)
    ):
        return lambda v: _i32(v ^ (v % 2**64 >> 32))
    if isinstance(dt, T.BooleanType):
        return lambda v: 1231 if v else 1237
    if isinstance(dt, T.StringType):

        def string(s):
            h = 0
            for (u,) in struct.iter_unpack(">H", s.encode("utf-16-be")):
                h = (31 * h + u) & 0xFFFFFFFF
            return h

        return string
    if isinstance(dt, T.DoubleType):

        def double(v):  # doubleToLongBits maps every NaN to one value
            bits = 0x7FF8 << 48
            if v == v:
                bits = struct.unpack(">q", struct.pack(">d", v))[0]
            return _i32(bits ^ (bits % 2**64 >> 32))

        return double
    if isinstance(dt, T.FloatType):

        def float_(v):  # floatToIntBits maps every NaN to one value
            if v != v:
                return 0x7FC00000
            return struct.unpack(">i", struct.pack(">f", v))[0]

        return float_
    if isinstance(dt, T.DecimalType):

        def decimal(d):  # java.math.BigDecimal.hashCode
            sign, digits, exp = d.as_tuple()
            mag = int("".join(map(str, digits)) or "0")
            if mag < 2**63:  # compact form
                temp = _i32(_i32(_i32(mag >> 32) * 31) + (mag & 0xFFFFFFFF))
                return _i32(31 * (-temp if sign else temp) - exp)
            h = 0
            for i in range((mag.bit_length() + 31) // 32 - 1, -1, -1):
                h = _i32(31 * h + (mag >> (32 * i) & 0xFFFFFFFF))
            return _i32(31 * (-h if sign else h) - exp)

        return decimal
    return None


def _hashmap_order(key_type: T.DataType):
    """A function putting a map's Arrow (key, value) pairs in the order the
    row path returned them: it copied each map into a ``java.util.HashMap``
    sized to the map and iterated that. Entries go by hash bucket, and by
    insertion within one; buckets of nine or more keys, which Java turns
    into trees, are not modelled."""
    keyhash = _java_hash(key_type)
    if keyhash is None:
        return _same

    def order(kvs):
        n = len(kvs)
        cap = 1 << max(n - 1, 0).bit_length()
        if n > cap * 3 // 4:
            cap *= 2

        def bucket(kv):
            h = keyhash(kv[0]) & 0xFFFFFFFF
            return (h ^ h >> 16) & (cap - 1)

        return sorted(kvs, key=bucket)

    return order


def _iso_strings(v: np.ndarray, unit: str) -> list[str]:
    """``str()`` of each date (``unit`` 'D', days) or naive datetime ('us',
    microseconds since the epoch), written by numpy for the whole column."""
    s = np.datetime_as_string(v.astype(f"M8[{unit}]"), unit=unit)
    if unit == "D":
        return s.astype("U10").tolist()
    s = s.astype("U26")  # YYYY-MM-DDTHH:MM:SS.ffffff
    s.view(np.uint32).reshape(-1, 26)[:, 10] = ord(" ")
    return np.where(v % 1_000_000 == 0, s.astype("U19"), s).tolist()


class _Column:
    """Python values of one result column, chosen once per statement from
    its Spark type. ``native`` equals what ``collect()`` returns, ``wire``
    equals ``_jsonable`` of it. Null-free plain and ISO-printable columns
    are converted by numpy in one call; the rest go value by value."""

    def __init__(self, dt: T.DataType):
        self.plain = type(dt) in _PLAIN
        self.iso = _ISO.get(type(dt))
        self.convert = _from_arrow(dt)

    def native(self, col: pa.ChunkedArray) -> list:
        if self.plain and not col.null_count:
            return col.to_numpy(zero_copy_only=False).tolist()
        vals = col.to_pylist()
        conv = self.convert
        if conv is None:
            return vals
        return [None if v is None else conv(v) for v in vals]

    def wire(self, col: pa.ChunkedArray) -> list:
        if self.plain:
            return self.native(col)
        if self.iso is not None and not col.null_count:
            unit, lo, hi = self.iso
            v = col.to_numpy()
            if not len(v) or (v.min() >= lo and v.max() <= hi):
                return _iso_strings(v, unit)
        return [_jsonable(v) for v in self.native(col)]


def _arrow_read_type(t: pa.DataType) -> pa.DataType:
    """``t`` with temporal leaves read as their integer storage and struct
    fields named by position — the same buffers, so any Arrow batch of
    ``t`` reads as this type too."""
    if pa.types.is_timestamp(t) or pa.types.is_duration(t) or pa.types.is_time64(t):
        return pa.int64()
    if pa.types.is_date32(t):
        return pa.int32()
    if pa.types.is_struct(t):
        return pa.struct(
            [
                f.with_name(f"_{i}").with_type(_arrow_read_type(f.type))
                for i, f in enumerate(t)
            ]
        )
    if pa.types.is_map(t):
        return pa.map_(
            t.key_field.with_type(_arrow_read_type(t.key_type)),
            t.item_field.with_type(_arrow_read_type(t.item_type)),
        )
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_arrow_read_type(t.value_type)))
    return t


def _positional(dt: T.DataType) -> T.DataType:
    """``dt`` with every struct field renamed by position."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f"_{i}", _positional(f.dataType), f.nullable)
                for i, f in enumerate(dt.fields)
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_positional(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _positional(dt.keyType), _positional(dt.valueType), dt.valueContainsNull
        )
    return dt


def _dup_names(dt: T.DataType) -> bool:
    """Whether a struct anywhere in ``dt`` repeats a field name."""
    if isinstance(dt, T.StructType):
        return len(set(dt.names)) < len(dt.names) or any(
            _dup_names(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _dup_names(dt.elementType)
    if isinstance(dt, T.MapType):
        return _dup_names(dt.keyType) or _dup_names(dt.valueType)
    return False


def _arrow_safe(df: DataFrame) -> DataFrame:
    """``df``, or when a struct in it repeats a field name (Spark's Arrow
    writer rejects that) ``df`` with every field renamed by position. Values
    are unchanged; the reader takes names from the original schema."""
    fields = df.schema.fields
    if not any(_dup_names(f.dataType) for f in fields):
        return df
    cols = [f"_{i}" for i in range(len(fields))]
    return df.toDF(*cols).select(
        *[F.col(c).cast(_positional(f.dataType)).alias(c) for c, f in zip(cols, fields)]
    )


def changelog_entries(
    rows: list[list[Any]],
    key_idx: list[int],
    mode: str,
    seen: dict[tuple, list[Any]],
    exhaustive: bool = True,
) -> list[dict[str, Any]]:
    """Reconstruct Flink's changelog row kinds from micro-batch output.

    Flink encodes updating results as INSERT / UPDATE_BEFORE / UPDATE_AFTER /
    DELETE rows on the wire (reference models/types.ts:24-27). Spark's
    ``update`` output mode emits only the *new* value of each changed group,
    so the statement keeps the last-seen row per grouping key (``seen``,
    mutated in place) and diffs: new key → INSERT, changed key →
    UPDATE_BEFORE(old) + UPDATE_AFTER(new). In ``complete`` mode the batch is
    the whole result, so groups that vanished additionally emit DELETE and
    unchanged groups are not re-emitted. State is one row per distinct group
    key, HARD-bounded at 2 × MAX_STREAM_ROWS: every new key emits an INSERT
    into the client buffer (≤ MAX total before saturation), the caller caps
    ``rows`` at MAX_STREAM_ROWS per trigger, and once the buffer saturates
    the statement stops calling this function entirely (see
    StreamingStatement.on_batch) — matching the reference client, which
    caps displayed rows at the same 10k (flinkNotebookController.ts:428).

    ``exhaustive=False`` marks ``rows`` as a transfer-capped PARTIAL batch:
    complete-mode DELETE reconstruction is suppressed here (an absent key
    may sit past the cap, not be gone) — the caller recovers EXACT deletes
    distributedly instead (StreamingStatement._distributed_deletes diffs the
    served-key set against the whole batch with an anti-join, shipping only
    vanished keys to the driver).
    """
    out: list[dict[str, Any]] = []
    snapshot: set[tuple] = set()
    for r in rows:
        fields = list(r)
        key = tuple(fields[i] for i in key_idx)
        snapshot.add(key)
        old = seen.get(key)
        if old is None:
            out.append({"kind": "INSERT", "fields": fields})
            seen[key] = fields
        elif old != fields:
            out.append({"kind": "UPDATE_BEFORE", "fields": old})
            out.append({"kind": "UPDATE_AFTER", "fields": fields})
            seen[key] = fields
        # unchanged (complete-mode re-emission): nothing to report
    if mode == "complete" and exhaustive:
        # DELETE = key vanished from the complete snapshot. Only decidable
        # when ``rows`` IS the whole snapshot — a transfer-capped partial
        # batch (exhaustive=False) must not DELETE keys that may simply sit
        # past the cap.
        for key in [k for k in seen if k not in snapshot]:
            out.append({"kind": "DELETE", "fields": seen.pop(key)})
    return out


class Statement:
    """Base statement: immediate (DDL/SET) results."""

    def __init__(self, statement_id: str | None = None):
        self.statement_id = statement_id or uuid.uuid4().hex[:16]
        self.state = PENDING
        self.error: str | None = None
        self.started_at = time.time()
        self.finished_at: float | None = None
        self.is_streaming = False
        self._columns: list[ColumnInfo] = []
        self._wire_columns: list[dict[str, Any]] | None = None

    # --- protocol surface -------------------------------------------------
    def status(self) -> str:
        return self.state

    def fetch(self, token: int = 0, max_rows: int = PAGE_SIZE) -> ResultPage:
        raise NotImplementedError

    def wire_columns(self) -> list[dict[str, Any]]:
        """The result's ``columns`` block as the gateway sends it, built
        once per statement."""
        if self._wire_columns is None:
            self._wire_columns = [
                {
                    "name": c.name,
                    "logicalType": {"type": c.type, "nullable": c.nullable},
                }
                for c in self._columns
            ]
        return self._wire_columns

    def cancel(self) -> None:
        if self.state in (PENDING, RUNNING):
            self.state = CANCELED
            self.finished_at = time.time()

    def duration(self) -> float:
        return (self.finished_at or time.time()) - self.started_at


class ImmediateStatement(Statement):
    """DDL / SET / SHOW results: fully known at construction."""

    def __init__(self, columns: list[ColumnInfo], rows: list[list[Any]]):
        super().__init__()
        self._columns = columns
        self._rows = rows
        self.state = FINISHED
        self.finished_at = time.time()

    def fetch(self, token: int = 0, max_rows: int = PAGE_SIZE) -> ResultPage:
        start = token * max_rows
        page = self._rows[start : start + max_rows]
        if not page and start >= len(self._rows):
            return ResultPage("EOS", self._columns, [], None)
        return ResultPage("PAYLOAD", self._columns, _rows(page), token + 1)


def ok_statement(message: str = "OK") -> ImmediateStatement:
    return ImmediateStatement([ColumnInfo("result", "STRING", False)], [[message]])


class _ArrowStream:
    """A DataFrame's result as Arrow record batches, served to this process
    one partition at a time over a local socket; the JVM runs the next
    partition's job while this one is read. Every job carries the job tag
    ``tag``, so ``close`` (or the owner) can cancel the prefetched one."""

    def __init__(self, df: DataFrame, tag: str):
        spark = df.sparkSession
        large = spark._jconf.arrowUseLargeVarTypes()
        types = [
            to_arrow_type(f.dataType, prefers_large_types=large) for f in df.schema
        ]
        self._schema = pa.schema(
            [(f"_{i}", _arrow_read_type(t)) for i, t in enumerate(types)]
        )
        self._sc, self._tag = spark.sparkContext, tag
        self._sc.addJobTag(tag)
        try:
            with SCCallSiteSync(self._sc):
                rdd = _arrow_safe(df)._jdf.toArrowBatchRdd()
                port, secret, self._server = (
                    self._sc._jvm.PythonRDD.toLocalIteratorAndServe(rdd, True)
                )
        finally:
            self._sc.removeJobTag(tag)
        self._file, self._sock = local_connect_and_auth(port, secret)
        self._sock.settimeout(None)  # a partition's job may take any time
        self._in_partition = False
        self._done = False
        self._batches = self._read()

    def _read(self):
        f = self._file
        while True:
            write_int(1, f)  # ask for the next partition
            f.flush()
            status = read_int(f)
            if status != 1:
                if status == -1:
                    self._server.getResult()  # raises the job's error
                self._done = True
                return
            self._in_partition = True
            while (n := read_int(f)) != SpecialLengths.END_OF_DATA_SECTION:
                yield pa.ipc.read_record_batch(pa.py_buffer(f.read(n)), self._schema)
            self._in_partition = False

    def next_batch(self) -> pa.RecordBatch | None:
        """The next record batch, or None once every partition was read."""
        return next(self._batches, None)

    def close(self) -> None:
        """Stop the JVM side: cancel the tagged jobs, finish reading the
        partition in flight (the JVM writes whole partitions) and tell the
        serving thread to stop, then close the socket."""
        f, self._file = self._file, None
        if f is None:
            return
        try:
            if not self._done:
                self._sc.cancelJobsWithTag(self._tag)
                while self._in_partition:
                    n = read_int(f)
                    if n == SpecialLengths.END_OF_DATA_SECTION:
                        break
                    f.read(n)
                write_int(0, f)
                f.flush()
        except (OSError, EOFError, ValueError):  # the JVM side closed first
            pass
        finally:
            self._done = True
            f.close()
            self._sock.close()


class BatchStatement(Statement):
    """A batch query paged from its Arrow result, PAGE_SIZE rows per token.

    The first fetch starts an ``_ArrowStream``: the result's partitions are
    computed one job at a time (the next one prefetched) and served as Arrow
    batches of at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.
    Pages are slices of the current batch (a page may span two), so the
    application holds at most two partitions in the JVM plus one batch and the
    retained page in Python. The latest page is kept for an idempotent
    retry of its token. EOS, an error or ``cancel()`` close the stream:
    the JVM serving thread ends and a prefetched job is cancelled."""

    def __init__(self, df: DataFrame):
        super().__init__()
        self.df = df
        self._columns = _columns_of(df)
        self._codecs = [_Column(f.dataType) for f in df.schema.fields]
        self._tag = f"statement-{self.statement_id}"  # on the result's jobs
        self._stream: _ArrowStream | None = None
        self._batch: pa.RecordBatch | None = None
        self._offset = 0
        self._last: tuple[int, ResultPage] | None = None  # retained for retry
        self._done_token: int | None = None
        self.state = RUNNING
        self._lock = threading.Lock()

    def _eos(self) -> ResultPage:
        return ResultPage("EOS", self._columns, [], None)

    def _next_rows(self, n: int) -> pa.Table | None:
        parts = []
        while n:
            if self._batch is None or self._offset == self._batch.num_rows:
                self._batch, self._offset = self._stream.next_batch(), 0
                if self._batch is None:
                    break
                continue
            part = self._batch.slice(self._offset, n)
            self._offset += part.num_rows
            n -= part.num_rows
            parts.append(part)
        return pa.Table.from_batches(parts) if parts else None

    def _close(self) -> None:
        """Close the stream and drop the current batch; the retained page
        keeps a copy of its own rows only (caller holds the lock)."""
        if self._stream is not None:
            self._stream.close()
        self._batch = None
        if self._last is not None:
            self._last[1].compact()

    def fetch(self, token: int = 0, max_rows: int = PAGE_SIZE) -> ResultPage:
        with self._lock:
            if self.state == CANCELED:
                return self._eos()
            if self._done_token is not None and token >= self._done_token:
                return self._eos()
            if self._last is not None and self._last[0] == token:
                return self._last[1]  # idempotent retry
            if self.state == ERROR:
                raise RuntimeError(self.error)
            try:
                if self._stream is None:
                    self._stream = _ArrowStream(self.df, self._tag)
                table = self._next_rows(max_rows)
            except Exception as e:  # noqa: BLE001
                self._close()
                if self.state == CANCELED:  # the cancel stopped our job
                    return self._eos()
                self.state = ERROR
                self.error = str(e)
                self.finished_at = time.time()
                raise
            if table is None:
                self._close()
                self._done_token = token
                self.state = FINISHED
                self.finished_at = time.time()
                return self._eos()
            page = ResultPage(
                "PAYLOAD", self._columns, None, token + 1, table, self._codecs
            )
            self._last = (token, page)
            return page

    def cancel(self) -> None:
        super().cancel()
        if self.state != CANCELED:
            return
        # cancel the jobs before taking the lock: a fetch waiting on one of
        # them then fails at once (and returns EOS) instead of holding it
        self.df.sparkSession.sparkContext.cancelJobsWithTag(self._tag)
        with self._lock:
            self._close()
            self._last = None


def _one_job(batch_df: DataFrame, n: int) -> DataFrame:
    """At most ``n`` rows of a micro-batch, read in ONE job that runs every
    partition to its end. Under foreachBatch a stateful operator may commit
    a state partition only once that partition's rows are drained (per-key
    Python state does), and a batch with an uncommitted partition fails
    the query ("Not all StateStores committed"). A bare ``limit(n).collect()`` (or
    ``isEmpty()``) is Spark's incremental take: it runs one partition, then
    ×4 more, in serial jobs, and stops once it has ``n`` rows; a
    ``limit(n)`` inside a partition stops pulling rows early too. Here each
    partition is read to its end but keeps only its first ``n`` rows (the
    low 33 bits of ``monotonically_increasing_id`` number the rows of a
    partition), and the shuffle to one partition runs all of them in one
    parallel wave."""
    first_n = f"monotonically_increasing_id() & {(1 << 33) - 1} < {int(n)}"
    return batch_df.filter(first_n).repartition(1).limit(n)


class StreamingStatement(Statement):
    """A streaming query: foreachBatch appends to a bounded buffer; the
    client drains it with the same token protocol (NOT_READY while the
    query is live but no new rows)."""

    def __init__(
        self,
        df: DataFrame,
        start_fn,
        changelog_keys: list[str] | None = None,
        mode_holder: dict | None = None,
        finish_fn=None,
    ):
        """``start_fn(foreach_batch) -> StreamingQuery`` so the engine
        controls trigger/output-mode selection. ``changelog_keys`` (grouping
        columns present in the output) enable UPDATE_BEFORE/UPDATE_AFTER/
        DELETE kind reconstruction for update/complete-mode results;
        ``mode_holder['mode']`` is set by the engine's start_fn to whichever
        output mode the planner accepted. ``finish_fn() -> list[entry]``
        runs ONCE when the query is first observed naturally FINISHED (not
        canceled, not errored) and its entries append to the buffer —
        Flink's bounded-source final-MAX_WATERMARK flush (a canceled Flink
        job does not flush either, so cancel() skips it)."""
        super().__init__()
        self._finish_fn = finish_fn
        self._flushed = False
        self.is_streaming = True
        self._columns = _columns_of(df)
        self._buffer: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._paused = False
        self.truncated = False
        # identity matters: the engine mutates this dict from its start_fn
        # (it is empty at construction time, so no truthiness shortcuts)
        self._mode_holder = mode_holder if mode_holder is not None else {}
        # token → buffer offset. Tokens are cursors over whatever rows were
        # READY at serve time (gateway semantics), not fixed 100-row
        # windows: a partial page must not strand the rows behind it until
        # the buffer happens to cross a page boundary (at 2 rows/s a fixed
        # window stalls the client for ~50 s — the reference's demo rate).
        self._offsets: dict[int, int] = {0: 0}
        cols = df.columns
        self._key_idx = (
            [cols.index(k) for k in changelog_keys]
            if changelog_keys and all(k in cols for k in changelog_keys)
            else None
        )
        self._key_cols = list(changelog_keys) if self._key_idx is not None else None
        self._seen: dict[tuple, list[Any]] = {}

        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            mode = self._mode_holder.get("mode", "append")
            changelog = self._key_idx is not None and mode in ("update", "complete")
            with self._lock:
                room = MAX_STREAM_ROWS - len(self._buffer)
            if room <= 0:
                # the buffer never drains (tokens are cursors over it), so
                # saturation is terminal: execute NO row transfer — a
                # long-running query would otherwise serialize every later
                # micro-batch to the driver only to discard it (and, in
                # update/complete mode, grow the _seen key map without bound
                # for results that can never serve). truncated must still be
                # HONEST: a buffer that filled exactly to the cap with no
                # overflow (truncated not yet set) only becomes truncated if
                # serveable output was actually dropped afterwards.
                #  - append/update: a non-empty batch IS dropped output
                #    (update mode only emits changed keys, each of which
                #    would have produced changelog entries) — probed with
                #    isEmpty() (one job, at most one row shipped) until the
                #    first such row; from then on the flag is set and
                #    post-cap triggers ship nothing.
                #  - complete: the sink re-emits the FULL result every
                #    trigger, so a non-empty batch says nothing about whether
                #    the diff vs _seen would be empty; deciding exactly would
                #    need the whole-batch transfer this short-circuit exists
                #    to avoid. Set the flag unconditionally — CONSERVATIVE
                #    (may over-report truncation when the post-cap diff would
                #    have been empty), never under-reports.
                # Once the flag is set, a stateful query's batch (its
                # progress lists state operators; none reported yet counts
                # as stateful) still runs in the JVM, into the noop sink:
                # its state partitions commit only when drained (_one_job).
                if not self.truncated and mode != "complete":
                    self.truncated = not _one_job(batch_df, 1).isEmpty()
                else:
                    self.truncated = True
                    progress = self.query.lastProgress
                    if progress is None or progress["stateOperators"]:
                        batch_df.write.format("noop").mode("overwrite").save()
                return
            delete_keys: list[tuple] = []
            if changelog:
                # kind reconstruction diffs against _seen, which wants the
                # whole batch — but the transfer must stay BOUNDED (the only
                # otherwise-unbounded driver collect in the repo). Cap at
                # MAX_STREAM_ROWS + 1: any batch that fits the client cap
                # diffs exactly (every realistic notebook result), and a
                # bigger one could never fully serve anyway. When the cap
                # trips, the diff is non-exhaustive: changed keys beyond the
                # cap are skipped this trigger (their _seen value stays the
                # last EMITTED one, so a later UPDATE_BEFORE still matches
                # what the client materialized), and truncated is set —
                # output may have been dropped. Complete-mode DELETEs stay
                # EXACT under the cap: absence of a served key from the
                # whole snapshot is decided distributedly (anti-join; ships
                # ≤ |served keys| rows, never the batch).
                rows = _one_job(batch_df, MAX_STREAM_ROWS + 1).collect()
                capped = len(rows) > MAX_STREAM_ROWS
                if capped:
                    rows = rows[:MAX_STREAM_ROWS]
                    self.truncated = True
                entries = changelog_entries(
                    rows, self._key_idx, mode, self._seen, exhaustive=not capped
                )
                if capped and mode == "complete" and self._seen:
                    # DELETEs go FIRST: they retract rows the client already
                    # materialized, so under the buffer-room slice below they
                    # must win over INSERTs of new keys (which a complete
                    # sink re-emits every trigger anyway). _seen is NOT
                    # mutated here: the pop happens after the room slice, so
                    # a DELETE cut off by the slice stays in _seen and the
                    # next trigger's anti-join re-detects it (re-queued, not
                    # lost).
                    del_pairs = self._distributed_deletes(batch_df)
                    delete_keys = [k for k, _ in del_pairs]
                    entries = [e for _, e in del_pairs] + entries
            else:
                # append mode: rows are independent — fetch just enough to
                # fill the buffer, +1 so the truncation flag still trips on
                # the exact boundary batch
                rows = _one_job(batch_df, room + 1).collect()
                entries = _rows(rows)
            with self._lock:
                room = MAX_STREAM_ROWS - len(self._buffer)
                if room <= 0:
                    # defensive re-check, not an observed race: on_batch is
                    # the only _buffer writer and foreachBatch invocations
                    # are serial per query, so room cannot shrink between
                    # the two lock sections today — this guards the
                    # invariant against a future second writer. Entries were
                    # transferred but cannot serve → that IS truncation.
                    if entries:
                        self.truncated = True
                    return
                if len(entries) > room:
                    self.truncated = True
                    entries = entries[:room]
                # deletes are prepended, so the first min(len(delete_keys),
                # len(entries)) entries are the DELETEs that survived the
                # slice — only THOSE keys leave _seen (ADVICE r13: popping
                # before the slice lost sliced-off DELETEs permanently)
                for k in delete_keys[: len(entries)]:
                    self._seen.pop(k, None)
                self._buffer.extend(entries)

        try:
            self.query = start_fn(on_batch)
            self.state = RUNNING
        except Exception as e:  # noqa: BLE001
            self.state = ERROR
            self.error = str(e)
            self.finished_at = time.time()
            raise

    def _distributed_deletes(
        self, batch_df: DataFrame
    ) -> list[tuple[tuple, dict[str, Any]]]:
        """Exact complete-mode DELETE detection under the transfer cap: a
        capped snapshot cannot prove a key's absence, but the served-key set
        (``_seen`` — ≤ MAX_STREAM_ROWS keys by construction) CAN be diffed
        against the WHOLE batch distributedly. A null-safe left-anti join
        ships back only the keys that vanished from the complete snapshot —
        never the batch — so the per-trigger transfer stays ≤ (cap + 1) rows
        plus ≤ |served| key rows. Keys past the cap are in the batch, so the
        anti-join never touches them.

        Returns ``(key, entry)`` pairs WITHOUT mutating ``_seen`` — the
        caller pops only the keys whose DELETE survived the buffer-room
        slice, so a sliced-off retraction is re-detected next trigger
        instead of being lost (ADVICE r13)."""
        import functools

        from pyspark.sql.types import StructType

        spark = batch_df.sparkSession
        key_schema = StructType([batch_df.schema[c] for c in self._key_cols])
        seen_df = spark.createDataFrame(list(self._seen), key_schema)
        batch_keys = batch_df.select(*self._key_cols)
        cond = functools.reduce(
            lambda a, b: a & b,
            [seen_df[c].eqNullSafe(batch_keys[c]) for c in self._key_cols],
        )
        gone = seen_df.join(batch_keys, cond, "left_anti").collect()
        out: list[tuple[tuple, dict[str, Any]]] = []
        for r in gone:
            key = tuple(r)
            old = self._seen.get(key)
            if old is not None:
                out.append((key, {"kind": "DELETE", "fields": old}))
        return out

    # --- lifecycle (reference T5) ------------------------------------------
    def pause(self) -> None:
        self._paused = True

    def resume(self) -> None:
        self._paused = False

    def cancel(self) -> None:
        # CANCELED is set BEFORE stop(): while stop() is in flight the query
        # may die with a cancellation-induced exception, and a concurrent
        # fetch() that still saw state == RUNNING would classify that as
        # ERROR — a transient 500 for a poller racing a DELETE (observed
        # once under full-suite load). With the state already terminal,
        # fetch()'s RUNNING-only reclassification can't fire.
        self.state = CANCELED
        self.finished_at = time.time()
        self.query.stop()

    def await_termination(self, timeout: float | None = None) -> None:
        self.query.awaitTermination(timeout)

    def fetch(self, token: int = 0, max_rows: int = PAGE_SIZE) -> ResultPage:
        if self._paused:
            return ResultPage("NOT_READY", self._columns, [], token)
        try:
            active = self.query.isActive
        except Exception:  # noqa: BLE001 — liveness probe racing a stop()
            # mid-teardown py4j access: the query is terminal; whoever
            # initiated the teardown owns the state transition
            active = False
        if not active and self.state == RUNNING:
            try:
                exc = self.query.exception()
            except Exception as e:  # noqa: BLE001 — same teardown race
                exc = e
            self.state = FINISHED if exc is None else ERROR
            if self.state == ERROR:
                self.error = str(exc)
            self.finished_at = time.time()
            if self.state == FINISHED and getattr(self, "_finish_fn", None) is not None:
                with self._lock:
                    flush, self._flushed = not self._flushed, True
                if flush:
                    try:
                        extra = self._finish_fn() or []
                    except Exception as e:  # noqa: BLE001 — flush failure
                        # is a real query failure, not silently-empty output
                        self.state = ERROR
                        self.error = str(e)
                        extra = []
                    if extra:
                        with self._lock:
                            room = MAX_STREAM_ROWS - len(self._buffer)
                            if len(extra) > room:
                                self.truncated = True
                                extra = extra[:room]
                            self._buffer.extend(extra)
        with self._lock:
            start = self._offsets.get(token)
            if start is None:  # out-of-order token: nothing was served there
                return ResultPage("EOS", self._columns, [], None)
            end = self._offsets.get(token + 1)
            if end is not None:  # idempotent retry of an already-served page
                page = self._buffer[start:end]
            else:
                page = self._buffer[start : start + max_rows]
                if page:
                    self._offsets[token + 1] = start + len(page)
        if page:
            return ResultPage("PAYLOAD", self._columns, page, token + 1)
        if active:
            return ResultPage("NOT_READY", self._columns, [], token)
        return ResultPage("EOS", self._columns, [], None)

    def rows_fetched_cap(self) -> int:
        with self._lock:
            return len(self._buffer)
