"""The engine: session + statement execution (SURVEY.md §3.1, §7.1 steps 1-4).

``Engine`` is the Spark-native equivalent of one SQL-gateway *session*
(reference sqlGatewayClient.ts:71-85): it owns session properties (including
``execution.runtime-mode`` — reference examples/02-datagen-batch.flinknb:43,
flinkNotebookController.ts:950-957), a logical-table registry populated by
our Flink-DDL dialect, and ``execute_sql() -> Statement`` with the paged
result protocol. Queries pass through to Spark SQL — Catalyst replaces the
Flink planner wholesale (SURVEY.md §4).

``SessionManager`` mirrors the gateway's session map: N sessions share one
SparkSession (= one MiniCluster) but have independent registries/properties.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import get_spark, scoped_shuffle_partitions, tune
from ..sources import build_source, connectors
from ..sources import filesystem as fs_sink
from .ddl import Parsed, TableDef, parse_statement, split_statements
from .sql_text import code_matches, match_bracket, split_top, sub_code
from .window_sql import rewrite_flink_dialect
from .statement import (
    BatchStatement,
    ColumnInfo,
    ImmediateStatement,
    Statement,
    StreamingStatement,
    ok_statement,
)

BATCH = "batch"
STREAMING = "streaming"


def _location(table: TableDef) -> str | None:
    """Where a file-backed table keeps its data: the normalized path of a
    ``filesystem`` table, or ``<servers dir>/<topic>`` for a Kafka topic
    emulated on files. None when the engine cannot tell (JDBC, CDC, a real
    broker, Iceberg, datagen)."""
    if table.connector == "filesystem":
        path = table.options.get("path")
    elif table.connector in ("kafka", "upsert-kafka"):
        from ..sources import kafka

        path = kafka._emulation_dir(table)  # noqa: SLF001
    else:
        return None
    if not path:
        return None
    path = re.sub(r"^file:(//)?", "", path)
    if "://" in path:  # remote store (s3a://...): keep the scheme
        return path.rstrip("/")
    return os.path.abspath(path)


def _overlaps(a: str, b: str) -> bool:
    """Equal locations, or one a directory prefix of the other."""
    return a == b or a.startswith(os.path.join(b, "")) or b.startswith(os.path.join(a, ""))


def _cw_final_exprs(out_plan: list) -> list:
    """Finalize a CW windowed-agg state row in Spark SQL: window bounds and
    key columns pass through, partials finalize (AVG = sum/count guarded
    against empty, COUNT nulls to 0). Output aliases ``__o{n}`` follow the
    SELECT-item order, matching the display schema positionally."""
    exprs = []
    for n, (kind, *rest) in enumerate(out_plan):
        if kind == "key":
            c = F.col("__ws" if rest[0] == "window_start" else "__we")
        elif kind == "gkey":
            c = F.col(f"__k{rest[0]}")
        else:
            fn, i = rest
            if fn == "AVG":
                c = F.when(
                    F.col(f"__a{i}_c") > 0,
                    F.col(f"__a{i}_s") / F.col(f"__a{i}_c"),
                )
            elif fn == "COUNT":
                c = F.coalesce(F.col(f"__a{i}"), F.lit(0))
            else:
                c = F.col(f"__a{i}")
        exprs.append(c.alias(f"__o{n}"))
    return exprs


def _grouping_cols(df: DataFrame) -> list[str] | None:
    """Grouping-key column names of a streaming aggregate OR keyed-state
    operator, or None.

    Walks the analyzed logical plan to the first Aggregate /
    FlatMapGroupsInPandasWithState node and returns its grouping attributes
    IF they all survive into the output schema by name — the condition under
    which per-key changelog diffing (statement.changelog_entries) is sound.
    Keyed-state ops (shard_state.apply_keyed_state — the TTL'd funnel/retention/
    sessionize family) emit per-key revision rows in update mode, exactly
    the shape the diff reconstructs ±U kinds from. Plans that rename/drop
    keys (e.g. window aggs projecting window.start) fall back to INSERT-only
    kinds, which is what the reference client renders anyway (it ignores
    ``kind`` — flinkNotebookController.ts:347-358)."""
    try:
        from collections import deque

        q = deque([df._jdf.queryExecution().analyzed()])  # noqa: SLF001
        while q:
            node = q.popleft()
            kind = node.getClass().getSimpleName()
            if kind in ("Aggregate", "FlatMapGroupsInPandasWithState"):
                exprs = (
                    node.groupingExpressions()
                    if kind == "Aggregate"
                    else node.groupingAttributes()
                )
                names = []
                for i in range(exprs.size()):
                    e = exprs.apply(i)
                    if not hasattr(e, "toAttribute"):
                        return None
                    names.append(e.toAttribute().name())
                if names and all(n in df.columns for n in names):
                    return names
                return None
            ch = node.children()
            for i in range(ch.size()):
                q.append(ch.apply(i))
        return None
    except Exception:  # noqa: BLE001 — py4j plan shapes vary; kinds degrade
        return None


def _align_positional(df: DataFrame, target: TableDef, cols: list[str] | None) -> DataFrame:
    """Map a query's output onto an INSERT target POSITIONALLY, like Flink.

    Flink INSERT matches the SELECT's columns to the sink's declared columns
    by position (with an optional explicit column list), never by output
    name — ``INSERT INTO sink SELECT count(*) FROM t`` fills the first sink
    column regardless of its name. Our sinks write/read by name, so: check
    arity, rename positionally to the declared physical names, cast to the
    declared types, and fill unlisted columns with typed NULLs."""
    phys = [
        c
        for c in target.columns
        if c.data_type is not None
        and c.computed_expr is None
        and c.metadata_key is None  # metadata columns are read-only here
    ]
    if not phys:
        return df
    by_name = {c.name: c for c in phys}
    if cols:
        unknown = [n for n in cols if n not in by_name]
        if unknown:
            raise ValueError(f"INSERT into {target.name}: unknown columns {unknown}")
        named = [by_name[n] for n in cols]
    else:
        named = phys
    if len(df.columns) != len(named):
        raise ValueError(
            f"INSERT into {target.name}: query returns {len(df.columns)} columns, "
            f"target expects {len(named)}: {', '.join(c.name for c in named)}"
        )
    out = df.toDF(*[c.name for c in named])
    listed = {c.name for c in named}
    sel = []
    for c in phys:
        if c.name in listed:
            col = F.col(c.name)
            if out.schema[c.name].dataType != c.data_type:
                col = col.cast(c.data_type)
            sel.append(col.alias(c.name))
        else:
            sel.append(F.lit(None).cast(c.data_type).alias(c.name))
    return out.select(*sel)


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        properties: dict[str, str] | None = None,
    ):
        self.spark = tune(spark) if spark is not None else get_spark("flink-notebooks-spark")
        self.session_handle = uuid.uuid4().hex
        self.properties: dict[str, str] = {"execution.runtime-mode": STREAMING}
        self.properties.update(properties or {})
        self.tables: dict[str, TableDef] = {}
        self.statements: list[Statement] = []
        self._listeners: list = []
        self._checkpoint_root = tempfile.mkdtemp(prefix="fns-ckpt-")
        self._default_tz = self.spark.conf.get("spark.sql.session.timeZone")
        # a fresh engine session starts with Flink's TTL default (disabled) —
        # clear any mirror a previous engine left on the shared SparkSession —
        # unless the caller supplied table.exec.state.ttl as a construction-
        # time property, which must reach the embedded keyed-state builders
        # exactly like a SET would (same conf mirror, same lazy validation)
        if "table.exec.state.ttl" in self.properties:
            self._mirror_state_ttl_conf(self.properties["table.exec.state.ttl"])
        else:
            from ..io import STATE_TTL_CONF

            self.spark.conf.unset(STATE_TTL_CONF)
        self._register_flink_builtins()

    # Flink SQL built-ins Spark lacks under those names, provided as
    # session-scoped SQL UDFs (pure expressions — they inline into codegen,
    # no Python). Each mirrors the Flink function's documented semantics.
    _FLINK_BUILTINS = (
        # SPLIT_INDEX: 0-based, LITERAL separator (\Q..\E quotes regex chars)
        r"""SPLIT_INDEX(s STRING, sep STRING, i INT) RETURNS STRING
            RETURN element_at(split(s, concat('\\Q', sep, '\\E')), i + 1)""",
        r"""JSON_VALUE(j STRING, p STRING) RETURNS STRING
            RETURN get_json_object(j, p)""",
        r"""JSON_QUERY(j STRING, p STRING) RETURNS STRING
            RETURN get_json_object(j, p)""",
        # missing path and null value are both non-existent (Flink's default
        # FALSE ON ERROR behavior for scalar paths)
        r"""JSON_EXISTS(j STRING, p STRING) RETURNS BOOLEAN
            RETURN get_json_object(j, p) IS NOT NULL""",
        r"""TO_BASE64(s STRING) RETURNS STRING RETURN base64(encode(s, 'UTF-8'))""",
        r"""FROM_BASE64(s STRING) RETURNS STRING RETURN decode(unbase64(s), 'UTF-8')""",
        # numeric TRUNCATE(x, d): toward zero, like Flink/MySQL
        r"""TRUNCATE(x DOUBLE, d INT) RETURNS DOUBLE
            RETURN sign(x) * floor(abs(x) * pow(10, d)) / pow(10, d)""",
        r"""REGEXP(s STRING, p STRING) RETURNS BOOLEAN RETURN s RLIKE p""",
        # Flink's string classification predicates
        r"""IS_DECIMAL(s STRING) RETURNS BOOLEAN
            RETURN try_cast(s AS DOUBLE) IS NOT NULL""",
        r"""IS_DIGIT(s STRING) RETURNS BOOLEAN RETURN s RLIKE '^[0-9]+$'""",
        r"""IS_ALPHA(s STRING) RETURNS BOOLEAN RETURN s RLIKE '^[A-Za-z]+$'""",
        # CONVERT_TZ(string, from_tz, to_tz) → string, Flink/MySQL semantics
        r"""CONVERT_TZ(s STRING, tz1 STRING, tz2 STRING) RETURNS STRING
            RETURN date_format(from_utc_timestamp(to_utc_timestamp(
                to_timestamp(s), tz1), tz2), 'yyyy-MM-dd HH:mm:ss')""",
        # Flink's per-row wall-clock; Spark evaluates current_timestamp()
        # once per query (documented divergence — batch rows share it)
        r"""CURRENT_ROW_TIMESTAMP() RETURNS TIMESTAMP
            RETURN current_timestamp()""",
        # RAND_INTEGER(bound): uniform int in [0, bound)
        r"""RAND_INTEGER(bound INT) RETURNS INT
            RETURN CAST(floor(rand() * bound) AS INT)""",
    )

    def _register_flink_builtins(self) -> None:
        for ddl in self._FLINK_BUILTINS:
            try:
                self.spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {ddl}")
            except Exception:  # noqa: BLE001 — never block session creation
                pass

    # ------------------------------------------------------------------ mode
    @property
    def runtime_mode(self) -> str:
        return self.properties.get("execution.runtime-mode", STREAMING).lower()

    # ----------------------------------------------------------- table layer
    def _is_bounded(self, table: TableDef) -> bool:
        if table.connector == "datagen":
            return "number-of-rows" in table.options
        return False

    def _materialize(self, table: TableDef, streaming: bool) -> DataFrame:
        df = build_source(self.spark, table, streaming=streaming)
        for c in table.columns:
            if c.computed_expr is not None:
                # Flink's processing-time attribute → Spark's batch/
                # micro-batch evaluation time (same semantics: "now" as of
                # when the row is processed)
                expr = re.sub(
                    r"\bPROCTIME\s*\(\s*\)",
                    "CURRENT_TIMESTAMP",
                    c.computed_expr,
                    flags=re.IGNORECASE,
                )
                df = df.selectExpr("*", f"{expr} AS {c.name}")
        if streaming and table.watermark is not None and table.watermark.delay:
            # Spark watermarks require TIMESTAMP (LTZ); Flink TIMESTAMP(3) maps
            # to NTZ (SURVEY.md §1.2) — promote the event-time column here.
            wm_col = table.watermark.column
            if isinstance(df.schema[wm_col].dataType, T.TimestampNTZType):
                df = df.withColumn(wm_col, F.col(wm_col).cast("timestamp"))
            df = df.withWatermark(wm_col, table.watermark.delay)
        return df

    def _register_view(self, table: TableDef) -> None:
        streaming = (
            self.properties.get("execution.runtime-mode", STREAMING).lower() == STREAMING
            and not self._is_bounded(table)
        )
        try:
            df = self._materialize(table, streaming)
        except ValueError:
            if streaming:  # connector without stream support → batch form
                df = self._materialize(table, False)
            else:
                raise
        df.createOrReplaceTempView(table.name)

    def _refresh_views(self) -> None:
        """Re-materialize every registered table under the current runtime
        mode (SET 'execution.runtime-mode' arrives mid-session — SURVEY §7.4)."""
        for t in self.tables.values():
            self._register_view(t)

    def _refresh_readers(self, written: TableDef) -> None:
        """Re-register the tables that may read data just written to
        ``written``: a batch scan snapshots its file listing at plan time, so
        every table whose location overlaps the target's (the target, a
        second table over the same path or emulated topic, a table over a
        parent directory) would keep serving the stale listing. Tables with
        no known location are refreshed too, since the engine cannot tell
        what they read (e.g. a CDC table over a JDBC sink)."""
        wrote = _location(written)
        for t in self.tables.values():
            loc = _location(t)
            if loc is None or (wrote is not None and _overlaps(loc, wrote)):
                self._register_view(t)

    # -------------------------------------------------------------- execute
    def on_statement_executed(self, callback) -> None:
        """Register ``callback(sql, kind)`` fired after each successful
        statement — the reference's catalog-tree auto-refresh hook
        (flinkNotebookController.ts:27-33 → catalogTreeProvider.ts:46-71
        refreshes on DDL). Listener errors are swallowed: observers must
        not fail statements."""
        self._listeners.append(callback)

    def execute_sql(self, sql: str) -> Statement:
        """Execute ONE statement; returns a Statement with paged results."""
        parsed = parse_statement(sql)
        handler = getattr(self, f"_exec_{parsed.kind}", None)
        if handler is None:
            raise ValueError(f"unsupported statement kind: {parsed.kind}")
        stmt = handler(parsed)
        self.statements.append(stmt)
        for cb in getattr(self, "_listeners", []):
            try:
                cb(sql, parsed.kind)
            except Exception:  # noqa: BLE001
                pass
        return stmt

    def execute_script(self, text: str) -> list[Statement]:
        """Execute a multi-statement script/cell (top-level ';' split)."""
        return [self.execute_sql(s) for s in split_statements(text)]

    def execute_stream_df(self, df: DataFrame) -> Statement:
        """Run an arbitrary streaming DataFrame through the statement
        protocol — token pages, pause/resume/cancel, and changelog-kind
        reconstruction (statement.changelog_entries), exactly like a
        streaming SELECT. This is the embedding surface for operators the
        SQL dialect can't express (the registered keyed-state
        queries: TTL'd funnel/retention/sessionize, streaming dedup):
        their per-key revision rows ride update mode, and _grouping_cols
        reads the keyed-state operator's grouping attributes, so the
        gateway serves Flink-style INSERT / UPDATE_BEFORE / UPDATE_AFTER
        rows for them (reference models/types.ts:24-27)."""
        if not df.isStreaming:
            stmt: Statement = BatchStatement(df)
        else:
            stmt = self._start_streaming_select(df)
        self.statements.append(stmt)
        return stmt

    # ---- DDL ----------------------------------------------------------------
    def _exec_create_table(self, p: Parsed) -> Statement:
        t = p.table
        if t.name in self.tables:
            if t.if_not_exists:
                return ok_statement("OK")
            # Flink raises TableAlreadyExistException; silently replacing the
            # old definition would hide duplicate DDL bugs.
            raise ValueError(f"table already exists: {t.name}")
        if not t.connector:
            # catalog-managed table (qualified name, or session sitting in a
            # non-default catalog): Spark SQL owns the DDL — Flink's
            # catalog-table form, which needs no connector options
            if "." in (p.name or "") or self.spark.catalog.currentCatalog() != "spark_catalog":
                return BatchStatement(self.spark.sql(p.sql))
            raise ValueError(
                f"table {t.name}: a 'connector' option is required "
                f"(one of {', '.join(connectors())})"
            )
        self.tables[t.name] = t
        self._register_view(t)
        return ok_statement("OK")

    def _exec_create_table_like(self, p: Parsed) -> Statement:
        """CREATE TABLE t (... extras ...) WITH (...) LIKE base (options) —
        Flink's table-derivation DDL (same Flink SQL surface the reference
        executes; merge semantics in ddl.merge_like: default INCLUDING ALL
        with OVERWRITING OPTIONS). The merged definition then follows the
        ordinary CREATE TABLE path, so connector validation, registration,
        and SHOW CREATE TABLE all see a plain table."""
        from .ddl import merge_like

        base = self.tables.get(p.value)
        if base is None:
            raise ValueError(f"LIKE source table not found: {p.value}")
        merged = merge_like(base, p.table, p.key)
        return self._exec_create_table(
            Parsed(kind="create_table", table=merged, name=p.name, sql=p.sql)
        )

    def _exec_drop_table(self, p: Parsed) -> Statement:
        if p.name not in self.tables:
            if p.if_exists:
                return ok_statement("OK")
            raise ValueError(f"table not found: {p.name}")
        del self.tables[p.name]
        self.spark.catalog.dropTempView(p.name)
        return ok_statement("OK")

    def _exec_truncate_table(self, p: Parsed) -> Statement:
        """TRUNCATE TABLE t (Flink 1.18 batch statement): delete the data,
        keep the definition. Filesystem tables overwrite with an empty
        frame of the declared schema; other connectors reject, as Flink's
        connectors without truncate support do."""
        t = self.tables.get(p.name)
        if t is None:
            raise ValueError(f"table not found: {p.name}")
        if t.connector != "filesystem":
            raise ValueError(
                f"TRUNCATE TABLE: connector {t.connector!r} does not support truncation"
            )
        empty = self.spark.createDataFrame([], t.spark_schema())
        fs_sink.write_batch(empty, t, overwrite=True)
        self._refresh_readers(t)
        return ok_statement("OK")

    def _exec_analyze_table(self, p: Parsed) -> Statement:
        """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS ...] (Flink 1.18):
        one aggregation pass computes the row count — plus per-column
        non-null/NDV/min/max when columns are requested — stored on the
        logical table (rendered by later DESCRIBE EXTENDED-style tooling)
        and returned as the statement result, so notebooks see what was
        computed."""
        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        df = self.spark.table(t.name)
        cols = p.columns or []
        if cols == ["*"]:
            cols = [f.name for f in df.schema.fields]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.count(c).alias(f"nn_{c}"),
                F.approx_count_distinct(c).alias(f"nd_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            ]
        row = df.agg(*aggs).first()
        stats: dict = {"row_count": row["__n"]}
        rows = [["row_count", "", str(row["__n"])]]
        for c in cols:
            stats[c] = {
                "non_null": row[f"nn_{c}"],
                "ndv": row[f"nd_{c}"],
                "min": row[f"mn_{c}"],
                "max": row[f"mx_{c}"],
            }
            rows += [
                ["non_null", c, str(row[f"nn_{c}"])],
                ["ndv", c, str(row[f"nd_{c}"])],
                ["min", c, str(row[f"mn_{c}"])],
                ["max", c, str(row[f"mx_{c}"])],
            ]
        t.stats = stats  # type: ignore[attr-defined]
        return ImmediateStatement(
            [
                ColumnInfo("stat", "STRING", False),
                ColumnInfo("column", "STRING", False),
                ColumnInfo("value", "STRING", False),
            ],
            rows,
        )

    def _exec_show_partitions(self, p: Parsed) -> Statement:
        """SHOW PARTITIONS t (Flink partitioned-table inspection): the
        distinct partition-key tuples, rendered in Flink's key=value/...
        spec form. Answered from the data via a partition-column-only
        DISTINCT — the scan prunes to the partition directories, so no data
        files are read. Catalog tables pass through to Spark SQL."""
        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        if not t.partitioned_by:
            raise ValueError(f"table is not partitioned: {p.name}")
        cols = ", ".join(f"`{c}`" for c in t.partitioned_by)
        rows = self.spark.sql(
            f"SELECT DISTINCT {cols} FROM `{t.name}` ORDER BY {cols}"
        ).collect()
        spec = [
            ["/".join(f"{c}={r[c]}" for c in t.partitioned_by)] for r in rows
        ]
        return ImmediateStatement([ColumnInfo("partition name", "STRING", False)], spec)

    # ---- job statements (SQL face of the T6/T7 monitor) -------------------
    def _exec_show_jobs(self, p: Parsed) -> Statement:
        from ..streaming.monitor import JobMonitor

        rows = [
            [j.job_id, j.name, j.state, j.duration_ms]
            for j in JobMonitor(self.spark).streaming_jobs()
        ]
        return ImmediateStatement(
            [
                ColumnInfo("job id", "STRING", False),
                ColumnInfo("job name", "STRING", False),
                ColumnInfo("status", "STRING", False),
                ColumnInfo("duration", "BIGINT", False),
            ],
            rows,
        )

    def _exec_describe_job(self, p: Parsed) -> Statement:
        from ..streaming.monitor import JobMonitor

        j = JobMonitor(self.spark)._find(p.name)
        if j is None:
            raise ValueError(f"job not found: {p.name}")
        return ImmediateStatement(
            [
                ColumnInfo("job id", "STRING", False),
                ColumnInfo("job name", "STRING", False),
                ColumnInfo("status", "STRING", False),
                ColumnInfo("duration", "BIGINT", False),
            ],
            [[j.job_id, j.name, j.state, j.duration_ms]],
        )

    def _exec_stop_job(self, p: Parsed) -> Statement:
        from ..streaming.monitor import JobMonitor

        if not JobMonitor(self.spark).cancel(p.name):
            raise ValueError(f"job not found: {p.name}")
        return ok_statement("OK")

    # ---- module statements (function-library resolution order) ------------
    def _exec_show_modules(self, p: Parsed) -> Statement:
        mods = getattr(self, "_modules", ["core"])
        if p.value == "full":
            return ImmediateStatement(
                [
                    ColumnInfo("module name", "STRING", False),
                    ColumnInfo("used", "BOOLEAN", False),
                ],
                [[m, True] for m in mods],
            )
        return ImmediateStatement(
            [ColumnInfo("module name", "STRING", False)], [[m] for m in mods]
        )

    def _exec_load_module(self, p: Parsed) -> Statement:
        mods = getattr(self, "_modules", None)
        if mods is None:
            mods = self._modules = ["core"]
        if p.name in mods:
            raise ValueError(f"module already loaded: {p.name}")
        mods.append(p.name)
        return ok_statement("OK")

    def _exec_unload_module(self, p: Parsed) -> Statement:
        mods = getattr(self, "_modules", None)
        if mods is None:
            mods = self._modules = ["core"]
        if p.name not in mods:
            raise ValueError(f"module not loaded: {p.name}")
        mods.remove(p.name)
        return ok_statement("OK")

    # ---- session properties ---------------------------------------------
    def _exec_set(self, p: Parsed) -> Statement:
        self.properties[p.key] = p.value
        if p.key == "execution.runtime-mode":
            self._refresh_views()
        elif p.key == "table.exec.state.ttl":
            self._mirror_state_ttl_conf(p.value)
        elif p.key == "table.local-time-zone":
            # Flink's session time zone ↔ Spark's — timestamps with local
            # time zone render/parse in this zone
            self.spark.conf.set("spark.sql.session.timeZone", p.value)
        elif p.key.startswith("spark."):
            try:
                self.spark.conf.set(p.key, p.value)
            except Exception:  # noqa: BLE001  (static confs are not settable)
                pass
        return ok_statement("OK")

    def _mirror_state_ttl_conf(self, raw: str) -> None:
        """Mirror ``table.exec.state.ttl`` into the Spark session conf so
        keyed-state stream builders created after it lands — including ones
        submitted through the embedding surface (execute_stream_df) — pick
        the horizon up (io.session_state_ttl_s), Flink's session-scoped
        semantics. Shared by SET and by construction-time ``properties=``
        (both are Flink session configuration — split-brain between the two
        paths would make the embedded builders silently ignore one of them).
        Validation stays LAZY like Flink's SET (the pinned contract: a bad
        duration errors at first use, not at SET) — an unparsable value
        mirrors as an error sentinel so the embedded surface raises just as
        loudly as the SQL one."""
        from ..io import STATE_TTL_CONF

        try:
            ttl_s = self._state_ttl_s()
        except ValueError:
            self.spark.conf.set(STATE_TTL_CONF, f"ERR:{raw}")
        else:
            self.spark.conf.set(
                STATE_TTL_CONF,
                "0" if ttl_s in (0, None) else str(ttl_s * 1000),
            )

    def _exec_reset(self, p: Parsed) -> Statement:
        from ..io import STATE_TTL_CONF

        if p.key:
            self.properties.pop(p.key, None)
            if p.key == "table.local-time-zone":
                self.spark.conf.set(
                    "spark.sql.session.timeZone", self._default_tz
                )
            elif p.key == "table.exec.state.ttl":
                self.spark.conf.unset(STATE_TTL_CONF)
        else:
            self.spark.conf.set("spark.sql.session.timeZone", self._default_tz)
            self.spark.conf.unset(STATE_TTL_CONF)
            self.properties = {"execution.runtime-mode": STREAMING}
        return ok_statement("OK")

    # ---- catalog surface (reference catalogService.ts:126-221) ------------
    def _exec_show(self, p: Parsed) -> Statement:
        what = p.show_what
        if what == "catalogs":
            rows = [[c.name] for c in self.spark.catalog.listCatalogs()]
            return ImmediateStatement([ColumnInfo("catalog name", "STRING")], rows)
        if what == "databases":
            rows = [[d.name] for d in self.spark.catalog.listDatabases()]
            return ImmediateStatement([ColumnInfo("database name", "STRING")], rows)
        if what in ("tables", "views"):
            names = set(self.tables)
            names.update(t.name for t in self.spark.catalog.listTables())
            return ImmediateStatement(
                [ColumnInfo("table name", "STRING")], [[n] for n in sorted(names)]
            )
        if what == "functions":
            rows = [[f.name] for f in self.spark.catalog.listFunctions()]
            return ImmediateStatement([ColumnInfo("function name", "STRING")], rows)
        if what == "jars":
            jars = self.spark.sparkContext._jsc.sc().listJars()  # noqa: SLF001
            rows = [[j] for j in [jars.apply(i) for i in range(jars.size())]]
            return ImmediateStatement([ColumnInfo("jar", "STRING")], rows)
        if what == "set":
            rows = [[k, v] for k, v in sorted(self.properties.items())]
            return ImmediateStatement(
                [ColumnInfo("key", "STRING"), ColumnInfo("value", "STRING")], rows
            )
        raise ValueError(f"SHOW {what} not supported")

    def _exec_describe(self, p: Parsed) -> Statement:
        cols = [
            ColumnInfo("name", "STRING"),
            ColumnInfo("type", "STRING"),
            ColumnInfo("null", "STRING"),
            ColumnInfo("key", "STRING"),
            ColumnInfo("extras", "STRING"),
            ColumnInfo("watermark", "STRING"),
        ]
        t = self.tables.get(p.name)
        if t is not None:
            rows = []
            for c in t.columns:
                wm = ""
                if t.watermark and t.watermark.column == c.name:
                    wm = t.watermark.expr
                extras = ""
                if c.computed_expr:
                    extras = f"AS {c.computed_expr}"
                elif c.metadata_key is not None:
                    extras = f"METADATA FROM '{c.metadata_key}'"
                    if c.metadata_virtual:
                        extras += " VIRTUAL"
                rows.append(
                    [
                        c.name,
                        (c.data_type.simpleString().upper() if c.data_type else "COMPUTED"),
                        "TRUE" if c.nullable else "FALSE",
                        "PRI" if c.name in t.primary_key else "",
                        extras,
                        wm,
                    ]
                )
            return ImmediateStatement(cols, rows)
        df = self.spark.table(p.name)
        rows = [
            [f.name, f.dataType.simpleString().upper(), "TRUE" if f.nullable else "FALSE", "", "", ""]
            for f in df.schema.fields
        ]
        return ImmediateStatement(cols, rows)

    def _exec_show_current(self, p: Parsed) -> Statement:
        """SHOW CURRENT CATALOG / DATABASE — Flink's session-pointer
        inspection statements (column names match Flink's output)."""
        if p.value == "catalog":
            return ImmediateStatement(
                [ColumnInfo("current catalog name", "STRING", False)],
                [[self.spark.catalog.currentCatalog()]],
            )
        return ImmediateStatement(
            [ColumnInfo("current database name", "STRING", False)],
            [[self.spark.catalog.currentDatabase()]],
        )

    def _exec_use_catalog(self, p: Parsed) -> Statement:
        self.spark.catalog.setCurrentCatalog(p.name)
        return ok_statement("OK")

    def _exec_use(self, p: Parsed) -> Statement:
        self.spark.catalog.setCurrentDatabase(p.name)
        return ok_statement("OK")

    def _exec_create_view(self, p: Parsed) -> Statement:
        """Session-scoped view over the dialect-rewritten query. Registered
        as a Spark temp view so it can reference logical tables (themselves
        temp views) — matching Flink's session views in the default
        in-memory catalog; works for batch AND streaming relations."""
        # SQL-text form: Spark resolves the view again at each use, so it
        # follows a re-registered table (an analyzed DataFrame would freeze
        # the file listing of this moment)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{p.name}` AS "
            f"{rewrite_flink_dialect(p.value)}"
        )
        return ok_statement("OK")

    def _exec_drop_view(self, p: Parsed) -> Statement:
        dropped = self.spark.catalog.dropTempView(p.name)
        if not dropped and not p.if_exists:
            raise ValueError(f"view not found: {p.name}")
        return ok_statement("OK")

    def _exec_show_create_table(self, p: Parsed) -> Statement:
        """Reconstruct the Flink-dialect DDL of a registered logical table
        (SHOW CREATE TABLE, supported in Flink SQL and used for catalog
        inspection). Falls through to Spark SQL for catalog-managed tables."""
        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        parts = []
        for c in t.columns:
            if c.computed_expr is not None:
                parts.append(f"  `{c.name}` AS {c.computed_expr}")
            else:
                from .types import to_flink_type

                typ = to_flink_type(c.data_type) if c.data_type else "STRING"
                nn = "" if c.nullable else " NOT NULL"
                meta = ""
                if c.metadata_key is not None:
                    meta = f" METADATA FROM '{c.metadata_key}'"
                    if c.metadata_virtual:
                        meta += " VIRTUAL"
                parts.append(f"  `{c.name}` {typ}{nn}{meta}")
        if t.primary_key:
            parts.append(
                "  PRIMARY KEY (" + ", ".join(f"`{k}`" for k in t.primary_key)
                + ") NOT ENFORCED"
            )
        if t.watermark is not None:
            parts.append(f"  WATERMARK FOR `{t.watermark.column}` AS {t.watermark.expr}")
        ddl = f"CREATE TABLE `{t.name}` (\n" + ",\n".join(parts) + "\n)"
        if t.partitioned_by:
            ddl += " PARTITIONED BY (" + ", ".join(f"`{c}`" for c in t.partitioned_by) + ")"
        opts = ",\n".join(f"  '{k}' = '{v}'" for k, v in sorted(t.options.items()))
        ddl += " WITH (\n" + opts + "\n)"
        return ImmediateStatement([ColumnInfo("result", "STRING", False)], [[ddl]])

    def _exec_alter_table_set(self, p: Parsed) -> Statement:
        """ALTER TABLE t SET ('k'='v'): merge options into the logical table
        and re-materialize its view (Flink's table-option update). Unknown
        tables pass through to Spark SQL (catalog-managed tables)."""
        from .ddl import _parse_with_options

        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        t.options.update(_parse_with_options(p.value))
        self._register_view(t)
        return ok_statement("OK")

    def _exec_alter_watermark_set(self, p: Parsed) -> Statement:
        """ALTER TABLE t ADD|MODIFY WATERMARK FOR col AS expr (FLIP-273):
        replace the table's watermark declaration and re-materialize."""
        from .ddl import _parse_watermark

        t = self.tables.get(p.name)
        if t is None:
            raise ValueError(f"table not found: {p.name}")
        wm = _parse_watermark(p.value)
        if wm.column not in {c.name for c in t.columns}:
            raise ValueError(
                f"ALTER TABLE {p.name}: watermark column {wm.column!r} "
                "is not a column of the table"
            )
        t.watermark = wm
        self._register_view(t)
        return ok_statement("OK")

    def _exec_alter_watermark_drop(self, p: Parsed) -> Statement:
        """ALTER TABLE t DROP WATERMARK — remove the declaration."""
        t = self.tables.get(p.name)
        if t is None:
            raise ValueError(f"table not found: {p.name}")
        if t.watermark is None:
            raise ValueError(f"table {p.name} has no watermark to drop")
        t.watermark = None
        self._register_view(t)
        return ok_statement("OK")

    def _exec_alter_table_rename(self, p: Parsed) -> Statement:
        """ALTER TABLE t RENAME TO t2 — registry move + view re-registration."""
        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        if p.value in self.tables:
            raise ValueError(f"table already exists: {p.value}")
        del self.tables[p.name]
        self.spark.catalog.dropTempView(p.name)
        t.name = p.value
        self.tables[t.name] = t
        self._register_view(t)
        return ok_statement("OK")

    def _exec_alter_table_add(self, p: Parsed) -> Statement:
        """ALTER TABLE t ADD (c TYPE, …) — appends columns; existing stored
        data surfaces the new columns as typed NULLs (filesystem _align),
        like Flink's ADD COLUMN on an external table."""
        from .ddl import _parse_schema_items

        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        probe = TableDef(name=t.name)
        _parse_schema_items(p.value, probe)
        dup = [c.name for c in probe.columns if any(x.name == c.name for x in t.columns)]
        if dup:
            raise ValueError(f"column(s) already exist: {dup}")
        t.columns.extend(probe.columns)
        if probe.watermark is not None:
            t.watermark = probe.watermark
        self._register_view(t)
        return ok_statement("OK")

    def _exec_alter_table_drop_col(self, p: Parsed) -> Statement:
        t = self.tables.get(p.name)
        if t is None:
            return BatchStatement(self.spark.sql(p.sql))
        col = p.value
        if col in t.primary_key or col in t.partitioned_by or (
            t.watermark is not None and t.watermark.column == col
        ):
            raise ValueError(f"cannot drop column {col}: used by key/partition/watermark")
        before = len(t.columns)
        t.columns = [c for c in t.columns if c.name != col]
        if len(t.columns) == before:
            raise ValueError(f"column not found: {col}")
        self._register_view(t)
        return ok_statement("OK")

    # ---- catalogs (D3) — real catalogs over Spark's JDBCTableCatalog ------
    _CATALOG_CLASS = "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
    _DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

    def _exec_create_catalog(self, p: Parsed) -> Statement:
        """CREATE CATALOG c WITH ('type'=…) (Flink catalog DDL,
        reference catalogService.ts:126-221). Supported types:

        - ``jdbc``: Flink's JdbcCatalog options (base-url/default-database/
          username/password [+ driver]) map onto Spark's JDBCTableCatalog —
          a real external catalog; tables live in the database.
        - ``generic_in_memory``: an in-memory Derby database behind the same
          JDBCTableCatalog (embedded, session-lifetime) — functional parity
          with Flink's GenericInMemoryCatalog.

        Catalog confs are runtime-settable; Spark instantiates the catalog
        lazily on first reference (USE CATALOG c / c.db.t)."""
        from .ddl import _parse_with_options

        opts = _parse_with_options(p.value)
        ctype = opts.get("type", "")
        conf = self.spark.conf
        base = f"spark.sql.catalog.{p.name}"
        if ctype == "generic_in_memory":
            conf.set(base, self._CATALOG_CLASS)
            conf.set(f"{base}.url", f"jdbc:derby:memory:{p.name};create=true")
            conf.set(f"{base}.driver", self._DERBY_DRIVER)
        elif ctype == "jdbc":
            url = opts.get("base-url", "").rstrip("/")
            db = opts.get("default-database", "")
            full = opts.get("url") or (f"{url}/{db}" if db else url)
            if not full:
                raise ValueError("jdbc catalog requires 'base-url' (+ 'default-database') or 'url'")
            conf.set(base, self._CATALOG_CLASS)
            conf.set(f"{base}.url", full)
            for src, dst in (("username", "user"), ("password", "password"), ("driver", "driver")):
                if src in opts:
                    conf.set(f"{base}.{dst}", opts[src])
        else:
            raise ValueError(
                f"CREATE CATALOG: unsupported type {ctype!r} (jdbc | generic_in_memory); "
                "hive/iceberg catalogs need their runtime jars on the classpath"
            )
        return ok_statement("OK")

    def _exec_drop_catalog(self, p: Parsed) -> Statement:
        """Unregisters the catalog confs and leaves the current catalog sane.
        Spark caches an already-instantiated catalog object in the session's
        CatalogManager for the session lifetime; fresh sessions (and
        catalogs never referenced) are fully gone."""
        base = f"spark.sql.catalog.{p.name}"
        try:
            self.spark.conf.get(base)
        except Exception:  # noqa: BLE001
            if p.if_exists:
                return ok_statement("OK")
            raise ValueError(f"catalog not found: {p.name}") from None
        if self.spark.catalog.currentCatalog() == p.name:
            self.spark.catalog.setCurrentCatalog("spark_catalog")
        self.spark.conf.unset(base)
        for suffix in ("url", "driver", "user", "password"):
            try:
                self.spark.conf.unset(f"{base}.{suffix}")
            except Exception:  # noqa: BLE001
                pass
        return ok_statement("OK")

    def _exec_add_jar(self, p: Parsed) -> Statement:
        self.spark.sql(f"ADD JAR '{p.name}'")
        return ok_statement("OK")

    # ---- function DDL (Flink CREATE FUNCTION … AS 'class' LANGUAGE …) ----
    _PY_TYPE_MAP = {
        "int": "bigint",
        "float": "double",
        "str": "string",
        "bool": "boolean",
    }

    def _exec_create_function(self, p: Parsed) -> Statement:
        """CREATE FUNCTION f AS 'impl' [LANGUAGE JAVA|SCALA|PYTHON].

        JAVA/SCALA: ``impl`` is a class implementing Spark's UDF0..UDF22
        interface, loaded from the session classpath (ADD JAR first) and
        registered session-wide. PYTHON: ``impl`` is a dotted import path
        ``pkg.module.callable``; the result type comes from the callable's
        return annotation (int/float/str/bool), defaulting to string —
        mirroring Flink's annotated Python UDFs."""
        if p.key in ("JAVA", "SCALA"):
            self.spark.udf.registerJavaFunction(p.name, p.value, None)
            return ok_statement("OK")
        if p.key == "PYTHON":
            import importlib

            mod_path, _, attr = p.value.rpartition(".")
            if not mod_path:
                raise ValueError(f"python function path must be module.callable: {p.value!r}")
            fn = getattr(importlib.import_module(mod_path), attr)
            ret = self._PY_TYPE_MAP.get(
                getattr(getattr(fn, "__annotations__", {}).get("return"), "__name__", ""),
                "string",
            )
            self.spark.udf.register(p.name, fn, ret)
            return ok_statement("OK")
        raise ValueError(f"CREATE FUNCTION: unsupported LANGUAGE {p.key}")

    def _exec_drop_function(self, p: Parsed) -> Statement:
        try:
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {p.name}")
        except Exception:  # noqa: BLE001
            if not p.if_exists:
                raise
        return ok_statement("OK")

    def catalog_tree(self) -> dict[str, dict[str, list[str]]]:
        """catalog → database → [tables], the browser-tree shape the
        reference builds via sequential SHOW statements (reference
        catalogService.ts:226-285). Session-registered logical tables appear
        under the current catalog/database alongside Spark-catalog tables."""
        tree: dict[str, dict[str, list[str]]] = {}
        cur_cat = self.spark.catalog.currentCatalog()
        cur_db = self.spark.catalog.currentDatabase()
        for cat in self.spark.catalog.listCatalogs():
            tree[cat.name] = {}
        tree.setdefault(cur_cat, {})
        for db in self.spark.catalog.listDatabases():
            names = {t.name for t in self.spark.catalog.listTables(db.name)}
            if db.name == cur_db:
                names.update(self.tables)
            tree[cur_cat][db.name] = sorted(names)
        return tree

    # ---- queries ----------------------------------------------------------
    _OPT_HINT = re.compile(
        r"([`\w.]+)\s*/\*\+\s*OPTIONS\s*\(([^)]*)\)\s*\*/"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|JOIN\b|LEFT\b|"
        r"RIGHT\b|FULL\b|INNER\b|CROSS\b|ON\b|UNION\b|HAVING\b|MATCH_RECOGNIZE\b)"
        r"(\w+))?",
        re.IGNORECASE,
    )

    def _apply_options_hints(self, sql: str) -> str:
        """Flink dynamic table options: ``FROM t /*+ OPTIONS('k'='v') */`` —
        the query-scoped option override (e.g. a different
        scan.startup.mode or path for ONE read). Each hinted reference
        materializes a one-off view of the table with the merged options
        and substitutes it, aliased back to the original name (or the
        user's alias) so column qualification is unchanged. Hints on names
        this session doesn't own pass through untouched — Spark warns and
        ignores unknown hints."""
        from dataclasses import replace as dc_replace

        from .ddl import _parse_with_options

        def sub(m):
            tname = m.group(1).split(".")[-1].strip("`")
            t = self.tables.get(tname)
            if t is None:
                return m.group(0)
            opts = _parse_with_options(m.group(2))
            vname = f"__opt_{tname}_{abs(hash(frozenset(opts.items()))) % 10**8:08d}"
            variant = dc_replace(
                t, name=vname, options={**t.options, **opts}
            )
            self._register_view(variant)
            alias = m.group(3) or tname
            return f"{vname} AS {alias}"

        return self._OPT_HINT.sub(sub, sql)

    def _exec_query(self, p: Parsed) -> Statement:
        from ..operators import sql_match_recognize

        if "OPTIONS" in p.sql.upper():
            p = Parsed(**{**p.__dict__, "sql": self._apply_options_hints(p.sql)})
        cw = self._try_current_watermark(p.sql)
        if cw is not None:
            return cw
        mr = sql_match_recognize(
            self.spark,
            p.sql,
            close_after=self.properties.get("match-recognize.close-after"),
        )
        if mr is not None:
            if mr.isStreaming:
                return self._start_streaming_select(mr)
            return BatchStatement(mr)
        tj = self._try_versioned_temporal_join(p.sql)
        if tj is not None:
            if tj.isStreaming:
                return self._start_streaming_select(tj)
            return BatchStatement(tj)
        ov = self._try_streaming_over(p.sql)
        if ov is not None:
            return self._start_streaming_select(ov)
        df = self.spark.sql(rewrite_flink_dialect(p.sql))
        if df.isStreaming:
            return self._start_streaming_select(df)
        return BatchStatement(df)

    _TJOIN = re.compile(
        r"^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<probe>[`\w.]+)"
        r"(?:\s+(?:AS\s+)?(?P<palias>(?!LEFT\b|JOIN\b)\w+))?\s+"
        r"(?P<jtype>LEFT\s+)?JOIN\s+(?P<dim>[`\w.]+)\s+"
        r"FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?P<tref>[`\w.]+)"
        r"(?:\s+(?:AS\s+)?(?P<dalias>(?!ON\b)\w+))?\s+ON\s+(?P<cond>.+?)"
        r"(?P<rest>\s+(?:WHERE|GROUP|ORDER|LIMIT)\b.*)?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _try_versioned_temporal_join(self, sql: str) -> DataFrame | None:
        """Event-time versioned temporal join (SURVEY.md J7, full semantics).

        Canonical Flink form —
        ``SELECT ... FROM probe [p] JOIN dim FOR SYSTEM_TIME AS OF p.t [d]
        ON p.k = d.k [WHERE/ORDER BY/LIMIT ...]`` — resolves each probe row
        against the dim *version* current at the row's event time, when the
        dim table declares a version column (its WATERMARK column, Flink's
        rule for versioned tables). Executes via ``operators.asof_join``
        (union-tag + running last: ONE shuffle, zero row explosion — the
        lateral-subquery rewrite Catalyst would decorrelate plans a
        cartesian of distinct probe times × dim, which dies at scale).
        Returns None → caller falls back to snapshot semantics for dims
        without a version column, matching this engine's connector model.
        """

        from ..operators import asof_join

        m = self._TJOIN.match(sql)
        if m is None:
            return None
        dim_def = self.tables.get(m.group("dim"))
        if dim_def is None or dim_def.watermark is None:
            return None  # no version column → snapshot semantics path
        palias = m.group("palias") or m.group("probe")
        dalias = m.group("dalias") or m.group("dim")
        tref = m.group("tref").split(".")[-1]
        version_col = dim_def.watermark.column

        def side_of(ref: str) -> tuple[str, str]:
            parts = ref.split(".")
            return (parts[0], parts[-1]) if len(parts) > 1 else ("", parts[-1])

        probe_keys, dim_keys = [], []
        for clause in split_top(m.group("cond"), "AND"):
            eq = clause.split("=")
            if len(eq) != 2:
                return None  # non-equi temporal condition → fall back
            (qa, ca), (qb, cb) = side_of(eq[0].strip()), side_of(eq[1].strip())
            if qa == dalias or (qb == palias and qa != palias):
                qa, ca, qb, cb = qb, cb, qa, ca
            probe_keys.append(ca)
            dim_keys.append(cb)
        probe_df = self.spark.table(m.group("probe"))
        dim_df = self.spark.table(m.group("dim"))
        # align dim key names onto probe key names (asof_join joins by name)
        for pk, dk in zip(probe_keys, dim_keys):
            if pk != dk:
                dim_df = dim_df.withColumnRenamed(dk, pk)
        payload = [c for c in dim_df.columns if c not in probe_keys]
        clash = [c for c in payload if c in probe_df.columns]
        if clash:
            raise ValueError(
                f"temporal join: column name collision {clash}; alias dim columns"
            )
        out = asof_join(
            probe_df, dim_df, probe_keys, tref, version_col, payload=payload
        )
        if not m.group("jtype"):  # INNER: drop probe rows with no version yet
            out = out.filter(F.col(version_col).isNotNull())
        out.createOrReplaceTempView("__tj_result")
        # identifier positions only — a string literal containing "p." or
        # "d." must survive verbatim (same literal-safety contract as the
        # streaming-OVER alias strip)
        strip = rf"\b({palias}|{dalias})\s*\.\s*"
        sel = sub_code(strip, "", m.group("sel"))
        rest = sub_code(strip, "", m.group("rest") or "")
        return self.spark.sql(f"SELECT {sel} FROM __tj_result {rest}")

    _OVER_SPEC = re.compile(
        r"^\s*PARTITION\s+BY\s+(?P<part>.+?)\s+ORDER\s+BY\s+"
        r"(?P<ord>[\w.`]+)(?:\s+ASC)?\s+(?P<mode>RANGE|ROWS)\s+BETWEEN\s+"
        r"(?:(?P<unb>UNBOUNDED)|INTERVAL\s+'(?P<iv>\d+(?:\.\d+)?)'\s+"
        r"(?P<unit>MILLISECOND|SECOND|MINUTE|HOUR|DAY)S?|(?P<nrows>\d+))"
        r"\s+PRECEDING\s+AND\s+CURRENT\s+ROW\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _OVER_AGG_ITEM = re.compile(
        r"^(?P<func>\w+)\s*\(\s*(?P<arg>\*|[\w.`]+)\s*\)\s*"
        r"\x00W(?P<w>\d+)\x00\s+AS\s+(?P<alias>\w+)$",
        re.IGNORECASE,
    )
    _OVER_CARRY_ITEM = re.compile(
        r"^(?P<col>[\w.`]+)(?:\s+AS\s+(?P<alias>\w+))?$",
        re.IGNORECASE,
    )

    def _state_ttl_s(self) -> int | None:
        """Flink's ``table.exec.state.ttl`` session property → idle-horizon
        seconds for the streaming OVER operator: Flink duration syntax via
        the SHARED parser (every TimeUtils unit alias; bare number = ms),
        ``'0'`` = Flink's explicit TTL-DISABLED value (state never cleaned
        → idle eviction off), None when the property is unset."""
        raw = self.properties.get("table.exec.state.ttl")
        if raw is None:
            return None
        from ..operators.match_recognize import _duration_ms

        try:
            ms = _duration_ms(str(raw))
        except ValueError:
            raise ValueError(
                f"table.exec.state.ttl: cannot parse {raw!r} (use Flink "
                "duration syntax, e.g. '1 h', '30 min', '3600 s', or ms)"
            ) from None
        return 0 if ms == 0 else max(1, (ms + 999) // 1000)

    def _try_streaming_over(self, sql: str):
        """Event-time OVER aggregation on a STREAMING table (SURVEY.md §2.6
        W4-W6 streaming forms — Flink runs rowtime OVER windows on streams,
        stock planner via reference flink-runtime/build.gradle:37; Spark's
        Structured Streaming rejects window functions outright with
        NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING). Canonical form:

            SELECT k, rowtime, SUM(x) OVER w AS s, ... FROM t [WHERE ...]
            -- every w = (PARTITION BY k ORDER BY rowtime
            --            RANGE|ROWS BETWEEN <bound> PRECEDING AND CURRENT ROW)

        executes via operators.over_window.streaming_over_window (keyed row
        buffer, watermark-mature in-order emission, frame-horizon state).
        Flink's own streaming restrictions are enforced loudly: all OVER
        specs in one SELECT must be identical, and ORDER BY must be the
        table's time attribute (its WATERMARK column). Returns None for
        batch tables (Spark's native OVER handles those) and for shapes
        outside the canonical form (joins, GROUP BY, subqueries — the
        fallback's error then names the real limitation)."""

        from pyspark.sql import functions as F

        from ..operators.over_window import OverAgg, streaming_over_window

        # mask balanced OVER (...) spans so top-level parsing can't trip on
        # the parens/commas/ORDER BY inside the window specs
        specs: list[str] = []
        masked = []
        i = 0
        for m in code_matches(r"\bOVER\s*\(", sql):
            if m.start() < i:
                continue  # inside the previous OVER span
            try:
                j = match_bracket(sql, m.end() - 1)
            except ValueError:
                return None  # unbalanced — let the fallback error
            masked.append(sql[i : m.start()])
            masked.append(f"\x00W{len(specs)}\x00")
            specs.append(sql[m.end() : j].strip())
            i = j + 1
        if not specs:
            return None
        masked.append(sql[i:])
        msql = "".join(masked)
        q = re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[\w.`]+)"
            r"(?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b)\w+))?"
            r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
            msql,
            re.IGNORECASE | re.DOTALL,
        )
        if q is None or re.search(
            r"\b(JOIN|GROUP\s+BY|UNION|HAVING|LIMIT|ORDER\s+BY|MATCH_RECOGNIZE)\b",
            msql,
            re.IGNORECASE,
        ):
            return None  # outside the canonical single-table OVER form
        name = q.group("tbl").split(".")[-1].strip("`")
        tdef = self.tables.get(name)
        if tdef is None:
            return None
        try:
            base = self.spark.table(name)
        except Exception:  # noqa: BLE001 - unresolvable → fallback errors
            return None
        if not base.isStreaming:
            return None  # Spark executes batch OVER natively
        norm = {re.sub(r"\s+", " ", s).strip().upper() for s in specs}
        if len(norm) > 1:
            raise ValueError(
                "streaming OVER: all OVER windows in one SELECT must be "
                "identical on a streaming table (Flink's restriction)"
            )
        sp = self._OVER_SPEC.match(specs[0])
        if sp is None:
            raise NotImplementedError(
                "streaming OVER: only PARTITION BY ... ORDER BY <rowtime> "
                "RANGE|ROWS BETWEEN <bound>|UNBOUNDED PRECEDING AND CURRENT "
                "ROW is supported on streaming tables (Flink's streaming "
                f"OVER envelope); got: OVER ({specs[0]})"
            )
        alias = q.group("alias")
        if alias:
            _alias_re = re.compile(rf"\b{re.escape(alias)}\s*\.\s*")

            def strip_alias(s: str) -> str:
                # identifier positions only — never rewrite inside a string
                # literal (WHERE note = 't.x' must keep its literal intact)
                return sub_code(_alias_re, "", s)

        else:
            strip_alias = lambda s: s  # noqa: E731
        ord_col = strip_alias(sp.group("ord")).split(".")[-1].strip("`")
        if tdef.watermark is None or ord_col != tdef.watermark.column:
            raise ValueError(
                f"streaming OVER: ORDER BY {ord_col} must be the table's "
                "time attribute (its WATERMARK column"
                + (
                    f", here {tdef.watermark.column!r}"
                    if tdef.watermark
                    else " — this table declares none"
                )
                + ") — Flink's streaming OVER requirement"
            )
        mode = sp.group("mode").upper()
        if sp.group("unb"):
            frame = ("unbounded", mode.lower())
        elif mode == "ROWS":
            if sp.group("nrows") is None:
                raise NotImplementedError(
                    "streaming OVER: ROWS frames take an integer bound"
                )
            frame = ("rows", int(sp.group("nrows")))
        else:
            if sp.group("iv") is None:
                raise NotImplementedError(
                    "streaming OVER: RANGE frames take an INTERVAL bound"
                )
            unit_us = {
                "MILLISECOND": 1_000,
                "SECOND": 1_000_000,
                "MINUTE": 60_000_000,
                "HOUR": 3_600_000_000,
                "DAY": 86_400_000_000,
            }[sp.group("unit").upper()]
            frame = ("range", int(float(sp.group("iv")) * unit_us))
        part_cols = []
        for c in split_top(sp.group("part")):
            c = strip_alias(c).strip().strip("`")
            if not re.fullmatch(r"[\w.`]+", c):
                raise NotImplementedError(
                    "streaming OVER: PARTITION BY items must be plain "
                    f"columns (got expression {c!r}) — project the "
                    "expression in a view first"
                )
            part_cols.append(c.split(".")[-1].strip("`"))
        dtypes = dict(base.dtypes)
        items = split_top(q.group("sel"))
        aggs: list[OverAgg] = []
        carries: list[tuple[str, str]] = []  # (source col, output alias)
        post: list = []  # (kind, payload) in output order
        for it in items:
            it = it.strip()
            am = self._OVER_AGG_ITEM.match(it)
            if am:
                func = am.group("func").lower()
                arg = strip_alias(am.group("arg")).split(".")[-1].strip("`")
                aggs.append(
                    OverAgg(func, None if arg == "*" else arg, am.group("alias"))
                )
                post.append(("agg", am.group("alias")))
                continue
            cm = self._OVER_CARRY_ITEM.match(it)
            if cm is None or "\x00" in it:
                raise NotImplementedError(
                    "streaming OVER: SELECT items must be plain columns or "
                    f"AGG(col) OVER (...) AS alias; got {it!r}"
                )
            col = strip_alias(cm.group("col")).split(".")[-1].strip("`")
            if col not in dtypes:
                return None  # unknown column → let the fallback error
            out_name = cm.group("alias") or col
            if str(dtypes[col]).startswith("timestamp") and col != ord_col:
                raise NotImplementedError(
                    "streaming OVER: only the rowtime attribute may be a "
                    f"timestamp SELECT column here (got {col})"
                )
            carries.append((col, out_name))
            post.append(("carry", (col, out_name)))
        if not aggs:
            return None  # no windowed aggregate → not this path
        where = q.group("where")
        keep_col = None
        if where:
            # a plain .filter would be pushed below the watermark node and
            # filtered-out rows would stop advancing the watermark (Flink's
            # watermark is source metadata and flows through WHERE); mark
            # rows instead and let the operator discard them after they
            # have advanced the watermark
            keep_col = "__keep"
            base = base.withColumn(keep_col, F.expr(strip_alias(where)))
        proj = base.withColumn("__ts_us", F.unix_micros(F.col(ord_col)))
        op_carry: list[str] = []
        for col, _ in carries:
            src = "__ts_us" if col == ord_col else col
            if src not in op_carry:
                op_carry.append(src)
        out = streaming_over_window(
            proj,
            partition_by=part_cols,
            time_us_col="__ts_us",
            frame=frame,
            aggs=aggs,
            carry=op_carry,
            # ROWS frames need a total order on rowtime ties: the carried
            # non-time columns give a stable (if arbitrary) tie order;
            # Flink leaves rowtime ties implementation-defined too
            tiebreak=[c for c in op_carry if c != "__ts_us"],
            keep_col=keep_col,
            **({"idle_horizon_s": ttl} if (ttl := self._state_ttl_s()) is not None else {}),
        )
        sel_exprs = []
        for kind, payload in post:
            if kind == "agg":
                sel_exprs.append(F.col(payload))
            else:
                col, out_name = payload
                if col == ord_col:
                    sel_exprs.append(
                        F.timestamp_micros(F.col("__ts_us")).alias(out_name)
                    )
                else:
                    sel_exprs.append(F.col(col).alias(out_name))
        return out.select(*sel_exprs)

    def _exec_explain(self, p: Parsed) -> Statement:
        """Flink EXPLAIN dialect → Spark explain modes:

        - ``EXPLAIN [PLAN FOR] q``            → logical+physical plan
        - ``EXPLAIN ESTIMATED_COST q``        → EXPLAIN COST (CBO stats)
        - ``EXPLAIN JSON_EXECUTION_PLAN q``   → EXPLAIN FORMATTED (node list)
        - ``EXPLAIN CHANGELOG_MODE q``        → plan + the changelog mode the
          engine would run the statement under (append / update-or-complete /
          batch), derived the same way statement execution derives it."""

        m = re.match(
            r"EXPLAIN\s+(PLAN\s+FOR|CHANGELOG_MODE|ESTIMATED_COST|JSON_EXECUTION_PLAN)\s+(.*)$",
            p.sql,
            re.IGNORECASE | re.DOTALL,
        )
        keyword = (m.group(1).upper().replace(" ", "_") if m else None)
        body = m.group(2) if m else re.sub(r"^\s*EXPLAIN\s+", "", p.sql, flags=re.IGNORECASE)
        body = rewrite_flink_dialect(body)
        if keyword == "ESTIMATED_COST":
            return BatchStatement(self.spark.sql(f"EXPLAIN COST {body}"))
        if keyword == "JSON_EXECUTION_PLAN":
            return BatchStatement(self.spark.sql(f"EXPLAIN FORMATTED {body}"))
        if keyword == "CHANGELOG_MODE":
            df = self.spark.sql(body)
            if not df.isStreaming:
                mode = "batch (INSERT-only result)"
            elif _grouping_cols(df):
                mode = "update (INSERT / UPDATE_BEFORE / UPDATE_AFTER / DELETE by key)"
            else:
                mode = "append (INSERT-only)"
            plan = self.spark.sql(f"EXPLAIN {body}").first()[0]
            return ImmediateStatement(
                [ColumnInfo("plan", "STRING", False)],
                [[f"changelog-mode: {mode}\n{plan}"]],
            )
        return BatchStatement(self.spark.sql(f"EXPLAIN {body}"))

    @staticmethod
    def _batch_watermark_ms(qh) -> int | None:
        """The operator watermark of the CURRENT micro-batch in epoch ms, or
        None when no watermark is established yet (Flink: CURRENT_WATERMARK
        is NULL then). The in-flight IncrementalExecution's batchWatermarkMs
        IS the exact value Spark's stateful operators use for that trigger
        (the public lastProgress is one batch behind; it remains the
        fallback if the JVM internals drift). Spark's internals report "no
        watermark yet" as 0 (OffsetSeqMetadata default), which collides
        with a genuine epoch-0 watermark — so a 0 falls through to the
        progress string, which only exists once a watermark does (and can
        legitimately parse to 0 ms)."""
        from datetime import datetime

        wm_ms = None
        try:
            v = (
                qh._jsq.streamingQuery()  # noqa: SLF001
                .lastExecution()
                .offsetSeqMetadata()
                .batchWatermarkMs()
            ) if qh is not None else 0
            if v:
                wm_ms = int(v)
        except Exception:  # noqa: BLE001 - internals drift → progress
            pass
        if wm_ms is None:
            try:
                lp = qh.lastProgress if qh is not None else None
            except Exception:  # noqa: BLE001 - mid-teardown → no wm
                lp = None
            s = ((lp or {}).get("eventTime") or {}).get("watermark")
            if s:
                dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
                wm_ms = int(dt.timestamp() * 1000)
        return wm_ms

    # live-window cap for the CW-filtered windowed agg: driver merge state
    # is one row per UNCLOSED window — bounded by the in-flight event-time
    # span / window size, not by stream length. A corpus that somehow opens
    # more simultaneously is a mis-sized window; fail loudly.
    CW_WINDOW_AGG_MAX_LIVE = 100_000

    def _cw_window_agg(self, sql: str, call_re, calls, raw_hits):
        """The canonical Flink composition r12 left out (VERDICT #5): a
        CURRENT_WATERMARK lateness filter feeding a TUMBLE/HOP/CUMULATE window-TVF aggregation —

            SELECT window_start, window_end, COUNT(*) AS c
            FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '10' SECOND))
            WHERE ts > CURRENT_WATERMARK(ts) - INTERVAL '1' MINUTE
            GROUP BY window_start, window_end

        Spark cannot express the filter declaratively (no watermark in SQL
        expressions), so the engine composes its two existing mechanisms:
        the raw table streams (rows advance the watermark BEFORE the filter,
        Flink's semantics), each micro-batch evaluates the full windowed
        aggregation as a BATCH query with the watermark substituted as a
        literal, and the per-window partials merge into a driver-side live-
        window map (COUNT/SUM add, MIN/MAX fold, AVG as sum+count — the
        algebraic aggregates; others raise). A window EMITS ONCE when the
        operator watermark passes window_end — Flink's append-mode TVF
        window semantics — then its state is dropped, so driver state is
        one entry per UNCLOSED window (capped loudly). Late contributions
        to already-closed windows are dropped, Spark/Flink's late-row rule.
        Extra GROUP BY keys (the common Flink form) route to
        ``_cw_window_agg_keyed``, which keeps the windows × keys state in a
        window-end-partitioned parquet state table instead of the driver.
        When the stream FINISHES naturally (bounded source), remaining live
        windows flush — Flink's final MAX_WATERMARK.
        Returns None when ``sql`` is not this shape (callers fall through
        to the single-table path / the loud guard)."""

        m = re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+TABLE\s*\(\s*"
            r"(?P<fn>TUMBLE|HOP|CUMULATE|SESSION)\s*\(\s*"
            r"(?:TABLE\s+|DATA\s*=>\s*TABLE\s+)?(?P<tbl>[\w.`]+)"
            r"(?:\s+PARTITION\s+BY\s+(?P<pby>[\w.`]+(?:\s*,\s*[\w.`]+)*))?\s*,\s*"
            r"(?:TIMECOL\s*=>\s*)?DESCRIPTOR\s*\(\s*(?P<tc>[`\w]+)\s*\)\s*,\s*"
            r"(?P<tail>[^()]+?)\s*\)\s*\)\s*"
            r"WHERE\s+(?P<where>.+?)\s+GROUP\s+BY\s+(?P<grp>[\w`\s,]+?)\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if m is None or len(calls) != len(raw_hits):
            return None  # not this shape / odd CW form → the loud guard
        fn_tvf = m.group("fn").upper()
        pby = m.group("pby")
        if pby and fn_tvf != "SESSION":
            raise ValueError(
                f"{fn_tvf} window TVF takes no PARTITION BY — only the "
                "SESSION TVF partitions (Flink FLIP-403)"
            )
        grp = [g.strip().strip("`").lower() for g in m.group("grp").split(",")]
        if (
            "window_start" not in grp
            or "window_end" not in grp
            or len(set(grp)) != len(grp)
        ):
            return None
        # extra GROUP BY items beyond the window bounds are grouping KEYS —
        # the canonical Flink form (VERDICT r13 #1). Keyed state is
        # windows × keys, so it lives in a window-end-partitioned parquet
        # state table (the CDC-apply template), never on the driver.
        key_cols = [g for g in grp if g not in ("window_start", "window_end")]
        sel, where, ivl = m.group("sel"), m.group("where"), m.group("tail")
        tc = m.group("tc").strip("`")
        if re.search(r"\bCURRENT_WATERMARK\b", sel, re.IGNORECASE):
            raise NotImplementedError(
                "CURRENT_WATERMARK inside the SELECT list of a windowed "
                "aggregation is not emulated — use it in the WHERE (the "
                "lateness-filter form) or emit it from a plain SELECT"
            )
        name = m.group("tbl").split(".")[-1].strip("`")
        tdef = self.tables.get(name)
        for c in calls:
            col = c.group("col").split(".")[-1].strip("`")
            if col != tc or (
                tdef is not None
                and (tdef.watermark is None or col != tdef.watermark.column)
            ):
                raise ValueError(
                    f"CURRENT_WATERMARK({col}): argument must be the window "
                    f"descriptor's time attribute (here {tc!r}, the table's "
                    "declared WATERMARK column)"
                )
        try:
            base = self.spark.table(name)
        except Exception as e:  # noqa: BLE001
            raise ValueError(f"CURRENT_WATERMARK: unknown table {name!r}") from e
        if not base.isStreaming:
            raise ValueError(
                "CURRENT_WATERMARK: only defined on a streaming query over "
                "a watermarked time attribute (Flink raises outside "
                "streaming too)"
            )

        # classify the SELECT items: window keys pass through, algebraic
        # aggregates get per-batch partials + a driver merge rule
        AGG = re.compile(
            r"^(?P<fn>COUNT|SUM|MIN|MAX|AVG)\s*\((?P<arg>.+)\)\s+AS\s+(?P<alias>[`\w]+)$",
            re.IGNORECASE | re.DOTALL,
        )
        KEY = re.compile(
            r"^(?P<k>window_start|window_end)(?:\s+AS\s+(?P<alias>[`\w]+))?$",
            re.IGNORECASE,
        )
        GKEY = re.compile(
            r"^(?P<k>[`\w]+)(?:\s+AS\s+(?P<alias>[`\w]+))?$", re.IGNORECASE
        )
        # out_plan: ('key', 'window_start'|'window_end')
        #         | ('gkey', j)        — j-th extra GROUP BY key
        #         | ('agg', fn, idx)
        out_plan = []
        merge_items = ["window_start AS __ws", "window_end AS __we",
                       "unix_millis(CAST(window_end AS TIMESTAMP)) AS __we_ms"]
        merge_items += [f"{k} AS __k{j}" for j, k in enumerate(key_cols)]
        partial_cols: list[tuple[str, str]] = []  # (state col, re-merge fn)
        n_agg = 0
        for item in split_top(sel):
            s = item.strip()
            km = KEY.match(s)
            if km:
                out_plan.append(("key", km.group("k").lower()))
                continue
            gm = GKEY.match(s)
            if gm and gm.group("k").strip("`").lower() in key_cols:
                out_plan.append(
                    ("gkey", key_cols.index(gm.group("k").strip("`").lower()))
                )
                continue
            am = AGG.match(s)
            if am is None:
                raise NotImplementedError(
                    f"CURRENT_WATERMARK windowed aggregation: SELECT item "
                    f"{s!r} — supported items are window_start, window_end, "
                    "the GROUP BY key columns, and aliased "
                    "COUNT/SUM/MIN/MAX/AVG aggregates"
                )
            fn, arg = am.group("fn").upper(), am.group("arg")
            if re.match(r"^\s*DISTINCT\b", arg, re.IGNORECASE):
                raise NotImplementedError(
                    "CURRENT_WATERMARK windowed aggregation: DISTINCT "
                    "aggregates do not merge across micro-batches — "
                    "deduplicate upstream instead"
                )
            if fn == "AVG":
                merge_items.append(f"SUM({arg}) AS __a{n_agg}_s")
                merge_items.append(f"COUNT({arg}) AS __a{n_agg}_c")
                partial_cols.append((f"__a{n_agg}_s", "SUM"))
                partial_cols.append((f"__a{n_agg}_c", "SUM"))
            else:
                merge_items.append(f"{fn}({arg}) AS __a{n_agg}")
                # COUNT partials re-merge by SUM; SUM/MIN/MAX by themselves
                partial_cols.append((f"__a{n_agg}", "SUM" if fn == "COUNT" else fn))
            out_plan.append(("agg", fn, n_agg))
            n_agg += 1

        view = f"__cw_win_{uuid.uuid4().hex[:12]}"
        # ivl is the TVF's remaining argument tail verbatim (one interval
        # for TUMBLE, slide+size for HOP, step+span for CUMULATE, the gap
        # for SESSION — the merge below is window-shape-agnostic: HOP rows
        # contribute to size/slide windows, CUMULATE to their growing ends,
        # and each (start, end) closes independently as the watermark
        # passes it; SESSION partials get a cross-batch gap-merge instead)
        if fn_tvf == "SESSION":
            pby_cols = (
                [p.strip().split(".")[-1].strip("`").lower() for p in pby.split(",")]
                if pby
                else []
            )
            if sorted(pby_cols) != sorted(key_cols):
                raise ValueError(
                    "SESSION window TVF: GROUP BY must be window_start, "
                    "window_end plus exactly the PARTITION BY keys "
                    f"(PARTITION BY {pby_cols or 'none'}, extra GROUP BY "
                    f"keys {key_cols or 'none'}) — Flink FLIP-403 semantics"
                )
            pby_sql = f" PARTITION BY {pby}" if pby else ""
            from_clause = (
                f"FROM TABLE(SESSION(TABLE {view}{pby_sql}, "
                f"DESCRIPTOR({tc}), {ivl}))"
            )
        else:
            from_clause = (
                f"FROM TABLE({fn_tvf}(TABLE {view}, DESCRIPTOR({tc}), {ivl}))"
            )

        def sub_cw(text: str, lit: str) -> str:
            return sub_code(call_re, lambda _: lit, text)

        grp_sql = ", ".join(["window_start", "window_end"] + key_cols)
        merge_sql_t = (
            f"SELECT {', '.join(merge_items)} {from_clause} "
            "WHERE {w} GROUP BY " + grp_sql
        )
        # display/schema probe: the user's projection over an empty batch
        self.spark.createDataFrame([], base.schema).createOrReplaceTempView(view)
        display_df = self.spark.sql(
            rewrite_flink_dialect(
                f"SELECT {sel} {from_clause} "
                f"WHERE {sub_cw(where, 'CAST(NULL AS TIMESTAMP)')} "
                f"GROUP BY {grp_sql}"
            )
        )
        out_schema = display_df.schema
        live: dict = {}  # (ws, we) -> {"we_ms": int, "a{i}...": partials}

        def _merge_val(fn: str, old, new):
            if new is None:
                return old
            if old is None:
                return new
            if fn in ("COUNT", "SUM"):
                return old + new
            return min(old, new) if fn == "MIN" else max(old, new)

        def _agg_vals(st) -> list:
            """Finalize one window's aggregate values from a partials dict
            (driver-map state; the keyed path finalizes in Spark SQL)."""
            vals = []
            for kind, *rest in out_plan:
                if kind == "key":
                    continue
                fn, i = rest
                if fn == "AVG":
                    s, c = st.get(f"__a{i}_s"), st.get(f"__a{i}_c")
                    vals.append(s / c if c else None)
                elif fn == "COUNT":
                    vals.append(st.get(f"__a{i}") or 0)
                else:
                    vals.append(st.get(f"__a{i}"))
            return vals

        def _window_vals(key, st) -> list:
            vals, aggs = [], iter(_agg_vals(st))
            for kind, *rest in out_plan:
                if kind == "key":
                    vals.append(key[0] if rest[0] == "window_start" else key[1])
                else:
                    vals.append(next(aggs))
            return vals

        if fn_tvf == "SESSION":
            return self._cw_window_agg_session(
                base,
                view,
                merge_sql_t,
                sub_cw,
                where,
                out_plan,
                partial_cols,
                key_cols,
                out_schema,
                display_df,
            )
        if key_cols:
            return self._cw_window_agg_keyed(
                base,
                view,
                merge_sql_t,
                sub_cw,
                where,
                out_plan,
                partial_cols,
                key_cols,
                out_schema,
                display_df,
            )

        def fix(bdf: DataFrame, qh) -> DataFrame:
            wm_ms = self._batch_watermark_ms(qh)
            lit = (
                f"timestamp_millis({wm_ms})"
                if wm_ms is not None
                else "CAST(NULL AS TIMESTAMP)"
            )
            # one unfiltered pass first: the scan feeding EventTimeWatermark
            # must see every row or the lateness predicate starves the
            # watermark forever (the single-table path's thrice-hit gotcha)
            bdf.count()
            # the micro-batch df is bound to foreachBatch's CLONED session —
            # register and query the view there, not on self.spark (whose
            # same-named view is the empty schema probe from setup)
            bdf.createOrReplaceTempView(view)
            rows = (
                bdf.sparkSession.sql(
                    rewrite_flink_dialect(merge_sql_t.format(w=sub_cw(where, lit)))
                )
                .limit(self.CW_WINDOW_AGG_MAX_LIVE + 1)
                .collect()
            )
            if len(rows) > self.CW_WINDOW_AGG_MAX_LIVE:
                raise RuntimeError(
                    "CURRENT_WATERMARK windowed agg: one micro-batch touched "
                    f"more than {self.CW_WINDOW_AGG_MAX_LIVE} windows — the "
                    "window size is mis-sized for this stream's event-time "
                    "span"
                )
            for r in rows:
                key = (r["__ws"], r["__we"])
                if wm_ms is not None and r["__we_ms"] <= wm_ms:
                    # late: window end ≤ this batch's operator watermark —
                    # Spark's stateful-agg rule (the watermark applies to
                    # the WHOLE batch, so even a still-unclosed window takes
                    # no contributions once the watermark passed its end)
                    continue
                st = live.setdefault(key, {"__we_ms": r["__we_ms"]})
                for kind, *rest in out_plan:
                    if kind != "agg":
                        continue
                    fn, i = rest
                    if fn == "AVG":
                        st[f"__a{i}_s"] = _merge_val(
                            "SUM", st.get(f"__a{i}_s"), r[f"__a{i}_s"]
                        )
                        st[f"__a{i}_c"] = _merge_val(
                            "COUNT", st.get(f"__a{i}_c"), r[f"__a{i}_c"]
                        )
                    else:
                        st[f"__a{i}"] = _merge_val(fn, st.get(f"__a{i}"), r[f"__a{i}"])
            if len(live) > self.CW_WINDOW_AGG_MAX_LIVE:
                raise RuntimeError(
                    "CURRENT_WATERMARK windowed agg: more than "
                    f"{self.CW_WINDOW_AGG_MAX_LIVE} windows are live at once "
                    "— the window size is mis-sized for this stream"
                )
            # emit (Flink append-mode TVF semantics) the windows the
            # watermark just closed, then drop their state
            emitted = []
            if wm_ms is not None:
                for key in sorted(k for k, st in live.items() if st["__we_ms"] <= wm_ms):
                    emitted.append(_window_vals(key, live.pop(key)))
            return self.spark.createDataFrame(emitted, out_schema)

        def finish() -> list[dict]:
            """Bounded-source end-of-stream flush (ADVICE r13): Flink's
            bounded sources emit a final MAX_WATERMARK that closes every
            pending window — when the query FINISHES naturally, emit the
            remaining live windows (a canceled job does not flush, as in
            Flink)."""
            out = [
                {"kind": "INSERT", "fields": _window_vals(k, live[k])}
                for k in sorted(live)
            ]
            live.clear()
            return out

        stmt = self._start_streaming_select(
            base, batch_fix=fix, display_df=display_df, finish_fn=finish
        )
        # the schema-probe view is analyzed into display_df by now, and fix()
        # re-registers the name on the foreachBatch CLONE session every
        # trigger — drop the main-session copy so statements don't leak one
        # catalog entry each (ADVICE r13)
        self.spark.catalog.dropTempView(view)
        return stmt

    def _cw_window_agg_keyed(
        self,
        base: DataFrame,
        view: str,
        merge_sql_t: str,
        sub_cw,
        where: str,
        out_plan: list,
        partial_cols: list,
        key_cols: list,
        out_schema,
        display_df: DataFrame,
    ) -> Statement:
        """Keyed CURRENT_WATERMARK windowed aggregation (VERDICT r13 #1):
        ``GROUP BY window_start, window_end, k1, ...`` — the common Flink
        form. Keyed live-window state is windows × keys, so it must NOT
        live on the driver: partials persist in a parquet state table
        PARTITIONED BY window-end epoch (``__we_ms``) — the CDC-apply
        state-table template (sources/cdc.py:191) with event time rather
        than key hash as the partition axis, because both the per-trigger
        merge (touched window-ends) and the emission scan (ends ≤
        watermark) then prune partitions. Per trigger:

        1. the micro-batch evaluates the windowed agg as a BATCH query with
           the watermark substituted — per-(window, key) partials, fully
           distributed;
        2. contributions to windows the operator watermark already closed
           drop (Flink/Spark's late-row rule, same as the unkeyed path);
        3. the TOUCHED window-end partitions read back, merge with the new
           partials (SUM-of-COUNTs / SUM / MIN / MAX — the algebraic
           folds), and rewrite via dynamic partition overwrite: untouched
           windows never move, and only the bounded touched-ends list
           (≤ live windows, capped loudly) reaches the driver;
        4. windows with end ≤ watermark EMIT ONCE — a partition-pruned
           scan finalizes them in Spark SQL, ships O(closed windows'
           output) rows to the driver, and deletes their partition
           directories.

        At 100 TB, state is O(live windows × keys) rows of parquet spread
        across executors; per-trigger cost is |touched ends| partitions,
        independent of total key cardinality. End-of-stream, the statement's
        finish hook flushes ALL remaining state — Flink's bounded-source
        final MAX_WATERMARK (cancel, as in Flink, does not flush). Retry
        semantics match the unkeyed driver-map path: a foreachBatch retry
        re-merges the batch's partials (at-least-once, the repo's
        result-serving contract)."""
        from ..sources.filesystem import _exists

        state_path = f"{self._checkpoint_root}/cw-state-{view[len('__cw_win_'):]}"
        gstate = ["__ws", "__we"] + [f"__k{j}" for j in range(len(key_cols))]
        merge_aggs = [getattr(F, mfn.lower())(c).alias(c) for c, mfn in partial_cols]
        final_exprs = _cw_final_exprs(out_plan)

        def read_state(sess) -> DataFrame | None:
            """The state table, or None when absent/emptied (emission may
            have deleted every partition, leaving an unreadable bare dir)."""
            if not _exists(sess, state_path):
                return None
            try:
                return sess.read.parquet(state_path)
            except Exception:  # noqa: BLE001 — no partitions left
                return None

        def finalize(df: DataFrame) -> tuple[list[list], set]:
            rows = df.orderBy(*gstate).select("__we_ms", *final_exprs).collect()
            return [list(r)[1:] for r in rows], {r[0] for r in rows}

        def drop_partitions(sess, ends) -> None:
            jvm = sess.sparkContext._jvm  # noqa: SLF001
            conf = sess.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
            for e in ends:
                p = jvm.org.apache.hadoop.fs.Path(f"{state_path}/__we_ms={e}")
                p.getFileSystem(conf).delete(p, True)

        def fix(bdf: DataFrame, qh) -> DataFrame:
            wm_ms = self._batch_watermark_ms(qh)
            lit = (
                f"timestamp_millis({wm_ms})"
                if wm_ms is not None
                else "CAST(NULL AS TIMESTAMP)"
            )
            bdf.count()  # watermark-starvation guard (see the unkeyed path)
            bdf.createOrReplaceTempView(view)
            sess = bdf.sparkSession
            part = sess.sql(
                rewrite_flink_dialect(merge_sql_t.format(w=sub_cw(where, lit)))
            )
            if wm_ms is not None:
                # late rule: windows the operator watermark already closed
                # take no contributions from this batch
                part = part.filter(F.col("__we_ms") > F.lit(wm_ms))
            touched = [
                r[0]
                for r in part.select("__we_ms")
                .distinct()
                .limit(self.CW_WINDOW_AGG_MAX_LIVE + 1)
                .collect()
            ]
            if len(touched) > self.CW_WINDOW_AGG_MAX_LIVE:
                raise RuntimeError(
                    "CURRENT_WATERMARK windowed agg: one micro-batch touched "
                    f"more than {self.CW_WINDOW_AGG_MAX_LIVE} windows — the "
                    "window size is mis-sized for this stream's event-time "
                    "span"
                )
            if touched:
                prev = read_state(sess)
                merged = (
                    part
                    if prev is None
                    else prev.filter(F.col("__we_ms").isin(touched)).unionByName(
                        part
                    )
                )
                (
                    merged.groupBy("__we_ms", *gstate)
                    .agg(*merge_aggs)
                    .write.partitionBy("__we_ms")
                    .mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(state_path)
                )
            emitted: list[list] = []
            if wm_ms is not None:
                state = read_state(sess)
                if state is not None:
                    emitted, ends = finalize(
                        state.filter(F.col("__we_ms") <= F.lit(wm_ms))
                    )
                    if ends:
                        drop_partitions(sess, ends)
            return self.spark.createDataFrame(emitted, out_schema)

        def finish() -> list[dict]:
            state = read_state(self.spark)
            if state is None:
                return []
            vals, ends = finalize(state)
            if ends:
                drop_partitions(self.spark, ends)
            return [{"kind": "INSERT", "fields": v} for v in vals]

        stmt = self._start_streaming_select(
            base, batch_fix=fix, display_df=display_df, finish_fn=finish
        )
        self.spark.catalog.dropTempView(view)
        return stmt

    def _cw_window_agg_session(
        self,
        base: DataFrame,
        view: str,
        merge_sql_t: str,
        sub_cw,
        where: str,
        out_plan: list,
        partial_cols: list,
        key_cols: list,
        out_schema,
        display_df: DataFrame,
    ) -> Statement:
        """CURRENT_WATERMARK lateness filter over a SESSION window TVF
        (VERDICT r13 #5) — the r12/r13 raise said per-batch session merging
        cannot stitch cross-batch sessions; this composes the stitch. Per
        trigger:

        1. the micro-batch sessionizes as a BATCH query (the SESSION TVF's
           gap-merge rewrite, window_sql._session_tvf_subquery) with the
           watermark substituted → per-(key, session) PARTIALS whose
           window_end = last event + gap (Flink's definition);
        2. partials whose merged end the operator watermark already passed
           drop (the TUMBLE path's late rule at window granularity —
           sessions still open absorb "late" rows inside their horizon,
           exactly Flink's unclosed-session behavior);
        3. stored state unions with the partials and re-merges
           DISTRIBUTEDLY: per key ordered by session start, a session
           starts a new island when its start exceeds the running max of
           prior ends (gaps-and-islands over two window functions — one
           shuffle+sort per trigger), and island members fold their
           algebraic partials (SUM-of-COUNTs / SUM / MIN / MAX);
        4. merged sessions with end ≤ watermark EMIT ONCE
           (O(closed output) to the driver) and leave state; open sessions
           rewrite to a NEW state version dir (never overwriting the dir
           the plan is lazily reading), and the old version is deleted.

        State is O(open sessions) parquet across executors — bounded by
        keys active within one gap of the watermark horizon, NOT by total
        key cardinality. The full-state rewrite per trigger is the same
        order as the emission scan; if open-session cardinality ever makes
        the write the bottleneck, the touched-bucket dynamic-overwrite
        template (sources/cdc.py:191) applies unchanged. Unkeyed SESSION
        merges globally (one sort partition) — Flink's session TVF is
        serial without PARTITION BY too; declare keys for scale.
        End-of-stream the finish hook flushes remaining open sessions
        (Flink's bounded-source MAX_WATERMARK; cancel does not flush)."""
        from pyspark.sql.window import Window as W

        from ..sources.filesystem import _exists

        root = f"{self._checkpoint_root}/cw-sess-{view[len('__cw_win_'):]}"
        kcols = [f"__k{j}" for j in range(len(key_cols))]
        merge_aggs = [getattr(F, mfn.lower())(c).alias(c) for c, mfn in partial_cols]
        final_exprs = _cw_final_exprs(out_plan)
        ver = {"n": 0}

        def cur_path() -> str:
            return f"{root}/v{ver['n']}"

        def drop_dir(sess, path: str) -> None:
            jvm = sess.sparkContext._jvm  # noqa: SLF001
            conf = sess.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
            p = jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(conf).delete(p, True)

        def read_state(sess) -> DataFrame | None:
            if ver["n"] == 0 or not _exists(sess, cur_path()):
                return None
            try:
                return sess.read.parquet(cur_path())
            except Exception:  # noqa: BLE001 — empty/absent version
                return None

        def gap_merge(df: DataFrame) -> DataFrame:
            part_by = [F.col(c) for c in kcols] if kcols else [F.lit(0)]
            order = [F.col("__ws"), F.col("__we_ms")]
            wprev = (
                W.partitionBy(*part_by)
                .orderBy(*order)
                .rowsBetween(W.unboundedPreceding, -1)
            )
            wcur = (
                W.partitionBy(*part_by)
                .orderBy(*order)
                .rowsBetween(W.unboundedPreceding, 0)
            )
            ws_ms = F.expr("unix_millis(CAST(__ws AS TIMESTAMP))")
            prev_end = F.max("__we_ms").over(wprev)
            t = df.withColumn(
                "__new",
                F.when(prev_end.isNull() | (ws_ms > prev_end), F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ).withColumn("__isl", F.sum("__new").over(wcur))
            return (
                t.groupBy(*kcols, "__isl")
                .agg(
                    F.min("__ws").alias("__ws"),
                    F.max("__we").alias("__we"),
                    F.max("__we_ms").alias("__we_ms"),
                    *merge_aggs,
                )
                .drop("__isl")
            )

        def fix(bdf: DataFrame, qh) -> DataFrame:
            wm_ms = self._batch_watermark_ms(qh)
            lit = (
                f"timestamp_millis({wm_ms})"
                if wm_ms is not None
                else "CAST(NULL AS TIMESTAMP)"
            )
            bdf.count()  # watermark-starvation guard (see the unkeyed path)
            bdf.createOrReplaceTempView(view)
            sess = bdf.sparkSession
            part = sess.sql(
                rewrite_flink_dialect(merge_sql_t.format(w=sub_cw(where, lit)))
            )
            if wm_ms is not None:
                part = part.filter(F.col("__we_ms") > F.lit(wm_ms))
            state = read_state(sess)
            merged = gap_merge(
                part if state is None else state.unionByName(part)
            )
            emitted: list[list] = []
            if wm_ms is not None:
                closed = merged.filter(F.col("__we_ms") <= F.lit(wm_ms))
                emitted = [
                    list(r)
                    for r in closed.orderBy("__ws", *kcols)
                    .select(*final_exprs)
                    .collect()
                ]
                merged = merged.filter(F.col("__we_ms") > F.lit(wm_ms))
            nxt = f"{root}/v{ver['n'] + 1}"
            merged.write.mode("overwrite").parquet(nxt)
            old = cur_path() if ver["n"] else None
            ver["n"] += 1
            if old is not None:
                drop_dir(sess, old)
            return self.spark.createDataFrame(emitted, out_schema)

        def finish() -> list[dict]:
            state = read_state(self.spark)
            if state is None:
                return []
            rows = (
                gap_merge(state)
                .orderBy("__ws", *kcols)
                .select(*final_exprs)
                .collect()
            )
            drop_dir(self.spark, cur_path())
            return [{"kind": "INSERT", "fields": list(r)} for r in rows]

        stmt = self._start_streaming_select(
            base, batch_fix=fix, display_df=display_df, finish_fn=finish
        )
        self.spark.catalog.dropTempView(view)
        return stmt

    def _try_current_watermark(self, sql: str) -> Statement | None:
        """Flink's ``CURRENT_WATERMARK(rowtime)`` built-in (stock planner,
        reference flink-runtime/build.gradle:37), emulated through the
        engine's micro-batch plumbing. Spark exposes no per-operator
        watermark to SQL expressions, but the function is a per-micro-batch
        CONSTANT, and the engine OWNS each streaming statement's
        foreachBatch — so for the canonical single-table form
        ``SELECT <items> FROM t [WHERE <pred>]`` the engine streams the
        table's rows and evaluates the SELECT list and WHERE per batch with
        the watermark substituted as a literal. That covers Flink's primary
        uses: emitting the watermark (``CURRENT_WATERMARK(ts) AS wm``),
        expressions over it (``ts - CURRENT_WATERMARK(ts)``), and lateness
        predicates (``WHERE ts > CURRENT_WATERMARK(ts) - INTERVAL ...``).
        The WHERE applies INSIDE foreachBatch, after rows advanced the
        watermark — exactly Flink's semantics (the watermark is source
        metadata and flows through filters).

        The substituted value is the in-flight execution's
        ``batchWatermarkMs`` — the EXACT operator watermark Spark's
        stateful operators use for that trigger (the public
        ``lastProgress`` is one batch behind; it remains the fallback if
        the JVM internals drift). NULL until a first batch establishes a
        watermark (Flink's behavior; NULL comparisons are UNKNOWN, so a
        lateness WHERE drops every first-batch row, like Flink). Batch
        queries raise, like Flink outside streaming; joins/aggregates with
        CURRENT_WATERMARK raise with guidance."""

        call_re = re.compile(
            r"\bCURRENT_WATERMARK\s*\(\s*(?P<col>[`\w.]+)\s*\)", re.IGNORECASE
        )
        raw_hits = code_matches(r"\bCURRENT_WATERMARK\b", sql)
        if not raw_hits:
            return None
        calls = code_matches(call_re, sql)
        win = self._cw_window_agg(sql, call_re, calls, raw_hits)
        if win is not None:
            return win
        q = re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[\w.`]+)"
            r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        unsupported_kw = bool(
            code_matches(
                r"\b(JOIN|GROUP\s+BY|UNION|HAVING|LIMIT|ORDER\s+BY|"
                r"MATCH_RECOGNIZE|OVER)\b",
                sql,
            )
        )
        if len(calls) != len(raw_hits) or q is None or unsupported_kw:
            raise NotImplementedError(
                "CURRENT_WATERMARK is supported in the SELECT list and "
                "WHERE of a single-table streaming SELECT, and in the WHERE "
                "of a TUMBLE/HOP/CUMULATE-TVF windowed aggregation "
                "(COUNT/SUM/MIN/MAX/AVG grouped by window_start, window_end "
                "and optional key columns) — other shapes: emit the "
                "watermark from a supported query and compose downstream"
            )
        name = q.group("tbl").split(".")[-1].strip("`")
        # Flink-parity argument check: the argument must be the table's
        # declared time attribute
        tdef = self.tables.get(name)
        if tdef is not None:
            for m in calls:
                col = m.group("col").split(".")[-1].strip("`")
                if tdef.watermark is None or col != tdef.watermark.column:
                    raise ValueError(
                        f"CURRENT_WATERMARK({col}): argument must be the "
                        "table's declared WATERMARK time attribute"
                        + (
                            f" (here {tdef.watermark.column!r})"
                            if tdef.watermark
                            else " — this table declares none"
                        )
                    )
        try:
            base = self.spark.table(name)
        except Exception as e:  # noqa: BLE001
            raise ValueError(f"CURRENT_WATERMARK: unknown table {name!r}") from e
        if not base.isStreaming:
            raise ValueError(
                "CURRENT_WATERMARK: only defined on a streaming query over "
                "a watermarked time attribute (Flink raises outside "
                "streaming too)"
            )

        def sub_cw(text: str, lit: str) -> str:
            return sub_code(call_re, lambda _: lit, text)

        sel, where = q.group("sel"), q.group("where")
        sel_items = [
            rewrite_flink_dialect(s.strip())
            for s in split_top(sub_cw(sel, "CAST(NULL AS TIMESTAMP)"))
        ]
        # schema/changelog probe: the projected shape the client sees (the
        # streamed df below carries ALL table columns so the per-batch
        # WHERE can reference ones the projection drops)
        display_df = self.spark.sql(
            f"SELECT {', '.join(sel_items)} FROM {name}"
        )

        def fix(bdf: DataFrame, qh) -> DataFrame:
            wm_ms = self._batch_watermark_ms(qh)
            lit = (
                f"timestamp_millis({wm_ms})"
                if wm_ms is not None
                else "CAST(NULL AS TIMESTAMP)"
            )
            out = bdf
            if where:
                # the EXECUTED batch plan is what feeds the EventTimeWatermark
                # operator's max-event-time stats — a lateness filter would
                # otherwise stall the watermark FOREVER: while the watermark
                # is NULL the predicate folds to a constant-false empty
                # relation (the scan never runs, no stats, watermark stays
                # NULL — self-perpetuating), and even past that, parquet
                # pushdown of the predicate can skip rows at the scan so
                # filtered-out rows would stop advancing the watermark
                # (Flink's watermark is source metadata and flows through
                # WHERE — the repo's thrice-hit gotcha). One count() forces a
                # full unfiltered pass through the watermark operator first.
                bdf.count()
                out = out.filter(F.expr(rewrite_flink_dialect(sub_cw(where, lit))))
            return out.selectExpr(
                *[
                    rewrite_flink_dialect(sub_cw(s.strip(), lit))
                    for s in split_top(sel)
                ]
            )

        return self._start_streaming_select(base, batch_fix=fix, display_df=display_df)

    def _stream_partitions(self):
        """Scope around every stream start: one state partition per core,
        so each trigger's stateful stage runs as a single task wave (the
        session default of 2× cores ran it as two). Sharded keyed state
        never has fewer shards than this (``shards_for_keys``), so no
        state partition is left without a shard."""
        return scoped_shuffle_partitions(
            self.spark, self.spark.sparkContext.defaultParallelism
        )

    def _start_streaming_select(
        self,
        df: DataFrame,
        batch_fix=None,
        display_df: DataFrame | None = None,
        finish_fn=None,
    ) -> StreamingStatement:
        """``display_df``: when ``batch_fix`` reshapes each micro-batch (the
        CURRENT_WATERMARK path streams every table column so the per-batch
        WHERE can see them, then projects), the statement's column schema
        and changelog keys come from the RESHAPED form, not the streamed
        plan."""
        ckpt = f"{self._checkpoint_root}/{uuid.uuid4().hex}"
        mode_holder: dict = {}
        qh: dict = {}

        def start(on_batch):
            cb = on_batch
            if batch_fix is not None:
                # per-micro-batch result post-processing (CURRENT_WATERMARK
                # substitution) — sees the live query handle for progress;
                # a first batch racing the handle publication gets None,
                # which is correct (no progress → no watermark yet)
                def cb(bdf, bid):
                    on_batch(batch_fix(bdf, qh.get("q")), bid)

            last_err = None
            # append works for non-aggregating plans; update for aggregates;
            # complete for sorted/limited aggregates — mirrors Flink's
            # changelog modes (SURVEY.md §1.1 changelog rows).
            for mode in ("append", "update", "complete"):
                mode_holder["mode"] = mode  # set BEFORE start: first micro-
                # batch can fire as soon as start() returns
                try:
                    with self._stream_partitions():
                        q = (
                            df.writeStream.outputMode(mode)
                            .option("checkpointLocation", f"{ckpt}-{mode}")
                            .foreachBatch(cb)
                            .start()
                        )
                    qh["q"] = q
                    return q
                except Exception as e:  # noqa: BLE001
                    last_err = e
            raise last_err

        shape = display_df if display_df is not None else df
        return StreamingStatement(
            shape,
            start,
            changelog_keys=_grouping_cols(shape),
            mode_holder=mode_holder,
            finish_fn=finish_fn,
        )

    # ---- INSERT INTO jobs (reference jobMonitorProvider.ts:41-43) ---------
    def _exec_insert(self, p: Parsed) -> Statement:
        target = self.tables.get(p.name)
        if target is None:
            # not a session logical table — let Spark SQL resolve it in the
            # current catalog (catalog-managed tables, e.g. a JDBC catalog)
            full = p.key or p.name
            cols = f" ({', '.join(p.columns)})" if p.columns else ""
            return BatchStatement(self.spark.sql(
                f"INSERT {'OVERWRITE' if p.overwrite else 'INTO'} {full}{cols} {p.sql}"
            ))
        df = self.spark.sql(rewrite_flink_dialect(p.sql))
        static = {k: v for k, v in (p.partition or {}).items() if v is not None}
        if static:
            # static-partition INSERT (Flink: PARTITION (dt='v') columns are
            # NOT in the select list): align the query against the remaining
            # columns positionally, then fill the static ones with typed
            # literals. Dynamic entries (bare names) stay query-fed.
            declared = {
                c.name
                for c in target.columns
                if c.data_type is not None and c.computed_expr is None
            }
            unknown = [k for k in static if k not in declared]
            if unknown:
                raise ValueError(
                    f"INSERT into {target.name}: unknown PARTITION columns {unknown}"
                )
            cols = p.columns or [
                c.name
                for c in target.columns
                if c.data_type is not None
                and c.computed_expr is None
                and c.name not in static
            ]
            df = _align_positional(df, target, cols)
            types = {
                c.name: c.data_type for c in target.columns if c.data_type is not None
            }
            for k, v in static.items():
                df = df.withColumn(k, F.lit(v).cast(types[k]))
            df = df.select(
                *[
                    c.name
                    for c in target.columns
                    if c.data_type is not None and c.computed_expr is None
                ]
            )
        else:
            df = _align_positional(df, target, p.columns)
        if df.isStreaming:
            ckpt = f"{self._checkpoint_root}/{uuid.uuid4().hex}"
            if target.connector == "filesystem":
                with self._stream_partitions():
                    query = fs_sink.write_stream(df, target, ckpt)
            elif target.connector in ("kafka", "upsert-kafka"):
                from ..sources import kafka

                with self._stream_partitions():
                    query = kafka.write_stream(df, target, ckpt)
            else:
                raise ValueError(
                    f"streaming INSERT into connector {target.connector!r} unsupported"
                )
            # the sink query is already started; the statement just tracks it
            return StreamingStatement(df, lambda _on_batch: query)
        if target.connector == "filesystem":
            fs_sink.write_batch(df, target, p.overwrite)
        elif target.connector == "jdbc":
            from ..sources import jdbc

            jdbc.write_batch(df, target, p.overwrite)
        elif target.connector in ("kafka", "upsert-kafka"):
            from ..sources import kafka

            kafka.write_batch(df, target, p.overwrite)
        else:
            raise ValueError(f"batch INSERT into connector {target.connector!r} unsupported")
        self._refresh_readers(target)
        return ok_statement(f"INSERT {'OVERWRITE' if p.overwrite else 'INTO'} {p.name}: OK")

    def _exec_statement_set(self, p: Parsed) -> Statement:
        """EXECUTE STATEMENT SET BEGIN insert; [insert;]... END — the
        reference's multi-sink job (SURVEY.md D8, detected at
        jobMonitorProvider.ts:46-48). Each INSERT runs as its own Spark job
        (streaming inserts start their own queries and keep running)."""

        m = re.search(r"BEGIN\b(.*?)\bEND\s*$", p.sql, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError("EXECUTE STATEMENT SET requires BEGIN ... END")
        inner = [s for s in split_statements(m.group(1)) if s]
        if not inner:
            raise ValueError("empty STATEMENT SET")
        children: list[Statement] = []
        for s in inner:
            parsed = parse_statement(s)
            if parsed.kind != "insert":
                raise ValueError(f"STATEMENT SET allows only INSERT, got: {s[:60]!r}")
            child = self._exec_insert(parsed)
            children.append(child)
            # track child statements so close()/the gateway can see and
            # cancel streaming INSERTs started inside the set
            self.statements.append(child)
        stmt = ok_statement(f"STATEMENT SET: {len(children)} INSERT jobs submitted")
        stmt.children = children
        return stmt

    # ---- teardown ----------------------------------------------------------
    def close(self) -> None:
        # running statements stop: a streaming query, or a batch result's
        # JVM-side partition server and prefetched job
        for s in self.statements:
            if s.state == "RUNNING":
                try:
                    s.cancel()
                except Exception:  # noqa: BLE001
                    pass
        # the session's streaming checkpoints and state die with it
        shutil.rmtree(self._checkpoint_root, ignore_errors=True)
        try:
            from ..io import STATE_TTL_CONF

            self.spark.conf.unset(STATE_TTL_CONF)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass


class SessionManager:
    """Gateway-style session map (reference sqlGatewayClient.ts:71-95)."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark if spark is not None else get_spark("flink-notebooks-spark")
        self.sessions: dict[str, Engine] = {}

    def open_session(self, properties: dict[str, str] | None = None) -> Engine:
        # newSession(): shared SparkContext/cluster, but an isolated SQL
        # session — separate temp-view namespace and SQL conf — so one
        # session's tables are invisible to another, like gateway sessions
        # over one MiniCluster (reference sqlGatewayClient.ts:71-95).
        eng = Engine(self.spark.newSession(), properties)
        self.sessions[eng.session_handle] = eng
        return eng

    def get(self, handle: str) -> Engine:
        return self.sessions[handle]

    def close_session(self, handle: str) -> None:
        eng = self.sessions.pop(handle, None)
        if eng is not None:
            eng.close()
