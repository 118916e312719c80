"""Statement classifier + Flink-DDL dialect parser.

This is the only parser we write (SURVEY.md §7.1 step 2): the Flink-specific
DDL surface — ``CREATE TABLE ... WITH ('connector'=..., ...)`` with WATERMARK
/ computed columns / PRIMARY KEY, ``DROP TABLE``, ``USE [CATALOG]``,
``SHOW ...``, ``DESCRIBE``, ``SET 'k'='v'`` — everything else passes through
to Spark SQL untouched (Catalyst is the real parser/planner).

Grammar evidence from the reference:
- streaming DDL with WATERMARK: examples/01-datagen-streaming.flinknb:12
- bounded DDL + SET runtime-mode: examples/02-datagen-batch.flinknb:12,43
- complex types: examples/02-datagen-batch.flinknb:83
- statement detection for DDL/jobs: vscode-extension/src/providers/
  catalogTreeProvider.ts:46-71, jobMonitorProvider.ts:41-48
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

from . import sql_text
from .sql_text import match_bracket, split_top
from .types import parse_type


@dataclass
class ColumnDef:
    name: str
    data_type: T.DataType | None = None  # None for computed columns
    nullable: bool = True
    computed_expr: str | None = None  # SQL expression for computed cols
    comment: str | None = None
    # Flink METADATA column: sourced from the connector record, not the
    # payload (e.g. kafka 'timestamp'/'topic'/'partition'/'offset'/'key',
    # filesystem 'file.path'/'file.name'/'file.size'/
    # 'file.modification-time'). Read-only in this engine (Flink's
    # persisted non-VIRTUAL metadata write path is not modeled).
    metadata_key: str | None = None
    metadata_virtual: bool = False


@dataclass
class WatermarkDef:
    column: str
    expr: str  # full watermark expression, e.g. "event_time - INTERVAL '5' SECOND"
    delay: str | None  # parsed bounded-out-of-orderness, e.g. "5 seconds"


@dataclass
class TableDef:
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    watermark: WatermarkDef | None = None
    primary_key: list[str] = field(default_factory=list)
    partitioned_by: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    if_not_exists: bool = False

    @property
    def connector(self) -> str:
        return self.options.get("connector", "")

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(c.name, c.data_type, c.nullable)
                for c in self.columns
                if c.data_type is not None
                and c.computed_expr is None
                and c.metadata_key is None
            ]
        )


@dataclass
class Parsed:
    kind: str  # create_table | drop_table | use | use_catalog | show | describe |
    #            set | reset | insert | query | explain | add_jar | statement_set
    table: TableDef | None = None
    name: str | None = None
    key: str | None = None
    value: str | None = None
    sql: str = ""
    if_exists: bool = False
    show_what: str | None = None
    overwrite: bool = False
    columns: list[str] | None = None  # INSERT INTO t (a, b) ... column list
    # INSERT ... PARTITION (k='v', d): column → static literal, None=dynamic
    partition: dict[str, str | None] | None = None


_INTERVAL_UNITS = {
    "SECOND": "seconds",
    "SECONDS": "seconds",
    "MINUTE": "minutes",
    "MINUTES": "minutes",
    "HOUR": "hours",
    "HOURS": "hours",
    "DAY": "days",
    "DAYS": "days",
    "MILLISECOND": "milliseconds",
}


def strip_comments(sql: str) -> str:
    """The statement without comments (``sql_text.strip_comments``),
    surrounding blanks or trailing ``;``."""
    return sql_text.strip_comments(sql).strip().rstrip(";").strip()


# a column name: plain, or backtick-quoted with any characters inside
_NAME = r"(`(?:[^`]|``)+`|\w+)"


def _unquote(name: str) -> str:
    return name[1:-1].replace("``", "`") if name.startswith("`") else name


def _parse_watermark(body: str) -> WatermarkDef:
    m = re.match(r"WATERMARK\s+FOR\s+" + _NAME + r"\s+AS\s+(.+)", body, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"bad WATERMARK clause: {body!r}")
    col, expr = _unquote(m.group(1)), m.group(2).strip()
    delay = None
    dm = re.search(
        r"-\s*INTERVAL\s+'(\d+(?:\.\d+)?)'\s+(\w+)", expr, re.IGNORECASE
    )
    if dm:
        unit = _INTERVAL_UNITS.get(dm.group(2).upper())
        if unit:
            delay = f"{dm.group(1)} {unit}"
    return WatermarkDef(column=col, expr=expr, delay=delay)


def _parse_schema_items(body: str, table: TableDef) -> None:
    for item in split_top(body):
        item = item.strip()
        if not item:
            continue
        up = item.upper()
        if up.startswith("WATERMARK"):
            table.watermark = _parse_watermark(item)
            continue
        if up.startswith("PRIMARY KEY"):
            m = re.match(r"PRIMARY\s+KEY\s*\((.*)\)", item, re.IGNORECASE | re.DOTALL)
            if m:
                table.primary_key = [_unquote(c.strip()) for c in split_top(m.group(1))]
            continue
        if re.match(r"(UNIQUE|CONSTRAINT)\b", up):
            continue  # tolerated, unenforced
        # computed column:  name AS expr
        m = re.match(_NAME + r"\s+AS\s+(.+)", item, re.IGNORECASE | re.DOTALL)
        if m and not re.match(
            _NAME + r"\s+(ARRAY|MAP|ROW|MULTISET)\s*<", item, re.IGNORECASE
        ):
            table.columns.append(
                ColumnDef(name=_unquote(m.group(1)), computed_expr=m.group(2).strip())
            )
            continue
        # regular column:  name TYPE [NOT NULL] [COMMENT '...']
        m = re.match(_NAME + r"\s+(.+)", item, re.DOTALL)
        if not m:
            raise ValueError(f"bad column definition: {item!r}")
        name, rest = _unquote(m.group(1)), m.group(2).strip()
        comment = None
        cm = re.search(r"\s+COMMENT\s+'((?:[^']|'')*)'\s*$", rest, re.IGNORECASE)
        if cm:
            comment = cm.group(1).replace("''", "'")
            rest = rest[: cm.start()].strip()
        nullable = True
        nm = re.search(r"\s+NOT\s+NULL\s*$", rest, re.IGNORECASE)
        if nm:
            nullable = False
            rest = rest[: nm.start()].strip()
        # METADATA column:  name TYPE METADATA [FROM 'key'] [VIRTUAL]
        meta_key, meta_virtual = None, False
        mm = re.search(
            r"\s+METADATA(?:\s+FROM\s+'([^']+)')?(\s+VIRTUAL)?\s*$",
            rest,
            re.IGNORECASE,
        )
        if mm:
            meta_key = mm.group(1) or name
            meta_virtual = bool(mm.group(2))
            rest = rest[: mm.start()].strip()
        table.columns.append(
            ColumnDef(
                name=name,
                data_type=parse_type(rest),
                nullable=nullable,
                comment=comment,
                metadata_key=meta_key,
                metadata_virtual=meta_virtual,
            )
        )


def _parse_with_options(s: str) -> dict[str, str]:
    return {
        m.group(1): m.group(2)
        for m in re.finditer(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'", s)
    }


def _match_like_tail(rest: str):
    """Match ``[WITH (...)] LIKE base [(like options)]`` at the end of a
    CREATE TABLE statement. Returns (with_body | None, base_name,
    like_options | None) or None. The WITH body is balanced-paren scanned —
    quoted option values may contain ')' or the word LIKE, so a regex over
    the whole tail would mis-split."""
    rest = rest.strip()
    with_body = None
    m = re.match(r"WITH\s*\(", rest, re.IGNORECASE)
    if m:
        try:
            close = match_bracket(rest, m.end() - 1)
        except ValueError:
            return None
        with_body = rest[m.end() : close]
        rest = rest[close + 1 :].strip()
    lm = re.match(
        r"LIKE\s+(`?)([\w.]+)\1\s*(?:\((.*)\))?\s*$", rest, re.IGNORECASE | re.DOTALL
    )
    if not lm:
        return None
    return with_body, lm.group(2).split(".")[-1], lm.group(3)


# LIKE-clause feature sets and their merge strategies (Flink SQL
# CREATE TABLE ... LIKE): INCLUDING copies and fails on conflict, EXCLUDING
# drops the source's feature, OVERWRITING copies with the new declaration
# winning conflicts. Flink's documented default is INCLUDING ALL with
# OVERWRITING OPTIONS.
_LIKE_FEATURES = ("CONSTRAINTS", "GENERATED", "OPTIONS", "PARTITIONS", "WATERMARKS")


def _parse_like_options(s: str | None) -> dict[str, str]:
    strat = dict.fromkeys(_LIKE_FEATURES, "INCLUDING")
    strat["OPTIONS"] = "OVERWRITING"
    if not s:
        return strat
    toks = re.findall(r"[A-Za-z]+", s.upper())
    i = 0
    while i < len(toks):
        mode = toks[i]
        if mode not in ("INCLUDING", "EXCLUDING", "OVERWRITING"):
            raise ValueError(f"bad LIKE option {mode!r}")
        if i + 1 >= len(toks):
            raise ValueError(f"LIKE option {mode} needs a feature name")
        feat = toks[i + 1]
        if feat == "ALL":
            if mode == "OVERWRITING":
                raise ValueError("OVERWRITING ALL is not a valid LIKE option")
            strat = dict.fromkeys(_LIKE_FEATURES, mode)
        elif feat == "METADATA":
            pass  # no metadata columns in this engine; accepted and ignored
        elif feat in _LIKE_FEATURES:
            if mode == "OVERWRITING" and feat in ("CONSTRAINTS", "PARTITIONS"):
                raise ValueError(f"OVERWRITING {feat} is not a valid LIKE option")
            strat[feat] = mode
        else:
            raise ValueError(f"unknown LIKE feature {feat!r}")
        i += 2
    return strat


def merge_like(base: TableDef, extra: TableDef, like_options: str | None) -> TableDef:
    """Merge a LIKE source table with the new statement's own declarations
    (Flink CREATE TABLE ... LIKE semantics). ``extra`` carries the new
    statement's columns/watermark/pk/partitions/options and the result
    identity (name, IF NOT EXISTS)."""
    strat = _parse_like_options(like_options)
    out = TableDef(name=extra.name, if_not_exists=extra.if_not_exists)

    # columns: source physical columns always copy; computed (generated)
    # columns follow their strategy
    gen = strat["GENERATED"]
    for c in base.columns:
        if c.computed_expr is not None and gen == "EXCLUDING":
            continue
        out.columns.append(c)
    by_name = {c.name: i for i, c in enumerate(out.columns)}
    for c in extra.columns:
        if c.name in by_name:
            prev = out.columns[by_name[c.name]]
            if (
                c.computed_expr is not None
                and prev.computed_expr is not None
                and gen == "OVERWRITING"
            ):
                out.columns[by_name[c.name]] = c
                continue
            raise ValueError(
                f"LIKE merge: column {c.name!r} already exists in the source "
                "table (use OVERWRITING GENERATED for computed columns)"
            )
        by_name[c.name] = len(out.columns)
        out.columns.append(c)

    wm = strat["WATERMARKS"]
    if wm == "EXCLUDING":
        out.watermark = extra.watermark
    elif wm == "OVERWRITING":
        out.watermark = extra.watermark or base.watermark
    else:
        if base.watermark and extra.watermark:
            raise ValueError(
                "LIKE merge: both tables declare a watermark "
                "(use OVERWRITING WATERMARKS or EXCLUDING WATERMARKS)"
            )
        out.watermark = extra.watermark or base.watermark

    pk = strat["CONSTRAINTS"]
    if pk == "EXCLUDING":
        out.primary_key = extra.primary_key
    else:
        if base.primary_key and extra.primary_key:
            raise ValueError(
                "LIKE merge: both tables declare a primary key "
                "(use EXCLUDING CONSTRAINTS to drop the source's)"
            )
        out.primary_key = extra.primary_key or base.primary_key

    pt = strat["PARTITIONS"]
    if pt == "EXCLUDING":
        out.partitioned_by = extra.partitioned_by
    else:
        if base.partitioned_by and extra.partitioned_by:
            raise ValueError(
                "LIKE merge: both tables declare partitioning "
                "(use EXCLUDING PARTITIONS to drop the source's)"
            )
        out.partitioned_by = extra.partitioned_by or base.partitioned_by

    op = strat["OPTIONS"]
    if op == "EXCLUDING":
        out.options = dict(extra.options)
    else:
        out.options = dict(base.options)
        for k, v in extra.options.items():
            if k in out.options and out.options[k] != v and op == "INCLUDING":
                raise ValueError(
                    f"LIKE merge: option {k!r} declared on both tables with "
                    "different values (use OVERWRITING OPTIONS)"
                )
            out.options[k] = v
    return out


def parse_statement(sql: str) -> Parsed:
    """Classify one SQL statement; DDL in our dialect is fully parsed,
    queries/INSERT/EXPLAIN pass through with light metadata."""
    sql = strip_comments(sql)
    up = sql.upper()

    m = re.match(
        r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`?)([\w.]+)\2\s*\(",
        sql,
        re.IGNORECASE,
    )
    if m:
        # the schema body ends at the bracket matching its "(" (the body
        # and WITH (...) may both nest brackets and quote them)
        close = match_bracket(sql, m.end() - 1)
        schema_body = sql[m.end() : close]
        rest = sql[close + 1 :].strip()
        options = {}
        partitioned: list[str] = []
        pm = re.match(
            r"(?:COMMENT\s+'[^']*'\s*)?PARTITIONED\s+BY\s*\(([^)]*)\)\s*(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if pm:  # Flink filesystem-connector partitioned tables
            partitioned = [c.strip().strip("`") for c in pm.group(1).split(",")]
            rest = pm.group(2).strip()
        rest = re.sub(r"^COMMENT\s+'[^']*'\s*", "", rest, flags=re.IGNORECASE)
        like_tail = _match_like_tail(rest)
        wm = re.match(r"WITH\s*\((.*)\)\s*$", rest, re.IGNORECASE | re.DOTALL)
        if like_tail is not None:
            options = _parse_with_options(like_tail[0] or "")
        elif wm:
            options = _parse_with_options(wm.group(1))
        elif rest:
            raise ValueError(f"unexpected trailing DDL: {rest[:80]!r}")
        table = TableDef(
            name=m.group(3).split(".")[-1],
            if_not_exists=bool(m.group(1)),
            partitioned_by=partitioned,
            options=options,
        )
        _parse_schema_items(schema_body, table)
        if like_tail is not None:
            return Parsed(
                kind="create_table_like",
                table=table,
                name=m.group(3),
                value=like_tail[1],
                key=like_tail[2],
                sql=sql,
            )
        # name keeps the full (possibly catalog-qualified) identifier so the
        # engine can route catalog-managed tables to Spark SQL
        return Parsed(kind="create_table", table=table, name=m.group(3), sql=sql)

    # CREATE TABLE t [WITH (...)] LIKE base [(like options)] — the
    # schema-less LIKE form (no own column list)
    m = re.match(
        r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(`?)([\w.]+)\2\s+(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m and (like_tail := _match_like_tail(m.group(4))) is not None:
        table = TableDef(
            name=m.group(3).split(".")[-1],
            if_not_exists=bool(m.group(1)),
            options=_parse_with_options(like_tail[0] or ""),
        )
        return Parsed(
            kind="create_table_like",
            table=table,
            name=m.group(3),
            value=like_tail[1],
            key=like_tail[2],
            sql=sql,
        )

    m = re.match(r"DROP\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+EXISTS\s+)?(`?)([\w.]+)\2\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="drop_table", name=m.group(3).split(".")[-1], if_exists=bool(m.group(1)), sql=sql)

    # CREATE [OR REPLACE] [TEMPORARY] VIEW v AS <query> — session-scoped, like
    # Flink views in the default in-memory catalog. The query part keeps
    # ``value`` so the engine can apply the dialect rewrites before planning.
    m = re.match(
        r"CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?VIEW\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(`?)([\w.]+)\1\s+AS\s+(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return Parsed(
            kind="create_view", name=m.group(2).split(".")[-1], value=m.group(3), sql=sql
        )
    m = re.match(
        r"DROP\s+(?:TEMPORARY\s+)?VIEW\s+(IF\s+EXISTS\s+)?(`?)([\w.]+)\2\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="drop_view",
            name=m.group(3).split(".")[-1],
            if_exists=bool(m.group(1)),
            sql=sql,
        )

    m = re.match(r"USE\s+CATALOG\s+(`?)([\w]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="use_catalog", name=m.group(2), sql=sql)
    m = re.match(r"USE\s+(`?)([\w.]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="use", name=m.group(2), sql=sql)

    m = re.match(r"SHOW\s+(CATALOGS|DATABASES|TABLES|VIEWS|FUNCTIONS|JARS)\s*$", up)
    if m:
        return Parsed(kind="show", show_what=m.group(1).lower(), sql=sql)

    # SHOW CURRENT CATALOG / DATABASE (Flink statements; Spark SQL has no
    # SHOW CURRENT CATALOG form, so both resolve here for one surface)
    m = re.match(r"SHOW\s+CURRENT\s+(CATALOG|DATABASE)\s*$", up)
    if m:
        return Parsed(kind="show_current", value=m.group(1).lower(), sql=sql)

    # Flink session-cluster job statements (SHOW JOBS / DESCRIBE JOB 'id' /
    # STOP JOB 'id' [WITH SAVEPOINT] [WITH DRAIN]) — the SQL face of the
    # job monitor
    if re.match(r"SHOW\s+JOBS\s*$", up):
        return Parsed(kind="show_jobs", sql=sql)
    m = re.match(r"DESC(?:RIBE)?\s+JOB\s+'([^']+)'\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="describe_job", name=m.group(1), sql=sql)
    m = re.match(
        r"STOP\s+JOB\s+'([^']+)'\s*(?:WITH\s+SAVEPOINT\s*)?(?:WITH\s+DRAIN\s*)?$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(kind="stop_job", name=m.group(1), sql=sql)

    # Flink module statements: modules gate which function libraries resolve;
    # this engine has exactly Spark's built-in surface, modeled as 'core'
    m = re.match(r"SHOW\s+(FULL\s+)?MODULES\s*$", up)
    if m:
        return Parsed(kind="show_modules", value="full" if m.group(1) else None, sql=sql)
    m = re.match(r"LOAD\s+MODULE\s+(`?)(\w+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="load_module", name=m.group(2), sql=sql)
    m = re.match(r"UNLOAD\s+MODULE\s+(`?)(\w+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="unload_module", name=m.group(2), sql=sql)

    m = re.match(r"TRUNCATE\s+TABLE\s+(`?)([\w.]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="truncate_table", name=m.group(2).split(".")[-1], sql=sql)

    m = re.match(r"SHOW\s+PARTITIONS\s+(`?)([\w.]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="show_partitions", name=m.group(2).split(".")[-1], sql=sql)

    # ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c1, c2 | FOR ALL COLUMNS]
    # (Flink 1.18 batch statement feeding the CBO)
    m = re.match(
        r"ANALYZE\s+TABLE\s+(`?)([\w.]+)\1\s+COMPUTE\s+STATISTICS"
        r"(?:\s+FOR\s+(ALL\s+COLUMNS|COLUMNS\s+([\w`,\s]+)))?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        cols = None
        if m.group(3):
            if m.group(3).upper().startswith("ALL"):
                cols = ["*"]
            else:
                cols = [c.strip().strip("`") for c in m.group(4).split(",") if c.strip()]
        return Parsed(
            kind="analyze_table",
            name=m.group(2).split(".")[-1],
            columns=cols,
            sql=sql,
        )

    m = re.match(r"SHOW\s+CREATE\s+TABLE\s+(`?)([\w.]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="show_create_table", name=m.group(2).split(".")[-1], sql=sql)

    # ALTER TABLE t SET ('k'='v', ...) — Flink's option-update statement
    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+SET\s*\((.*)\)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return Parsed(
            kind="alter_table_set",
            name=m.group(2).split(".")[-1],
            value=m.group(3),
            sql=sql,
        )

    # ALTER TABLE t RENAME TO t2 | ADD (cols…) | DROP (col)
    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+RENAME\s+TO\s+(`?)([\w.]+)\3\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="alter_table_rename",
            name=m.group(2).split(".")[-1],
            value=m.group(4).split(".")[-1],
            sql=sql,
        )
    # ALTER TABLE t ADD|MODIFY WATERMARK FOR col AS expr / DROP WATERMARK
    # (FLIP-273 schema evolution) — must match BEFORE the add-column form,
    # which would otherwise swallow "WATERMARK FOR ..." as a column def
    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+(?:ADD|MODIFY)\s+"
        r"(WATERMARK\s+FOR\s+.+)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return Parsed(
            kind="alter_watermark_set",
            name=m.group(2).split(".")[-1],
            value=m.group(3).strip(),
            sql=sql,
        )
    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+DROP\s+WATERMARK\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="alter_watermark_drop", name=m.group(2).split(".")[-1], sql=sql
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+ADD\s*\((.*)\)\s*$|"
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\4\s+ADD\s+(\w+\s+.+?)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return Parsed(
            kind="alter_table_add",
            name=(m.group(2) or m.group(5)).split(".")[-1],
            value=m.group(3) or m.group(6),
            sql=sql,
        )
    m = re.match(
        r"ALTER\s+TABLE\s+(`?)([\w.]+)\1\s+DROP\s*\(?\s*(`?)(\w+)\3\s*\)?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="alter_table_drop_col",
            name=m.group(2).split(".")[-1],
            value=m.group(4),
            sql=sql,
        )

    # CREATE CATALOG c WITH ('type'='jdbc', …) | DROP CATALOG c  (D3)
    m = re.match(
        r"CREATE\s+CATALOG\s+(?:IF\s+NOT\s+EXISTS\s+)?(`?)(\w+)\1\s+WITH\s*\((.*)\)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        return Parsed(
            kind="create_catalog",
            name=m.group(2),
            value=m.group(3),
            sql=sql,
        )
    m = re.match(
        r"DROP\s+CATALOG\s+(IF\s+EXISTS\s+)?(`?)(\w+)\2\s*$", sql, re.IGNORECASE
    )
    if m:
        return Parsed(
            kind="drop_catalog", name=m.group(3), if_exists=bool(m.group(1)), sql=sql
        )

    m = re.match(r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?:EXTENDED\s+)?(`?)([\w.]+)\1\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="describe", name=m.group(2).split(".")[-1], sql=sql)

    # SET 'key' = 'value'  |  SET key = value  |  SET (list)  |  RESET
    m = re.match(r"SET\s*$", up)
    if m:
        return Parsed(kind="show", show_what="set", sql=sql)
    m = re.match(r"SET\s+'([^']+)'\s*=\s*'([^']*)'\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="set", key=m.group(1), value=m.group(2), sql=sql)
    m = re.match(r"SET\s+([\w.\-]+)\s*=\s*(.+?)\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="set", key=m.group(1), value=m.group(2).strip("'\""), sql=sql)
    m = re.match(r"RESET(?:\s+'?([\w.\-]+)'?)?\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="reset", key=m.group(1), sql=sql)

    m = re.match(r"ADD\s+JAR\s+'([^']+)'\s*$", sql, re.IGNORECASE)
    if m:
        return Parsed(kind="add_jar", name=m.group(1), sql=sql)

    # CREATE [TEMPORARY] [SYSTEM] FUNCTION f AS 'class_or_callable'
    # [LANGUAGE JAVA|SCALA|PYTHON]  (Flink function DDL)
    m = re.match(
        r"CREATE\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(`?)([\w.]+)\1\s+AS\s+'([^']+)'"
        r"(?:\s+LANGUAGE\s+(\w+))?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="create_function",
            name=m.group(2).split(".")[-1],
            value=m.group(3),
            key=(m.group(4) or "JAVA").upper(),
            sql=sql,
        )
    m = re.match(
        r"DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?"
        r"(`?)([\w.]+)\2\s*$",
        sql,
        re.IGNORECASE,
    )
    if m:
        return Parsed(
            kind="drop_function",
            name=m.group(3).split(".")[-1],
            if_exists=bool(m.group(1)),
            sql=sql,
        )

    # optional static-partition spec and explicit column list:
    #   INSERT INTO t PARTITION (dt='2026-01-01'[, region]) [(a, b)] SELECT ...
    # — the lookahead keeps a parenthesized query `INSERT INTO t (SELECT ...)`
    # out of the column-list capture.
    m = re.match(
        r"INSERT\s+(INTO|OVERWRITE)\s+(`?)([\w.]+)\2\s*"
        r"(?:PARTITION\s*\(([^)]*)\)\s*)?"
        r"(?:\((?!\s*(?:SELECT|VALUES|WITH)\b)([^()]*)\)\s*)?(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        cols = None
        if m.group(5):
            cols = [c.strip().strip("`") for c in m.group(5).split(",") if c.strip()]
        partition = None
        if m.group(4):
            # k='v' / k=123 are STATIC values; a bare k is a dynamic
            # partition column (fed by the query like any other column)
            partition = {}
            for entry in m.group(4).split(","):
                entry = entry.strip()
                if not entry:
                    continue
                pm = re.fullmatch(
                    r"(`?)([\w]+)\1\s*(?:=\s*(?:'((?:[^']|'')*)'|([-\d.]+)))?",
                    entry,
                )
                if pm is None:
                    raise ValueError(f"INSERT: bad PARTITION entry {entry!r}")
                if pm.group(3) is not None:
                    partition[pm.group(2)] = pm.group(3).replace("''", "'")
                elif pm.group(4) is not None:
                    partition[pm.group(2)] = pm.group(4)
                else:
                    partition[pm.group(2)] = None  # dynamic
        return Parsed(
            kind="insert",
            name=m.group(3).split(".")[-1],
            key=m.group(3),  # full (possibly catalog-qualified) identifier
            overwrite=m.group(1).upper() == "OVERWRITE",
            columns=cols,
            partition=partition,
            sql=m.group(6).strip(),
        )

    if up.startswith("EXPLAIN"):
        return Parsed(kind="explain", sql=sql)
    if re.match(r"EXECUTE\s+STATEMENT\s+SET", up):
        return Parsed(kind="statement_set", sql=sql)

    return Parsed(kind="query", sql=sql)


def split_statements(text: str) -> list[str]:
    """Split a cell/script into statements on the semicolons in code.

    ``EXECUTE STATEMENT SET BEGIN …; …; END`` blocks contain semicolons and
    stay one statement (split ends only after the closing END). Comments
    stay with their statement; a ';' or apostrophe inside a comment, a
    literal or a backtick name is plain text. Comment-only pieces are
    dropped."""
    out, cur = [], []
    pieces = split_top(text, ";")
    for k, piece in enumerate(pieces):
        cur.append(piece)
        code = re.sub(r"\s+", " ", strip_comments(";".join(cur)).upper())
        if (
            k < len(pieces) - 1
            and code.startswith("EXECUTE STATEMENT SET")
            and not code.endswith(" END")
        ):
            continue  # still inside the BEGIN … END block
        if code:
            out.append(";".join(cur).strip())
        cur = []
    return out
