"""Flink group-window SQL → Spark SQL rewrite.

The reference's flagship streaming query uses Flink's legacy group-window
syntax (reference examples/01-datagen-streaming.flinknb:47):

    SELECT page_id, COUNT(*), TUMBLE_START(event_time, INTERVAL '10' SECOND)
    FROM clickstream GROUP BY page_id, TUMBLE(event_time, INTERVAL '10' SECOND)

Spark SQL expresses the same plan with ``window()`` / ``session_window()``
grouping expressions and ``window.start`` / ``window.end`` selectors. This
module rewrites the Flink spellings textually — a pure dialect translation;
planning and execution stay entirely in Catalyst:

    TUMBLE(c, INTERVAL 'n' U)            → window(c, 'n u')
    HOP(c, INTERVAL 's' U, INTERVAL 'w' U) → window(c, 'w u', 's u')
      (Flink argument order is (time, slide, size); Spark is (time, size,
       slide))
    SESSION(c, INTERVAL 'g' U)           → session_window(c, 'g u')
    TUMBLE_START/TUMBLE_END(...)         → window.start / window.end
    HOP_START/HOP_END(...)               → window.start / window.end
    SESSION_START/SESSION_END(...)       → session_window.start / .end
"""

from __future__ import annotations

import re

from .sql_text import (
    code_matches,
    in_noncode,
    match_bracket,
    search_code,
    split_top,
    strip_comments,
    sub_code,
)

_UNITS = {
    "SECOND": "seconds",
    "SECONDS": "seconds",
    "MINUTE": "minutes",
    "MINUTES": "minutes",
    "HOUR": "hours",
    "HOURS": "hours",
    "DAY": "days",
    "DAYS": "days",
    "MILLISECOND": "milliseconds",
    "MILLISECONDS": "milliseconds",
}

_IVL = r"INTERVAL\s+'([\d.]+)'\s+(\w+)"
_COL = r"([`\w.]+)"


def _dur(n: str, unit: str) -> str:
    u = _UNITS.get(unit.upper())
    if u is None:
        raise ValueError(f"unsupported window interval unit: {unit}")
    return f"'{n} {u}'"


def rewrite_temporal_join(sql: str) -> str:
    """``JOIN dim FOR SYSTEM_TIME AS OF x.t`` → plain join (snapshot
    semantics).

    Flink's temporal join resolves each probe row against the dim table's
    version at the row's event time. When the dim side is a *static
    snapshot* — the only dim shape this engine's connectors materialize —
    the version at any time IS the snapshot, so the clause reduces to a
    regular join. True versioned-history lookups are the
    ``operators.joins.asof_join`` DataFrame operator (one shuffle, no row
    explosion); wiring that into arbitrary SQL would need a Catalyst rule,
    documented as the J7 limitation in SURVEY.md §7.3.
    """
    return sub_code(
        r"\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+[`\w.]+(\s*\(\s*\))?",
        " ",
        sql,
    )


_TVF = re.compile(
    r"TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE)\s*\(\s*(?:TABLE\s+)?([`\w.]+)\s*,\s*"
    r"DESCRIPTOR\s*\(\s*([`\w.]+)\s*\)\s*,\s*" + _IVL + r"(?:\s*,\s*" + _IVL + r")?\s*\)\s*\)",
    re.IGNORECASE,
)

_US_PER = {
    "seconds": 1_000_000,
    "minutes": 60_000_000,
    "hours": 3_600_000_000,
    "days": 86_400_000_000,
    "milliseconds": 1_000,
}


def _us(n: str, unit: str) -> int:
    u = _UNITS.get(unit.upper())
    if u is None:
        raise ValueError(f"unsupported window interval unit: {unit}")
    return int(float(n) * _US_PER[u])


def rewrite_window_tvfs(sql: str) -> str:
    """Flink 1.20 windowing TVFs → Spark subqueries.

    ``TABLE(TUMBLE(TABLE t, DESCRIPTOR(c), INTERVAL 'n' U))`` becomes a
    subquery projecting ``window_start``/``window_end`` (the TVF's output
    columns) from a per-row ``window()`` assignment — Spark evaluates
    ``window()`` in SELECT position, expanding each row to its windows, so
    HOP works the same way with Flink's (slide, size) argument order mapped
    to Spark's (size, slide). CUMULATE expands each row to its growing
    windows with a LATERAL VIEW explode over window ends. SESSION (with
    optional ``PARTITION BY``) is rewritten to a gap-merge over window
    functions — see ``_session_tvf_subquery``.
    """

    def repl(m: re.Match) -> str:
        fn, tbl, col = m.group(1).upper(), m.group(2), m.group(3)
        if fn == "TUMBLE":
            win = f"window({col}, {_dur(m.group(4), m.group(5))})"
        elif fn == "HOP":  # HOP(time, slide, size) → window(time, size, slide)
            if not m.group(6):
                raise ValueError("HOP TVF requires slide and size intervals")
            win = (
                f"window({col}, {_dur(m.group(6), m.group(7))}, "
                f"{_dur(m.group(4), m.group(5))})"
            )
        else:  # CUMULATE(time, step, span): growing windows, explode on ends
            if not m.group(6):
                raise ValueError("CUMULATE TVF requires step and span intervals")
            step = _us(m.group(4), m.group(5))
            span = _us(m.group(6), m.group(7))
            if span % step != 0:
                raise ValueError("CUMULATE: span must be a multiple of step")
            us = f"unix_micros(CAST({col} AS TIMESTAMP))"
            start = f"(({us}) div {span}) * {span}"
            return (
                f"(SELECT * EXCEPT (__k), timestamp_micros({start}) AS window_start, "
                f"timestamp_micros({start} + __k * {step}) AS window_end "
                f"FROM {tbl} "
                f"LATERAL VIEW explode(sequence((({us} - ({start})) div {step}) + 1, "
                f"{span // step})) AS __k)"
            )
        return (
            f"(SELECT * EXCEPT (__w), __w.start AS window_start, "
            f"__w.end AS window_end FROM (SELECT *, {win} AS __w FROM {tbl}))"
        )

    return _SESSION_TVF.sub(_session_tvf_subquery, _TVF.sub(repl, sql))


# Flink 1.20 session TVF: SESSION(TABLE t [PARTITION BY k1, k2],
# DESCRIPTOR(ts), INTERVAL 'g' U)  (FLIP-403; streaming-only in Flink — we
# also give it batch semantics, which Flink defines for the other TVFs).
_SESSION_TVF = re.compile(
    r"TABLE\s*\(\s*SESSION\s*\(\s*(?:TABLE\s+)?([`\w.]+)"
    r"(?:\s+PARTITION\s+BY\s+([`\w.]+(?:\s*,\s*[`\w.]+)*))?\s*,\s*"
    r"DESCRIPTOR\s*\(\s*([`\w.]+)\s*\)\s*,\s*" + _IVL + r"\s*\)\s*\)",
    re.IGNORECASE,
)


def _session_tvf_subquery(m: re.Match) -> str:
    """Session-window assignment as a gap-merge over window functions.

    A session starts at any row whose gap to the previous row (per partition
    key) exceeds the gap interval; a running sum of those starts numbers the
    sessions, and min/max over (keys, session) give window_start /
    window_end (= last event + gap, Flink's definition). Three window
    functions over the same (keys, time) sort → Catalyst plans ONE shuffle +
    sort per partition-key set; rows never expand. Without PARTITION BY the
    merge is a single global sort — same serial semantics Flink has (its
    session TVF requires partition keys for parallelism too), so declare
    keys for scale.

    Batch runtime mode only: Structured Streaming rejects lag() over a
    stream, so streaming session aggregation goes through the group-window
    form ``GROUP BY SESSION(col, INTERVAL ...)`` → ``session_window`` (see
    ``rewrite_group_windows``), which is Spark's native streaming-merge
    session operator.
    """
    tbl, keys, col = m.group(1), m.group(2), m.group(3)
    gap_us = _us(m.group(4), m.group(5))
    ks = [k.strip() for k in keys.split(",")] if keys else []
    by = ", ".join(ks)
    part = f"PARTITION BY {by} " if ks else ""
    sess_part = f"PARTITION BY {by}, __sid" if ks else "PARTITION BY __sid"
    return (
        f"(SELECT * EXCEPT (__us, __new, __sid), "
        f"timestamp_micros(min(__us) OVER ({sess_part})) AS window_start, "
        f"timestamp_micros(max(__us) OVER ({sess_part}) + {gap_us}) AS window_end "
        f"FROM (SELECT *, SUM(__new) OVER ({part}ORDER BY __us "
        f"ROWS UNBOUNDED PRECEDING) AS __sid "
        f"FROM (SELECT *, CASE WHEN __us - lag(__us) OVER ({part}ORDER BY __us) "
        f"<= {gap_us} THEN 0 ELSE 1 END AS __new "
        f"FROM (SELECT *, unix_micros(CAST({col} AS TIMESTAMP)) AS __us "
        f"FROM {tbl}))))"
    )


def rewrite_group_windows(sql: str) -> str:
    """Rewrite Flink TUMBLE/HOP/SESSION group-window calls to Spark SQL.
    Returns the input unchanged when no group-window syntax is present."""
    if not re.search(r"\b(TUMBLE|HOP|SESSION)(_START|_END)?\s*\(", sql, re.IGNORECASE):
        return sql

    # selectors first (TUMBLE_START before TUMBLE so prefixes don't collide)
    def sel(prefix: str, target: str) -> None:
        nonlocal sql
        sql = sub_code(
            rf"\b{prefix}_(START|END)\s*\(([^()]*)\)",
            lambda m: f"{target}.{'start' if m.group(1).upper() == 'START' else 'end'}",
            sql,
        )

    sel("TUMBLE", "window")
    sel("HOP", "window")
    sel("SESSION", "session_window")

    sql = sub_code(
        rf"\bTUMBLE\s*\(\s*{_COL}\s*,\s*{_IVL}\s*\)",
        lambda m: f"window({m.group(1)}, {_dur(m.group(2), m.group(3))})",
        sql,
    )
    sql = sub_code(
        rf"\bHOP\s*\(\s*{_COL}\s*,\s*{_IVL}\s*,\s*{_IVL}\s*\)",
        lambda m: (
            f"window({m.group(1)}, {_dur(m.group(4), m.group(5))}, "
            f"{_dur(m.group(2), m.group(3))})"
        ),
        sql,
    )
    sql = sub_code(
        rf"\bSESSION\s*\(\s*{_COL}\s*,\s*{_IVL}\s*\)",
        lambda m: f"session_window({m.group(1)}, {_dur(m.group(2), m.group(3))})",
        sql,
    )
    return sql


# --------------------------------------------------------------------------
# Flink scalar-syntax dialect rewrites (pure text → Spark SQL; everything
# stays in Catalyst / whole-stage codegen):
#
#   ARRAY[a, b, …] / MAP[k, v, …]  → array(a, b, …) / map(k, v, …)
#     (Flink's bracket constructors; Spark only parses call syntax. Brackets
#      in subscript position — expr[i] — are untouched: only brackets
#      directly after the ARRAY/MAP keyword rewrite.)
#   JSON_OBJECT([KEY] k VALUE v, … [{NULL|ABSENT} ON NULL])
#       → to_json(named_struct(k, v, …) [, map('ignoreNullFields', …)])
#         (Flink default NULL ON NULL → ignoreNullFields 'false')
#   JSON_ARRAY(a, b, … [{NULL|ABSENT} ON NULL])
#       → to_json(array(…)) / to_json(filter(array(…), x -> x IS NOT NULL))
#         (Flink default ABSENT ON NULL → the filter form)
#   JSON_OBJECTAGG(KEY k VALUE v) → to_json(map_from_entries(collect_list(
#       struct(k, v)))); ABSENT ON NULL wraps the struct in CASE WHEN v IS
#       NOT NULL so collect_list drops the pair
#   JSON_ARRAYAGG(v) → to_json(collect_list(v))  (collect_list drops nulls
#       = Flink's default ABSENT ON NULL; NULL ON NULL raises)
#   ARRAY_CONCAT(…) → concat(…)
# --------------------------------------------------------------------------


_ON_NULL_RE = re.compile(r"\s+(NULL|ABSENT)\s+ON\s+NULL\s*$", re.IGNORECASE)
_KV_RE = re.compile(r"^\s*(?:KEY\s+)?(.+?)\s+VALUE\s+(.+)$", re.IGNORECASE | re.DOTALL)


def _rewrite_bracket_ctors(sql: str) -> str:
    while (m := search_code(r"\b(ARRAY|MAP)\s*\[", sql)) is not None:
        open_i = m.end() - 1
        close_i = match_bracket(sql, open_i)
        fn = "array" if m.group(1).upper() == "ARRAY" else "map"
        sql = (
            sql[: m.start()]
            + f"{fn}("
            + sql[open_i + 1 : close_i]
            + ")"
            + sql[close_i + 1 :]
        )
    return sql


def _rewrite_json_fn(sql: str, name: str, build) -> str:
    while (m := search_code(rf"\b{name}\s*\(", sql)) is not None:
        open_i = m.end() - 1
        close_i = match_bracket(sql, open_i)
        inner = sql[open_i + 1 : close_i]
        flag = None
        fm = _ON_NULL_RE.search(inner)
        if fm:
            flag = fm.group(1).upper()
            inner = inner[: fm.start()]
        sql = sql[: m.start()] + build(inner, flag) + sql[close_i + 1 :]
    return sql


def _build_json_object(inner: str, flag: str | None) -> str:
    pairs = []
    for part in split_top(inner):
        if not part.strip():
            continue
        kv = _KV_RE.match(part)
        if not kv:
            raise ValueError(
                f"JSON_OBJECT: expected [KEY] key VALUE value, got {part.strip()!r}"
            )
        pairs.append(f"{kv.group(1).strip()}, {kv.group(2).strip()}")
    ignore_nulls = "true" if flag == "ABSENT" else "false"  # Flink default NULL ON NULL
    if not pairs:
        return "'{}'"
    return (
        f"to_json(named_struct({', '.join(pairs)}), "
        f"map('ignoreNullFields', '{ignore_nulls}'))"
    )


def _build_json_array(inner: str, flag: str | None) -> str:
    args = ", ".join(a.strip() for a in split_top(inner) if a.strip())
    if not args:
        return "'[]'"
    if flag == "NULL":
        return f"to_json(array({args}))"
    # Flink default ABSENT ON NULL
    return f"to_json(filter(array({args}), x -> x IS NOT NULL))"


def _build_json_objectagg(inner: str, flag: str | None) -> str:
    kv = _KV_RE.match(inner)
    if not kv:
        raise ValueError(
            f"JSON_OBJECTAGG: expected KEY key VALUE value, got {inner.strip()!r}"
        )
    k, v = kv.group(1).strip(), kv.group(2).strip()
    entry = f"struct({k} AS key, {v} AS value)"
    if flag == "ABSENT":
        entry = f"CASE WHEN ({v}) IS NOT NULL THEN {entry} END"
    return f"to_json(map_from_entries(collect_list({entry})))"


def _build_json_arrayagg(inner: str, flag: str | None) -> str:
    if flag == "NULL":
        raise NotImplementedError(
            "JSON_ARRAYAGG ... NULL ON NULL: Spark's collect_list cannot "
            "retain null elements (Flink's default ABSENT ON NULL is "
            "supported)"
        )
    return f"to_json(collect_list({inner.strip()}))"


def _rewrite_subscripts(sql: str) -> str:
    """Postfix subscripts → element_at: Flink's ``arr[i]`` is 1-BASED (and
    ``map[k]`` is key lookup), while Spark's bracket subscript is 0-based —
    ``element_at`` has exactly Flink's semantics for both. A ``[`` counts
    as a subscript only when it directly follows an expression tail
    (identifier, backtick, ``)`` or ``]``); bracket constructors were
    rewritten to call syntax before this runs."""
    while True:
        found = None
        for m in code_matches(r"\[", sql):
            tail = sql[: m.start()].rstrip(" \t\n")
            if tail and (tail[-1].isalnum() or tail[-1] in "_`)]."):
                found = m.start()
                break
        if found is None:
            return sql
        close_i = match_bracket(sql, found)
        idx = sql[found + 1 : close_i]
        # walk back over the postfix chain to the base expression's start,
        # jumping over bracket groups and backtick names whole
        end = len(sql[:found].rstrip(" \t\n"))
        b = end - 1
        while b >= 0:
            ch = sql[b]
            if ch == "`":
                b = sql.rfind("`", 0, b) - 1
            elif ch.isalnum() or ch in "_.$":
                b -= 1
            elif ch in ")]":
                b = match_bracket(sql, b) - 1
            else:
                break
        base = sql[b + 1 : end]
        sql = sql[: b + 1] + f"element_at({base}, {idx})" + sql[close_i + 1 :]


def _build_array_slice(inner: str, flag: str | None) -> str:
    """Flink ARRAY_SLICE(arr, start[, end]) — 1-based INCLUSIVE end — to
    Spark slice(arr, start, length)."""
    args = [a.strip() for a in split_top(inner)]
    if len(args) == 2:
        a, s = args
        return f"slice({a}, {s}, greatest(0, size({a}) - ({s}) + 1))"
    if len(args) == 3:
        a, s, e = args
        return f"slice({a}, {s}, greatest(0, ({e}) - ({s}) + 1))"
    raise ValueError(f"ARRAY_SLICE: expected 2 or 3 arguments, got {len(args)}")


def _rewrite_str_to_map(sql: str) -> str:
    """Flink STR_TO_MAP default delimiters are ',' and '=' (Spark's
    str_to_map defaults to ',' and ':') — make the ONE-argument form's
    delimiters explicit; 2/3-argument forms pass through unchanged.
    Single forward pass (the output still contains the function name, so
    the generic rescan-from-the-start rewriter would never terminate)."""
    out, pos = [], 0
    for m in code_matches(r"\bSTR_TO_MAP\s*\(", sql):
        if m.start() < pos:
            continue  # inside the previous call's arguments, kept verbatim
        open_i = m.end() - 1
        close_i = match_bracket(sql, open_i)
        inner = sql[open_i + 1 : close_i]
        args = [a.strip() for a in split_top(inner)]
        out.append(sql[pos : m.start()])
        if len(args) == 1:
            out.append(f"str_to_map({args[0]}, ',', '=')")
        else:
            out.append(f"str_to_map({inner})")
        pos = close_i + 1
    out.append(sql[pos:])
    return "".join(out)


def _build_element(inner: str, flag: str | None) -> str:
    """Flink ELEMENT(arr): the sole element of a single-element array —
    NULL for empty, runtime error for more than one (Flink semantics)."""
    return (
        f"IF(size({inner}) > 1, "
        "raise_error('ELEMENT(): array has more than one element'), "
        f"try_element_at({inner}, 1))"
    )


def _build_row_ctor(inner: str, flag: str | None) -> str:
    """Flink ROW(a, b, ...) constructor → named_struct with Flink's
    conventional f0, f1, ... field names."""
    args = [a.strip() for a in split_top(inner)]
    pairs = ", ".join(f"'f{i}', {a}" for i, a in enumerate(args))
    return f"named_struct({pairs})"


# SQL/JSON predicate: <operand> IS [NOT] JSON [VALUE|SCALAR|ARRAY|OBJECT]
# (Flink supports the SQL:2016 form; Spark has no IS JSON). The operand
# capture covers the common shapes — a string literal, a (qualified)
# column, a simple function call, or a parenthesized expression; exotic
# operands keep Spark's parse error, which names the construct.
_IS_JSON = re.compile(
    r"((?:[\w.`]+\s*\([^()]*\))|'(?:[^']|'')*'|\([^()]*\)|[\w.`]+)"
    r"\s+IS\s+(NOT\s+)?JSON(?:\s+(VALUE|SCALAR|ARRAY|OBJECT))?\b",
    re.IGNORECASE,
)


def _rewrite_is_json(sql: str) -> str:
    def repl(m: re.Match) -> str:
        # never rewrite inside a string literal (the keyword match or the
        # operand could sit mid-literal and corrupt it)
        if in_noncode(sql, m.start()) or in_noncode(sql, m.end() - 1):
            return m.group(0)
        x, neg, kind = m.group(1), m.group(2), (m.group(3) or "VALUE").upper()
        valid = f"try_parse_json({x}) IS NOT NULL"
        # JSON whitespace is space/tab/LF/CR (RFC 8259); ltrim() strips only
        # spaces, so '\n{}' would misclassify. The \t escapes survive both
        # settings of spark.sql.parser.escapedStringLiterals: processed they
        # become literal chars in the regex class, unprocessed they are
        # regex escapes for the same chars.
        lead = f"left(regexp_replace({x}, '^[ \\t\\n\\r]+', ''), 1)"
        if kind == "OBJECT":
            cond = f"({valid} AND {lead} = '{{')"
        elif kind == "ARRAY":
            cond = f"({valid} AND {lead} = '[')"
        elif kind == "SCALAR":
            cond = f"({valid} AND {lead} NOT IN ('{{', '['))"
        else:  # VALUE / bare IS JSON
            cond = f"({valid})"
        # SQL:2016 / Flink: IS JSON on NULL is FALSE (and IS NOT JSON TRUE)
        # — try_parse_json(NULL) IS NOT NULL is already FALSE, and the
        # negated form wraps the whole condition
        return f"(NOT {cond})" if neg else cond

    return _IS_JSON.sub(repl, sql)


def rewrite_scalar_syntax(sql: str) -> str:
    """Apply the Flink scalar-syntax rewrites above (text-level,
    string-literal aware)."""
    if re.search(r"\b(?:ARRAY|MAP)\s*\[", sql, re.IGNORECASE):
        sql = _rewrite_bracket_ctors(sql)
    if "[" in sql:
        sql = _rewrite_subscripts(sql)
    for name, build in (
        ("JSON_OBJECTAGG", _build_json_objectagg),
        ("JSON_ARRAYAGG", _build_json_arrayagg),
        ("JSON_OBJECT", _build_json_object),
        ("JSON_ARRAY", _build_json_array),
    ):
        if re.search(rf"\b{name}\s*\(", sql, re.IGNORECASE):
            sql = _rewrite_json_fn(sql, name, build)
    sql = sub_code(r"\bARRAY_CONCAT\s*\(", "concat(", sql)
    if re.search(r"\bSTR_TO_MAP\s*\(", sql, re.IGNORECASE):
        sql = _rewrite_str_to_map(sql)
    if re.search(r"\bIS\s+(NOT\s+)?JSON\b", sql, re.IGNORECASE):
        sql = _rewrite_is_json(sql)
    if re.search(r"\bELEMENT\s*\(", sql, re.IGNORECASE):
        sql = _rewrite_json_fn(sql, "ELEMENT", _build_element)
    if re.search(r"\bROW\s*\(", sql, re.IGNORECASE):
        sql = _rewrite_json_fn(sql, "ROW", _build_row_ctor)
    # Flink's COLLECT multiset aggregate → the closest Spark aggregate
    # (collect_list; multiset multiplicity is preserved, order is not part
    # of either contract)
    sql = sub_code(r"\bCOLLECT\s*\(", "collect_list(", sql)
    sql = sub_code(r"\bARRAY_REVERSE\s*\(", "reverse(", sql)
    sql = sub_code(r"\bMAP_UNION\s*\(", "map_concat(", sql)
    if re.search(r"\bARRAY_SLICE\s*\(", sql, re.IGNORECASE):
        sql = _rewrite_json_fn(sql, "ARRAY_SLICE", _build_array_slice)
    # TO_TIMESTAMP_LTZ(numeric, precision): Flink's epoch form — Spark's
    # builtin of the same name only takes a string, and builtins shadow
    # temporary functions, so the literal-precision form rewrites here
    def _ltz(m):
        p = int(m.group(2))
        fn = {0: "timestamp_seconds", 3: "timestamp_millis", 6: "timestamp_micros"}.get(p)
        if fn is None:
            return m.group(0)
        return f"{fn}({m.group(1)})"

    sql = re.sub(
        r"\bTO_TIMESTAMP_LTZ\s*\(([^(),]+),\s*(\d+)\s*\)",
        _ltz,
        sql,
        flags=re.IGNORECASE,
    )
    # Flink's niladic time attributes; Spark needs the call form. LOCALTIME
    # returns Flink's TIME — mapped to STRING like the TIME type itself.
    sql = sub_code(
        r"\bLOCALTIMESTAMP\b(?!\s*\()", "localtimestamp()", sql
    )
    sql = sub_code(
        r"\bLOCALTIME\b(?!\s*\()",
        "date_format(localtimestamp(), 'HH:mm:ss')",
        sql,
    )
    return sql


def rewrite_flink_dialect(sql: str) -> str:
    """The full Flink→Spark dialect chain for query text."""
    if "--" in sql or "/*" in sql:
        sql = strip_comments(sql)
    return rewrite_group_windows(
        rewrite_window_tvfs(rewrite_temporal_join(rewrite_scalar_syntax(sql)))
    )
