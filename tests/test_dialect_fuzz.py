"""Seeded composition fuzz over the Flink→Spark dialect rewriter.

Each of window_sql's rewrites (bracket constructors, subscripts, IS JSON,
STR_TO_MAP, ELEMENT/ROW, ARRAY_CONCAT/COLLECT/..., TVFs, temporal join) is
unit-pinned individually, but their COMPOSITION over adversarial inputs is
the risk surface (VERDICT r11 #4): string literals that contain the rewrite
triggers (`ARRAY[`, `COLLECT(`, `IS JSON`, comment markers, doubled
quotes), comments that contain them, nested brackets, and chains of several
rewrites inside one expression.

The generator builds a random Flink-dialect expression TOGETHER with its
expected Python value, runs the full `rewrite_flink_dialect` chain, executes
the result on Spark, and compares values — so a literal corrupted by a blind
substitution, an off-by-one in bracket matching, or a comment mistaken for
code shows up as a VALUE mismatch, not just a shape change. 500 seeded cases
(deterministic), batched ~25 expressions per SELECT to keep runtime low.

Regression anchors at the bottom pin the specific blind-`re.sub` sites this
fuzz flushed out when introduced (COLLECT/ARRAY_CONCAT/LOCALTIME/TVF
selectors firing inside string literals — fixed via `_sub_code`).
"""

from __future__ import annotations

import json
import random

import pytest

from flink_notebooks_spark.engine.window_sql import (
    rewrite_flink_dialect,
    rewrite_scalar_syntax,
)

N_CASES = 500
BATCH = 25

# fragments that trigger (or look like they trigger) a rewrite; all must
# survive verbatim inside string literals and comments
TRICKY = [
    "ARRAY[", "MAP[", "ARRAY[1, 2]", " IS JSON ", "IS NOT JSON OBJECT",
    "ELEMENT(", "ROW(", "STR_TO_MAP(a)", "COLLECT(x)", "ARRAY_CONCAT(",
    "ARRAY_REVERSE(", "MAP_UNION(", "LOCALTIME", "LOCALTIMESTAMP",
    "TUMBLE_START(ts)", "HOP_END(ts)", "SESSION(ts, INTERVAL '1' MINUTE)",
    "FOR SYSTEM_TIME AS OF t.ts", "TABLE(TUMBLE(", "--", "/*", "*/",
    "[", "]", "[1]", "]]", "don''t",  # doubled quote INSIDE the value text
    "t.", "a[1]", "{", "}", "CARDINALITY(",
]
WORDS = ["lorem", "ipsum", "x", "k1", "42", "spark", "flink", " ", "_"]


def _lit(value: str) -> str:
    """SQL-encode a string literal (no backslashes are ever generated, so
    quote doubling is the only escape needed)."""
    return "'" + value.replace("'", "''") + "'"


def _gen_str_value(rng: random.Random) -> str:
    parts = []
    for _ in range(rng.randint(1, 3)):
        pool = TRICKY if rng.random() < 0.7 else WORDS
        parts.append(rng.choice(pool))
    v = " ".join(parts)
    if rng.random() < 0.15:
        v += "\n" + rng.choice(WORDS)  # newline inside the literal: a '--'
        # fragment above must NOT start a comment inside it
    return v


def _comment_junk(rng: random.Random) -> str:
    # no '*/' (would close the block comment under FLINK's non-nesting
    # reading, which the rewriter implements); a bare '/*' inside is fine —
    # Spark alone would demand a matching '*/' (nested comments), but the
    # rewriter strips comments under Flink/Calcite semantics first
    # (sql_text.strip_comments), so the nesting divergence never reaches Spark.
    # No newline (would end a line comment early).
    frags = [f for f in TRICKY if "*/" not in f and "\n" not in f]
    return " ".join(rng.choice(frags) for _ in range(rng.randint(1, 2)))


def _wrap_comments(rng: random.Random, sql: str) -> str:
    r = rng.random()
    if r < 0.5:
        return sql
    if r < 0.7:
        return f"(/* {_comment_junk(rng)} */ {sql})"
    if r < 0.9:
        return f"({sql} /* {_comment_junk(rng)} */)"
    return f"({sql}\n-- {_comment_junk(rng)}\n)"


def _gen_int(rng: random.Random, depth: int):
    r = rng.random()
    if depth <= 0 or r < 0.35:
        v = rng.randint(-5, 9)
        return (f"({v})" if v < 0 else str(v)), v
    if r < 0.55:  # 1-based array subscript
        sql, arr = _gen_int_array(rng, depth - 1)
        i = rng.randint(1, len(arr))
        return f"{sql}[{i}]", arr[i - 1]
    if r < 0.7:  # ELEMENT of a single-element array
        s, v = _gen_int(rng, depth - 1)
        return f"ELEMENT(ARRAY[{s}])", v
    if r < 0.85:  # CARDINALITY
        sql, arr = _gen_int_array(rng, depth - 1)
        return f"CARDINALITY({sql})", len(arr)
    # map lookup
    sql, m, keys = _gen_map(rng, depth - 1)
    k = rng.choice(keys)
    return f"{sql}[{_lit(k)}]", m[k]


def _gen_int_array(rng: random.Random, depth: int):
    r = rng.random()
    if depth <= 0 or r < 0.5:
        elems = [_gen_int(rng, 0) for _ in range(rng.randint(1, 4))]
        return "ARRAY[" + ", ".join(e[0] for e in elems) + "]", [e[1] for e in elems]
    if r < 0.65:  # nested array-of-array subscript
        inner = [_gen_int_array(rng, 0) for _ in range(rng.randint(1, 3))]
        i = rng.randint(1, len(inner))
        sql = "ARRAY[" + ", ".join(s for s, _ in inner) + "]"
        return f"{sql}[{i}]", inner[i - 1][1]
    if r < 0.8:
        a, va = _gen_int_array(rng, depth - 1)
        b, vb = _gen_int_array(rng, 0)
        return f"ARRAY_CONCAT({a}, {b})", va + vb
    a, va = _gen_int_array(rng, depth - 1)
    return f"ARRAY_REVERSE({a})", va[::-1]


def _gen_map(rng: random.Random, depth: int):
    """→ (sql, dict, keys). Disjoint keys (map_concat's default dedup
    policy is EXCEPTION)."""
    if depth > 0 and rng.random() < 0.3:
        a_sql, a, _ = _gen_map(rng, 0)
        b_keys = [f"q{i}" for i in range(rng.randint(1, 2))]
        b = {k: rng.randint(0, 9) for k in b_keys}
        b_sql = "MAP[" + ", ".join(f"{_lit(k)}, {v}" for k, v in b.items()) + "]"
        merged = {**a, **b}
        return f"MAP_UNION({a_sql}, {b_sql})", merged, list(merged)
    keys = [f"k{i}" for i in range(rng.randint(1, 3))]
    m = {k: rng.randint(0, 9) for k in keys}
    sql = "MAP[" + ", ".join(f"{_lit(k)}, {v}" for k, v in m.items()) + "]"
    return sql, m, keys


def _gen_str_to_map(rng: random.Random):
    keys = [f"k{i}" for i in range(rng.randint(1, 3))]
    m = {k: "".join(rng.choice("abc123") for _ in range(rng.randint(1, 3))) for k in keys}
    if rng.random() < 0.5:  # 1-arg form: Flink default ',' '=' delimiters
        s = ",".join(f"{k}={v}" for k, v in m.items())
        sql = f"STR_TO_MAP({_lit(s)})"
    else:
        s = ";".join(f"{k}:{v}" for k, v in m.items())
        sql = f"STR_TO_MAP({_lit(s)}, ';', ':')"
    if rng.random() < 0.5:
        k = rng.choice(keys)
        return f"{sql}[{_lit(k)}]", m[k]
    return sql, m


_JSON_PAYLOADS = [
    "{}", '{"a": 1}', "[1, 2]", "[]", "1", "-2.5", '"s"', "true", "null",
    "not json", "{", "[1,", "", "x IS JSON",
]


def _gen_is_json(rng: random.Random):
    payload = rng.choice(_JSON_PAYLOADS)
    ws = rng.choice(["", " ", "\t", "\n", " \n\t"])
    s = ws + payload
    kind = rng.choice([None, "VALUE", "SCALAR", "ARRAY", "OBJECT"])
    neg = rng.random() < 0.3
    try:
        json.loads(s)
        valid = True
    except ValueError:
        valid = False
    lead = s.lstrip(" \t\n\r")[:1]
    if kind == "OBJECT":
        v = valid and lead == "{"
    elif kind == "ARRAY":
        v = valid and lead == "["
    elif kind == "SCALAR":
        v = valid and lead not in ("{", "[")
    else:
        v = valid
    if neg:
        v = not v
    sql = f"{_lit(s)} IS {'NOT ' if neg else ''}JSON{' ' + kind if kind else ''}"
    return f"({sql})", v


def _gen_json_ctor(rng: random.Random):
    """JSON_OBJECT / JSON_ARRAY (SQL:2016 ctors; Flink has them, Spark
    spells them to_json(...)) — ints and simple strings only, so the JSON
    text round-trips through json.loads for an order-preserving compare."""
    if rng.random() < 0.5:
        keys = [f"k{i}" for i in range(rng.randint(1, 3))]
        vals = [rng.randint(0, 99) for _ in keys]
        null_at = rng.randrange(len(keys)) if rng.random() < 0.4 else None
        flag = rng.choice(["", " NULL ON NULL", " ABSENT ON NULL"])
        parts, want = [], {}
        for i, (k, v) in enumerate(zip(keys, vals)):
            if i == null_at:
                parts.append(f"KEY {_lit(k)} VALUE CAST(NULL AS INT)")
                if flag != " ABSENT ON NULL":  # Flink default: NULL ON NULL
                    want[k] = None
            else:
                parts.append(f"{_lit(k)} VALUE {v}")
                want[k] = v
        return f"JSON_OBJECT({', '.join(parts)}{flag})", want, "json"
    vals = [rng.randint(0, 99) for _ in range(rng.randint(1, 4))]
    null_at = rng.randrange(len(vals)) if rng.random() < 0.4 else None
    items = [
        "CAST(NULL AS INT)" if i == null_at else str(v)
        for i, v in enumerate(vals)
    ]
    # Flink default ABSENT ON NULL: nulls drop from the array
    want = [v for i, v in enumerate(vals) if i != null_at]
    return f"JSON_ARRAY({', '.join(items)})", want, "json"


def _gen_case(rng: random.Random):
    """→ (flink_sql, expected, kind). kind drives the comparison."""
    r = rng.random()
    if r < 0.18:
        v = _gen_str_value(rng)
        return _wrap_comments(rng, _lit(v)), v, "plain"
    if r < 0.36:
        sql, v = _gen_int(rng, 2)
        return _wrap_comments(rng, sql), v, "plain"
    if r < 0.46:
        sql, v = _gen_int_array(rng, 2)
        return _wrap_comments(rng, sql), v, "plain"
    if r < 0.56:
        sql, m, _ = _gen_map(rng, 1)
        return _wrap_comments(rng, sql), m, "plain"
    if r < 0.66:
        sql, v = _gen_str_to_map(rng)
        return _wrap_comments(rng, sql), v, "plain"
    if r < 0.78:
        sql, v = _gen_is_json(rng)
        return _wrap_comments(rng, sql), v, "plain"
    if r < 0.86:  # ROW constructor → f0/f1-named struct
        a, va = _gen_int(rng, 1)
        b = _gen_str_value(rng)
        return (
            _wrap_comments(rng, f"ROW({a}, {_lit(b)})"),
            {"f0": va, "f1": b},
            "row",
        )
    if r < 0.94:
        sql, v, kind = _gen_json_ctor(rng)
        return _wrap_comments(rng, sql), v, kind
    # TO_TIMESTAMP_LTZ epoch form, value-compared via unix_micros
    n = rng.randint(0, 10_000)
    p = rng.choice([0, 3, 6])
    return (
        f"unix_micros(TO_TIMESTAMP_LTZ({n}, {p}))",
        n * {0: 1_000_000, 3: 1_000, 6: 1}[p],
        "plain",
    )


def test_dialect_rewriter_composition_fuzz(spark):
    rng = random.Random(0xF11C)
    cases = [_gen_case(rng) for _ in range(N_CASES)]
    failures = []
    for at in range(0, N_CASES, BATCH):
        chunk = cases[at : at + BATCH]
        sel = ", ".join(f"{sql} AS c{i}" for i, (sql, _, _) in enumerate(chunk))
        q = f"SELECT {sel}"
        rw = rewrite_flink_dialect(q)
        try:
            row = spark.sql(rw).first()
        except Exception as e:  # noqa: BLE001
            failures.append((at, "QUERY ERROR", str(e)[:300], rw[:300]))
            continue
        for i, (sql, want, kind) in enumerate(chunk):
            got = row[f"c{i}"]
            if kind == "row":
                got = got.asDict() if got is not None else None
            elif kind == "json":
                got = json.loads(got) if got is not None else None
            if got != want:
                failures.append((at + i, sql, want, got))
    assert not failures, f"{len(failures)} mismatches; first 5: {failures[:5]}"


def test_comments_normalize_to_flink_semantics(spark):
    """Flink/Calcite block comments end at the FIRST '*/' and do not nest;
    Spark's nest (UNCLOSED_BRACKETED_COMMENT otherwise). The rewriter strips
    non-hint comments under the Flink reading, so a Flink-valid query with
    '/*' inside a comment executes; '/*+ ...*/' hints and literals holding
    comment markers pass through verbatim."""
    from flink_notebooks_spark.engine.window_sql import rewrite_flink_dialect

    rw = rewrite_flink_dialect("SELECT 1 /* a /* b */ AS x")
    assert spark.sql(rw).first()["x"] == 1  # Flink reading: comment ends at */
    rw = rewrite_flink_dialect("SELECT /* drop ARRAY[ me */ 2 AS y -- tail\n")
    assert "ARRAY[" not in rw and spark.sql(rw).first()["y"] == 2
    # optimizer hints survive (both engines read them)
    rw = rewrite_flink_dialect("SELECT /*+ COALESCE(1) */ 3 AS z")
    assert "/*+ COALESCE(1) */" in rw and spark.sql(rw).first()["z"] == 3
    # literals holding comment markers are untouched
    s = "SELECT '/* not a comment */ -- nor this' AS s"
    assert rewrite_flink_dialect(s) == s


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 'COLLECT(x)' AS s",
        "SELECT 'ARRAY_CONCAT(' AS s",
        "SELECT 'ARRAY_REVERSE(a)' AS s",
        "SELECT 'MAP_UNION(' AS s",
        "SELECT 'LOCALTIME now' AS s",
        "SELECT 'LOCALTIMESTAMP' AS s",
        "SELECT 'TUMBLE_START(x)' AS s",
        "SELECT 'SESSION(ts, INTERVAL ''1'' MINUTE)' AS s",
        "SELECT 'FOR SYSTEM_TIME AS OF t.ts' AS s",
    ],
)
def test_rewrites_never_fire_inside_literals(sql):
    """Anchors for the blind-substitution class the fuzz flushed out: every
    rewrite trigger spelled INSIDE a string literal passes through verbatim
    (pre-r12, COLLECT/ARRAY_CONCAT/LOCALTIME/TVF-selector/temporal-join
    rewrites used bare re.sub and corrupted such literals)."""
    assert rewrite_flink_dialect(sql) == sql
    assert rewrite_scalar_syntax(sql) == sql
