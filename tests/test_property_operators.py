"""Property-based tests (hypothesis): the custom operators agree with
brute-force pandas oracles on arbitrary small inputs — shapes the fixed
test corpus can't enumerate (duplicate timestamps, empty sides, key skew)."""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_notebooks_spark.operators import asof_join, hop_window, interval_join

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

row = st.tuples(
    st.integers(min_value=0, max_value=2),  # key
    st.integers(min_value=0, max_value=50),  # time
)


@given(
    probe=st.lists(row, min_size=1, max_size=12),
    build=st.lists(row, min_size=0, max_size=12),
)
@_slow
@pytest.mark.slow
def test_asof_matches_bruteforce(spark, probe, build):
    pdf = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(probe)], columns=["k", "t", "pid"]
    )
    bdf = pd.DataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(build)], columns=["k", "bt", "bid"]
    )
    sp = spark.createDataFrame(pdf.astype({"k": "int64", "t": "int64", "pid": "int64"}))
    sb = (
        spark.createDataFrame(bdf.astype({"k": "int64", "bt": "int64", "bid": "int64"}))
        if len(bdf)
        else spark.createDataFrame([], "k long, bt long, bid long")
    )
    got = {
        r["pid"]: r["bid"]
        for r in asof_join(sp, sb, "k", "t", "bt", payload=["bid"]).collect()
    }

    def oracle(k, t):
        c = bdf[(bdf["k"] == k) & (bdf["bt"] <= t)]
        if c.empty:
            return None
        # latest bt; ties broken by max bid (operator contract)
        c = c.sort_values(["bt", "bid"])
        return int(c.iloc[-1]["bid"])

    want = {int(r.pid): oracle(r.k, r.t) for r in pdf.itertuples()}
    assert got == want


@given(
    left=st.lists(row, min_size=1, max_size=10),
    right=st.lists(row, min_size=0, max_size=10),
    lo=st.integers(min_value=-10, max_value=0),
    width=st.integers(min_value=1, max_value=15),
)
@_slow
@pytest.mark.slow
def test_interval_join_matches_bruteforce(spark, left, right, lo, width):
    hi = lo + width
    ldf = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], columns=["k", "lt", "lid"]
    )
    rdf = pd.DataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(right)], columns=["k", "rt", "rid"]
    )
    sl = spark.createDataFrame(ldf.astype("int64"))
    sr = (
        spark.createDataFrame(rdf.astype("int64"))
        if len(rdf)
        else spark.createDataFrame([], "k long, rt long, rid long")
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(sl, sr, "k", "lt", "rt", lower=lo, upper=hi).collect()
    }
    want = {
        (int(l.lid), int(r.rid))
        for l in ldf.itertuples()
        for r in rdf.itertuples()
        if l.k == r.k and l.lt + lo <= r.rt < l.lt + hi
    }
    assert got == want


@given(
    times=st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=15),
    slide=st.integers(min_value=1, max_value=10),
    mult=st.integers(min_value=1, max_value=4),
)
@_slow
@pytest.mark.slow
def test_hop_window_membership_invariants(spark, times, slide, mult):
    width = slide * mult
    df = spark.createDataFrame([(i, t) for i, t in enumerate(times)], "rid long, t long")
    rows = hop_window(df, "t", width_us=width, slide_us=slide).collect()
    per_row = {}
    for r in rows:
        per_row.setdefault(r["rid"], []).append(r["w_start_us"])
        # every assigned window truly contains the row
        assert r["w_start_us"] <= r["t"] < r["w_end_us"]
        assert r["w_start_us"] % slide == 0
    for rid in range(len(times)):
        # exactly width/slide windows per event, all distinct
        starts = per_row[rid]
        assert len(starts) == mult and len(set(starts)) == mult


# ------------------------------------------------- MATCH_RECOGNIZE property
def _naive_match(symbols, pattern, skip_past=True):
    """Independent greedy-backtracking matcher over a symbol string.
    pattern: list of (symbol, lo, hi|None). Returns list of (start, end)."""
    n = len(symbols)

    def attempt(i):
        spans_end = [None]

        def rec(pi, pos):
            if pi == len(pattern):
                return pos
            sym, lo, hi = pattern[pi]
            cnt = 0
            cap = hi if hi is not None else n - pos
            while cnt < cap and pos + cnt < n and symbols[pos + cnt] == sym:
                cnt += 1
            for take in range(cnt, lo - 1, -1):
                e = rec(pi + 1, pos + take)
                if e is not None:
                    return e
            return None

        e = rec(0, i)
        return e if e is not None and e > i else None

    out, i = [], 0
    while i < n:
        e = attempt(i)
        if e is None:
            i += 1
        else:
            out.append((i, e))
            i = e if skip_past else i + 1
    return out


@given(
    symbols=st.lists(st.sampled_from("abc"), min_size=0, max_size=14),
    quant=st.sampled_from([(1, 1), (1, None), (0, None), (0, 1), (2, 3)]),
    skip_past=st.booleans(),
)
@_slow
@pytest.mark.slow
def test_match_recognize_matches_naive(spark, symbols, quant, skip_past):
    """Pattern A B{q} C over arbitrary abc-strings: the Spark operator's
    match set equals an independent naive matcher's."""
    from flink_notebooks_spark.operators import match_recognize

    rows = [(1, i, s) for i, s in enumerate(symbols)]
    df = spark.createDataFrame(rows, "k int, t int, sym string") if rows else None
    lo, hi = quant
    hi_txt = "" if (lo, hi) == (1, 1) else (
        "+" if (lo, hi) == (1, None) else
        "*" if (lo, hi) == (0, None) else
        "?" if (lo, hi) == (0, 1) else "{2,3}"
    )
    expected = _naive_match(
        "".join(symbols),
        [("a", 1, 1), ("b", lo, hi), ("c", 1, 1)],
        skip_past,
    )
    if df is None:
        assert expected == []
        return
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    out = match_recognize(
        df,
        f"PARTITION BY k ORDER BY t "
        f"MEASURES A.t AS start_t, LAST(C.t) AS last_c "
        f"AFTER MATCH {skip} PATTERN (A B{hi_txt} C) "
        f"DEFINE A AS A.sym = 'a', B AS B.sym = 'b', C AS C.sym = 'c'",
    ).orderBy("start_t").collect()
    got = [(r["start_t"], r["last_c"] + 1) for r in out]
    assert got == expected


# --------------------------------------------------------------------- DDL
_TYPES = [
    "INT", "BIGINT", "DOUBLE", "FLOAT", "BOOLEAN", "STRING", "VARCHAR(40)",
    "DECIMAL(10,2)", "TIMESTAMP(3)", "DATE", "ARRAY<STRING>",
    "MAP<STRING, INT>", "ROW<a INT, b STRING>",
]
_ident = st.from_regex(r"[a-z][a-z0-9_]{0,14}", fullmatch=True)


@given(
    cols=st.lists(
        st.tuples(_ident, st.sampled_from(_TYPES), st.booleans()),
        min_size=1, max_size=8,
        unique_by=lambda c: c[0],
    ),
    pk=st.booleans(),
    opts=st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9.\-]{0,14}", fullmatch=True),
        st.from_regex(r"[a-zA-Z0-9_/:.\-]{0,16}", fullmatch=True),
        min_size=1, max_size=5,
    ),
)
@settings(max_examples=60, deadline=None)
def test_ddl_parse_render_parse_fixpoint(cols, pk, opts):
    """Property: parse(render(parse(ddl))) is a fixpoint — column names,
    types, nullability, PRIMARY KEY, and options survive a round trip
    through the parser and the SHOW CREATE TABLE renderer."""
    from flink_notebooks_spark.engine.ddl import parse_statement
    from flink_notebooks_spark.engine.types import to_flink_type

    opts = {"connector": "filesystem", **opts}
    body = ",\n".join(
        f"`{n}` {t}{'' if nullable else ' NOT NULL'}" for n, t, nullable in cols
    )
    if pk:
        body += f",\nPRIMARY KEY (`{cols[0][0]}`) NOT ENFORCED"
    with_clause = ",\n".join(f"'{k}' = '{v}'" for k, v in opts.items())
    ddl = f"CREATE TABLE t1 (\n{body}\n) WITH (\n{with_clause}\n)"

    t = parse_statement(ddl).table
    assert [c.name for c in t.columns] == [n for n, _, _ in cols]
    assert [c.nullable for c in t.columns] == [nb for _, _, nb in cols]
    assert t.options == opts
    assert t.primary_key == ([cols[0][0]] if pk else [])

    # re-render exactly the way SHOW CREATE TABLE does, re-parse, compare
    parts = []
    for c in t.columns:
        nn = "" if c.nullable else " NOT NULL"
        parts.append(f"  `{c.name}` {to_flink_type(c.data_type)}{nn}")
    if t.primary_key:
        parts.append(
            "  PRIMARY KEY (" + ", ".join(f"`{k}`" for k in t.primary_key) + ") NOT ENFORCED"
        )
    rendered = (
        "CREATE TABLE `t1` (\n" + ",\n".join(parts) + "\n) WITH (\n"
        + ",\n".join(f"  '{k}' = '{v}'" for k, v in sorted(t.options.items()))
        + "\n)"
    )
    t2 = parse_statement(rendered).table
    assert [(c.name, c.data_type, c.nullable) for c in t2.columns] == [
        (c.name, c.data_type, c.nullable) for c in t.columns
    ]
    assert t2.options == t.options
    assert t2.primary_key == t.primary_key


@pytest.mark.slow
def test_stateful_define_equals_jvm_eval(spark):
    """Equivalence fuzz: a self-referential DEFINE condition (no cross-var,
    no navigation) must produce identical matches whether evaluated as a
    precompiled JVM boolean column (normal path) or through the per-row
    stateful evaluator (forced by appending an always-true cross-var
    clause). Pins the SQL→Python translation: operators, precedence,
    literals, NULL comparison semantics."""
    import random

    from flink_notebooks_spark.operators import match_recognize

    rng = random.Random(11)
    rows = [
        (1, t, rng.choice([1, 2, 3, 4, 5]), rng.choice(["x", "y", "z"]))
        for t in range(120)
    ]
    df = spark.createDataFrame(rows, "k int, t int, v int, s string")
    conds = [
        "B.v > 2",
        "B.v >= 2 AND B.v < 5",
        "B.s = 'x' OR B.v = 4",
        "NOT (B.s = 'z') AND (B.v = 1 OR B.v > 3)",
        "B.v * 2 <= 6",
        "B.s <> 'y'",
    ]
    for cond in conds:
        plain = match_recognize(
            df,
            "PARTITION BY k ORDER BY t MEASURES A.t AS at, COUNT(B.*) AS nb "
            f"PATTERN (A B+) DEFINE A AS A.s = 'x', B AS {cond}",
        ).collect()
        # A.t > -1 is always true but forces B through the stateful path
        # (cross-variable reference); semantics must not change
        forced = match_recognize(
            df,
            "PARTITION BY k ORDER BY t MEASURES A.t AS at, COUNT(B.*) AS nb "
            f"PATTERN (A B+) DEFINE A AS A.s = 'x', B AS ({cond}) AND A.t > -1",
        ).collect()
        assert sorted(map(tuple, plain)) == sorted(map(tuple, forced)), cond


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C", "D"]),
            st.integers(min_value=0, max_value=2),  # lo
            st.integers(min_value=0, max_value=2),  # extra reps (hi = lo+extra)
            st.booleans(),  # wrap this element in a group with the next?
        ),
        min_size=2,
        max_size=4,
    )
)
@settings(max_examples=60, deadline=None)
def test_sequence_group_expansion_invariants(elements):
    """_expand_seq_groups: variant count is the product of each group's
    (hi-lo+1); every variant re-tokenizes cleanly; expansion of a flat
    variant is a fixpoint; greediest (longest) variant comes first."""
    from flink_notebooks_spark.operators.match_recognize import (
        _expand_seq_groups,
        parse_match_recognize,
    )

    # build a pattern of single vars and 2-element bounded groups
    parts, expected_variants, i = [], 1, 0
    while i < len(elements):
        name, lo, extra, grouped = elements[i]
        hi = lo + extra
        if grouped and i + 1 < len(elements):
            other = elements[i + 1][0]
            parts.append(f"({name} {other}){{{lo},{hi}}}")
            expected_variants *= hi - lo + 1
            i += 2
        else:
            parts.append(name)
            i += 1
    src = " ".join(parts)
    if expected_variants > 64:
        return
    variants = _expand_seq_groups(src)
    assert len(variants) == expected_variants
    assert all(_expand_seq_groups(v) == [v] for v in variants)  # fixpoint
    lengths = [len(v.split()) for v in variants]
    assert lengths[0] == max(lengths)  # greediest first
    # each non-empty variant parses as a PATTERN
    for v in variants:
        if v.strip():
            spec = parse_match_recognize(
                f"ORDER BY t MEASURES COUNT(*) AS n PATTERN ({v}) "
                "DEFINE A AS A.t > 0"
            )
            assert spec.pattern


# ------------------------------------------- scalar-dialect rewriter


_ATOMS = st.sampled_from(
    ["a", "b.c", "`q`", "f(x)", "tags", "m", "'lit'", "'a[b]'", "'it''s'", "1", "2.5"]
)


@st.composite
def _dialect_exprs(draw, depth=0):
    """Random Flink-dialect scalar expressions mixing bracket constructors,
    subscripts, strings-with-brackets, and calls."""
    if depth >= 3:
        return draw(_ATOMS)
    kind = draw(st.integers(0, 5))
    if kind == 0:
        return draw(_ATOMS)
    if kind == 1:
        els = [draw(_dialect_exprs(depth + 1)) for _ in range(draw(st.integers(1, 3)))]
        return f"ARRAY[{', '.join(els)}]"
    if kind == 2:
        k = draw(_ATOMS)
        v = draw(_dialect_exprs(depth + 1))
        return f"MAP[{k}, {v}]"
    if kind == 3:
        base = draw(_dialect_exprs(depth + 1))
        idx = draw(_dialect_exprs(depth + 1))
        # subscript only postfixes an expression tail, not a literal
        if base.startswith("'"):
            base = f"({base})"
        return f"{base}[{idx}]"
    if kind == 4:
        inner = draw(_dialect_exprs(depth + 1))
        return f"g({inner}, '[')"
    return f"({draw(_dialect_exprs(depth + 1))})"


@given(_dialect_exprs())
@settings(max_examples=300, deadline=None)
def test_scalar_rewrite_invariants(expr):
    """The dialect rewrite (1) terminates, (2) is idempotent — a second
    pass is a no-op, (3) leaves no ARRAY[/MAP[ constructors or bare
    subscripts outside string literals, and (4) never unbalances parens
    outside string literals."""
    from flink_notebooks_spark.engine.sql_text import in_noncode
    from flink_notebooks_spark.engine.window_sql import rewrite_scalar_syntax

    sql = f"SELECT {expr} AS v"
    out = rewrite_scalar_syntax(sql)
    assert rewrite_scalar_syntax(out) == out, (sql, out)
    import re as _re

    for m in _re.finditer(r"\[", out):
        assert in_noncode(out, m.start()), (sql, out)
    depth = 0
    for c in _re.sub(r"'(?:[^']|'')*'", "''", out):
        depth += c == "("
        depth -= c == ")"
        assert depth >= 0, (sql, out)
    assert depth == 0, (sql, out)


@given(
    st.integers(0, 2**31 - 1),
    st.integers(2, 96),
    st.sampled_from(["normal", "heavy", "tiny", "spiky"]),
)
@settings(max_examples=200, deadline=None)
def test_lsh_quantization_margin_is_rigorous(seed, dim, shape):
    """The int8-quantized prefilter's per-pair margin 2·(eps_a + eps_b)
    must DOMINATE the true cosine perturbation for arbitrary vector
    shapes — the property that makes the LSH cluster prefilter unable to
    drop a true pair. Mirrors the map-side math in llm._lsh_signatures and
    the in-bucket test in bucket_pairs."""
    import numpy as np

    rng = np.random.default_rng(seed)
    if shape == "normal":
        M = rng.normal(size=(8, dim))
    elif shape == "heavy":
        M = rng.standard_cauchy(size=(8, dim))
    elif shape == "tiny":
        M = rng.normal(size=(8, dim)) * 1e-12
    else:  # one dominant spike per vector — worst case for max-abs scaling
        M = rng.normal(size=(8, dim)) * 0.01
        M[np.arange(8), rng.integers(0, dim, 8)] = rng.choice([-100.0, 100.0], 8)
    scale = np.maximum(np.abs(M).max(axis=1), 1e-30) / 127.0
    Q = np.rint(M / scale[:, None]).astype(np.int8)
    err = np.linalg.norm(M - Q.astype(np.float64) * scale[:, None], axis=1)
    nrm = np.maximum(np.linalg.norm(M, axis=1), 1e-30)
    eps = 2.0 * err / nrm

    Qf = Q.astype(np.float64)
    qn = np.maximum(np.linalg.norm(Qf, axis=1), 1e-30)
    S_true = (M @ M.T) / np.outer(nrm, nrm)
    S_q = (Qf @ Qf.T) / np.outer(qn, qn)
    margin = np.add.outer(eps, eps)
    # every off-diagonal pair: |cos − qcos| ≤ 2(eps_a + eps_b)
    diff = np.abs(S_true - S_q)
    iu = np.triu_indices(8, 1)
    assert (diff[iu] <= margin[iu] + 1e-9).all(), (
        seed, dim, shape, float((diff - margin)[iu].max())
    )
