"""Unit tests for the Flink group-window → Spark SQL dialect rewrite."""

from __future__ import annotations

from flink_notebooks_spark.engine.window_sql import rewrite_group_windows as rw


def test_tumble():
    assert (
        rw("GROUP BY TUMBLE(ts, INTERVAL '10' SECOND)")
        == "GROUP BY window(ts, '10 seconds')"
    )


def test_tumble_selectors():
    s = rw("SELECT TUMBLE_START(ts, INTERVAL '10' SECOND), TUMBLE_END(ts, INTERVAL '10' SECOND)")
    assert s == "SELECT window.start, window.end"


def test_hop_swaps_slide_and_size():
    # Flink: HOP(time, slide, size); Spark: window(time, size, slide)
    assert (
        rw("GROUP BY HOP(ts, INTERVAL '5' SECOND, INTERVAL '10' SECOND)")
        == "GROUP BY window(ts, '10 seconds', '5 seconds')"
    )


def test_session():
    assert (
        rw("GROUP BY SESSION(ts, INTERVAL '30' MINUTE)")
        == "GROUP BY session_window(ts, '30 minutes')"
    )
    assert rw("SELECT SESSION_START(ts, INTERVAL '30' MINUTE)") == (
        "SELECT session_window.start"
    )


def test_no_window_syntax_untouched():
    q = "SELECT a, COUNT(*) FROM t GROUP BY a"
    assert rw(q) is q


def test_temporal_join_snapshot_rewrite():
    from flink_notebooks_spark.engine.window_sql import rewrite_temporal_join

    sql = (
        "SELECT o.id, d.name FROM orders o "
        "JOIN dim FOR SYSTEM_TIME AS OF o.proc_time AS d ON o.k = d.k"
    )
    out = rewrite_temporal_join(sql)
    assert "SYSTEM_TIME" not in out
    assert "JOIN dim" in out and "AS d ON o.k = d.k" in out


def test_tumble_tvf_rewrite():
    from flink_notebooks_spark.engine.window_sql import rewrite_window_tvfs

    out = rewrite_window_tvfs(
        "SELECT window_start, COUNT(*) FROM "
        "TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '10' SECOND)) "
        "GROUP BY window_start"
    )
    assert "TABLE(" not in out
    assert "window(ts, '10 seconds')" in out
    assert "AS window_start" in out


def test_hop_tvf_swaps_args():
    from flink_notebooks_spark.engine.window_sql import rewrite_window_tvfs

    out = rewrite_window_tvfs(
        "SELECT * FROM TABLE(HOP(TABLE e, DESCRIPTOR(ts), "
        "INTERVAL '5' SECOND, INTERVAL '10' SECOND))"
    )
    assert "window(ts, '10 seconds', '5 seconds')" in out


def test_session_tvf_rewrite_shape():
    from flink_notebooks_spark.engine.window_sql import rewrite_window_tvfs

    out = rewrite_window_tvfs(
        "SELECT k, window_start, window_end, COUNT(*) AS c FROM "
        "TABLE(SESSION(TABLE e PARTITION BY k, DESCRIPTOR(ts), INTERVAL '5' SECOND)) "
        "GROUP BY k, window_start, window_end"
    )
    assert "TABLE(" not in out and "SESSION" not in out.upper().replace("__SID", "")
    assert "PARTITION BY k, __sid" in out and "AS window_start" in out


def test_session_tvf_executes_gap_merge(spark):
    from flink_notebooks_spark.engine.window_sql import rewrite_window_tvfs

    # key a: events at 0,3,6 (one session, gaps ≤5s) then 20 (new session);
    # key b: single event at 100.
    rows = [("a", 0), ("a", 3), ("a", 6), ("a", 20), ("b", 100)]
    spark.createDataFrame(
        [(k, t * 1_000_000) for k, t in rows], "k string, us long"
    ).selectExpr("k", "timestamp_micros(us) AS ts").createOrReplaceTempView("sess_ev")
    out = spark.sql(
        rewrite_window_tvfs(
            "SELECT k, unix_timestamp(window_start) AS ws, "
            "unix_timestamp(window_end) AS we, COUNT(*) AS c FROM "
            "TABLE(SESSION(TABLE sess_ev PARTITION BY k, DESCRIPTOR(ts), "
            "INTERVAL '5' SECOND)) GROUP BY k, window_start, window_end ORDER BY k, ws"
        )
    ).collect()
    assert [tuple(r) for r in out] == [
        ("a", 0, 11, 3),   # window_end = last event (6) + gap (5)
        ("a", 20, 25, 1),
        ("b", 100, 105, 1),
    ]


def test_scalar_rewrite_comment_aware():
    """Apostrophes inside -- and /* */ comments must not flip the lexer's
    string state (regression: `-- don't` left later subscripts unrewritten,
    silently running 0-based)."""
    from flink_notebooks_spark.engine.window_sql import rewrite_scalar_syntax as rs

    assert rs("SELECT a[1], -- don't\n b[2] FROM t") == (
        "SELECT element_at(a, 1), -- don't\n element_at(b, 2) FROM t"
    )
    assert rs("SELECT a[1], /* can't */ b[2] FROM t") == (
        "SELECT element_at(a, 1), /* can't */ element_at(b, 2) FROM t"
    )
    # brackets INSIDE comments stay untouched; unterminated trailing comment ok
    assert rs("SELECT a[1] FROM t -- b[2] won't rewrite") == (
        "SELECT element_at(a, 1) FROM t -- b[2] won't rewrite"
    )
    assert rs("SELECT /* ARRAY[1] */ m['k'] FROM t") == (
        "SELECT /* ARRAY[1] */ element_at(m, 'k') FROM t"
    )
    # comment between JSON_OBJECT args with an odd quote
    assert rs(
        "SELECT JSON_OBJECT(KEY 'a' VALUE x, -- it's fine\n KEY 'b' VALUE y) FROM t"
    ).count("named_struct") == 1


def test_backtick_identifiers_survive_rewrites():
    """Backtick-quoted identifiers are opaque names: `x--y` must not start
    a line comment (regression: the comment stripper truncated the statement
    at the --), `a[1]` inside backticks must not become element_at, and an
    apostrophe inside backticks must not flip the lexer's string state."""
    from flink_notebooks_spark.engine.window_sql import (
        rewrite_flink_dialect,
        rewrite_scalar_syntax as rs,
    )

    assert rewrite_flink_dialect("SELECT `x--y` FROM t") == "SELECT `x--y` FROM t"
    assert rewrite_flink_dialect("SELECT `a/*b*/c` FROM t") == (
        "SELECT `a/*b*/c` FROM t"
    )
    assert rs("SELECT `a[1]`, b[1] FROM t") == (
        "SELECT `a[1]`, element_at(b, 1) FROM t"
    )
    assert rs("SELECT `don't`, a[1] FROM t") == (
        "SELECT `don't`, element_at(a, 1) FROM t"
    )
    # Spark escapes a backtick inside the name by doubling it
    assert rs("SELECT `we``ird[1]`, a[1] FROM t") == (
        "SELECT `we``ird[1]`, element_at(a, 1) FROM t"
    )


def test_str_to_map_default_delimiters():
    """Flink's one-argument STR_TO_MAP defaults to ',' pair / '=' key-value
    delimiters (Spark's str_to_map defaults to ':') — the rewrite makes
    them explicit; explicit-delimiter forms and string literals containing
    the function name pass through untouched."""
    from flink_notebooks_spark.engine.window_sql import rewrite_scalar_syntax

    got = rewrite_scalar_syntax("SELECT STR_TO_MAP('k1=v1,k2=v2') AS m")
    assert "str_to_map('k1=v1,k2=v2', ',', '=')" in got
    got = rewrite_scalar_syntax("SELECT STR_TO_MAP(x, ';', ':') AS m")
    assert "str_to_map(x, ';', ':')" in got
    got = rewrite_scalar_syntax("SELECT 'STR_TO_MAP(x)' AS lit")
    assert "'STR_TO_MAP(x)'" in got
    # nested call with a comma INSIDE the single argument still counts as
    # one argument (paren-aware split)
    got = rewrite_scalar_syntax("SELECT STR_TO_MAP(concat(a, b)) AS m")
    assert "str_to_map(concat(a, b), ',', '=')" in got


def test_is_json_predicate_rewrite():
    """SQL:2016 `IS [NOT] JSON [VALUE|SCALAR|ARRAY|OBJECT]` (Flink supports
    it; Spark has no IS JSON) rewrites onto try_parse_json + a lead-char
    check; NULL input is FALSE (Flink semantics); string literals holding
    the words pass through."""
    from flink_notebooks_spark.engine.window_sql import rewrite_scalar_syntax

    got = rewrite_scalar_syntax("SELECT x IS JSON AS a")
    assert "try_parse_json(x) IS NOT NULL" in got and "IS JSON" not in got
    got = rewrite_scalar_syntax("SELECT x IS NOT JSON OBJECT AS a")
    assert got.count("NOT") >= 1 and "= '{'" in got
    got = rewrite_scalar_syntax("SELECT col IS JSON ARRAY AS a")
    assert "= '['" in got
    # unrelated SQL untouched; the predicate never fires INSIDE a literal
    assert rewrite_scalar_syntax("SELECT 1 AS a") == "SELECT 1 AS a"
    s = "SELECT 'this IS JSON maybe' AS s"
    assert rewrite_scalar_syntax(s) == s
    got = rewrite_scalar_syntax("SELECT '{}' IS JSON AS b")
    assert "try_parse_json('{}')" in got
    # lead-char check strips ALL JSON whitespace (RFC 8259: space, tab,
    # LF, CR) — ltrim() strips only spaces, so '\n{}' would misclassify
    got = rewrite_scalar_syntax("SELECT x IS JSON OBJECT AS a")
    assert "regexp_replace" in got and "ltrim" not in got


def test_element_and_row_constructor_rewrites():
    """Flink's ELEMENT(arr) (sole element: NULL for empty, error for >1)
    and the ROW(a, b, ...) constructor (f0/f1... field names) rewrite onto
    Spark primitives; ROW_NUMBER and frame keywords are untouched."""
    from flink_notebooks_spark.engine.window_sql import rewrite_scalar_syntax

    got = rewrite_scalar_syntax("SELECT ELEMENT(arr) AS v")
    assert "try_element_at(arr, 1)" in got and "raise_error" in got
    got = rewrite_scalar_syntax("SELECT ROW(1, 'a') AS r")
    assert "named_struct('f0', 1, 'f1', 'a')" in got
    s = "SELECT ROW_NUMBER() OVER (ORDER BY x) AS rn"
    assert rewrite_scalar_syntax(s) == s
    s2 = "SELECT SUM(x) OVER (ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s"
    assert rewrite_scalar_syntax(s2) == s2
