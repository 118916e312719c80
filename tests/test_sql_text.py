"""The SQL text scanner (engine/sql_text.py) and the statement, DDL and
MATCH_RECOGNIZE parsing that goes through it: Flink-valid text whose
literals, backtick names or comments hold separators, brackets or comment
markers."""

import re
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

from flink_notebooks_spark.engine.ddl import parse_statement, split_statements
from flink_notebooks_spark.engine.sql_text import (
    search_code,
    split_top,
    strip_comments,
    sub_code,
)
from flink_notebooks_spark.operators.match_recognize import parse_match_recognize

# the module (the package re-exports a function of the same name)
mr = sys.modules["flink_notebooks_spark.operators.match_recognize"]

_WITH = " WITH ('connector'='datagen')"


def _columns(ddl):
    return [
        (c.name, c.data_type and c.data_type.simpleString(), c.computed_expr)
        for c in parse_statement(ddl).table.columns
    ]


def test_backtick_name_holding_a_comment_marker():
    assert _columns("CREATE TABLE t (`a--b` INT, c STRING)" + _WITH) == [
        ("a--b", "int", None),
        ("c", "string", None),
    ]


def test_computed_column_with_a_quoted_paren():
    assert _columns("CREATE TABLE t (a INT, b AS CONCAT(')', 'y'))" + _WITH) == [
        ("a", "int", None),
        ("b", None, "CONCAT(')', 'y')"),
    ]


def test_commas_inside_backtick_names_and_comments():
    assert _columns("CREATE TABLE t (a INT, `b,c` STRING)" + _WITH) == [
        ("a", "int", None),
        ("b,c", "string", None),
    ]
    for literal, comment in (("'x, y'", "x, y"), ("'it''s'", "it's")):
        ddl = f"CREATE TABLE t (a INT COMMENT {literal})" + _WITH
        col = parse_statement(ddl).table.columns[0]
        assert (col.data_type.simpleString(), col.comment) == ("int", comment)


def test_comparison_in_a_computed_column_keeps_the_next_column():
    assert _columns("CREATE TABLE t (a INT, b AS a < 5, c INT)" + _WITH) == [
        ("a", "int", None),
        ("b", None, "a < 5"),
        ("c", "int", None),
    ]
    # a type's angle brackets still nest
    assert _columns(
        "CREATE TABLE t (m MAP<STRING, ARRAY<INT>>, r ROW<x INT, y INT>)" + _WITH
    ) == [("m", "map<string,array<int>>", None), ("r", "struct<x:int,y:int>", None)]


def test_split_statements_steps_over_backtick_names():
    assert split_statements("SELECT `a;b` FROM t; SELECT 2") == [
        "SELECT `a;b` FROM t",
        "SELECT 2",
    ]
    assert split_statements("SELECT `it's` FROM t; SELECT 2") == [
        "SELECT `it's` FROM t",
        "SELECT 2",
    ]
    # a statement set stays whole even behind a leading comment
    assert split_statements(
        "-- the set\nEXECUTE STATEMENT SET BEGIN INSERT INTO a SELECT 1; "
        "INSERT INTO b SELECT 2; END; SELECT 3"
    ) == [
        "-- the set\nEXECUTE STATEMENT SET BEGIN INSERT INTO a SELECT 1; "
        "INSERT INTO b SELECT 2; END",
        "SELECT 3",
    ]


def test_select_list_split_steps_over_literals():
    assert [p.strip() for p in split_top("'a,b' AS s, x")] == ["'a,b' AS s", "x"]


_DEFINE_CLAUSE = (
    "PARTITION BY user_id ORDER BY ts MEASURES FIRST(A.ts) AS t0 "
    "ONE ROW PER MATCH PATTERN (A B) DEFINE A AS A.event_type = {lit}, "
    "B AS B.event_type = 'c'"
)


def test_define_entries_split_outside_literals():
    spec = parse_match_recognize(_DEFINE_CLAUSE.format(lit="'a,b'"))
    assert spec.define == {"A": "A.event_type = 'a,b'", "B": "B.event_type = 'c'"}
    spec = parse_match_recognize(_DEFINE_CLAUSE.format(lit="'a('"))
    assert spec.define == {"A": "A.event_type = 'a('", "B": "B.event_type = 'c'"}


def test_match_recognize_modes_ignore_keywords_in_literals():
    for lit in ("'all rows per match'", "'after match skip to next row'"):
        spec = parse_match_recognize(_DEFINE_CLAUSE.format(lit=lit))
        assert (spec.all_rows, spec.skip_past_last) == (False, True)


def test_match_recognize_clause_ends_outside_literals(monkeypatch):
    class Src:
        isStreaming = False

    class Spark:
        def table(self, name):
            return Src()

    seen = []
    monkeypatch.setattr(mr, "match_recognize", lambda src, clause: seen.append(clause))
    clause = _DEFINE_CLAUSE.format(lit="')'")
    mr.sql_match_recognize(
        Spark(), f"SELECT * FROM events MATCH_RECOGNIZE ({clause})"
    )
    assert seen == [clause]


def test_match_recognize_rewrites_see_backtick_names_as_code():
    cond = "A.`value` > PREV(A.`value`) AND A.tag <> 'A.x' AND `A.y` > 0"
    bare = sub_code(re.compile(r"\bA\s*\.\s*"), "", cond)
    assert bare == "`value` > PREV(`value`) AND tag <> 'A.x' AND `A.y` > 0"
    assert search_code(mr._PREV_RE, bare).group(1) == "`value`"


# --------------------------------------------------------- property test

_BODY = st.lists(
    st.sampled_from([",", ";", "(", ")", "<", ">", "--", "/*", "'", "`", "a", " "]),
    max_size=6,
).map("".join)


def _segment():
    """(kind, text) pieces of a statement; kind is None for code."""
    return st.one_of(
        st.sampled_from(
            ["a", "b1", ",", ";", "(", ")", "<", ">", "x < 5", "ARRAY<INT>", "f(a, b)"]
        ).map(lambda s: (None, s)),
        _BODY.map(lambda b: ("lit", "'" + b.replace("'", "''") + "'")),
        _BODY.map(lambda b: ("name", "`" + b.replace("`", "``") + "`")),
        _BODY.map(lambda b: ("comment", "--" + b)),
        _BODY.map(lambda b: ("comment", "/*" + b + "*/")).filter(_one_close),
        _BODY.map(lambda b: ("hint", "/*+ " + b + "*/")).filter(_one_close),
    )


def _one_close(seg):
    """A block comment whose first ``*/`` is its last two characters."""
    return seg[1].find("*/", 2) == len(seg[1]) - 2


def _assemble(segments):
    """The text (segments joined by newlines, so no two spans touch and a
    line comment ends) and the (start, end) of each non-code span."""
    text, spans = "", []
    for kind, s in segments:
        if kind is not None:
            spans.append((len(text), len(text) + len(s)))
        text += s + "\n"
    return text, spans


@given(st.lists(_segment(), max_size=12))
@settings(max_examples=200, deadline=None)
def test_scanner_never_cuts_or_rewrites_inside_noncode(segments):
    text, spans = _assemble(segments)

    def inside(pos):
        return any(s <= pos < e for s, e in spans)

    for sep in (",", ";"):
        pieces = split_top(text, sep)
        assert sep.join(pieces) == text
        cut = -1
        for piece in pieces[:-1]:
            cut += len(piece) + 1
            assert text[cut] == sep and not inside(cut)

    rewritten = sub_code(r"[,;()<>a]", "#", text)
    assert len(rewritten) == len(text)
    for s, e in spans:
        assert rewritten[s:e] == text[s:e]

    expected = "".join(
        (" " if kind == "comment" else s) + "\n" for kind, s in segments
    )
    assert strip_comments(text) == expected
