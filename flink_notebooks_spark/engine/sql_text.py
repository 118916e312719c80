"""The SQL text scanner: which characters of a statement are code.

Every statement split, bracket match, top-level split and code-only text
rewrite of SQL in the engine goes through this module, so they all agree
on four kinds of non-code span (a MATCH_RECOGNIZE PATTERN, which holds no
literals, keeps its own grammar parser):

- string literals ``'...'`` (a doubled ``''`` is an escaped quote);
- backtick-quoted names, such as ``` `a--b` ``` or ``` `x,y` ```, with a
  doubled backtick as the escape. A name is one token. It never starts a
  comment, never holds a separator, and is never rewritten inside;
- ``--`` line comments, up to (not including) the newline;
- ``/* */`` block comments, which end at the first ``*/`` (Flink's lexer
  does not nest them). ``/*+ ... */`` optimizer hints are spans too, but
  ``strip_comments`` keeps them.

An unterminated span runs to the end of the text.

Brackets are ``()``, ``[]`` and ``{}`` (the ``{m,n}`` quantifiers of a
MATCH_RECOGNIZE pattern), plus ``<`` and ``>`` only when the ``<`` directly
follows ARRAY, MAP, ROW or MULTISET, as in ``MAP<STRING, ARRAY<INT>>``.
Any other ``<`` or ``>`` is a comparison. A ``)``, ``]`` or ``}`` also
closes a type ``<`` left open inside it, and a closer with nothing open is
ignored.
"""

from __future__ import annotations

import bisect
import functools
import re

_NONCODE = (
    r"'[^']*(?:''[^']*)*'?"
    r"|`[^`]*(?:``[^`]*)*`?"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)"
)
_NONCODE_RE = re.compile(_NONCODE, re.S)


@functools.lru_cache(maxsize=None)
def _tokens(sep: str) -> re.Pattern:
    """Non-code spans, brackets and ``sep`` (a punctuation mark, or a
    keyword matched as a whole word in any case)."""
    sep_re = rf"\b{sep}\b" if sep.isalpha() else re.escape(sep)
    return re.compile(
        rf"{_NONCODE}|(?<![\w.])(?:ARRAY|MAP|ROW|MULTISET)\s*<"
        rf"|[()\[\]{{}}>]|{sep_re}",
        re.S | re.I,
    )


def _walk(text: str, sep: str = ","):
    """Yield ``(start, end, depth, opener)`` for each bracket and separator
    in code. ``depth`` counts the brackets open around the token (an
    opener counts itself, a closer the bracket it closes); ``opener`` is
    a closer's matching opener index, else None."""
    stack: list[tuple[str, int]] = []
    for m in _tokens(sep).finditer(text):
        s, e = m.span()
        c = text[e - 1]
        if text[s] in "'`-/":
            continue
        if c in "([{<":
            stack.append((c, e - 1))
            yield e - 1, e, len(stack), None
        elif c in ")]}":
            while stack and stack[-1][0] == "<":
                stack.pop()
            if stack:
                yield s, e, len(stack), stack.pop()[1]
        elif c == ">":
            if stack and stack[-1][0] == "<":
                yield s, e, len(stack), stack.pop()[1]
        else:
            yield s, e, len(stack), None


def match_bracket(text: str, i: int) -> int:
    """Index of the bracket that pairs with the one at ``text[i]``: its
    closer for an opener, its opener for a closer."""
    for s, _, _, opener in _walk(text):
        if opener == i:
            return s
        if s == i and opener is not None:
            return opener
    raise ValueError(f"unbalanced {text[i]!r} in SQL near {text[i : i + 40]!r}")


def split_top(text: str, sep: str = ",") -> list[str]:
    """The pieces of ``text`` between the separators that sit in code and
    outside every bracket. The pieces are not stripped: joined with a
    punctuation ``sep`` they give back ``text``."""
    out, last = [], 0
    for s, e, depth, _ in _walk(text, sep):
        if depth == 0:
            out.append(text[last:s])
            last = e
    out.append(text[last:])
    return out


def _span_index(text: str) -> tuple[list[int], list[int]]:
    spans = [m.span() for m in _NONCODE_RE.finditer(text)]
    return [s for s, _ in spans], [e for _, e in spans]


def _inside(index: tuple[list[int], list[int]], pos: int) -> bool:
    starts, ends = index
    k = bisect.bisect_right(starts, pos) - 1
    return k >= 0 and starts[k] < pos < ends[k]


def in_noncode(text: str, pos: int) -> bool:
    """True when ``pos`` sits inside a literal, a backtick name or a
    comment, past its opening character: spans that a rewrite must leave
    untouched. A match may start at an opening quote (``'{}' IS JSON``)."""
    return _inside(_span_index(text), pos)


def _compiled(pattern) -> re.Pattern:
    """A pattern given as a string matches case-insensitively, like SQL
    keywords; a compiled pattern keeps its own flags."""
    return pattern if isinstance(pattern, re.Pattern) else re.compile(pattern, re.I)


def code_matches(pattern, text: str) -> list[re.Match]:
    """The matches of ``pattern`` that start in code."""
    found = list(_compiled(pattern).finditer(text))
    if not found:
        return found
    index = _span_index(text)
    return [m for m in found if not _inside(index, m.start())]


def search_code(pattern, text: str) -> re.Match | None:
    """The first match of ``pattern`` that starts in code, or None."""
    found = code_matches(pattern, text)
    return found[0] if found else None


def sub_code(pattern, repl, text: str) -> str:
    """``re.sub`` that leaves the matches starting in a non-code span
    untouched (a literal ``'COLLECT(x'`` or a comment holding ``ARRAY[``
    must survive verbatim). ``repl`` may be a string (backref-expanded) or
    a callable."""
    index = None

    def guard(m: re.Match) -> str:
        nonlocal index
        if index is None:
            index = _span_index(text)
        if _inside(index, m.start()):
            return m.group(0)
        return repl(m) if callable(repl) else m.expand(repl)

    return _compiled(pattern).sub(guard, text)


def map_literals(text: str, fn) -> str:
    """``text`` with ``fn`` applied to each string literal (quotes
    included); names and comments stay verbatim."""
    return _NONCODE_RE.sub(
        lambda m: fn(m.group(0)) if m.group(0)[0] == "'" else m.group(0), text
    )


def strip_comments(text: str) -> str:
    """Replace each comment with one space, Flink's token separator.
    Literals, backtick names and ``/*+ */`` optimizer hints (both engines
    read them) stay verbatim. Removing the spans also keeps Spark, whose
    block comments nest, from reading ``SELECT 1 /* a /* b */ AS x`` as an
    unclosed comment."""

    def keep(m: re.Match) -> str:
        span = m.group(0)
        return span if span[0] in "'`" or span.startswith("/*+") else " "

    return _NONCODE_RE.sub(keep, text)
