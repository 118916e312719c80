"""MATCH_RECOGNIZE (row-pattern recognition) for batch tables.

Reference capability: Flink SQL ``MATCH_RECOGNIZE`` (SURVEY.md §2.5 W9 —
declared by the planner dependency, reference flink-runtime/build.gradle:37).
Supported surface (the clauses Flink's own docs demo):

    MATCH_RECOGNIZE (
      [PARTITION BY k1, k2]
      ORDER BY ts [, tiebreak]
      MEASURES expr AS name [, ...]
      [ONE ROW PER MATCH]
      [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW |
       SKIP TO FIRST <var> | SKIP TO LAST <var>]
      PATTERN (A B+ C* D? E{2,3}) [WITHIN INTERVAL 'n' <unit>]
      PATTERN (PERMUTE (A, B, C))   -- any ordering; lexicographic preference
      PATTERN ((A B){1,2} C)        -- bounded sequence groups (flat-expanded)
      DEFINE A AS <condition>, B AS <condition> [, ...]
    )

Measure expressions: ``V.col`` (first row of V), ``FIRST(V.col)``,
``LAST(V.col)``, ``COUNT(V.*)``, ``COUNT(*)``, ``SUM/MIN/MAX/AVG(V.col)``,
``MATCH_NUMBER()``, ``CLASSIFIER()``. ``ALL ROWS PER MATCH`` emits every
matched input row; measures there default to RUNNING per-row evaluation
(Flink's rule) with explicit ``FINAL(...)`` / ``RUNNING(...)`` wrappers
honored. Alternation is supported as variable groups
``(A|B)`` with optional quantifiers — rows classify as the first listed
variable whose predicate holds. Streaming input runs through
``match_recognize_stream`` (keyed state through ``apply_keyed_state``,
watermark-frontier emission — see its docstring). ``PREV`` in DEFINE works
on both inputs: batch compiles it to a ``lag()`` window (codegen); streaming
defers it into the keyed-state matcher, where the per-key sorted buffer plus
a bounded consumed-row carry make the previous row a pandas ``shift`` — the
same place Flink CEP evaluates PREV (inside the keyed NFA). Cross-variable
DEFINE references (``B AS B.v > A.v`` — other-var ref reads its LAST mapped
row) and FIRST/LAST navigation in DEFINE (running semantics: the current row
counts as mapped to its own variable) evaluate per candidate row inside the
matcher — Flink's NFA-condition equivalent (_compile_stateful_cond documents
the expression subset). ``PREV`` over a column-arithmetic expression and
``NOT`` over PREV-bearing subexpressions (dual-rail Kleene evaluation, so
NOT(unknown) stays unknown) work on both inputs, as does PREV combined
with cross-variable/FIRST/LAST navigation in one condition — on streaming
input the consumed-row carry is prepended to the matcher's frame as
read-only context (``_run_matches(start_at=...)``) so ``prev()`` sees the
same predecessors batch does. Reluctant quantifiers — ``B+?``, ``B*?``, ``B{m,n}?`` — prefer the
FEWEST rows (SQL-standard/Flink semantics; the backtracker tries takes
ascending); reluctant GROUP quantifiers — ``(A B)+?``, ``(A B){m,n}?``,
including bounded group elements inside PERMUTE — prefer the fewest
repetitions (expansion/probe order ascends instead of descending, the
same machinery otherwise). ``PERMUTE`` works on both
inputs for (optionally quantified) single-variable elements — the SQL-standard
permutation alternation, orderings tried in lexicographic preference of the
written list. Match-state conditions work INSIDE alternation groups too: a
row classifies as the first listed variable whose condition holds, stateful
members evaluated against the in-flight match, with the winning variable
recorded for navigation and measure attribution. BOUNDED sequence groups —
``(A B)``, ``(A B)?``, ``(A B){m,n}``, nesting included — expand to flat
pattern variants tried greediest-first (outermost-quantifier greed).
UNBOUNDED sequence-group repetition — ``(A B)+``/``*``/``{m,}`` — works on
both inputs too: the matcher flattens the group per match attempt, trying
the most repetitions the remaining frame can hold first (the same
greediest-first preference as the bounded expansion, in the limit), and
the streaming frontier rule holds any match whose greedier flattening was
cut off by the end of the visible frame (frontier-contact tracking in the
backtracker). BOUNDED sequence groups also work as PERMUTE elements —
``PERMUTE((A B), C)``, ``PERMUTE((A B){1,2}, C?)`` — compiled at parse
time into flat variants (permutation preference first, then greediest
repetition); alternation groups as PERMUTE elements
(``PERMUTE((A|B), C)``) stay on the match-time permutation path as
multi-variable terms. MULTIPLE unbounded groups
in one pattern also work — each flattens independently, the leftmost
group's repetition count varying outermost — and UNBOUNDED group
repetition inside PERMUTE works too (the ordering's variant carries a
GroupTerm, flattened per attempt like any unbounded group), as do
NESTED groups inside a PERMUTE element (``PERMUTE(((A B)+ C), D)`` —
the element parses as a tree and each ordering's variant runs the
nested per-attempt expansion). NESTED
quantifiers on a group wrapping exactly one quantified group work where
the total-repetition set is a single interval: ``((A B)+)*`` ≡
``(A B)*``, ``((A B){a,}){m,}`` ≡ ``(A B){a·max(m,1),}``,
``((A B){a,b}){m,}`` when gap-free (max(m,1)·(b−a) ≥ a−1, so e.g.
``((A B){1,2})+`` ≡ ``(A B)+``) — all collapsed at parse time — and
bounded×bounded ``((A B){a,b}){m,n}`` expands the outer count into
consecutive copies. The REMAINING nested shapes — total-repetition sets
with GAPS (``((A B){2})+`` = even counts only; ``((A B){2,})*`` =
{0} ∪ [2,∞)), mixed greediness where BOTH levels have a repetition
choice (``((A B)+?)*``), and quantified groups CONTAINING quantified
groups (``((A B)+ C)+``, any depth) — run on the nested-tree path
(``spec.nested``): the pattern parses into a PatternTerm/NestedGroup
tree and the matcher enumerates flat expansions per attempt in
greediest-first preference (leftmost group's count outermost, each
level honoring its own greediness), sharing the ordinary backtracker,
measures, SKIP, WITHIN, and the streaming frontier rule; per-start
attempts are capped loudly (``_MAX_GROUP_ATTEMPTS``). Still rejected
(raise): groups able to match empty under unbounded repetition
(``(A? B?)+``, ``((A B)*)+`` — Flink's CEP compiler rejects
empty-matching repetition with its own error, so the raise is parity)
and '|' alternation of multi-variable SEQUENCES (Flink's '|'
alternates single variables).

Scale design (the 100 TB argument):

- DEFINE predicates are compiled to Spark SQL boolean columns BEFORE the
  shuffle — they run in whole-stage codegen over the full table; Python
  never evaluates a predicate.
- The only shuffle is ``groupBy(partition keys)``; matching is a single
  linear backtracking pass per key inside ``applyInPandas`` (Arrow-batched),
  reading precomputed booleans. State per key = that key's rows, the same
  bound Flink's CEP operator has (keyed state over the sort buffer).
- Quantifiers are greedy with backtracking, so worst case is exponential in
  PATTERN LENGTH (tiny, user-written) — never in row count: each start row
  attempts one anchored match and SKIP PAST LAST ROW advances past consumed
  rows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.sql_text import (
    map_literals,
    match_bracket,
    search_code,
    split_top,
    sub_code,
)

# --------------------------------------------------------------------- parse

_PAT_TOKEN = re.compile(
    r"(\w+|\(\s*\w+(?:\s*\|\s*\w+)+\s*\))"  # VAR or (A|B|C)
    r"(\+|\*|\{(\d+)(,(\d*))?\}|\?)?"  # quantifier
    r"(\?)?"  # reluctant marker: B+?, B*?, B{m,n}? prefer FEWEST rows
)


@dataclass
class PatternTerm:
    vars: list[str]  # >1 entries = alternation group (A|B|...)
    lo: int
    hi: int | None  # None = unbounded
    greedy: bool = True  # False = reluctant (B+? / B{m,n}?): fewest rows

    @property
    def var(self) -> str:  # single-var convenience (measure mapping)
        return self.vars[0]


@dataclass
class GroupTerm:
    """UNBOUNDED sequence-group repetition — ``(A B)+`` / ``*`` / ``{m,}``.

    Has no flat expansion at parse time; the matcher flattens it per match
    attempt: with ``n - start`` rows left, at most ``(n - start) //
    min_rows`` repetitions can fit, and variants are tried most-reps-first
    (the same greediest-first preference the bounded ``{m,n}`` expansion
    uses). The body is a flat token sequence (the group grammar admits no
    nested parens), and must not be able to match empty (sum of member
    minimums >= 1) — an empty-matching repetition would loop forever, and
    Flink rejects such patterns too.
    """

    body: list[PatternTerm]
    lo: int  # minimum repetitions; upper bound is the frame
    greedy: bool = True  # False = (A B)+? / {m,}?: fewest repetitions first

    @property
    def vars(self) -> list[str]:  # for spec.variables / SKIP TO validation
        return [v for t in self.body for v in t.vars]

    @property
    def min_rows(self) -> int:  # rows one repetition must consume
        return max(1, sum(t.lo for t in self.body))


@dataclass
class NestedGroup:
    """Arbitrarily NESTED quantified sequence group — the fallback
    representation for the shapes the flat expansion cannot express:
    gap-total repetition sets (``((A B){2})+`` matches only even totals),
    mixed greediness across levels (``((A B)+?)*``), and quantified groups
    containing quantified groups (``((A B)+ C)+``). ``seq`` members are
    PatternTerm or NestedGroup; ``hi is None`` means unbounded. The matcher
    never walks this structure directly — ``_nested_flats`` enumerates flat
    PatternTerm expansions per match attempt (leftmost group's repetition
    count varying outermost, greedy levels most-reps-first), and each flat
    candidate runs through the ordinary ``_match_starting_at`` backtracker,
    so measures / SKIP / DEFINE semantics are identical to every other
    pattern class. Flink CEP compiles these same shapes into its NFA
    (reference: stock Flink 1.20 via flink-runtime/build.gradle:37-38);
    count-enumeration over the same repetition space reaches the same
    match set under the engine's documented greediest-first preference."""

    seq: list  # list[PatternTerm | NestedGroup]
    lo: int
    hi: int | None  # None = unbounded
    greedy: bool = True  # False = reluctant: fewest repetitions first

    @property
    def vars(self) -> list[str]:
        return [v for t in self.seq for v in t.vars]

    @property
    def min_rows_rep(self) -> int:  # minimum rows ONE repetition consumes
        return _seq_min_rows(self.seq)

    @property
    def lo_rows(self) -> int:  # minimum rows the whole group consumes
        return self.lo * self.min_rows_rep


def _seq_min_rows(seq) -> int:
    """Minimum rows a term sequence must consume (0 if all optional)."""
    total = 0
    for t in seq:
        total += t.lo_rows if isinstance(t, NestedGroup) else t.lo
    return total


def _nested_representative(seq) -> list:
    """One flat PatternTerm expansion covering EVERY variable in the tree
    (each group unrolled max(lo, 1) times) — used for spec.pattern so
    variable collection and SKIP TO validation see all variables; never
    used for matching (spec.nested drives the matcher)."""
    out: list[PatternTerm] = []
    for t in seq:
        if isinstance(t, NestedGroup):
            body = _nested_representative(t.seq)
            out.extend(body * max(t.lo, 1))
        else:
            out.append(t)
    return out


def _nested_first_term(seq):
    """The leftmost term every parse of ``seq`` must begin with, or None
    when the first position is ambiguous (leading optional term/group)."""
    if not seq:
        return None
    t = seq[0]
    if isinstance(t, NestedGroup):
        return _nested_first_term(t.seq) if t.lo >= 1 else None
    return t


def _nested_flats(seq, rows_avail: int, probe_past: bool):
    """Yield flat PatternTerm expansions of a nested-group term sequence,
    in the engine's preference order: the LEFTMOST group's repetition count
    varies outermost (matching the bounded expansion's itertools.product
    convention), greedy groups most-reps-first, reluctant fewest-first.
    ``rows_avail`` bounds unbounded counts (a repetition consuming
    ``min_rows_rep`` rows can repeat at most avail // min_rows_rep times
    after the rest of the sequence takes its minimum) — a PRUNE only; the
    flat backtracker still validates every candidate against the data.

    ``probe_past`` is the streaming frontier rule: each unbounded group
    also probes ONE count past what the frame can hold, LAST (greedy
    counts descend, so the probe is yielded first and fails fast into the
    frontier flag; reluctant counts ascend, so it naturally sits last) —
    the probe cannot succeed but reports frontier contact exactly when
    appended rows could fit another repetition, the signal require_closed
    needs (same convention as the one-level group entries)."""
    gi = next(
        (i for i, t in enumerate(seq) if isinstance(t, NestedGroup)), None
    )
    if gi is None:
        yield list(seq)
        return
    pre, g, rest = list(seq[:gi]), seq[gi], list(seq[gi + 1 :])
    other_min = sum(t.lo for t in pre) + _seq_min_rows(rest)
    one = g.min_rows_rep
    avail = rows_avail - other_min
    if avail < 0:
        kmax = -1  # even zero repetitions leave no room for the rest
    elif g.hi is not None:
        kmax = g.hi if one == 0 else min(g.hi, avail // one)
    else:
        kmax = avail // one
    if probe_past:
        # one count past frame capacity (clamped to hi for bounded groups,
        # floored at lo) — the candidate runs out of input inside
        # _match_starting_at and flags frontier contact instead of matching
        k_hi = max(kmax + 1, g.lo)
        if g.hi is not None:
            k_hi = max(min(k_hi, g.hi), g.lo)
    else:
        k_hi = kmax
        if k_hi < g.lo:
            return  # infeasible: the frame cannot hold the minimum repetitions
    counts = (
        range(k_hi, g.lo - 1, -1) if g.greedy else range(g.lo, k_hi + 1)
    )
    for k in counts:
        body_k = [t for _ in range(k) for t in g.seq]
        yield from _nested_flats(pre + body_k + rest, rows_avail, probe_past)


@dataclass
class MatchSpec:
    partition_by: list[str]
    order_by: list[str]
    measures: list[tuple[str, str]]  # (expression, alias)
    pattern: list[PatternTerm]
    define: dict[str, str]
    skip_past_last: bool = True
    all_rows: bool = False  # ALL ROWS PER MATCH (RUNNING measures by default)
    skip_to: tuple[str, str] | None = None  # ("first"|"last", VAR)
    within_ms: int | None = None  # PATTERN (...) WITHIN INTERVAL bound
    permute: bool = False  # PATTERN (PERMUTE (A, B, ...)): any term order
    # bounded sequence groups expand to flat variants, longest (greediest)
    # first; None when the pattern is a single flat sequence
    alternatives: list[list[PatternTerm]] | None = None
    # raw PATTERN (...) source text, kept so resource-budget errors can NAME
    # the pattern that tripped them (None for programmatically-built specs)
    pattern_text: str | None = None
    # NESTED quantified-group tree (list[PatternTerm | NestedGroup]) — set
    # only for the shapes the flat expansion can't express; when set,
    # ``pattern`` holds a representative flat unroll (variable collection /
    # SKIP TO validation) and the matcher enumerates flats per attempt
    nested: list | None = None
    variables: list[str] = field(default_factory=list)

    def __post_init__(self):
        seen: list[str] = []
        for terms in [self.pattern, *(self.alternatives or [])]:
            for t in terms:
                for v in t.vars:
                    if v not in seen:
                        seen.append(v)
        self.variables = seen


def _extract_clause(sql: str, name: str, stop: str) -> str | None:
    m = re.search(rf"\b{name}\b(.*?)(?={stop}|$)", sql, re.IGNORECASE | re.DOTALL)
    return m.group(1).strip() if m else None


_STOPS = (
    r"\bORDER\s+BY\b|\bMEASURES\b|\bONE\s+ROW\b|\bALL\s+ROWS\b|"
    r"\bAFTER\s+MATCH\b|\bPATTERN\b|\bDEFINE\b"
)


_QUANT_SRC = r"(?:\+|\*|\?|\{\d+(?:,\d*)?\})?"
_SEQ_GROUP_RE = re.compile(
    rf"\(\s*((?:\w+{_QUANT_SRC}\s+)*\w+{_QUANT_SRC})\s*\)\s*"
    r"(\+|\*|\?|\{(\d+)(,(\d*))?\})?"
    r"(\?)?"  # reluctant marker: (A B)+? / (A B){m,n}? prefer FEWEST reps
)
_MAX_PATTERN_VARIANTS = 64
# per-start budget for the unbounded-group descending-k probe (each attempt
# is a full backtracking match) — generous for real patterns, a hard wall
# for adversarial run lengths
_MAX_GROUP_ATTEMPTS = 4096
# raw product-tuple walk cap (each iteration is an O(#parts) positional
# feasibility check, far cheaper than a backtracking attempt)
_MAX_GROUP_ITERS = 1_000_000
_GROUP_SENT_RE = re.compile("\x00G(\\d+)\x00")  # unbounded-group placeholders


_NESTED_GROUP_RE = re.compile(
    r"\(\s*\(\s*([^()]+?)\s*\)\s*"      # inner group body
    r"(\+|\*|\?|\{(\d+)(,(\d*))?\})?(\?)?\s*"  # inner quantifier
    r"\)\s*"
    r"(\+|\*|\?|\{(\d+)(,(\d*))?\})?(\?)?"      # outer quantifier
)


def _parse_quant(q, lo_s, has_comma, hi_s):
    """(lo, hi) for a matched quantifier group; hi None = unbounded;
    q None = exactly once."""
    if q is None:
        return 1, 1
    if q == "+":
        return 1, None
    if q == "*":
        return 0, None
    if q == "?":
        return 0, 1
    lo = int(lo_s)
    if has_comma is None:
        return lo, lo
    return lo, (int(hi_s) if hi_s else None)


def _collapse_nested_groups(src: str) -> str:
    """Nested quantifiers on a group wrapping exactly one quantified group
    — ``((A B)+)*`` — collapsed where the reachable total-repetition set
    is a single interval (round 6):

    - no outer quantifier: redundant parens, drop them
    - inner UNBOUNDED (``{a,}``/``+``/``*``): totals are [a·max(m,1), ∞)
      — ``((A B){a,}){m,}`` ≡ ``(A B){a·max(m,1),}``; ``((A B)+)*`` ≡
      ``(A B)*`` as the a=1, m=0 case
    - inner BOUNDED ``{a,b}``, outer unbounded ``{m,}``: gap-free exactly
      when max(m,1)·(b − a) ≥ a − 1 (consecutive count-intervals overlap
      from the first one on) — then ≡ ``(A B){a·max(m,1),}``; otherwise
      the total set has gaps (``((A B){2})+`` = even counts) and raises
    - inner AND outer bounded: left in place; _expand_seq_groups expands
      the outer count into consecutive copies (one variant per count)
    - inner able to match EMPTY (``*``/``{0,b}``) under an unbounded
      outer raises — parity with Flink's CEP rejection of empty-matching
      repetition (same rule as ``(A? B?)+``)
    - totals {0} ∪ [K,∞) with K ≥ 2 (outer ``*`` over a ≥2-row minimum)
      have no single-quantifier equivalent and raise

    Greediness: the collapsed quantifier takes the flag of whichever
    level actually has a repetition choice; when BOTH levels have a
    choice and their flags differ, the fold is ambiguous and raises.
    Bounded×bounded nesting keeps both flags (outer orders the copy
    count, inner stays on each copy), so mixed flags are fine there.
    """
    pos = 0
    while True:
        m = _NESTED_GROUP_RE.search(src, pos)
        if m is None:
            return src
        body = m.group(1).strip()
        in_q, in_rel = m.group(2), m.group(6) is not None
        out_q, out_rel = m.group(7), m.group(11) is not None
        if in_q is None and not in_rel:
            # ((A B) ...) shapes where the inner has no quantifier are not
            # nested-quantifier groups; leave for downstream handling
            pos = m.start() + 1
            continue
        if out_q is None and not out_rel:
            # redundant outer parens: ((A B)+) ≡ (A B)+
            src = (
                src[: m.start()]
                + f" ({body}){in_q or ''}{'?' if in_rel else ''} "
                + src[m.end() :]
            )
            continue
        a1, b1 = _parse_quant(in_q, m.group(3), m.group(4), m.group(5))
        a2, b2 = _parse_quant(out_q, m.group(8), m.group(9), m.group(10))
        if b1 is not None and b1 < a1:
            raise ValueError(
                f"MATCH_RECOGNIZE: bad quantifier in {m.group(0).strip()!r}"
            )
        if b2 is not None and b2 < a2:
            raise ValueError(
                f"MATCH_RECOGNIZE: bad quantifier in {m.group(0).strip()!r}"
            )
        if b1 is not None and b2 is not None:
            pos = m.end()  # bounded × bounded: _expand_seq_groups expands
            continue
        # --- a collapse to ONE quantifier will happen below ---
        if a1 == 0 and b2 is None:
            raise NotImplementedError(
                f"MATCH_RECOGNIZE: {m.group(0).strip()!r} repeats a group "
                "that can match EMPTY under an unbounded quantifier — "
                "rejected for the same non-termination reason as (A? B?)+ "
                "(Flink's CEP compiler rejects empty-matching repetition "
                "too)"
            )
        in_choice = b1 != a1  # inner has a repetition choice
        out_choice = b2 != a2
        if in_rel != out_rel and in_choice and out_choice:
            raise NotImplementedError(
                f"MATCH_RECOGNIZE: mixed greediness in nested group "
                f"quantifiers {m.group(0).strip()!r} — both levels have a "
                "repetition choice, so the fold into one quantifier is "
                "ambiguous"
            )
        rel = "?" if (out_rel if out_choice else in_rel) else ""
        m_eff = max(a2, 1)
        if b1 is not None:
            # inner bounded {a1,b1}, outer unbounded: totals are the union
            # of [a1·k, b1·k] for k ≥ m_eff — gap-free iff consecutive
            # intervals overlap from k = m_eff on
            if m_eff * (b1 - a1) < a1 - 1:
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE: {m.group(0).strip()!r} — the "
                    "reachable total-repetition set has gaps (e.g. "
                    "((A B){2})+ matches only even counts); no single "
                    "quantifier expresses it"
                )
        lo_t = a1 * m_eff
        if a2 == 0 and lo_t > 1:
            raise NotImplementedError(
                f"MATCH_RECOGNIZE: {m.group(0).strip()!r} reaches the "
                f"gap total set {{0}} ∪ [{lo_t}, ∞) — no single "
                "quantifier expresses it"
            )
        if a2 == 0:
            q = "*"
        elif lo_t == 1:
            q = "+"
        else:
            q = f"{{{lo_t},}}"
        src = src[: m.start()] + f" ({body}){q}{rel} " + src[m.end() :]
    return src


def _extract_unbounded_groups(src: str):
    """Replace every unbounded MULTI-element (or nested-quantifier single-
    element) sequence group — ``(A B)+`` / ``*`` / ``{m,}`` — with an
    indexed sentinel token, returning ``(src', [(body_src, lo), ...])``.
    Bounded groups and plain single-element groups pass through untouched
    (the bounded expander handles those). The matcher flattens each group
    per attempt, leftmost group's repetition count outermost (the same
    leftmost-outermost greed the bounded expansion uses)."""
    found: list[tuple[str, int, bool]] = []

    def repl(m):
        body, quant = m.group(1).strip(), m.group(2)
        unbounded = quant in ("+", "*") or (
            m.group(4) is not None and m.group(5) == ""
        )
        if not unbounded:
            return m.group(0)
        if " " not in body and not re.search(r"[+*?{]", body):
            # (B)+ ≡ B+: redundant parens, the bounded expander rewrites it
            return m.group(0)
        lo = 1 if quant == "+" else 0 if quant == "*" else int(m.group(3))
        found.append((body, lo, m.group(6) is None))
        return f" \x00G{len(found) - 1}\x00 "

    out = _SEQ_GROUP_RE.sub(repl, src)
    return (out, found)


def _expand_seq_groups(src: str) -> list[str]:
    """Expand BOUNDED sequence groups — ``(A B){m,n}``, ``(A B)?``,
    ``(A B){k}``, bare ``(A B)`` — into flat pattern variants, greediest
    (most repetitions, leftmost group outermost) first. Nested groups
    expand inner-out, since the group body cannot contain parens.
    Unbounded MULTI-element group repetition is extracted by
    _extract_unbounded_group before this runs (the matcher flattens it per
    attempt); the raise below is a safeguard for anything that slips
    through."""
    nm = _NESTED_GROUP_RE.search(src)
    while nm is not None and nm.group(2) is None and nm.group(6) is None:
        nm = _NESTED_GROUP_RE.search(src, nm.start() + 1)
    if nm is not None:
        # bounded × bounded nested group (unbounded shapes collapsed or
        # raised in _collapse_nested_groups): expand the OUTER count into
        # consecutive copies of the inner quantified group — one variant
        # per count, greediest (most copies) first unless outer-reluctant
        a2, b2 = _parse_quant(nm.group(7), nm.group(8), nm.group(9), nm.group(10))
        if "\x00" in nm.group(1) or b2 is None:
            # a sentinel in the body means the inner group itself contains
            # another quantified group — deeper nesting than the per-
            # attempt flattening supports; b2=None means an unbounded
            # shape escaped the collapse pass (same deep-nesting cause)
            raise NotImplementedError(
                f"MATCH_RECOGNIZE: {nm.group(0).strip()!r} — a quantified "
                "group containing another quantified group is not "
                "supported"
            )
        if b2 < a2:
            raise ValueError(
                f"MATCH_RECOGNIZE: bad quantifier in {nm.group(0).strip()!r}"
            )
        inner = f"({nm.group(1).strip()}){nm.group(2) or ''}" + (
            "?" if nm.group(6) else ""
        )
        order = (
            range(a2, b2 + 1) if nm.group(11) else range(b2, a2 - 1, -1)
        )
        out: list[str] = []
        for k in order:
            rep = " ".join([inner] * k)
            out.extend(
                _expand_seq_groups(f"{src[: nm.start()]} {rep} {src[nm.end():]}")
            )
            if len(out) > _MAX_PATTERN_VARIANTS:
                raise ValueError(
                    "MATCH_RECOGNIZE: sequence-group expansion exceeds "
                    f"{_MAX_PATTERN_VARIANTS} pattern variants"
                )
        return out
    m = _SEQ_GROUP_RE.search(src)
    if m is None:
        return [src]
    # alternation groups (A|B) never match this regex (their '|' breaks the
    # token sequence), so anything matched here is a sequence group
    body, quant = m.group(1).strip(), m.group(2)
    reluctant = m.group(6) is not None
    if " " not in body and not (quant and re.search(r"[+*?{]", body)):
        # single-element group without nesting: parens are redundant —
        # (B)+ ≡ B+, (B){2,3}? ≡ B{2,3}?
        return _expand_seq_groups(
            f"{src[: m.start()]} {body}{quant or ''}"
            f"{'?' if reluctant else ''} {src[m.end():]}"
        )
    # NESTED quantifier on a single element with a BOUNDED outer count —
    # (B+){2}, (B{2,3}){1,2} — expands to consecutive copies of the
    # quantified token ((B+){2} ≡ B+ B+), greediest (most copies) first;
    # the unbounded-outer form was extracted to a GroupTerm before this.
    if quant is None:
        lo, hi = 1, 1
    elif quant == "?":
        lo, hi = 0, 1
    elif quant in ("+", "*") or (m.group(4) is not None and m.group(5) == ""):
        raise NotImplementedError(
            f"MATCH_RECOGNIZE: unbounded sequence-group repetition "
            f"{m.group(0).strip()!r} has no flat expansion — use a bounded "
            "quantifier ({m,n})"
        )
    else:
        lo = int(m.group(3))
        hi = lo if m.group(4) is None else int(m.group(5))
    if hi < lo:
        raise ValueError(f"MATCH_RECOGNIZE: bad quantifier in {m.group(0).strip()!r}")
    out: list[str] = []
    # greedy: most repetitions first; reluctant ((A B){m,n}? / ??): fewest
    order = range(lo, hi + 1) if reluctant else range(hi, lo - 1, -1)
    for reps in order:
        rep = " ".join([body] * reps)
        variant = f"{src[: m.start()]} {rep} {src[m.end():]}"
        out.extend(_expand_seq_groups(variant))
        if len(out) > _MAX_PATTERN_VARIANTS:
            raise ValueError(
                "MATCH_RECOGNIZE: sequence-group expansion exceeds "
                f"{_MAX_PATTERN_VARIANTS} pattern variants"
            )
    return out


def _tokenize_flat(src: str) -> list[PatternTerm]:
    terms: list[PatternTerm] = []
    consumed = 0
    for q in _PAT_TOKEN.finditer(src):
        if src[consumed : q.start()].strip():
            raise ValueError(
                f"MATCH_RECOGNIZE: bad pattern near {src[consumed:q.start()]!r}"
            )
        consumed = q.end()
        token, quant = q.group(1), q.group(2)
        if token.startswith("("):  # alternation group (A|B|...)
            vars_ = [v.strip().upper() for v in token.strip("() \t").split("|")]
        else:
            vars_ = [token.upper()]
        if quant is None:
            lo, hi = 1, 1
        elif quant == "+":
            lo, hi = 1, None
        elif quant == "*":
            lo, hi = 0, None
        elif quant == "?":
            lo, hi = 0, 1
        else:  # {n} / {n,} / {n,m}
            lo = int(q.group(3))
            hi = lo if q.group(4) is None else (int(q.group(5)) if q.group(5) else None)
        greedy = q.group(6) is None
        if not greedy and quant is None:
            raise ValueError(
                f"MATCH_RECOGNIZE: bad pattern near {q.group(0)!r} "
                "(reluctant marker without a quantifier)"
            )
        terms.append(PatternTerm(vars_, lo, hi, greedy))
    if src[consumed:].strip():
        raise ValueError(f"MATCH_RECOGNIZE: bad pattern near {src[consumed:]!r}")
    return terms



def _parse_pattern_tree(src: str) -> list:
    """Recursive-descent parse of a PATTERN body into a PatternTerm /
    NestedGroup tree — the FALLBACK path for the nested shapes the flat
    expansion rejects (gap-total repetition sets, mixed greediness across
    levels, quantified groups containing quantified groups). Grammar:

        seq   := item+
        item  := (VAR | '(' branch ('|' branch)* ')') quant? '?'?
        quant := '+' | '*' | '?' | '{m}' | '{m,}' | '{m,n}'

    '|' is Flink's VARIABLE alternation — every branch must be a single
    unquantified variable; alternation of sequences is not in the engine's
    grammar anywhere, and raises the same loud NotImplementedError here.
    Un-quantified groups are pure sequence grouping and splice into the
    parent. An UNBOUNDED quantifier over a body that can match empty
    (every member optional) would never terminate — rejected exactly like
    the flat path (Flink CEP rejects empty-matching repetition too)."""
    pos = 0
    n = len(src)

    def skip_ws():
        nonlocal pos
        while pos < n and src[pos].isspace():
            pos += 1

    def parse_quant():
        """(lo, hi, greedy) after an item; (1, 1, True) when absent."""
        nonlocal pos
        skip_ws()
        if pos >= n:
            return 1, 1, True
        ch = src[pos]
        if ch in "+*":
            pos += 1
            lo, hi = (1, None) if ch == "+" else (0, None)
        elif ch == "?":
            pos += 1
            lo, hi = 0, 1
        elif ch == "{":
            m = re.match(r"\{(\d+)(,(\d*))?\}", src[pos:])
            if not m:
                raise ValueError(
                    f"MATCH_RECOGNIZE: bad quantifier near {src[pos:pos+12]!r}"
                )
            pos += m.end()
            lo = int(m.group(1))
            hi = lo if m.group(2) is None else (
                int(m.group(3)) if m.group(3) else None
            )
            if hi is not None and hi < lo:
                raise ValueError(
                    f"MATCH_RECOGNIZE: bad quantifier {m.group(0)!r}"
                )
        else:
            return 1, 1, True
        greedy = True
        if pos < n and src[pos] == "?":  # reluctant marker
            pos += 1
            greedy = False
        return lo, hi, greedy

    def parse_item() -> list:
        """One item → list of tree terms (a spliced group returns many)."""
        nonlocal pos
        if src[pos] == "(":
            pos += 1
            branches = [parse_seq(")|")]
            while pos < n and src[pos] == "|":
                pos += 1
                branches.append(parse_seq(")|"))
            skip_ws()
            if pos >= n or src[pos] != ")":
                raise ValueError("MATCH_RECOGNIZE: unbalanced '(' in PATTERN")
            pos += 1
            lo, hi, greedy = parse_quant()
            if len(branches) > 1:
                # variable alternation (A|B|...): single bare vars only
                vars_: list[str] = []
                for b in branches:
                    if not (
                        len(b) == 1
                        and isinstance(b[0], PatternTerm)
                        and len(b[0].vars) == 1
                        and b[0].lo == 1
                        and b[0].hi == 1
                    ):
                        raise NotImplementedError(
                            "MATCH_RECOGNIZE: alternation of sequences in "
                            "PATTERN is not supported (Flink's '|' "
                            "alternates single variables)"
                        )
                    vars_.append(b[0].vars[0])
                return [PatternTerm(vars_, lo, hi, greedy)]
            body = branches[0]
            if not body:
                raise ValueError("MATCH_RECOGNIZE: empty group in PATTERN")
            if lo == 1 and hi == 1 and greedy:
                return body  # pure sequence grouping: splice
            if hi is None and _seq_min_rows(body) == 0:
                raise ValueError(
                    "MATCH_RECOGNIZE: the group repeats a body that can "
                    "match EMPTY under an unbounded quantifier — its "
                    "repetition would never terminate (Flink's CEP "
                    "compiler rejects empty-matching repetition too)"
                )
            return [NestedGroup(body, lo, hi, greedy)]
        m = re.match(r"\w+", src[pos:])
        if not m:
            raise ValueError(
                f"MATCH_RECOGNIZE: bad pattern near {src[pos:pos+12]!r}"
            )
        pos += m.end()
        lo, hi, greedy = parse_quant()
        return [PatternTerm([m.group(0).upper()], lo, hi, greedy)]

    def parse_seq(stop_chars: str) -> list:
        items: list = []
        while True:
            skip_ws()
            if pos >= n or src[pos] in stop_chars:
                return items
            items.extend(parse_item())

    out = parse_seq("")
    if pos < n:
        raise ValueError(f"MATCH_RECOGNIZE: bad pattern near {src[pos:]!r}")
    if not out:
        raise ValueError("MATCH_RECOGNIZE: empty PATTERN")
    return out


def parse_match_recognize(clause: str) -> MatchSpec:
    """Parse the text INSIDE ``MATCH_RECOGNIZE ( ... )``."""
    all_rows = bool(search_code(r"\bALL\s+ROWS\s+PER\s+MATCH\b", clause))

    part = _extract_clause(clause, r"PARTITION\s+BY", _STOPS)
    order = _extract_clause(clause, r"ORDER\s+BY", _STOPS)
    if not order:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY")
    meas = _extract_clause(clause, r"MEASURES", _STOPS)
    if not meas:
        raise ValueError("MATCH_RECOGNIZE requires MEASURES")

    pat_h = re.search(r"\bPATTERN\s*\(", clause, re.IGNORECASE)
    if not pat_h:
        raise ValueError("MATCH_RECOGNIZE requires PATTERN (...)")
    pend = match_bracket(clause, pat_h.end() - 1)
    pat_src = clause[pat_h.end() : pend]
    pattern: list[PatternTerm] = []
    alternatives = None
    # PATTERN (PERMUTE (A, B+, (C D){2})): the SQL-standard permutation
    # alternation — equivalent to the alternation of every element ordering,
    # tried in lexicographic order of the written list. Elements are
    # (optionally quantified) single variables, or BOUNDED-quantified
    # sequence groups — group elements compile the permutations into flat
    # pattern variants (permutation order outermost, then leftmost
    # element's repetition count, greediest first). Unbounded group
    # elements raise.
    perm_m = re.match(r"\s*PERMUTE\s*\((.*)\)\s*$", pat_src, re.IGNORECASE | re.DOTALL)
    permute = False
    if perm_m:
        el_variants: list[list[list[PatternTerm]]] = []  # per element
        any_group = False
        for el in split_top(perm_m.group(1)):
            el = el.strip()
            gm = re.fullmatch(
                r"\((.*)\)\s*(\+|\*|\?|\{(\d+)(,(\d*))?\})?(\?)?", el, re.DOTALL
            )
            if gm and " " in gm.group(1).strip() and "|" not in gm.group(1):
                body_src, quant = gm.group(1).strip(), gm.group(2)
                if "(" in body_src:
                    # NESTED groups inside a PERMUTE element: parse the
                    # whole element as a tree; the ordering's variant then
                    # carries NestedGroup terms and the matcher routes it
                    # through the per-attempt tree expansion (same path as
                    # nested groups outside PERMUTE)
                    el_variants.append([_parse_pattern_tree(el)])
                    any_group = True
                    continue
                if quant in ("+", "*") or (
                    gm.group(4) is not None and gm.group(5) == ""
                ):
                    # UNBOUNDED group repetition inside PERMUTE: the element
                    # becomes a GroupTerm — the alternatives machinery
                    # flattens it per match attempt exactly like unbounded
                    # groups outside PERMUTE (round 6; previously raised)
                    body = _tokenize_flat(gm.group(1).strip())
                    if sum(t.lo for t in body) == 0:
                        raise ValueError(
                            f"MATCH_RECOGNIZE: PERMUTE element {el!r} can "
                            "match empty — its unbounded repetition would "
                            "never terminate"
                        )
                    g_lo = (
                        1 if quant == "+" else 0 if quant == "*"
                        else int(gm.group(3))
                    )
                    el_variants.append(
                        [[GroupTerm(body, g_lo, gm.group(6) is None)]]
                    )
                    any_group = True
                    continue
                if quant is None:
                    lo, hi = 1, 1
                elif quant == "?":
                    lo, hi = 0, 1
                else:
                    lo = int(gm.group(3))
                    hi = lo if gm.group(4) is None else int(gm.group(5))
                if hi < lo:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: bad quantifier in PERMUTE element {el!r}"
                    )
                body = _tokenize_flat(body_src)
                # reluctant group element ((A B){1,2}?): fewest reps first
                rep_order = (
                    range(lo, hi + 1) if gm.group(6) else range(hi, lo - 1, -1)
                )
                el_variants.append([body * r for r in rep_order])
                any_group = True
                continue
            em = re.fullmatch(
                r"(\w+|\(\s*\w+(?:\s*\|\s*\w+)+\s*\))"  # VAR or (A|B|...)
                r"(\+|\*|\?|\{(\d+)(,(\d*))?\})?",
                el,
            )
            if not em:
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE: PERMUTE element {el!r} — only "
                    "(optionally quantified) single variables, alternation "
                    "groups, and bounded sequence groups are supported "
                    "inside PERMUTE"
                )
            quant = em.group(2)
            if quant is None:
                lo, hi = 1, 1
            elif quant == "+":
                lo, hi = 1, None
            elif quant == "*":
                lo, hi = 0, None
            elif quant == "?":
                lo, hi = 0, 1
            else:
                lo = int(em.group(3))
                hi = lo if em.group(4) is None else (
                    int(em.group(5)) if em.group(5) else None
                )
            tok = em.group(1)
            vars_ = (
                [v.strip().upper() for v in tok.strip("() \t").split("|")]
                if tok.startswith("(")
                else [tok.upper()]
            )
            el_variants.append([[PatternTerm(vars_, lo, hi)]])
        if len(el_variants) < 2:
            raise ValueError("MATCH_RECOGNIZE: PERMUTE needs at least two variables")
        if not any_group:
            # plain-variable PERMUTE: permutations enumerated at match time
            permute = True
            pattern = [v[0][0] for v in el_variants]
        else:
            # group-bearing PERMUTE: compile every (ordering × repetition
            # choice) into a flat variant, preference order = permutation
            # first (lexicographic), then leftmost element greediest
            import itertools

            variant_lists: list[list[PatternTerm]] = []
            for perm in itertools.permutations(range(len(el_variants))):
                for combo in itertools.product(
                    *(el_variants[j] for j in perm)
                ):
                    flat = [t for part in combo for t in part]
                    if flat:
                        variant_lists.append(flat)
                    if len(variant_lists) > _MAX_PATTERN_VARIANTS:
                        raise ValueError(
                            "MATCH_RECOGNIZE: PERMUTE expansion exceeds "
                            f"{_MAX_PATTERN_VARIANTS} pattern variants"
                        )
            if not variant_lists:
                raise ValueError("MATCH_RECOGNIZE: PERMUTE can only match empty")
            pattern = variant_lists[0]
            alternatives = variant_lists
        pat_src = ""
    nested = None
    if not permute and alternatives is None:
        try:
            collapsed = _collapse_nested_groups(pat_src)
            src2, ubs = _extract_unbounded_groups(collapsed)
            if re.search(r"\([^()]*\x00G", src2):
                raise NotImplementedError(
                    "MATCH_RECOGNIZE: a quantified group containing another "
                    "quantified group (e.g. ((A B)+ C)+) has no flat "
                    "expansion"
                )
            group_terms = []
            for body_src, lo, greedy in ubs:
                body_terms = _tokenize_flat(body_src)
                if sum(t.lo for t in body_terms) == 0:
                    raise ValueError(
                        f"MATCH_RECOGNIZE: sequence group ({body_src}) can match "
                        "empty (every member is optional) — its unbounded "
                        "repetition would never terminate"
                    )
                group_terms.append(GroupTerm(body_terms, lo, greedy))
            variant_terms = []
            has_group = False
            for v in _expand_seq_groups(src2):
                if ubs and _GROUP_SENT_RE.search(v):
                    terms = []
                    pos = 0
                    for sm in _GROUP_SENT_RE.finditer(v):
                        terms += _tokenize_flat(v[pos : sm.start()])
                        terms.append(group_terms[int(sm.group(1))])
                        pos = sm.end()
                    terms += _tokenize_flat(v[pos:])
                    has_group = True
                else:
                    terms = _tokenize_flat(v)
                if terms:
                    variant_terms.append(terms)
            if not variant_terms:
                raise ValueError("MATCH_RECOGNIZE: empty PATTERN")
            pattern = variant_terms[0]
            if len(variant_terms) > 1 or has_group:
                alternatives = variant_terms
        except NotImplementedError:
            # Every NotImplementedError the flat compile raises is a nested-
            # quantified-group shape (gap-total sets, mixed greediness,
            # groups containing quantified groups, deep nesting) — exactly
            # what the tree path expresses. Genuinely unsupported shapes
            # (empty-matching body under an unbounded quantifier, sequence
            # alternation) re-raise from _parse_pattern_tree itself.
            nested = _parse_pattern_tree(pat_src)
            pattern = _nested_representative(nested)
        except ValueError as flat_err:
            # The flat tokenizer's "bad pattern" / variant-explosion errors
            # also fire on LEGAL nested shapes its grammar can't see (e.g.
            # '|' inside a nested group, or a bounded expansion too large
            # to enumerate at parse time). Re-parse with the tree grammar:
            # a clean tree parse supersedes the flat error (the per-attempt
            # expansion handles the shape under the match-time caps); a
            # tree NotImplementedError is the more specific diagnosis; any
            # other tree failure restores the ORIGINAL flat error.
            try:
                nested = _parse_pattern_tree(pat_src)
            except NotImplementedError:
                raise
            except Exception:
                raise flat_err from None
            pattern = _nested_representative(nested)
    if not pattern:
        raise ValueError("MATCH_RECOGNIZE: empty PATTERN")

    def_m = re.search(r"\bDEFINE\b(.*)$", clause, re.IGNORECASE | re.DOTALL)
    define: dict[str, str] = {}
    if def_m:
        for p in split_top(def_m.group(1)):
            dm = re.match(r"\s*(\w+)\s+AS\s+(.*)$", p.strip(), re.IGNORECASE | re.DOTALL)
            if not dm:
                raise ValueError(f"MATCH_RECOGNIZE: bad DEFINE entry {p!r}")
            define[dm.group(1).upper()] = dm.group(2).strip()

    measures = []
    for p in filter(str.strip, split_top(meas)):
        mm = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", p.strip(), re.IGNORECASE | re.DOTALL)
        if not mm:
            raise ValueError(f"MATCH_RECOGNIZE: measure needs AS alias: {p!r}")
        measures.append((mm.group(1).strip(), mm.group(2)))

    # PATTERN (...) WITHIN INTERVAL 'n' UNIT (Flink CEP time bound)
    within_ms = None
    wm = search_code(
        r"\)\s*WITHIN\s+INTERVAL\s+'(\d+(?:\.\d+)?)'\s+"
        r"(MILLISECOND|SECOND|MINUTE|HOUR|DAY)S?\b",
        clause,
    )
    if wm:
        unit_ms = {
            "MILLISECOND": 1,
            "SECOND": 1000,
            "MINUTE": 60_000,
            "HOUR": 3_600_000,
            "DAY": 86_400_000,
        }[wm.group(2).upper()]
        within_ms = int(float(wm.group(1)) * unit_ms)

    skip_past = not search_code(r"AFTER\s+MATCH\s+SKIP\s+TO\s+NEXT\s+ROW", clause)
    skip_to = None
    st = search_code(r"AFTER\s+MATCH\s+SKIP\s+TO\s+(FIRST|LAST)\s+(\w+)", clause)
    if st:
        skip_to = (st.group(1).lower(), st.group(2).upper())
        if skip_to[1] not in {v for t in pattern for v in t.vars}:
            raise ValueError(
                f"MATCH_RECOGNIZE: AFTER MATCH SKIP TO {st.group(1).upper()} "
                f"{st.group(2)}: unknown pattern variable"
            )
    return MatchSpec(
        partition_by=[c.strip() for c in part.split(",")] if part else [],
        order_by=[c.strip() for c in order.split(",")],
        measures=measures,
        pattern=pattern,
        define=define,
        skip_past_last=skip_past,
        all_rows=all_rows,
        skip_to=skip_to,
        within_ms=within_ms,
        permute=permute,
        alternatives=alternatives,
        pattern_text=pat_src.strip(),
        nested=nested,
    )


# ------------------------------------------------------------------ measures

_MEAS = re.compile(
    r"^(?:(FIRST|LAST|COUNT|SUM|MIN|MAX|AVG)\s*\(\s*)?"
    r"(?:(\w+)\.)?(\w+|\*)\s*\)?\s*$",
    re.IGNORECASE,
)


@dataclass
class Measure:
    func: str  # FIRST/LAST/COUNT/SUM/MIN/MAX/AVG
    var: str | None  # None = whole match
    col: str | None  # None = * (count)
    alias: str
    final: bool | None = None  # FINAL/RUNNING wrapper; None = unspecified


def _parse_measure(expr: str, alias: str, variables: list[str]) -> Measure:
    # FINAL(...)/RUNNING(...) semantic wrappers (SQL row-pattern standard;
    # Flink defaults to RUNNING in ALL ROWS PER MATCH — the execution layer
    # applies that default, the parser just records an explicit wrapper)
    final = None
    wm = re.match(r"^\s*(FINAL|RUNNING)\s*\((.*)\)\s*$", expr, re.IGNORECASE | re.DOTALL)
    if wm:
        final = wm.group(1).upper() == "FINAL"
        expr = wm.group(2)
    compact = expr.upper().replace(" ", "")
    if compact == "MATCH_NUMBER()":
        return Measure("MATCH_NUMBER", None, None, alias)
    if compact == "CLASSIFIER()":
        return Measure("CLASSIFIER", None, None, alias)
    m = _MEAS.match(expr)
    if not m:
        raise NotImplementedError(f"MATCH_RECOGNIZE: unsupported measure {expr!r}")
    func, var, col = m.group(1), m.group(2), m.group(3)
    func = (func or "FIRST").upper()
    if var is not None and var.upper() not in variables:
        raise ValueError(f"MATCH_RECOGNIZE: measure references unknown variable {var!r}")
    if col == "*":
        if func != "COUNT":
            raise NotImplementedError(f"MATCH_RECOGNIZE: {func}(*) unsupported")
        return Measure("COUNT", var.upper() if var else None, None, alias, final)
    return Measure(func, var.upper() if var else None, col, alias, final)


def _measure_type(m: Measure, schema: T.StructType) -> T.DataType:
    if m.func == "MATCH_NUMBER":
        return T.LongType()
    if m.func == "CLASSIFIER":
        return T.StringType()
    if m.func == "COUNT":
        return T.LongType()
    if m.col not in schema.names:
        raise ValueError(f"MATCH_RECOGNIZE: measure column {m.col!r} not in input")
    t = schema[m.col].dataType
    if m.func == "AVG":
        return T.DoubleType()
    if m.func == "SUM":
        return T.LongType() if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) else T.DoubleType()
    return t


# ------------------------------------------------------------------- execute


_PREV_RE = re.compile(
    # the argument may be an expression (PREV(price * 2)) — the batch path
    # passes it through to lag() verbatim; the deferred/stateful paths
    # restrict it to a bare column and raise otherwise
    r"\bPREV\s*\(\s*([^(),]+?)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_IDENT_RE = re.compile(r"[A-Za-z_]\w*$")


def _stash_literals(cond: str) -> tuple[str, list[str]]:
    """Replace each SQL string literal of ``cond`` by an identifier-shaped
    placeholder ``__litpN__``, so that keyword and paren scans can never
    fire inside one (a literal 'AND' or '(' would shred the parse).
    Returns the text and each literal as a PYTHON literal: the repr of the
    decoded value, which makes SQL's '' escape eval-safe too."""
    lits: list[str] = []

    def stash(lit: str) -> str:
        lits.append(repr(lit[1:-1].replace("''", "'")))
        return f"__litp{len(lits) - 1}__"

    return map_literals(cond, stash), lits


def _unstash_literals(text: str, lits: list[str]) -> str:
    return re.sub(r"__litp(\d+)__", lambda m: lits[int(m.group(1))], text)


def _compile_defines(df: DataFrame, spec: MatchSpec, defer_prev: bool = False):
    """Add one boolean column per pattern variable, evaluated JVM-side.

    ``PREV(col[, n])`` (SQL-standard row-pattern navigation; Flink's
    V-shape idiom ``DOWN AS DOWN.price < PREV(DOWN.price)``) refers to the
    previous row of the PARTITION in row order — independent of match
    state — so on batch input it compiles to a ``lag()`` window over
    (keys, order): still one shuffle, still codegen. On streaming input
    (``defer_prev``) a lag window is rejected by Structured Streaming, so
    PREV-bearing conditions are DEFERRED: the placeholder boolean stays
    null and the keyed-state matcher evaluates the condition per key over
    its sorted buffer (see _compile_deferred_prev / match_recognize_stream),
    where the previous row is a pandas ``shift`` — Flink CEP evaluates PREV
    in exactly that place (inside the keyed NFA operator). Match-state
    navigation (FIRST/LAST inside DEFINE) genuinely depends on the
    in-flight match and stays unsupported.

    Returns ``(df, deferred)`` — deferred maps variable → bare condition
    text (self-qualifiers stripped) for the streaming path.
    """
    other = {v for v in spec.variables}
    over = (
        ("PARTITION BY " + ", ".join(spec.partition_by) + " " if spec.partition_by else "")
        + "ORDER BY "
        + ", ".join(spec.order_by)
    )
    deferred: dict[str, str] = {}
    stateful: dict[str, object] = {}
    for v in spec.variables:
        cond = spec.define.get(v)
        if cond is None:
            df = df.withColumn(f"__mr_{v}", F.lit(True))
            continue
        cross = any(
            search_code(re.compile(rf"\b{o}\s*\."), cond) for o in other - {v}
        )
        nav = search_code(r"\b(FIRST|LAST)\s*\(", cond)
        if cross or nav:
            # condition depends on the in-flight match (other variables'
            # mapped rows / FIRST/LAST navigation) — evaluated row-by-row
            # inside the matcher, Flink's NFA-condition equivalent
            stateful[v] = _compile_stateful_cond(
                v, cond, spec.variables, columns=df.columns
            )
            df = df.withColumn(f"__mr_{v}", F.lit(None).cast("boolean"))
            continue
        # self-qualified columns (A.col) → bare columns (literal-safe: a
        # string literal containing "A." must survive verbatim)
        bare = sub_code(re.compile(rf"\b{v}\s*\.\s*"), "", cond)
        if defer_prev and search_code(_PREV_RE, bare):
            deferred[v] = bare
            df = df.withColumn(f"__mr_{v}", F.lit(None).cast("boolean"))
            continue
        bare = sub_code(
            _PREV_RE,
            lambda m: f"lag({m.group(1)}, {m.group(2) or 1}) OVER ({over})",
            bare,
        )
        df = df.withColumn(f"__mr_{v}", F.expr(bare).cast("boolean"))
    return df, deferred, stateful


_PREV_QUAL_RE = re.compile(
    r"\bPREV\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_NAV_RE = re.compile(
    r"\b(FIRST|LAST)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)


def _compile_stateful_cond(
    var: str, cond: str, variables: list[str], columns: list[str] | None = None
):
    """Compile a match-state DEFINE condition to a Python code object.

    Semantics (SQL-standard row-pattern RUNNING evaluation, matching
    Flink's NFA conditions):

    - ``V.col`` for the variable BEING defined → the current row.
    - ``X.col`` for another variable → ``LAST(X.col)`` — the most recent
      row mapped to X so far; NULL (→ not satisfied) if X has no rows.
    - ``FIRST(X.col[, k])`` / ``LAST(X.col[, k])`` navigate X's mapped
      rows; while defining X, the current row counts as mapped (running
      semantics), so ``LAST(X.c, 1)`` is the previous X row.
    - ``PREV([X.]col[, n])`` → the n-th previous row of the partition,
      regardless of variable mapping.
    - an UNQUALIFIED column reference → the current row (Flink's DEFINE
      semantics); validated against ``columns`` at compile time when the
      input schema is provided, so a typo raises here, not as an executor
      error mid-match.

    Supported expression subset: comparisons (=, <>, <, <=, >, >=),
    arithmetic, AND/OR, NOT over a parenthesized operand, IS [NOT] NULL,
    parens, numeric/string literals, NULL. Anything else raises
    NotImplementedError at compile time.

    NULL semantics: helpers return the _SQL_NULL singleton for missing
    values; comparisons and arithmetic against it propagate _SQL_NULL,
    which is falsy — so a condition involving NULL is not satisfied, and
    ``X OR <null-comparison>`` still honors X (SQL three-valued "is TRUE"
    evaluation). One documented divergence: a comparison whose LEFT operand
    is a concrete numpy scalar and right operand is NULL may collapse to
    False rather than unknown, which only matters under NOT — where SQL
    would also reject the row unless the inner result was strictly false.
    """
    def xform(expr: str) -> str:
        # the condition with its string literals stashed (a literal 'AND'
        # / 'a=b' / 'X.c' must not be rewritten)
        expr = _NAV_RE.sub(lambda m: _nav_sub(m, variables, cond), expr)
        expr = _PREV_QUAL_RE.sub(
            lambda m: f"prev({m.group(2)!r}, {int(m.group(3) or 1)})", expr
        )
        for v in variables:
            if v == var:
                expr = re.sub(
                    rf"\b{v}\s*\.\s*([A-Za-z_]\w*)",
                    lambda m: f"cur({m.group(1)!r})",
                    expr,
                    flags=re.IGNORECASE,
                )
            else:
                expr = re.sub(
                    rf"\b{v}\s*\.\s*([A-Za-z_]\w*)",
                    lambda m, v=v: f"nav({v!r}, {m.group(1)!r}, 'last', 0)",
                    expr,
                    flags=re.IGNORECASE,
                )
        # IS [NOT] NULL first, as single tokens, so the NOT rewrite below
        # cannot touch the 'not' inside 'is not'
        expr = re.sub(
            r"\bIS\s+NOT\s+NULL\b", " is__not__null", expr, flags=re.IGNORECASE
        )
        expr = re.sub(r"\bIS\s+NULL\b", " is__null", expr, flags=re.IGNORECASE)
        expr = re.sub(r"<>", "!=", expr)
        expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
        expr = re.sub(r"\bAND\b", " and ", expr, flags=re.IGNORECASE)
        expr = re.sub(r"\bOR\b", " or ", expr, flags=re.IGNORECASE)
        if re.search(r"\bNOT\b(?!\s*\()", expr, flags=re.IGNORECASE):
            raise NotImplementedError(
                f"MATCH_RECOGNIZE: DEFINE {var}: NOT must parenthesize its "
                "operand in match-state conditions (NOT (...))"
            )
        # NOT (...) → the null-propagating sql_not(...) call
        expr = re.sub(r"\bNOT\b", " sql_not", expr, flags=re.IGNORECASE)
        expr = re.sub(r"\bNULL\b", "_N", expr, flags=re.IGNORECASE)
        return expr.replace(" is__not__null", " is not _N").replace(
            " is__null", " is _N"
        )

    # SQL string literals become PYTHON literals via repr of the decoded
    # value — this both protects their content from the keyword rewrites
    # above and makes SQL's '' quote-escape valid for the Python eval
    stashed, lits = _stash_literals(cond)
    expr = _unstash_literals(xform(stashed), lits)
    import ast

    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as exc:
        raise NotImplementedError(
            f"MATCH_RECOGNIZE: DEFINE {var} condition {cond!r} is outside the "
            f"supported match-state subset ({exc})"
        ) from exc
    helpers = {"nav", "cur", "prev", "sql_not"}
    by_lower = {c.lower(): c for c in columns} if columns is not None else None

    class _Bare(ast.NodeTransformer):
        """Residual bare identifiers are unqualified column references —
        current-row semantics — and any call not to a known helper is an
        unsupported SQL function: both resolved HERE so nothing survives to
        fail as a raw NameError inside the executor."""

        def visit_Call(self, node):
            if not (isinstance(node.func, ast.Name) and node.func.id in helpers):
                raise NotImplementedError(
                    f"MATCH_RECOGNIZE: DEFINE {var}: function "
                    f"{ast.unparse(node.func)!r} is outside the supported "
                    f"match-state subset (condition {cond!r})"
                )
            node.args = [self.visit(a) for a in node.args]
            return node

        def visit_Name(self, node):
            if node.id in helpers or node.id == "_N":
                return node
            name = node.id
            if by_lower is not None:
                actual = by_lower.get(name.lower())
                if actual is None:
                    raise NotImplementedError(
                        f"MATCH_RECOGNIZE: DEFINE {var}: unqualified reference "
                        f"{name!r} matches no input column (condition {cond!r})"
                    )
                name = actual
            return ast.copy_location(
                ast.Call(
                    func=ast.Name(id="cur", ctx=ast.Load()),
                    args=[ast.Constant(name)],
                    keywords=[],
                ),
                node,
            )

    tree = ast.fix_missing_locations(_Bare().visit(tree))
    return compile(tree, f"<define {var}>", "eval")


def _nav_sub(m, variables: list[str], cond: str) -> str:
    """FIRST/LAST(X.col) → nav(...), normalizing the variable's case to the
    parser's uppercase convention; unknown variables raise instead of
    silently evaluating to always-false."""
    x = m.group(2).upper()
    if x not in variables:
        raise NotImplementedError(
            f"MATCH_RECOGNIZE: {m.group(0)!r} navigates unknown pattern "
            f"variable {m.group(2)!r} (condition {cond!r})"
        )
    return f"nav({x!r}, {m.group(3)!r}, {m.group(1).lower()!r}, {int(m.group(4) or 0)})"


class _SqlNullType:
    """SQL NULL for scalar condition evaluation: falsy, and it propagates
    through comparisons and arithmetic (unknown AND/OR compose correctly via
    Python's truthiness-based short-circuit)."""

    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __bool__(self):
        return False

    def __hash__(self):
        return 0

    def _propagate(self, *_):
        return self

    __eq__ = __ne__ = __lt__ = __le__ = __gt__ = __ge__ = _propagate
    __add__ = __radd__ = __sub__ = __rsub__ = _propagate
    __mul__ = __rmul__ = __truediv__ = __rtruediv__ = _propagate
    __mod__ = __rmod__ = __neg__ = _propagate

    def __repr__(self):
        return "SQL_NULL"


_SQL_NULL = _SqlNullType()


def _sql_bool_to_pandas(cond: str) -> str:
    """Translate a simple SQL boolean expression to pandas.eval syntax.

    Supported subset (enough for Flink's documented PREV idioms):
    comparisons (=, <>, <, <=, >, >=) over columns / numeric and string
    literals / arithmetic, combined with AND / OR / NOT and parentheses.
    Comparison atoms are parenthesized (pandas ``&``/``|`` bind tighter
    than comparisons). Anything fancier raises NotImplementedError at
    eval time with the original text.

    NULL semantics are dual-rail Kleene: every subexpression translates to
    a (satisfied, definitely-false) pair, where a comparison with a null
    PREV operand is neither — so ``NOT (v > PREV(v))`` is NOT satisfied on
    the partition's first row (SQL: NOT unknown = unknown), matching the
    batch lag()-window result, while ``x OR <null-comparison>`` still
    honors x. Plain-column atoms stay two-valued (comparisons on null
    evaluate false, so NOT over them is satisfied-by-negation only when the
    comparison itself evaluated) — nulls in DEFINE-referenced data columns
    are the one residual divergence from full SQL three-valued logic.
    """

    # literal-safety: the keyword/paren scanning below sees placeholders
    # for the string literals. As comparison operands they ride the
    # plain-column atom rail, which is exactly right: a literal is never
    # null.
    cond, lits = _stash_literals(cond)

    def rewrite(text: str) -> tuple[str, str]:
        """→ (satisfied_expr, definitely_false_expr)."""
        text = text.strip()
        # strip redundant outer paren pairs
        while text.startswith("(") and match_bracket(text, 0) == len(text) - 1:
            text = text[1:-1].strip()
        ors = split_top(text, "OR")
        if len(ors) > 1:
            pairs = [rewrite(p) for p in ors]
            return (
                "(" + " | ".join(t for t, _ in pairs) + ")",
                "(" + " & ".join(f for _, f in pairs) + ")",
            )
        ands = split_top(text, "AND")
        if len(ands) > 1:
            pairs = [rewrite(p) for p in ands]
            return (
                "(" + " & ".join(t for t, _ in pairs) + ")",
                "(" + " | ".join(f for _, f in pairs) + ")",
            )
        m = re.match(r"^\s*NOT\b(.*)$", text, re.IGNORECASE | re.DOTALL)
        if m:
            # Kleene NOT swaps the rails: satisfied iff the operand is
            # definitely false; unknown stays unknown (→ not satisfied)
            t_in, f_in = rewrite(m.group(1))
            return f_in, t_in
        atom = re.sub(r"<>", "!=", text)
        atom = re.sub(r"(?<![<>!=])=(?!=)", "==", atom)
        # SQL NULL semantics per ATOM: a comparison whose PREV operand is
        # null is neither satisfied nor definitely false — masked here so
        # other disjuncts still count (masking the whole condition would
        # break OR, e.g. `v > PREV(v) OR v > 100` on the partition's first
        # row)
        oks = sorted({f"__prevok{t[6:]}" for t in re.findall(r"__prev_\d+_\w+", atom)})
        if oks:
            mask = " & ".join(oks)
            return (
                "((" + atom + ") & " + mask + ")",
                "((~(" + atom + ")) & " + mask + ")",
            )
        return "(" + atom + ")", "(~(" + atom + "))"

    return _unstash_literals(rewrite(cond)[0], lits)


# PREV expression arguments on the streaming path: column arithmetic only
# (no function calls / string literals — the batch lag() path accepts more;
# parenthesized sub-expressions are already excluded by _PREV_RE's argument
# capture)
_PREV_ARG_RE = re.compile(r"^[\w\s.+\-*/%]+$")


def _compile_deferred_prev(deferred: dict[str, str]):
    """Compile deferred PREV conditions for per-key pandas evaluation.

    Returns ``(evals, carry_n, helpers)``: evals is a list of
    ``(var, [(name, n), ...], pandas_expr)`` where each PREV(arg, n) became
    the helper column ``__prev_{n}_{name}`` (a ``shift(n)``); for a bare
    column argument ``name`` IS the column, for an arithmetic expression
    argument ``name`` is a synthetic key and ``helpers[name]`` holds the
    row-wise pandas expression to compute before shifting (the same
    arithmetic the batch path hands to ``lag(expr)``). carry_n is the
    largest lookback — the number of CONSUMED rows the stream operator must
    carry so shifts see across match and micro-batch boundaries. SQL NULL
    semantics are preserved by the dual-rail ok-masks (_sql_bool_to_pandas):
    a null PREV operand satisfies neither the condition nor its negation.
    """
    evals = []
    carry_n = 0
    helpers: dict[str, str] = {}

    for v, cond in deferred.items():
        refs: list[tuple[str, int]] = []

        def sub(m, refs=refs, v=v):
            arg, n = m.group(1).strip(), int(m.group(2) or 1)
            if _IDENT_RE.match(arg):
                refs.append((arg, n))
                return f"__prev_{n}_{arg}"
            if not _PREV_ARG_RE.match(arg):
                raise NotImplementedError(
                    f"streaming MATCH_RECOGNIZE: DEFINE {v}: PREV argument "
                    f"{arg!r} is outside the supported streaming subset "
                    "(column arithmetic without function calls)"
                )
            for key, prev_arg in helpers.items():  # reuse identical args
                if prev_arg == arg:
                    break
            else:
                key = f"parg{len(helpers)}"
                helpers[key] = arg
            refs.append((key, n))
            return f"__prev_{n}_{key}"

        replaced = _PREV_RE.sub(sub, cond)
        carry_n = max(carry_n, max(n for _, n in refs))
        evals.append((v, refs, _sql_bool_to_pandas(replaced)))
    return evals, carry_n, helpers


def _match_starting_at(
    term_bools, pattern: list[PatternTerm], n: int, start: int, preds=None,
    within_ok=None, frontier=None,
):
    """Greedy backtracking anchored match. Returns (end_exclusive, spans) or
    None; spans[i] = (first_row, last_row_exclusive) of pattern term i.
    ``term_bools[i]`` is the per-row match array of term i (alternation
    groups pre-OR'd); None means the term's condition is match-state
    dependent and ``preds[i](r, spans, pos, cnt)`` decides row acceptance
    given the spans assigned so far and the current term's partial run.
    ``within_ok(start, r)`` is the WITHIN time bound: a partial match can
    never accept a row outside the window anchored at its first row —
    pruning during construction, exactly Flink's CEP WITHIN semantics (the
    backtracker still finds a shorter in-window parse when one exists).
    ``frontier`` (one-element list or None): set to True whenever any
    explored branch stopped accepting rows because it RAN OUT OF INPUT
    (pos + cnt reached n with capacity left) — i.e. rows appended later
    could extend or complete this branch. The streaming frontier rule uses
    it to hold matches whose greedier alternative was cut off by the end of
    the visible frame.

    ITERATIVE backtracker (explicit stack, not recursion): unbounded-group
    expansion flattens (A B)+ over a 4,000-repetition run into an ~8,000-term
    pattern, and a recursive walk would overflow Python's stack long before
    the data stops being realistic — long strict runs are normal at scale."""
    spans = [None] * len(pattern)
    n_terms = len(pattern)

    def take_iter(pi: int, pos: int):
        """Greedy row scan for term pi anchored at pos → iterator over row
        counts to try, most-first for greedy terms, fewest-first reluctant."""
        term = pattern[pi]
        col = term_bools[pi]
        cnt = 0
        cap = term.hi if term.hi is not None else (n - pos)
        if col is not None:
            while (
                cnt < cap
                and pos + cnt < n
                and col[pos + cnt]
                and (within_ok is None or within_ok(start, pos + cnt))
            ):
                cnt += 1
        else:
            pred = preds[pi]
            while (
                cnt < cap
                and pos + cnt < n
                and (within_ok is None or within_ok(start, pos + cnt))
                and pred(pos + cnt, spans, pos, cnt)
            ):
                cnt += 1
        if frontier is not None and cnt < cap and pos + cnt >= n:
            frontier[0] = True
        return iter(
            range(cnt, term.lo - 1, -1) if term.greedy else range(term.lo, cnt + 1)
        )

    if n_terms == 0:
        return None
    end = None
    stack = [(0, start, take_iter(0, start))]
    while stack:
        pi, pos, it = stack[-1]
        take = next(it, None)
        if take is None:
            spans[pi] = None
            stack.pop()
            continue
        spans[pi] = (pos, pos + take)
        if pi + 1 == n_terms:
            end = pos + take
            break
        nxt = pos + take
        stack.append((pi + 1, nxt, take_iter(pi + 1, nxt)))
    return (end, list(spans)) if end is not None and end > start else None


def _prepare_spec(df: DataFrame, clause_or_spec, defer_prev: bool = False):
    """Shared batch/streaming setup: parse, measures, schemas, defines."""
    spec = (
        clause_or_spec
        if isinstance(clause_or_spec, MatchSpec)
        else parse_match_recognize(clause_or_spec)
    )
    measures = [_parse_measure(e, a, spec.variables) for e, a in spec.measures]
    input_cols = list(df.columns)
    meas_fields = [
        T.StructField(m.alias, _measure_type(m, df.schema), True) for m in measures
    ]
    if spec.all_rows:
        # ALL ROWS PER MATCH: every matched input row + measures (FINAL
        # semantics — evaluated over the complete match, Flink's FINAL
        # keyword; RUNNING per-row evaluation is not implemented).
        out_fields = [df.schema[c] for c in input_cols] + meas_fields
    else:
        out_fields = [df.schema[c] for c in spec.partition_by] + meas_fields
    if spec.within_ms is not None and not isinstance(
        df.schema[spec.order_by[0].strip("`")].dataType,
        (T.TimestampType, T.TimestampNTZType),
    ):
        raise ValueError(
            "MATCH_RECOGNIZE: PATTERN ... WITHIN requires the first ORDER BY "
            "column to be a timestamp (Flink's time-attribute requirement); "
            f"got {df.schema[spec.order_by[0].strip('`')].dataType}"
        )
    prepared, deferred, stateful = _compile_defines(df, spec, defer_prev=defer_prev)
    return spec, measures, input_cols, T.StructType(out_fields), prepared, deferred, stateful


def _fast_eligible(spec: MatchSpec, measures) -> bool:
    """Static conditions for the vectorized matcher (funnel-class patterns):
    ONE ROW PER MATCH, single-variable terms, every variable used by exactly
    one term, a mandatory first term, and measures computable from span
    boundaries + prefix sums (SUM/AVG/COUNT) or ufunc segment reductions
    (MIN/MAX via reduceat — numeric columns only; non-numeric falls back to
    the general matcher at runtime)."""
    if (
        spec.all_rows
        or spec.skip_to
        or spec.within_ms
        or spec.permute
        or spec.alternatives
        or spec.nested
    ):
        return False
    terms = spec.pattern
    if any(isinstance(t, GroupTerm) for t in terms):  # group-bearing pattern
        return False  # (unreachable today: groups force spec.alternatives)
    if any(not t.greedy for t in terms):
        # reluctant TRAILING terms take fewer rows than the greedy run even
        # under predicate uniqueness (nothing after them forces extension) —
        # the general backtracker owns reluctant semantics
        return False
    if any(len(t.vars) != 1 for t in terms):
        return False
    if len({t.var for t in terms}) != len(terms):
        return False
    if terms[0].lo < 1:
        return False
    by_var = {t.var: t for t in terms}
    for m in measures:
        if m.func in (None, "FIRST", "LAST", "SUM", "MIN", "MAX", "AVG") and (
            m.var is None or by_var[m.var].lo < 1
        ):
            return False  # span could be empty (or spans the whole match)
    return True


def _run_matches_fast(pdf, spec, measures, match_num0, require_closed):
    """Vectorized matcher for funnel-class patterns. Exactness argument:
    with every row satisfying AT MOST ONE variable's predicate (verified at
    runtime — else returns None to fall back), the greedy take
    ``min(run_length, hi)`` is the unique viable parse: rows inside a
    term's run satisfy only that term's predicate, so any backtracked
    shorter take leaves a row every other term must reject. Candidate
    chains therefore evaluate in O(#terms) numpy gathers for ALL starts at
    once — ~50× the scalar matcher's throughput — and only the match-count-
    sized skip-resolution loop stays in Python."""
    import numpy as np

    n = len(pdf)
    terms = spec.pattern
    k = len(terms)
    bools = [
        pdf[f"__mr_{t.var}"].fillna(False).to_numpy(dtype=bool) for t in terms
    ]
    if k > 1:
        overlap = np.zeros(n, dtype=np.int8)
        for b in bools:
            overlap += b
        if overlap.max(initial=0) > 1:
            return None  # predicates overlap on this data → general matcher
    # run lengths: rl[i] = consecutive True count of col starting at i
    runlens = []
    pos_idx = np.arange(n)
    for b in bools:
        false_idx = np.flatnonzero(~b)
        if false_idx.size == 0:  # column all-True: runs extend to the end
            runlens.append(n - pos_idx)
            continue
        j = np.searchsorted(false_idx, pos_idx)
        next_false = np.where(
            j < false_idx.size, false_idx[np.minimum(j, false_idx.size - 1)], n
        )
        runlens.append(np.where(b, next_false - pos_idx, 0))
    starts = np.flatnonzero(bools[0])
    if starts.size == 0:
        return [], 0, 0
    pos = starts.copy()
    valid = np.ones(starts.size, dtype=bool)
    takes = []
    for t, rl in zip(terms, runlens):
        in_range = pos < n
        cur = np.where(in_range, rl[np.minimum(pos, n - 1)], 0)
        take = cur if t.hi is None else np.minimum(cur, t.hi)
        valid &= take >= t.lo
        take = np.where(valid, take, 0)
        takes.append(take)
        pos = pos + take
    ends = pos
    valid &= ends > starts
    # SKIP PAST LAST ROW: left-to-right non-overlap selection (match-count
    # loop); SKIP TO NEXT ROW: every valid anchored start emits
    vidx = np.flatnonzero(valid)
    sel = []
    keep_from = 0
    held = False
    if spec.skip_past_last:
        cur = 0
        for i in vidx:
            s, e = int(starts[i]), int(ends[i])
            if s < cur:
                continue
            if require_closed and e >= n:
                held = True
                break
            sel.append(i)
            cur = e
            keep_from = e
    else:
        for i in vidx:
            e = int(ends[i])
            if require_closed and e >= n:
                held = True
                break
            sel.append(i)
            keep_from = int(starts[i]) + 1
    if not sel:
        return [], 0, keep_from
    sel = np.asarray(sel)
    m_starts = starts[sel]
    m_ends = ends[sel]
    takes_sel = [t[sel] for t in takes]
    # per-term span boundaries
    term_start = {}
    p = m_starts.copy()
    for t, tk in zip(terms, takes_sel):
        term_start[t.var] = p
        p = p + tk
    take_by_var = {t.var: tk for t, tk in zip(terms, takes_sel)}
    csum = {}

    def col_csum(col):
        if col not in csum:
            v = pdf[col].to_numpy()
            dt = v.dtype if v.dtype.kind in "if" else np.dtype("float64")
            cs = np.zeros(len(v) + 1, dtype=dt)
            np.cumsum(v, out=cs[1:])
            csum[col] = cs
        return csum[col]

    nmatch = sel.size
    vals = []
    for m in measures:
        if m.func == "MATCH_NUMBER":
            vals.append(match_num0 + 1 + np.arange(nmatch))
        elif m.func == "CLASSIFIER":
            last_var = np.empty(nmatch, dtype=object)
            for t, tk in zip(terms, takes_sel):  # later terms overwrite
                last_var = np.where(tk > 0, t.var, last_var)
            vals.append(last_var)
        elif m.func == "COUNT":
            if m.var is None:
                vals.append(m_ends - m_starts)
            else:
                vals.append(take_by_var[m.var])
        elif m.func == "SUM":
            cs = col_csum(m.col)
            ts = term_start[m.var]
            vals.append(cs[ts + take_by_var[m.var]] - cs[ts])
        elif m.func == "AVG":
            cs = col_csum(m.col)
            ts = term_start[m.var]
            tk = take_by_var[m.var]
            vals.append((cs[ts + tk] - cs[ts]) / tk)
        elif m.func in ("MIN", "MAX"):
            arr = pdf[m.col].to_numpy()
            if arr.dtype.kind not in "iuf":
                return None  # object/str segments: general matcher
            ts = term_start[m.var]
            tk = take_by_var[m.var]
            # per-segment ufunc reduction: boundaries [ts, ts+tk) interleaved;
            # even positions are our segments (tk >= 1 by eligibility). A
            # sentinel keeps an end boundary == len(arr) legal for reduceat.
            arr2 = np.append(arr, arr[-1:]) if len(arr) else arr
            idx = np.empty(2 * nmatch, dtype=np.int64)
            idx[0::2] = ts
            idx[1::2] = ts + tk
            ufunc = np.minimum if m.func == "MIN" else np.maximum
            vals.append(ufunc.reduceat(arr2, idx)[0::2])
        elif m.func == "LAST":
            arr = pdf[m.col].to_numpy()
            vals.append(arr[term_start[m.var] + take_by_var[m.var] - 1])
        else:  # FIRST / bare V.col
            arr = pdf[m.col].to_numpy()
            vals.append(arr[term_start[m.var]])
    keys = [pdf[c].iloc[0] for c in spec.partition_by]
    out_rows = [keys + [v[i] for v in vals] for i in range(nmatch)]
    _ = held
    return out_rows, nmatch, keep_from


def _run_matches(
    pdf,
    spec: MatchSpec,
    measures,
    input_cols,
    out_names,
    match_num0: int = 0,
    require_closed: bool = False,
    _force_general: bool = False,
    stateful=None,
    start_at: int = 0,
):
    """Matcher core over one partition's SORTED, reset-index pandas frame.

    Returns ``(out_rows, n_emitted, keep_from, stop_at)``. ``require_closed`` is the
    streaming frontier rule: a match that consumes through the last visible
    row is NOT emitted (a later row could still extend it under greedy
    quantifiers) — processing stops there and ``keep_from`` marks the
    position from which rows must be retained for the next micro-batch
    (= resume position after the last emitted match).

    ``stateful`` maps variables whose DEFINE depends on match state
    (cross-variable refs, FIRST/LAST navigation) to compiled conditions
    (_compile_stateful_cond); those evaluate per candidate row during
    matching instead of from precomputed boolean columns.

    ``start_at``: the first row where a match may START. Rows before it are
    read-only context — the streaming path prepends already-consumed carry
    rows there so ``PREV`` inside match-state conditions sees the same
    predecessors the batch matcher does. ``keep_from`` is always >=
    ``start_at``, so context rows never re-enter the retained buffer.
    """
    if start_at and not stateful:
        raise ValueError("start_at context rows are only used with stateful conditions")
    if not stateful and not _force_general and _fast_eligible(spec, measures):
        fast = _run_matches_fast(pdf, spec, measures, match_num0, require_closed)
        if fast is not None:
            # stop_at = keep_from (conservative): the fast path never runs
            # WITHIN patterns (_fast_eligible), so its stop_at is unused by
            # the within-eviction rule
            return (*fast, fast[2])
    pattern = spec.pattern
    skip_past = spec.skip_past_last
    n = len(pdf)
    bools = {
        v: pdf[f"__mr_{v}"].fillna(False).to_numpy() for v in spec.variables
    }
    # per-term arrays; alternation groups OR their variables' columns.
    # Stateful terms get None + a per-row predicate (single-var only: a
    # row's classification within an alternation group would itself depend
    # on in-flight state).
    colvals: dict[str, object] = {}

    def colv(c):
        if c not in colvals:
            colvals[c] = pdf[c].to_numpy()
        return colvals[c]

    def _unbox(x):
        if x is None or (isinstance(x, float) and x != x):
            return _SQL_NULL
        return x

    # per-row variable choice inside alternation groups, recorded at
    # predicate-accept time. rec() re-tests a term's rows on every branch it
    # explores and returns immediately on success, so the successful parse's
    # writes are always the LAST writes for the rows in its final spans —
    # stale entries from failed branches/starts are never read.
    choice: dict[tuple[int, int], str] = {}

    def classify(term, pi_, r):
        """Which variable owns row r of term pi_ — the recorded choice for
        predicate-evaluated groups, else the static first-listed-true rule."""
        if len(term.vars) == 1:
            return term.vars[0]
        got = choice.get((pi_, r))
        if got is not None:
            return got
        return next((x for x in term.vars if bools[x][r]), term.vars[0])

    def make_pred(code, var, pi, pat):
        def nav(x, c, kind, k, spans, pos, cnt, r):
            rows: list[int] = []
            for pj, t2 in enumerate(pat):
                if x not in t2.vars:
                    continue
                if pj < pi and spans[pj] is not None:
                    rows.extend(
                        rr
                        for rr in range(spans[pj][0], spans[pj][1])
                        if classify(t2, pj, rr) == x
                    )
                elif pj == pi and x == var:
                    rows.extend(
                        rr
                        for rr in range(pos, pos + cnt)
                        if classify(t2, pj, rr) == x
                    )
            if x == var and (not rows or rows[-1] != r):
                rows.append(r)  # running semantics: the current row counts
            if k >= len(rows):
                return _SQL_NULL
            idx = rows[k] if kind == "first" else rows[-1 - k]
            return _unbox(colv(c)[idx])

        def pred(r, spans, pos, cnt):
            env = {
                "cur": lambda c: _unbox(colv(c)[r]),
                "prev": lambda c, k: _unbox(colv(c)[r - k]) if r - k >= 0 else _SQL_NULL,
                "nav": lambda x, c, kind, k: nav(x, c, kind, k, spans, pos, cnt, r),
                "_N": _SQL_NULL,
                "sql_not": lambda x: _SQL_NULL if x is _SQL_NULL else (not x),
            }
            try:
                return bool(eval(code, {"__builtins__": {}}, env))  # noqa: S307
            except TypeError:
                return False  # non-null operands of incompatible types

        return pred

    def make_group_pred(pi, term, pat):
        """Alternation group with match-state members: a row classifies as
        the FIRST listed variable whose condition holds there (same
        preference rule as the static pre-OR'd path), where stateful
        members evaluate their compiled condition against the in-flight
        match; the winning variable is recorded for navigation/attribution."""
        members = [
            (x, make_pred(stateful[x], x, pi, pat) if x in stateful else None)
            for x in term.vars
        ]

        def gpred(r, spans, pos, cnt):
            for x, p in members:
                ok = bool(bools[x][r]) if p is None else p(r, spans, pos, cnt)
                if ok:
                    choice[(pi, r)] = x
                    return True
            return False

        return gpred

    or_memo: dict[tuple, object] = {}  # OR'd alternation arrays, shared
    # across the per-repetition flattenings of an unbounded group

    def term_data(pat):
        tb, pd_ = [], {}
        for pi, t in enumerate(pat):
            if stateful and any(x in stateful for x in t.vars):
                tb.append(None)
                pd_[pi] = (
                    make_group_pred(pi, t, pat)
                    if len(t.vars) > 1
                    else make_pred(stateful[t.var], t.var, pi, pat)
                )
                continue
            key = tuple(t.vars)
            col = or_memo.get(key)
            if col is None:
                col = bools[t.vars[0]]
                for v in t.vars[1:]:
                    col = col | bools[v]
                or_memo[key] = col
            tb.append(col)
        return tb, pd_

    # alternative term orderings: exactly one normally; for PERMUTE, every
    # permutation in lexicographic order of the written list (SQL-standard
    # preference) — first ordering that matches at a start wins. Entries:
    # ("flat", pat, tb, preds) for fully-expanded variants, or
    # ("group", pre, grp, suf, eid) for variants holding an UNBOUNDED
    # sequence group, flattened per attempt (most repetitions first).
    if spec.permute:
        import itertools

        alts = []
        for perm in itertools.permutations(pattern):
            perm = list(perm)
            tb, pd_ = term_data(perm)
            alts.append(("flat", perm, tb, pd_))
    elif spec.nested:
        # nested quantified groups: flats enumerate per attempt
        # (_nested_flats), so there is exactly one entry and no shared
        # term columns
        alts = [("nested", spec.nested, 0)]
    elif spec.alternatives:
        # sequence-group expansions, greediest first: the first variant
        # that matches at a start wins (outermost-quantifier greed).
        # Unbounded groups split the variant into flat segments around the
        # GroupTerms; the matcher flattens per attempt with the leftmost
        # group's repetition count varying outermost.
        alts = []
        for eid, variant in enumerate(spec.alternatives):
            if any(isinstance(t, NestedGroup) for t in variant):
                # a nested-group-bearing variant (PERMUTE with a nested
                # element) expands per attempt; coexisting GroupTerms are
                # the same thing with hi=None — normalize and share the path
                seq = [
                    NestedGroup(t.body, t.lo, None, t.greedy)
                    if isinstance(t, GroupTerm)
                    else t
                    for t in variant
                ]
                alts.append(("nested", seq, eid))
                continue
            if not any(isinstance(t, GroupTerm) for t in variant):
                tb, pd_ = term_data(variant)
                alts.append(("flat", variant, tb, pd_))
                continue
            segs, grps, cur = [], [], []
            for t in variant:
                if isinstance(t, GroupTerm):
                    segs.append(cur)
                    grps.append(t)
                    cur = []
                else:
                    cur.append(t)
            segs.append(cur)
            alts.append(("group", segs, grps, eid))
    else:
        term_bools, preds = term_data(pattern)
        alts = [("flat", pattern, term_bools, preds)]
    if alts[0][0] == "flat":
        term_bools, preds = alts[0][2], alts[0][3]
    else:
        term_bools = preds = None  # group-led pattern: no shared columns

    # unbounded-group flattenings, cached per (variant, rep-vector)
    flat_cache: dict[tuple, tuple] = {}
    # nested-entry term_data, cached per flat candidate (id-tuple of its
    # term objects — the tree's term objects are reused across yields, so
    # identical expansions hit the cache; scoped to THIS frame because the
    # cached boolean columns belong to this pdf)
    nested_cache: dict[tuple, tuple] = {}

    def group_flat(eid, segs, grps, ks):
        got = flat_cache.get((eid, ks))
        if got is None:
            pat_k = list(segs[0])
            for g, k, seg in zip(grps, ks, segs[1:]):
                pat_k += g.body * k + seg
            tb, pd_ = term_data(pat_k)
            got = flat_cache[(eid, ks)] = (pat_k, tb, pd_)
        return got

    def entry_gate(entry):
        """Per-entry cheap start filter: the bool column of the variant's
        first MANDATORY, stateless term (None = no filter). A start where
        that column is false cannot begin a match of this variant."""
        kind = entry[0]
        if kind == "flat":
            pat, tb = entry[1], entry[2]
            if pat[0].lo >= 1 and tb[0] is not None:
                return tb[0]
            return None
        if kind == "nested":
            lead = _nested_first_term(entry[1])
            if (
                lead is None
                or lead.lo < 1
                or (stateful and any(x in stateful for x in lead.vars))
            ):
                return None
            key = tuple(lead.vars)
            col = or_memo.get(key)
            if col is None:
                col = bools[lead.vars[0]]
                for v in lead.vars[1:]:
                    col = col | bools[v]
                or_memo[key] = col
            return col
        _, segs, grps, _ = entry
        lead = (
            segs[0][0]
            if segs[0]
            else (grps[0].body[0] if grps[0].lo >= 1 else None)
        )
        if lead is None or lead.lo < 1:
            return None
        if stateful and any(x in stateful for x in lead.vars):
            return None
        key = tuple(lead.vars)
        col = or_memo.get(key)
        if col is None:
            col = bools[lead.vars[0]]
            for v in lead.vars[1:]:
                col = col | bools[v]
            or_memo[key] = col
        return col

    gates = [entry_gate(e) for e in alts]

    def entry_closer(entry):
        """LAST row index where a group entry's suffix CLOSER can sit — the
        first mandatory stateless term after the final group. Sound prune
        for BATCH matching only (fcell is None): every group repetition
        must end before some closer row, so kmax is bounded by the last
        closer position, and a start with no closer left skips the entry
        outright — this is what keeps adversarial no-closer runs (a long
        A/B alternation with no C) linear instead of quadratic. With fcell
        (streaming frontier mode) a FUTURE row could be the closer, so the
        prune must not apply there; the _MAX_GROUP_ATTEMPTS cap remains
        the streaming backstop."""
        if entry[0] != "group":
            return None
        _, segs, _grps, _ = entry
        cl = next((t for t in segs[-1] if t.lo >= 1), None)
        if cl is None:
            return None
        if stateful and any(x in stateful for x in cl.vars):
            return None
        col = bools[cl.vars[0]]
        for v in cl.vars[1:]:
            col = col | bools[v]
        import numpy as np

        idx = np.flatnonzero(col)
        return int(idx[-1]) if idx.size else -1

    def entry_prune_plan(entry):
        """Positional feasibility plan for a group entry — the sound prune
        that keeps ADVERSARIAL LONG ALTERNATING RUNS off the per-start
        attempt budget (batch mode only; the streaming frontier probe
        deliberately attempts one repetition past the frame, which this
        would veto). Only FIXED-SIZE parts participate: a segment/group
        rep where every term has lo == hi, no alternation-member is
        stateful, so each repetition's row offsets are known exactly.

        Per fixed group: ``rep_ok[i]`` (one repetition fits at i, all term
        booleans at their offsets), ``r[i]`` = consecutive repetitions
        starting at i (vectorized per residue class), and ``smax[i]`` =
        max r at any position >= i (a global upper bound on the group's
        count for matches starting at i — zero kills entries whose group
        variables never occur). The plan is an ordered walk of
        (seg/grp) parts; a ``stop`` marks the first variable-size part,
        beyond which offsets are unknown and nothing is refuted."""
        import numpy as np

        if entry[0] != "group":
            return None
        _, segs, grps, _eid = entry

        def term_bool(t):
            if stateful and any(v in stateful for v in t.vars):
                return None
            col = bools[t.vars[0]]
            for v in t.vars[1:]:
                col = col | bools[v]
            return col

        def seg_fixed(seg):
            offs, size = [], 0
            for t in seg:
                if t.hi is None or t.lo != t.hi:
                    return None
                b = term_bool(t)
                if b is None:
                    return None
                for c in range(t.lo):
                    offs.append((size + c, b))
                size += t.lo
            return size, offs

        parts = []
        sf = seg_fixed(segs[0])
        if sf is None:
            return None  # unknown from the first row — nothing to refute
        parts.append(("seg", sf[0], sf[1]))
        for gi, (g, seg) in enumerate(zip(grps, segs[1:])):
            gf = seg_fixed(g.body)
            if gf is None:
                parts.append(("stop",))
                break
            s, checks = gf
            rep_ok = np.ones(n, dtype=bool)
            for off, b in checks:
                shifted = np.zeros(n, dtype=bool)
                if off < n:
                    shifted[: n - off] = b[off:] if off else b
                rep_ok &= shifted
            r = np.zeros(n, dtype=np.int64)
            for m0 in range(s):
                idx = np.arange(m0, n, s)
                if not idx.size:
                    continue
                okr = rep_ok[idx][::-1]
                pos1 = np.arange(1, okr.size + 1)
                runs = np.where(
                    okr, pos1 - np.maximum.accumulate(np.where(~okr, pos1, 0)), 0
                )[::-1]
                r[idx] = runs
            smax = (
                np.maximum.accumulate(r[::-1])[::-1]
                if n
                else np.zeros(0, dtype=np.int64)
            )
            parts.append(("grp", s, r, smax, gi))
            sf = seg_fixed(seg)
            if sf is None:
                parts.append(("stop",))
                break
            parts.append(("seg", sf[0], sf[1]))
        return parts

    plans = [entry_prune_plan(e) for e in alts]

    def ks_feasible(i, ks, plan):
        """O(#parts) refutation of one repetition-count tuple: walk the
        fixed-size parts left to right at their now-concrete offsets;
        any mandatory term boolean False, or any group run shorter than
        its count, proves no backtracking attempt can succeed."""
        pos = i
        for part in plan:
            tag = part[0]
            if tag == "stop":
                return True
            if tag == "seg":
                _, size, checks = part
                for off, b in checks:
                    q = pos + off
                    if q >= n or not b[q]:
                        return False
                pos += size
            else:
                _, s, r, _smax, gi = part
                k = ks[gi]
                if k and (pos >= n or r[pos] < k):
                    return False
                pos += k * s
        return True

    closers = [entry_closer(e) for e in alts]

    def try_start(i, fcell=None):
        """First (greediest) variant matching at row i → (hit, flat_pat).

        ``fcell`` threads frontier contact (see _match_starting_at) through
        every attempt — including FAILED greedier variants tried before the
        winning one, so the streaming rule can hold a match whose longer
        alternative was cut off by the frame end. For unbounded groups the
        repetition count is probed one past what the remaining rows can
        hold: the probe cannot succeed ((kmax+1)·min_rows > n-i) but fails
        with frontier contact exactly when appended rows could fit another
        repetition — the signal require_closed needs."""
        for entry, gate, last_cl, plan_e in zip(alts, gates, closers, plans):
            if gate is not None and not gate[i]:
                continue
            if entry[0] == "flat":
                _, ap, ab, apd = entry
                hit = _match_starting_at(ab, ap, n, i, apd, within_ok, fcell)
                if hit is not None:
                    return hit, ap
                continue
            if entry[0] == "nested":
                # nested quantified groups: enumerate flat expansions in
                # preference order; every candidate is a full backtracking
                # attempt (no positional pre-pruning here — the shape class
                # is exotic and the attempt cap is the loud backstop)
                attempts = 0
                for pat_k in _nested_flats(entry[1], n - i, fcell is not None):
                    if not pat_k:
                        continue  # all-zero repetition counts: empty match
                    attempts += 1
                    if attempts > _MAX_GROUP_ATTEMPTS:
                        pat_txt = (
                            f" [PATTERN ({spec.pattern_text})]"
                            if spec.pattern_text
                            else ""
                        )
                        raise ValueError(
                            "MATCH_RECOGNIZE: nested-group repetition probe "
                            f"exceeds {_MAX_GROUP_ATTEMPTS} attempts at one "
                            f"start{pat_txt}; bound the group quantifiers, "
                            "e.g. {m,n}"
                        )
                    ckey = tuple(id(t) for t in pat_k)
                    got = nested_cache.get(ckey)
                    if got is None:
                        got = nested_cache[ckey] = term_data(pat_k)
                    tb_k, pd_k = got
                    hit = _match_starting_at(
                        tb_k, pat_k, n, i, pd_k, within_ok, fcell
                    )
                    if hit is not None:
                        return hit, pat_k
                continue
            _, segs, grps, eid = entry
            if fcell is None and last_cl is not None and last_cl < i:
                continue  # no closer remains in the frame (batch: final)
            # the positional plan is BATCH-only: the streaming frontier
            # probe deliberately attempts one repetition past the frame
            plan = plan_e if fcell is None else None
            smax_by_gi = {}
            if plan is not None and i < n:
                for part in plan:
                    if part[0] == "grp":
                        smax_by_gi[part[4]] = int(part[3][i])
            # structural prune: rows the REST of the entry must consume
            # (segment minima + other groups' lo·min_rows) tighten each
            # group's kmax below the naive (n-i)//min_rows
            seg_min = sum(t.lo for seg in segs for t in seg)
            grp_min = sum(g2.lo * g2.min_rows for g2 in grps)
            ranges = []
            infeasible = False
            for gi, g in enumerate(grps):
                other = seg_min + grp_min - g.lo * g.min_rows
                kmax = max((n - i - other) // g.min_rows, 0)
                if fcell is None and last_cl is not None:
                    # every repetition ends before some closer row
                    kmax = min(kmax, max((last_cl - i) // g.min_rows, 0))
                if gi in smax_by_gi:
                    # no position >= i can seed more consecutive repetitions
                    # than smax — the data bound that zeroes entries whose
                    # group variables never occur past i
                    kmax = min(kmax, smax_by_gi[gi])
                if fcell is None and kmax < g.lo:
                    infeasible = True
                    break
                k_hi = max(kmax + 1, g.lo) if fcell is not None else kmax
                # greedy groups probe most-reps-first; reluctant ((A B)+?)
                # fewest-first — the frontier probe (k_hi = kmax+1, which
                # cannot fit the frame) then sits LAST, so it only runs
                # when every feasible count failed, exactly when appended
                # rows are the only way the group could still match
                ranges.append(
                    range(g.lo, k_hi + 1)
                    if not g.greedy
                    else range(k_hi, g.lo - 1, -1)
                )
            if infeasible:
                continue
            import itertools

            pat_txt = (
                f" [PATTERN ({spec.pattern_text})]" if spec.pattern_text else ""
            )
            # leftmost group's count varies outermost (product iterates the
            # rightmost range fastest) — the bounded expansion's preference
            attempts = 0
            iters = 0
            for ks in itertools.product(*ranges):
                iters += 1
                if iters > _MAX_GROUP_ITERS:
                    # backstop for the O(1) feasibility walk itself: a
                    # product this large means every clamp failed to bite
                    raise ValueError(
                        "MATCH_RECOGNIZE: unbounded-group repetition probe "
                        f"exceeds {_MAX_GROUP_ITERS} candidate tuples at one "
                        f"start{pat_txt}; bound the group quantifier, e.g. "
                        "{m,n}"
                    )
                if plan is not None and not ks_feasible(i, ks, plan):
                    continue  # refuted in O(#parts) — not a real attempt
                attempts += 1
                if attempts > _MAX_GROUP_ATTEMPTS:
                    # worst-case guard, mirroring _MAX_PATTERN_VARIANTS: each
                    # ks is a full backtracking attempt, and adversarial data
                    # (long runs with no pattern closer) makes the descending
                    # probe O(n²)+ per start — fail loudly instead of hanging
                    raise ValueError(
                        "MATCH_RECOGNIZE: unbounded-group repetition probe "
                        f"exceeds {_MAX_GROUP_ATTEMPTS} attempts at one start "
                        f"(adversarial run length for this pattern){pat_txt}; "
                        "bound the group quantifier, e.g. {m,n}"
                    )
                pat_k, tb_k, pd_k = group_flat(eid, segs, grps, ks)
                hit = _match_starting_at(tb_k, pat_k, n, i, pd_k, within_ok, fcell)
                if hit is not None:
                    return hit, pat_k
        return None, None
    within_ok = None
    if spec.within_ms is not None and n:
        import pandas as pd

        ts_ns = pd.to_datetime(pdf[spec.order_by[0]]).values.view("int64")
        bound_ns = spec.within_ms * 1_000_000

        def within_ok(start, r):  # noqa: F811
            # strict bound: Flink's NFA prunes partial matches once
            # elapsed >= windowTime, so a match spanning EXACTLY the
            # interval is rejected (NFA timeout semantics)
            return ts_ns[r] - ts_ns[start] < bound_ns

    keys = [pdf[c].iloc[0] for c in spec.partition_by] if n else []
    out_rows = []
    match_num = match_num0
    emitted = 0
    keep_from = start_at
    # first frame position NOT fully decided by this scan: rows before it
    # either joined an emitted match or were scanned and cannot start one.
    # A frontier-hold break lowers it to the held start. Feeds the WITHIN
    # eviction rule in the streaming caller.
    stop_at = n
    # fast path: when the first term is mandatory, only its true rows
    # can start a match — scan candidate starts, not every row. Under
    # PERMUTE any term may lead, so the candidate set is the union of all
    # terms' rows (every term is mandatory there).
    starts = None
    if spec.permute:
        if all(tb is not None for tb in term_bools):
            import numpy as np

            u = term_bools[0]
            for tb in term_bools[1:]:
                u = u | tb
            starts = np.flatnonzero(u)
    elif (
        not spec.alternatives  # variants may lead with different terms
        and term_bools is not None  # nested entries have no shared columns
        and pattern[0].lo >= 1
        and term_bools[0] is not None
    ):
        import numpy as np

        starts = np.flatnonzero(term_bools[0])
    si = 0
    i = start_at
    while i < n:
        if starts is not None:
            while si < len(starts) and starts[si] < i:
                si += 1
            if si >= len(starts):
                break
            i = int(starts[si])
        fcell = [False] if require_closed else None
        hit, hit_pat = try_start(i, fcell)
        if require_closed and fcell[0]:
            # some branch at this start — the winning parse, a greedier
            # variant, or an extra group repetition — was cut off by the
            # end of the visible frame: hold everything from the resume
            # position; later rows may complete the greedier parse
            stop_at = i
            break
        if hit is None:
            i += 1
            continue
        end, spans = hit
        if require_closed and end >= n:
            # the match reached the mature frontier: hold it (and every row
            # from the resume position) for the next batch
            stop_at = i
            break
        match_num += 1
        emitted += 1
        # merge term spans per variable (a var may repeat in the pattern)
        var_rows: dict[str, list[int]] = {}
        row_var: dict[int, str] = {}  # each row belongs to exactly 1 term
        for pi2, (term, sp) in enumerate(zip(hit_pat, spans)):
            if sp is None:
                continue
            for r in range(sp[0], sp[1]):
                # alternation: the row classifies as the first listed
                # variable whose predicate holds there (Flink resolves
                # preferring pattern order); predicate-evaluated groups use
                # the choice recorded at accept time
                v = classify(term, pi2, r)
                var_rows.setdefault(v, []).append(r)
                row_var[r] = v
        all_rows = sorted(set().union(*var_rows.values())) if var_rows else []

        def measure_val(m, rows):
            if m.func == "COUNT":
                return len(rows)
            if not rows:
                return None
            series = pdf[m.col].iloc[rows]
            if m.func == "FIRST":
                return series.iloc[0]
            if m.func == "LAST":
                return series.iloc[-1]
            if m.func == "SUM":
                return series.sum()
            if m.func == "MIN":
                return series.min()
            if m.func == "MAX":
                return series.max()
            return float(series.mean())  # AVG

        vals = []
        for m in measures:
            rows = var_rows.get(m.var, []) if m.var else all_rows
            if m.func == "MATCH_NUMBER":
                vals.append(match_num)
            elif m.func == "CLASSIFIER":
                # per-row in ALL ROWS mode (patched below); the last
                # matched row's variable in ONE ROW mode (Flink's rule)
                vals.append(row_var[all_rows[-1]] if all_rows else None)
            else:
                vals.append(measure_val(m, rows))
        if spec.all_rows:
            for r in all_rows:
                rvals = []
                for m, v in zip(measures, vals):
                    if m.func == "CLASSIFIER":
                        rvals.append(row_var[r])
                    elif m.func == "MATCH_NUMBER":
                        rvals.append(v)
                    elif not (m.final if m.final is not None else False):
                        # RUNNING (Flink's ALL-ROWS default): evaluate
                        # over matched rows up to and including this one
                        rows = var_rows.get(m.var, []) if m.var else all_rows
                        rvals.append(measure_val(m, [i for i in rows if i <= r]))
                    else:
                        rvals.append(v)
                out_rows.append(list(pdf.iloc[r][input_cols]) + rvals)
        else:
            out_rows.append(keys + vals)
        if spec.skip_to:
            # AFTER MATCH SKIP TO FIRST|LAST <var>: resume AT that mapped
            # row (overlapping matches allowed, Flink semantics)
            kind, sv = spec.skip_to
            rows_sv = var_rows.get(sv, [])
            if not rows_sv:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {kind.upper()} {sv}: the variable "
                    "matched no rows in this match"
                )
            nxt = rows_sv[0] if kind == "first" else rows_sv[-1]
            if nxt <= i:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {kind.upper()} {sv} resumes at the "
                    "match's own start row (infinite loop)"
                )
            i = nxt
        elif skip_past:
            i = end
        else:
            i = i + 1
        keep_from = i
    return out_rows, emitted, keep_from, stop_at


def _within_evict_to(ts_ms, wm_ms: int, within_ms: int, keep_from: int, stop_at: int) -> int:
    """WITHIN-based state eviction bound for the streaming buffer.

    A retained row r can only START a match whose rows all satisfy
    ``ts < ts[r] + within`` (strict NFA bound). Once the watermark passes
    ``ts[r] + within``, every row that could ever join such a match is
    already mature — the no-match decision made for r this scan is FINAL,
    and r can be dropped. Rows at or beyond ``stop_at`` (a held match's
    start, or undecided territory) are never evicted. Without this rule a
    key whose rows never match retains them forever; WITH it, state is
    bounded by the WITHIN window — exactly Flink CEP's windowTime pruning.

    ``ts_ms``: the frame's order-column values in epoch ms (sorted).
    Returns the new keep_from (>= the scan's own keep_from).
    """
    import numpy as np

    horizon = wm_ms - within_ms  # rows with ts <= horizon are decided
    cand = int(np.searchsorted(ts_ms, horizon, side="right"))
    return max(keep_from, min(cand, stop_at))


def match_recognize(df: DataFrame, clause_or_spec) -> DataFrame:
    """Apply MATCH_RECOGNIZE to a batch DataFrame → one row per match.

    ``clause_or_spec``: the text inside ``MATCH_RECOGNIZE ( ... )`` or a
    pre-parsed ``MatchSpec``. Output columns: partition keys + measures
    (ALL ROWS PER MATCH: input columns + measures).
    """
    if df.isStreaming:
        raise NotImplementedError(
            "MATCH_RECOGNIZE on streaming input: use match_recognize_stream"
        )
    spec, measures, input_cols, out_schema, prepared, _, stateful = _prepare_spec(
        df, clause_or_spec
    )
    out_names = [f.name for f in out_schema.fields]
    order_cols = spec.order_by
    part_cols = spec.partition_by

    def run(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        out_rows, _, _, _ = _run_matches(
            pdf, spec, measures, input_cols, out_names, stateful=stateful
        )
        return pd.DataFrame(out_rows, columns=out_names)

    if part_cols:
        # explicit-count repartition on the grouping keys: satisfies the
        # groupBy's distribution requirement, so applyInPandas adds no new
        # exchange and AQE cannot coalesce the CPU-bound pandas stage down
        # to one task (single-file inputs otherwise serialize here).
        n = df.sparkSession.sparkContext.defaultParallelism
        prepared = prepared.repartition(n, *part_cols)
        return prepared.groupBy(*part_cols).applyInPandas(run, schema=out_schema)
    # no PARTITION BY: single global sequence (serial, same as Flink)
    return prepared.withColumn("__mr_g", F.lit(1)).groupBy("__mr_g").applyInPandas(
        lambda pdf: run(pdf.drop(columns="__mr_g")), schema=out_schema
    )


# Flink TimeUtils duration syntax: every unit alias Flink accepts, plus the
# bare-number form (= milliseconds). Shared by the match-recognize
# close-after property and the engine's table.exec.state.ttl knob.
_DURATION = re.compile(
    r"^\s*(\d+(?:\.\d+)?)\s*"
    r"(ms|millis?|milliseconds?|s|secs?|seconds?|m|mins?|minutes?|"
    r"h|hrs?|hours?|d|days?)?\s*$",
    re.IGNORECASE,
)
_DUR_MS = {
    "ms": 1, "milli": 1, "millis": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "sec": 1000, "secs": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "min": 60_000, "mins": 60_000,
    "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hr": 3_600_000, "hrs": 3_600_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def _duration_ms(text: str) -> int:
    m = _DURATION.match(text)
    if not m:
        raise ValueError(f"bad duration: {text!r}")
    unit = (m.group(2) or "ms").lower()
    return int(float(m.group(1)) * _DUR_MS[unit])


def _state_dumps(keep, carry) -> bytes:
    """Serialize the keyed-state frames via Arrow IPC (measured 3-4× faster
    than pickling pandas frames both ways, and smaller for string columns —
    this is the per-key per-trigger hot loop). ``None`` frames are
    preserved; the outer pickle only carries the two raw byte blobs."""
    import pickle

    import pyarrow as pa

    def enc(df):
        if df is None:
            return None
        sink = pa.BufferOutputStream()
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        return sink.getvalue().to_pybytes()

    return pickle.dumps((enc(keep), enc(carry)))


def _state_loads(raw: bytes):
    """Inverse of :func:`_state_dumps`. Timestamp columns are normalized to
    ``datetime64[ns]`` — the unit Spark's Arrow exchange delivers — so the
    ``.values.view('int64') // 1_000_000`` epoch-ms math stays exact no
    matter what unit pyarrow's ``to_pandas`` picked."""
    import pickle

    import pyarrow as pa

    def dec(b):
        if b is None:
            return None
        df = pa.ipc.open_stream(pa.py_buffer(b)).read_all().to_pandas()
        for c in df.columns:
            dt = df[c].dtype
            if getattr(dt, "kind", None) == "M" and str(dt) != "datetime64[ns]":
                df[c] = df[c].astype("datetime64[ns]")
        return df

    k, c = pickle.loads(raw)
    return dec(k), dec(c)


def _lex_sorted(df, cols) -> bool:
    """Cheap vectorized lexicographic is-sorted check over numeric/datetime
    order columns (anything else → False, let the sort decide). The state
    buffer is saved sorted and in-order sources replay in order, so most
    triggers skip the O(n log n) mergesort for this O(n · #cols) scan."""
    import numpy as np

    n = len(df)
    if n <= 1:
        return True
    less = np.zeros(n - 1, dtype=bool)
    eq = np.ones(n - 1, dtype=bool)
    for c in cols:
        v = df[c].to_numpy()
        if v.dtype.kind not in "iufM":
            return False
        if v.dtype.kind == "f" and np.isnan(v).any():
            return False
        a, b = v[:-1], v[1:]
        less |= eq & (a < b)
        eq &= a == b
    return bool(np.all(less | eq))


def match_recognize_stream(
    df: DataFrame,
    clause_or_spec,
    close_after: str | None = None,
    shards: int | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE over a STREAMING DataFrame (SURVEY.md W9 streaming —
    the capability Flink declares via its CEP/planner runtime, reference
    flink-runtime/build.gradle:37).

    Keyed pattern matching via ``apply_keyed_state``: per key, the
    state holds the un-consumed row buffer (+ the match counter); every
    micro-batch appends the key's new rows, re-runs the same matcher core
    the batch operator uses over the MATURE prefix (rows with event time ≤
    the current watermark — later input is guaranteed to sort after them),
    and emits matches under the frontier rule:

    - a match is emitted once it completes strictly BEFORE the mature
      frontier — i.e. at least one mature row follows it that the greedy
      matcher declined to consume. Such a match can never be extended or
      altered by future rows, so emission is exactly-once (append mode).
    - a match that consumes through the last buffered row stays open:
      greedy quantifiers could extend it. It emits when a later row closes
      it, or when ``close_after`` fires.
    - ``close_after`` (e.g. ``'30 seconds'``): a key with no new events for
      that long (measured in EVENT time via watermark timeout) concludes —
      its open matches are finalized at the buffer end. This is the
      practical analog of Flink CEP's WITHIN / idle-state retention; leave
      it None for pure "wait for a closing row" semantics.

    Requirements (same as Flink's streaming MATCH_RECOGNIZE): PARTITION BY
    keys, and the first ORDER BY column must be the stream's watermarked
    event-time column.

    Scale design: DEFINE predicates compile to JVM boolean columns before
    the shuffle (one groupBy exchange on the keys); for ONE ROW PER MATCH
    with precompiled predicates, input columns not referenced by keys,
    ordering, measures, or deferred-PREV conditions are PRUNED before the
    shuffle — the raw payload the predicates filtered on never rides the
    exchange or the state store. Per-key state is bounded by the rows
    since the last emitted match — the same bound Flink's keyed CEP
    operator carries — serialized via Arrow IPC (3-4× faster than pickle
    for the buffer round-trip), and the mature-frame evaluation routes
    through the vectorized fast matcher for funnel-class patterns
    (envelope: ~240k rows/s warm single-key end-to-end, ≥100k floor
    pinned by test_streaming_matcher_throughput_envelope; batch matcher
    core >1M rows/s). Divergence note: emission is
    earliest-completed — a pathological pattern where an earlier, still
    open attempt would (given future rows) overlap a later already-emitted
    match resolves in favor of the emitted match; Flink's NFA makes the
    same call for AFTER MATCH SKIP PAST LAST ROW.
    """
    if not df.isStreaming:
        raise ValueError("match_recognize_stream requires a streaming DataFrame")
    spec, measures, input_cols, out_schema, prepared, deferred, stateful = _prepare_spec(
        df, clause_or_spec, defer_prev=True
    )
    if not spec.partition_by:
        raise ValueError("streaming MATCH_RECOGNIZE requires PARTITION BY")
    # PREV inside a match-state condition: the matcher's prev() helper reads
    # the partition frame directly, so the only streaming gap is rows already
    # consumed in earlier triggers — covered by prepending the consumed-row
    # carry as read-only context (start_at) up to the deepest PREV offset used
    state_prev_n = 0
    for v in stateful or ():
        for pm in _PREV_QUAL_RE.finditer(spec.define.get(v, "")):
            state_prev_n = max(state_prev_n, int(pm.group(3) or 1))
    ocol = spec.order_by[0]
    if not isinstance(df.schema[ocol].dataType, (T.TimestampType, T.TimestampNTZType)):
        raise ValueError(
            "streaming MATCH_RECOGNIZE: first ORDER BY column must be the "
            f"watermarked event-time timestamp, got {df.schema[ocol].dataType}"
        )
    out_names = [f.name for f in out_schema.fields]
    order_cols = spec.order_by
    part_cols = spec.partition_by
    close_ms = _duration_ms(close_after) if close_after else None
    buf_cols = list(prepared.columns)
    prev_evals, carry_n, prev_helpers = (
        _compile_deferred_prev(deferred) if deferred else ([], 0, {})
    )
    # one carry serves both consumers: deferred-PREV boolean shifts and
    # stateful-condition prev() context rows
    carry_keep = max(carry_n, state_prev_n)
    if not stateful and not spec.all_rows:
        # Column pruning BEFORE the keyed shuffle: ONE ROW PER MATCH output
        # needs only partition keys + order keys + measure inputs, and the
        # DEFINE predicates are already compiled to __mr_* booleans — the
        # wide raw payload they filtered on would otherwise ride the
        # shuffle, the Arrow exchange, and EVERY state round-trip for the
        # stream's lifetime. (Stateful conditions and ALL ROWS PER MATCH
        # read arbitrary input columns at match time — no pruning there.)
        ident_re = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
        needed = list(
            dict.fromkeys(
                [*part_cols, *order_cols] + [m.col for m in measures if m.col]
            )
        )
        for txt in list((deferred or {}).values()) + list(prev_helpers.values()):
            for tok in ident_re.findall(txt):
                if tok in buf_cols and tok not in needed:
                    needed.append(tok)
        needed += [c for c in buf_cols if c.startswith("__mr_") and c not in needed]
        prepared = prepared.select(*needed)
        buf_cols = list(prepared.columns)

    def eval_deferred(mature, carry):
        """Fill deferred PREV booleans over (carry ⊕ mature); carry rows are
        the last consumed rows — they supply shift context only."""
        import pandas as pd

        nc = len(carry) if carry is not None else 0
        frame = (
            pd.concat([carry, mature], ignore_index=True) if nc else mature
        )
        for key, aexpr in prev_helpers.items():
            # PREV(expression) helper: compute row-wise, then shift below —
            # identical arithmetic to the batch path's lag(expression)
            try:
                frame = frame.assign(
                    **{key: frame.eval(aexpr, engine="python")}
                )
            except Exception as exc:  # noqa: BLE001
                raise NotImplementedError(
                    f"streaming MATCH_RECOGNIZE: PREV argument {aexpr!r} is "
                    f"outside the supported streaming subset: {exc}"
                ) from exc
        local = {}
        for _, refs, _expr in prev_evals:
            for col, n in refs:
                shifted = frame[col].shift(n)
                local[f"__prev_{n}_{col}"] = shifted
                # per-atom null mask (see _sql_bool_to_pandas): a comparison
                # with a null PREV operand is not satisfied, but other
                # disjuncts of the condition still count
                local[f"__prevok_{n}_{col}"] = shifted.notna()
        for v, refs, expr in prev_evals:
            try:
                res = frame.assign(**local).eval(expr, engine="python")
            except Exception as exc:  # noqa: BLE001
                raise NotImplementedError(
                    f"streaming MATCH_RECOGNIZE: DEFINE {v} condition "
                    f"{deferred[v]!r} is outside the supported PREV subset: {exc}"
                ) from exc
            frame[f"__mr_{v}"] = pd.Series(res, index=frame.index).fillna(False).astype(bool)
        return frame.iloc[nc:].reset_index(drop=True)

    def run_stream(key, pdfs, state):
        import pandas as pd

        new = [p for p in pdfs if len(p)]
        if state.exists:
            buf_bytes, mn = state.get
            buf, carry = _state_loads(bytes(buf_bytes))
            parts = ([buf] if buf is not None and len(buf) else []) + new
        else:
            mn = 0
            carry = None
            parts = new
        if not parts:
            if state.exists:
                state.remove()
            return

        def save(keep_df, carry_df, mn_val):
            state.update((bytearray(_state_dumps(keep_df, carry_df)), mn_val))

        rows = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms <= 0 and not state.hasTimedOut:
            # nothing can be mature yet (first micro-batch: the watermark
            # lags one batch) — just buffer, skip the sort/match entirely
            save(rows if list(rows.columns) == buf_cols else rows[buf_cols], carry, mn)
            if close_ms is not None:
                state.setTimeoutTimestamp(
                    int(pd.to_datetime(rows[ocol]).values.view("int64").max() // 1_000_000)
                    + close_ms
                )
            return
        ts_ms = pd.to_datetime(rows[ocol]).values.view("int64") // 1_000_000
        if state.hasTimedOut:
            # close_after elapsed with no new events: conclude open matches
            mature_mask = ts_ms <= ts_ms.max() if len(rows) else ts_ms <= 0
            require_closed = False
        else:
            mature_mask = ts_ms <= wm_ms
            require_closed = True
        mature = rows if mature_mask.all() else rows[mature_mask]
        if not _lex_sorted(mature, order_cols):
            mature = mature.sort_values(order_cols, kind="mergesort")
        mature = mature.reset_index(drop=True)
        immature = rows.iloc[0:0] if mature_mask.all() else rows[~mature_mask]
        if prev_evals:
            mature = eval_deferred(mature, carry)
        frame, nc = mature, 0
        if state_prev_n and carry is not None and len(carry):
            # read-only context: consumed predecessors the stateful prev()
            # helper must see (matches cannot start or land on them)
            frame = pd.concat([carry, mature], ignore_index=True)
            nc = len(carry)
        out_rows, emitted, keep_from, stop_at = _run_matches(
            frame, spec, measures, input_cols, out_names,
            match_num0=mn, require_closed=require_closed, stateful=stateful,
            start_at=nc,
        )
        if spec.within_ms is not None and require_closed and len(frame):
            # WITHIN bounds live state: scanned no-match rows whose whole
            # match window the watermark has passed are decided forever
            keep_from = _within_evict_to(
                pd.to_datetime(frame[ocol]).values.view("int64") // 1_000_000,
                wm_ms, spec.within_ms, keep_from, stop_at,
            )
        keep = pd.concat(
            [frame.iloc[keep_from:][buf_cols], immature[buf_cols]], ignore_index=True
        )
        if carry_keep:
            # consumed rows the next batch's shifts / prev() context still
            # need: the last carry_keep rows before the resume position
            consumed = frame.iloc[nc:keep_from][buf_cols]
            carry = (
                pd.concat([carry, consumed], ignore_index=True)
                if carry is not None and len(carry)
                else consumed
            ).tail(carry_keep).reset_index(drop=True)
        if len(keep):
            save(keep, carry, mn + emitted)
            if close_ms is not None:
                # event-time inactivity deadline; must be beyond the watermark
                deadline = int(pd.to_datetime(keep[ocol]).values.view("int64").max() // 1_000_000) + close_ms
                state.setTimeoutTimestamp(max(deadline, wm_ms + 1))
        elif carry_keep and carry is not None and len(carry):
            save(keep, carry, mn + emitted)
        else:
            state.remove()
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_names)

    from .shard_state import apply_keyed_state

    return apply_keyed_state(
        prepared,
        list(part_cols),
        run_stream,
        out_schema,
        "buf binary, mn long",
        "append",
        "event" if close_ms is not None else "none",
        shards=shards,
    )


# ------------------------------------------------------------ SQL integration

_MR_HEAD = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s+([`\w.]+)\s+MATCH_RECOGNIZE\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def sql_match_recognize(spark, sql: str, close_after: str | None = None) -> DataFrame | None:
    """Execute ``SELECT * FROM t MATCH_RECOGNIZE (...) [AS x] [ORDER BY/
    LIMIT ...]`` against registered tables; None when the statement is not a
    MATCH_RECOGNIZE query (caller falls through to Catalyst). Streaming
    tables route to ``match_recognize_stream``; ``close_after`` (the
    engine's 'match-recognize.close-after' session property) sets its idle
    conclusion deadline."""
    m = _MR_HEAD.search(sql)
    if m is None:
        return None
    start = m.end() - 1  # index of the opening paren
    end = match_bracket(sql, start)
    clause = sql[start + 1 : end]
    rest = sql[end + 1 :].strip().rstrip(";").strip()
    rest = re.sub(r"^AS\s+\w+", "", rest, flags=re.IGNORECASE).strip()
    src = spark.table(m.group(1))
    out = (
        match_recognize_stream(src, clause, close_after=close_after)
        if src.isStreaming
        else match_recognize(src, clause)
    )
    if rest:
        out.createOrReplaceTempView("__mr_result")
        return spark.sql(f"SELECT * FROM __mr_result {rest}")
    return out
