"""MRShare-style multi-aggregation merge — the work-sharing rewrite the
reference designed but could not make profitable.

Reference parity: ``MRShareOptimizer``
(SRV/optimizer/optimizers/MRShareOptimizer.scala:32-150) implements the
MRShare paper's greedy job-grouping (Nykiel et al., VLDB 2010): jobs
scanning the same file are merged into ONE job whose map output carries a
per-job tag, trading a single shared scan against inflated, tagged map
output; ``MRShareCM`` (costmodel/udcm/MRShareCM.scala) prices the trade
with the paper's sorting-pass formula (``computeSortingPasses``,
MRShareOptimizer.scala:44-46). The thesis measured the merged job SLOWER
than the caching rewrite on Spark 1.3.1 (report.pdf ch.5 Table 5.1) and
the strategy was dropped from the shipped pipeline — rounds 1-3 of this
build mirrored that as a documented drop (SURVEY.md §2 B8).

This module re-expresses the idea where modern Spark makes it a genuine
win. N single-table ``GROUP BY`` aggregation queries over the same
relation become ONE Catalyst plan:

- **identical grouping signature** (same table, same GROUP BY exprs;
  predicates and aggregates free to differ): merged plan = one scan +
  one partial/final hash aggregate. Per-query predicates fold into
  ``CASE WHEN (p) THEN expr END`` inside each aggregate, and a hidden
  ``count(CASE WHEN (p) THEN 1 END)`` presence counter restores exact
  per-query group membership at demux. Strictly less CLUSTER work than
  N scans + N shuffles (map output is NOT inflated — the regime where
  MRShare's GAIN is unconditionally positive); the per-batch fixed cost
  (collecting the merged aggregate, then the members' demux) is priced
  by the scheduler's byte-floor admission
  (BatchExecutor.mrshare_min_bytes — measured: merging tiny parquet
  scans LOST ~2x), not here.
- **differing signatures**: merged via ``GROUP BY GROUPING SETS``.
  Spark's Expand replicates every input row once per distinct grouping
  set BEFORE the shuffle — the exact map-output inflation MRShareCM
  prices. The cost model here is a hard bound: merge at most
  ``max_grouping_sets`` distinct sets (scan saving of N-1 jobs must
  amortize an Expand factor ≤ that bound; at 100 TB the scan is the
  dominant term for wide tables, so a small constant bound is the safe
  default). Demux filters on the deterministic ``grouping_id()`` of
  each query's set (bit k, MSB-first over the GROUP BY list, = 1 when
  expr k is aggregated away — verified empirically in
  tests/test_mrshare.py).

Parsing is deliberately conservative (prototype-parity with the
reference, which only ever merged WordCount-shaped jobs): the canonical
``SELECT keys+aggs FROM rel [WHERE p] GROUP BY keys [HAVING h]
[ORDER BY o] [LIMIT n]`` shape is merged, where ``rel`` is a single
table or — round-6 widening (VERDICT r5 ask #2) — an IDENTICAL chain
of plain inner joins of named tables (``fact JOIN dim ON …``, the
dashboard star shape; the reference grouped arbitrary same-input jobs,
MRShareOptimizer.scala:32-146). The join stays inside the merged
statement: one scan per base table feeds every member and AQE
broadcasts the dim sides as it would for any single member. Anything
else — outer joins, subqueries, window functions, expressions we
cannot alias stably — is DECLINED and runs unchanged on the normal
path. A declined merge costs nothing.

Presentation clauses (HAVING / ORDER BY / LIMIT — round-5 widening:
real dashboard aggregations virtually always carry one, and the
reference's own User1-3 scenario did, report.pdf ch.3.2.3) are
**demux-safe**: they filter/sort/cut the per-query RESULT, not the
shared aggregate, so they are stripped from the merged plan and
reapplied verbatim in the per-job demux query over the merged view.
HAVING aggregates not in the select list become hidden
predicate-folded columns of the merged aggregate; references to group
keys and select aliases are re-pointed at the view's columns. An
expression the rewriter cannot prove re-pointable declines the member
at PARSE time — by construction the demux build cannot fail late.

100 TB notes: the merged plan's aggregate is still partial+final
(map-side combine), the scan is read ONCE instead of N times (the whole
point at 100 TB), and the demux queries run against the merged
aggregate collected into a driver-local relation — the size of the
result set, not the input, and capped (scheduler.MAX_MERGED_ROWS;
over the cap the members run unmerged). Its view is dropped when the
merge's members finish (scheduler.py), so it cannot leak into the
CacheManager's budget.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

from sparksql_server_spark.server.model import QueryJob

AGG_FUNCS = ("sum", "count", "min", "max", "avg")

# statements containing these at top level are not mergeable shapes
# (HAVING/ORDER/LIMIT are parsed, not rejected — round-5 widening;
# JOIN is parsed, not rejected — round-6 widening: an identical chain
# of plain inner joins is a mergeable FROM shape)
_REJECT_TOP = (
    "union",
    "intersect",
    "except",
    "over",
    "qualify",
    "distribute",
    "cluster",
    "sort",
    "window",
    "lateral",
    "pivot",
    "unpivot",
)

_SIMPLE_IDENT = re.compile(r"^[A-Za-z_]\w*$")

# comment markers are UNMODELED by the canon lexer: whitespace
# collapsing can fuse `a - -1` toward `a --1`, whose `--…` Spark lexes
# as a line comment — a genuinely different statement. Any statement
# carrying a marker outside string literals declines semantic
# parsing/keying entirely (text keys preserve the spelling byte-wise,
# so comment-bearing spellings can never collide). Round-12 review,
# confirmed wrong-serve repro.
_COMMENT_MARKER = re.compile(r"--|/\*")


def _has_comment_marker(s: str, instr: list[bool]) -> bool:
    return any(
        not instr[m.start()] for m in _COMMENT_MARKER.finditer(s)
    )

# bare identifiers that are SQL syntax, not column references, inside a
# post-aggregation expression (HAVING predicate / ORDER BY item); any
# bare identifier NOT in this set, not a group key, not a select alias,
# and not a function name declines the merge — unknown means unsafe
_POST_KEYWORDS = frozenset(
    """and or not in between like ilike rlike regexp is null true false
    case when then else end asc desc nulls first last distinct escape
    div as int integer bigint smallint tinyint float real double
    decimal numeric string varchar char boolean date timestamp binary
    interval""".split()
)


def _scan(sql: str) -> tuple[list[int], list[bool]]:
    """Per-character (paren depth, inside-string) for top-level parsing.

    Quote toggling handles doubled-quote escapes naturally ('it''s'
    closes and reopens — every quoted char still flags as in-string).
    Backslash inside a single/double-quoted literal is a C-style escape
    (Spark's default lexer, ``escapedStringLiterals=false``): ``'don\\'t'``
    stays one literal, so clause keywords after it slice correctly
    (ADVICE r4 medium — without this the in-string state flipped and
    WHERE/GROUP BY decomposition could mis-locate). Backticks take no
    backslash escapes, matching Spark.
    """
    depth: list[int] = [0] * len(sql)
    instr: list[bool] = [False] * len(sql)
    d = 0
    q: Optional[str] = None
    esc = False
    for i, c in enumerate(sql):
        if q is not None:
            instr[i] = True
            if esc:
                esc = False
            elif q in "'\"" and c == "\\":
                esc = True
            elif c == q:
                q = None
            continue
        if c in "'\"`":
            q = c
            instr[i] = True
            continue
        if c == "(":
            d += 1
            depth[i] = d  # '(' itself counts as inside
            continue
        if c == ")":
            depth[i] = d
            d -= 1
            continue
        depth[i] = d
    return depth, instr


def _collapse_ws(text: str) -> str:
    """Collapse whitespace runs to single spaces OUTSIDE string
    literals; whitespace inside quotes is data and survives verbatim
    (``'a  b'`` must neither emit as ``'a b'`` nor share a signature
    with it)."""
    _, ins = _scan(text)
    out: list[str] = []
    i = 0
    while i < len(text):
        if text[i].isspace() and not ins[i]:
            while i < len(text) and text[i].isspace() and not ins[i]:
                i += 1
            out.append(" ")
        else:
            out.append(text[i])
            i += 1
    return "".join(out).strip()


def _sub_outside_strings(pattern: str, repl: str, text: str) -> str:
    """``re.sub(pattern, repl, text, flags=re.I)`` that skips matches
    starting inside string literals — keyword rewrites must never
    touch quoted data (``ON c = 'inner join'`` keeps its literal)."""
    _, ins = _scan(text)
    out: list[str] = []
    last = 0
    for m in re.finditer(pattern, text, flags=re.I):
        if ins[m.start()]:
            continue
        out.append(text[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(text[last:])
    return "".join(out)


def _canon(expr: str, *, fold: bool = True) -> str:
    """Comparison key for expression equality: case-folded OUTSIDE
    string literals (lowercasing inside quotes would wrongly equate
    ``= 'A'`` with ``= 'a'``), whitespace dropped except where it
    separates two word tokens (``substr(x, 1,2)`` ≡ ``SUBSTR(x,1, 2)``
    but ``a AND b`` keeps its separating spaces) — with whitespace
    INSIDE literals preserved byte-for-byte, so ``= 'a  b'`` never
    equates with ``= 'a b'``.

    ``fold=False`` keeps identifier case (whitespace handling
    unchanged) — for contexts where spelling case is OBSERVABLE, e.g.
    an unaliased select item's auto-generated column name (Spark
    derives it from the parse tree: whitespace-blind, case-faithful)."""
    _, instr = _scan(expr)
    folded = (
        expr
        if not fold
        else "".join(c if instr[i] else c.lower() for i, c in enumerate(expr))
    )
    collapsed = _collapse_ws(folded)
    _, ins2 = _scan(collapsed)
    out: list[str] = []
    for i, c in enumerate(collapsed):
        if c == " " and not ins2[i]:
            prev = out[-1] if out else ""
            nxt = collapsed[i + 1] if i + 1 < len(collapsed) else ""
            if not (re.match(r"\w", prev) and re.match(r"\w", nxt)):
                continue  # space not separating two word tokens — drop
        out.append(c)
    return "".join(out)


def _split_top(text: str, sep: str = ",") -> list[str]:
    depth, instr = _scan(text)
    parts: list[str] = []
    start = 0
    for i, c in enumerate(text):
        if c == sep and depth[i] == 0 and not instr[i]:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _find_top(sql: str, word: str, depth: list[int], instr: list[bool]):
    """First top-level, outside-string, whole-word match of ``word``."""
    for m in re.finditer(rf"\b{word}\b", sql, re.I):
        i = m.start()
        if not instr[i] and depth[i] == 0:
            return m
    return None


def _strip_qualifiers(text: str, names: list[str]) -> str:
    """Remove ``q.`` table/alias qualifiers (outside string literals):
    member expressions written against ``FROM lineitem l`` re-emit
    under the merged plain ``FROM lineitem``, where the alias no longer
    resolves — and unqualified references always do on a single-table
    shape. Also lets differently-aliased members share one signature.

    One lexer pass + one rebuild: matches are located against the
    ORIGINAL text's in-string map and excised together (re-running the
    scan after every deletion made this O(n²·matches) on long
    qualified IN-lists)."""
    pats = [
        re.compile(rf"\b{re.escape(nm)}\s*\.\s*", re.I) for nm in names if nm
    ]
    if not pats:
        return text
    _, instr = _scan(text)
    spans = sorted(
        (m.start(), m.end())
        for pat in pats
        for m in pat.finditer(text)
        if not instr[m.start()]
    )
    if not spans:
        return text
    out: list[str] = []
    last = 0
    for s0, e0 in spans:
        if s0 < last:
            continue  # overlap (alias prefix of table name) — first wins
        out.append(text[last:s0])
        last = e0
    out.append(text[last:])
    return "".join(out)


_JOIN_DISALLOWED = re.compile(
    r"\b(left|right|full|cross|outer|semi|anti|natural|values)\b", re.I
)

# -- ON-condition canonicalization (round 10, VERDICT r9 ask #1) -------------
#
# Round 9 made operand ORDER insensitive but left condition SPELLING
# load-bearing: ``ON a.x = b.x AND a.y = b.y`` and ``ON b.y = a.y AND
# b.x = a.x`` are logically identical (conjunction commutes; ``=`` is
# symmetric, including under NULLs), are exactly what ORM/BI generators
# vary, and declined to share. The reference grouped by input-source
# sets, text-blind (ScanSharing.scala:95-119). These helpers give every
# ON condition a canonical token set:
#
# - top-level AND conjuncts split (literal-, paren-, CASE- and
#   BETWEEN-aware: the AND inside ``x BETWEEN a AND b`` or inside a
#   top-level CASE arm is not a conjunction boundary);
# - a conjunct that is ONE top-level comparison whose operand sides are
#   free of precedence-ambiguous keywords normalizes: ``!=`` folds to
#   ``<>``, ``>``/``>=`` mirror to ``<``/``<=`` with operands swapped
#   (``a > b`` ≡ ``b < a``), and symmetric operators (``=``, ``<=>``,
#   ``<>``) sort their operand canons (``a = b`` ≡ ``b = a``);
# - a conjunct that is a PURE OR-chain of such comparisons — ``(a=b
#   OR c=d)``, or the bare whole-condition ``a=b OR c=d`` — sorts its
#   deduped disjunct canons into one set token (round 11, VERDICT r10
#   ask #4: OR commutes/associates/idempotes under 3VL); any other
#   depth-0 keyword in the chain body declines it;
# - anything else stays one opaque ``_canon`` token — e.g.
#   ``x = y OR z`` parses as ``(x = y) OR z`` while ``y OR z = x``
#   parses as ``y OR (z = x)``, so a keyword-bearing operand side must
#   never be sort-equated (the operand-side keyword guard is the
#   soundness line, same discipline as the literal-aware rewrites).
#
# Only the SIGNATURE consumes these tokens; emission stays the first
# member's normalized chain, whose spelling computes the same relation.

_CMP_OPS = re.compile(r"<=>|<=|>=|<>|!=|=|<|>")
# keywords that change how an operand side binds against the comparison
# (precedence), or that make "exactly one comparison" not mean "this is
# a simple binary comparison" — a side containing any of these keeps
# the whole conjunct opaque
_OPERAND_UNSAFE = re.compile(
    r"\b(or|and|not|between|in|like|ilike|rlike|regexp|is|case|when"
    r"|then|else|end|exists"
    # query-organization clause keywords (round-12 review wave,
    # confirmed wrong-merge repro): a fragment like ``p = 2 DISTRIBUTE
    # BY x`` must never normalize as a simple comparison — the clause
    # boundary scan could otherwise let clause text into a SORTED
    # conjunct set, where reordering equates different relations
    r"|distribute|sort|cluster|window|qualify)\b",
    re.I,
)


def _split_conjuncts(body: str) -> list[str]:
    """Top-level AND conjuncts of a predicate. The AND that closes a
    depth-0 ``BETWEEN`` and any AND inside a depth-0 ``CASE … END`` are
    part of their construct, never conjunction boundaries. Misreading a
    column that happens to be NAMED between/case merely SUPPRESSES a
    split (fewer shared signatures — safe); it can never create one.

    A body containing ANY depth-0 OR does not split at all (round-10
    review wave, confirmed wrong-merge repro): AND binds tighter than
    OR, so the fragments between top-level ANDs of ``p OR q AND r``
    are NOT conjuncts — sorting them equated ``a=b OR c=d AND e=f``
    with ``e=f AND a=b OR c=d``, which differ (``(a=b OR (c=d AND
    e=f))`` vs ``((e=f AND a=b) OR c=d)``). The whole body stays ONE
    conjunct; round 11's :func:`_norm_or_chain` then admits the pure
    OR-of-simple-comparisons case (no other depth-0 keyword — no
    AND/OR precedence mix can exist there), and everything else stays
    one opaque token. An OR inside a depth-0 CASE arm also suppresses
    the split: conservative, never unsound."""
    depth, instr = _scan(body)
    for m in re.finditer(r"\bor\b", body, re.I):
        if not instr[m.start()] and depth[m.start()] == 0:
            return [body.strip()] if body.strip() else []
    cuts: list[tuple[int, int]] = []
    case_d = 0
    between = 0
    for m in re.finditer(r"\b(and|between|case|end)\b", body, re.I):
        i = m.start()
        if instr[i] or depth[i] != 0:
            continue
        w = m.group(1).lower()
        if w == "case":
            case_d += 1
        elif w == "end":
            case_d = max(0, case_d - 1)
        elif w == "between":
            if case_d == 0:
                between += 1
        else:  # and
            if case_d > 0:
                continue
            if between > 0:
                between -= 1
                continue
            cuts.append((i, m.end()))
    parts: list[str] = []
    last = 0
    for s0, e0 in cuts:
        parts.append(body[last:s0])
        last = e0
    parts.append(body[last:])
    return [p.strip() for p in parts if p.strip()]


def _norm_simple_comparison(frag: str) -> Optional[str]:
    """Canonical text of ``frag`` when it is provably ONE simple binary
    comparison (exactly one depth-0 comparison operator, both operand
    sides free of precedence-ambiguous keywords), else None. ``!=``
    folds to ``<>``; ``>``/``>=`` mirror to ``<``/``<=`` with operands
    swapped; symmetric operators sort their operand canons. All three
    rewrites are exact under SQL three-valued logic (NULL operands
    yield UNKNOWN identically on both spellings)."""
    depth, instr = _scan(frag)
    ops = [
        m
        for m in _CMP_OPS.finditer(frag)
        if not instr[m.start()] and depth[m.start()] == 0
    ]
    if len(ops) != 1:
        return None
    m = ops[0]
    lhs, rhs = frag[: m.start()].strip(), frag[m.end() :].strip()
    if not lhs or not rhs:
        return None
    for side in (lhs, rhs):
        d2, i2 = _scan(side)
        for km in _OPERAND_UNSAFE.finditer(side):
            if not i2[km.start()] and d2[km.start()] == 0:
                return None
    op = m.group(0)
    if op == "!=":
        op = "<>"
    return _fmt_cmp(op, _canon(lhs), _canon(rhs))


def _fmt_cmp(op: str, lc: str, rc: str) -> str:
    """THE comparison-token formatter — symmetric ops sort their
    operand canons, ``>``/``>=`` mirror to ``<``/``<=`` with operands
    swapped. :func:`_norm_simple_comparison` and every structure-
    derived rewrite (IN → OR-of-equalities, BETWEEN → range pair,
    IS NOT DISTINCT FROM → ``<=>``) all emit through this one
    function, so their tokens byte-match by construction."""
    if op in ("=", "<=>", "<>") and rc < lc:
        lc, rc = rc, lc
    elif op == ">":
        op, lc, rc = "<", rc, lc
    elif op == ">=":
        op, lc, rc = "<=", rc, lc
    return f"{lc}{op}{rc}"


def _side_ok(side: str) -> bool:
    """Operand-side bar shared by the leaf normalizers: non-empty, no
    depth-0 comparison operator, no depth-0 precedence-ambiguous
    keyword (the :data:`_OPERAND_UNSAFE` set)."""
    if not side.strip():
        return False
    d, ins = _scan(side)
    for cm in _CMP_OPS.finditer(side):
        if not ins[cm.start()] and d[cm.start()] == 0:
            return False
    for km in _OPERAND_UNSAFE.finditer(side):
        if not ins[km.start()] and d[km.start()] == 0:
            return False
    return True


# IN-list items must be plain scalar expressions: any embedded query
# keyword (at ANY depth — a parenthesized subquery is depth ≥ 1)
# declines the whole list. Scalar subqueries are legal IN items in
# Spark, but their canon equality is a weaker claim than we make for
# plain expressions, so they stay on the opaque path.
_QUERY_KW = re.compile(r"\b(select|values|table|with|from)\b", re.I)


def _strip_trailing_not(side: str) -> tuple[str, bool]:
    m = re.search(r"\bnot\s*$", side, re.I)
    if m:
        return side[: m.start()].strip(), True
    return side.strip(), False


def _norm_in_list(s: str):
    """``<side> [NOT] IN (<item>, …)`` → the boolean structure SQL
    defines it as: an OR of equalities (NOT IN: the AND of ``<>`` by
    De Morgan — exact under three-valued logic, including the
    NULL-item cases, because NOT(UNKNOWN) = UNKNOWN). Items sort and
    dedup (OR commutes and is idempotent; members are gated
    deterministic by the plan_merges nondeterminism bar), a single
    item folds to the plain comparison token (``x IN (1)`` ≡
    ``x = 1`` — both UNKNOWN exactly when ``x`` is NULL), so IN
    spellings merge with spelled-out OR-chain members. Returns None
    (decline to opaque) for anything not provably that shape."""
    d, ins = _scan(s)
    for cm in _CMP_OPS.finditer(s):
        if not ins[cm.start()] and d[cm.start()] == 0:
            return None
    kws = [
        m
        for m in re.finditer(r"\bin\b", s, re.I)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    if len(kws) != 1:
        return None
    m = kws[0]
    lhs, neg = _strip_trailing_not(s[: m.start()])
    if not _side_ok(lhs):
        return None
    rhs = s[m.end() :].strip()
    # exactly ONE paren level unwraps — ``((1,2))`` must keep its
    # row-value item ``(1,2)`` intact (a full unwrap would equate
    # ``(a,b) IN ((1,2))`` with ``(a,b) IN ((2,1))`` via the item
    # split: different relations, same token)
    if not rhs.startswith("("):
        return None
    rd, rins = _scan(rhs)
    # _scan reports the INSIDE depth at both paren characters, so the
    # outer group's close is the first ')' at depth 1
    close = next(
        (
            i
            for i, c in enumerate(rhs)
            if c == ")" and rd[i] == 1 and not rins[i]
        ),
        None,
    )
    if close != len(rhs) - 1:
        return None
    items = _split_top(rhs[1:-1])
    if not items:
        return None
    for it in items:
        if not _side_ok(it):
            return None
        _, iins = _scan(it)
        for qm in _QUERY_KW.finditer(it):
            if not iins[qm.start()]:
                return None
    lc = _canon(lhs)
    op = "<>" if neg else "="
    toks = sorted({_fmt_cmp(op, lc, _canon(it)) for it in items})
    if len(toks) == 1:
        return toks[0]
    return ("and" if neg else "or", tuple(toks))


def _norm_between(s: str):
    """``<A> [NOT] BETWEEN <B> AND <C>`` → the range-conjunct pair the
    SQL standard defines it as (``A >= B AND A <= C``; NOT: the OR of
    violations by De Morgan, exact in 3VL), emitted through
    :func:`_fmt_cmp` so BETWEEN members merge with members that spell
    the range out. Asymmetry is preserved (``BETWEEN 5 AND 1`` keeps
    5 in the lower-bound token). None for anything else."""
    d, ins = _scan(s)
    kws = [
        m
        for m in re.finditer(r"\bbetween\b", s, re.I)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    if len(kws) != 1:
        return None
    m = kws[0]
    lhs, neg = _strip_trailing_not(s[: m.start()])
    m_and = next(
        (
            am
            for am in re.finditer(r"\band\b", s, re.I)
            if am.start() > m.end()
            and not ins[am.start()]
            and d[am.start()] == 0
        ),
        None,
    )
    if m_and is None:
        return None
    lo, hi = s[m.end() : m_and.start()], s[m_and.end() :]
    if not (_side_ok(lhs) and _side_ok(lo) and _side_ok(hi)):
        return None
    ac, bc, cc = _canon(lhs), _canon(lo), _canon(hi)
    if neg:
        toks = sorted({_fmt_cmp("<", ac, bc), _fmt_cmp(">", ac, cc)})
        return toks[0] if len(toks) == 1 else ("or", tuple(toks))
    toks = sorted({_fmt_cmp(">=", ac, bc), _fmt_cmp("<=", ac, cc)})
    return toks[0] if len(toks) == 1 else ("and", tuple(toks))


def _norm_is_null(s: str):
    """``<side> IS [NOT] NULL`` admits as a leaf (no restructuring —
    the gain is tree membership, e.g. ``x IS NULL OR x = 1`` merging
    with its disjunct swap). The token is the fragment's plain
    :func:`_canon`, i.e. byte-identical to what the opaque path
    produces for the same predicate text — no new collision surface."""
    d, ins = _scan(s)
    kws = [
        m
        for m in re.finditer(r"\bis\b", s, re.I)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    if len(kws) != 1:
        return None
    m = kws[0]
    if not re.fullmatch(r"(not\s+)?null", s[m.end() :].strip(), re.I):
        return None
    if not _side_ok(s[: m.start()]):
        return None
    return _canon(s)


_IS_DISTINCT = re.compile(r"\bis\s+(not\s+)?distinct\s+from\b", re.I)


def _norm_is_distinct(s: str):
    """``A IS [NOT] DISTINCT FROM B``: the NOT form is exactly Spark's
    null-safe equality (the parser itself rewrites it to ``<=>``), so
    it emits the SAME token as an ``A <=> B`` spelling; the positive
    form is its negation — symmetric, never UNKNOWN — and gets its own
    operand-sorted token. Symmetry soundness: ``<=>`` is symmetric and
    NOT preserves that, so operand order is spelling, not semantics."""
    d, ins = _scan(s)
    kws = [
        m
        for m in _IS_DISTINCT.finditer(s)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    if len(kws) != 1:
        return None
    m = kws[0]
    lhs, rhs = s[: m.start()], s[m.end() :]
    if not (_side_ok(lhs) and _side_ok(rhs)):
        return None
    lc, rc = _canon(lhs), _canon(rhs)
    if m.group(1):  # IS NOT DISTINCT FROM ≡ <=>
        return _fmt_cmp("<=>", lc, rc)
    if rc < lc:
        lc, rc = rc, lc
    return f"{lc} is distinct from {rc}"


_LIKE_KW = re.compile(r"\b(like|ilike|rlike|regexp)\b", re.I)


def _norm_like(s: str):
    """``<side> [NOT] LIKE/ILIKE/RLIKE/REGEXP <pattern> [ESCAPE e]``
    admits as a leaf — a complete boolean term whose token is the
    plain :func:`_canon` (same formatting as the opaque path). Both
    sides pass the operand bar; the pattern side may carry an ESCAPE
    clause (``escape`` is not precedence-ambiguous)."""
    d, ins = _scan(s)
    kws = [
        m
        for m in _LIKE_KW.finditer(s)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    if len(kws) != 1:
        return None
    m = kws[0]
    lhs, _neg = _strip_trailing_not(s[: m.start()])
    if not (_side_ok(lhs) and _side_ok(s[m.end() :])):
        return None
    return _canon(s)


def _norm_leaf(s: str):
    """A provably-complete boolean term: a simple binary comparison
    (round 10), an IN-list, a BETWEEN range, an IS [NOT] DISTINCT FROM
    test, an IS [NOT] NULL test, or a LIKE-family predicate (round 12).
    Returns a token string, a nested ('and'|'or', …) structure, or
    None (opaque)."""
    r = _norm_simple_comparison(s)
    if r is not None:
        return r
    return (
        _norm_in_list(s)
        or _norm_between(s)
        or _norm_is_distinct(s)
        or _norm_is_null(s)
        or _norm_like(s)
    )


def _unwrap_full_parens(s: str) -> str:
    """Strip full-width paren groups — ``((a=b OR c=d))`` → ``a=b OR
    c=d``. Parenthesizing a whole boolean term is a no-op, so the
    unwrap is exact; only a group whose matching close paren is the
    final character unwraps (literal-aware)."""
    while s.startswith("("):
        _, ins = _scan(s)
        d = 0
        full = False
        for i, c in enumerate(s):
            if ins[i]:
                continue
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d == 0:
                    full = i == len(s) - 1
                    break
        if not full:
            return s
        s = s[1:-1].strip()
    return s


def _norm_bool_tree(frag: str, _depth: int = 0):
    """Canonical nested structure for a boolean combination — honoring
    SQL precedence (OR binds loosest, then AND, parens group) — of
    simple binary comparisons, or None when any leaf is not provably
    one (round 12, VERDICT r11 ask #3; generalizes round 11's pure
    OR-chains to arbitrary AND/OR trees, so ``a=b AND c=d OR e=f``
    merges with ``e=f OR c=d AND a=b``).

    Returns a leaf canon string, or ``('or'|'and', <sorted deduped
    children>)`` nested tuples. Soundness: AND and OR each commute,
    associate, and are idempotent under three-valued logic, so at each
    node the child SET determines the relation; same-operator children
    flatten (associativity), duplicates drop (idempotence), and a
    singleton collapses to its child. No distribution/absorption is
    applied — logically-equal but structurally-different spellings may
    still decline, which merely narrows sharing.

    Precedence safety: the split order IS the SQL grammar's — depth-0
    ORs cut first (their fragments are the disjuncts), then depth-0
    ANDs within each disjunct. The AND split tracks BETWEEN (round 12:
    the AND that closes a depth-0 BETWEEN is part of the construct, so
    the range predicate reaches the leaf normalizer whole); CASE is
    untracked but cannot mis-normalize: an AND/OR cut inside a CASE
    arm always leaves the construct keyword (``case``/``when``…) or a
    bare operand fragment in SOME piece, and every piece must bottom
    out in :func:`_norm_leaf` — whose complete-boolean-term bar
    (single comparison / IN / BETWEEN / IS NULL / IS DISTINCT / LIKE,
    keyword-free operand sides) then declines the WHOLE tree (opaque
    canon, never a wrong token). A column literally NAMED ``between``
    merely suppresses a cut and declines the same way. A leading NOT
    on a leaf is never normalized (a depth-0 ``not`` fails the leaf
    bar); the NOT IN / NOT BETWEEN / IS NOT forms are handled inside
    their leaf grammars.

    The repr'd tree cannot collide with an opaque ``_canon`` token:
    for a condition's canon to equal a tree repr the member would have
    to write a parenthesized single-quoted comma list as a boolean
    term, which fails standalone analysis (a row-constructor is not
    boolean-typed), and members reaching plan_merges were already
    analyzed standalone (scheduler.py run_batch → analyze)."""
    if _depth > 64:
        # pathological-nesting backstop (round-12 review wave): a
        # ~1000-deep paren chain would otherwise raise RecursionError
        # out of plan_merges and kill the whole batch; returning None
        # falls back to the opaque canon, which merely narrows sharing
        return None
    s = _unwrap_full_parens(frag.strip())
    if not s:
        return None
    d2, i2 = _scan(s)
    for op in ("or", "and"):
        if op == "and":
            # the AND that closes a depth-0 BETWEEN is part of the
            # construct, not a conjunction boundary (round 12) — so
            # ``x BETWEEN 1 AND 5`` survives to the leaf normalizer
            # intact. Unlike _split_conjuncts this scan does NOT track
            # CASE depth: a CASE-arm AND may be cut or a CASE-internal
            # BETWEEN may swallow the construct's own AND, but every
            # such fragment carries a case/when/then keyword and fails
            # the leaf bar, declining the whole tree — mis-cuts only
            # ever narrow. Misreading a column NAMED between likewise
            # merely suppresses a cut and declines.
            cuts = []
            between = 0
            for m in re.finditer(r"\b(and|between)\b", s, re.I):
                if i2[m.start()] or d2[m.start()] != 0:
                    continue
                if m.group(1).lower() == "between":
                    between += 1
                elif between > 0:
                    between -= 1
                else:
                    cuts.append(m)
        else:
            cuts = [
                m
                for m in re.finditer(rf"\b{op}\b", s, re.I)
                if not i2[m.start()] and d2[m.start()] == 0
            ]
        if not cuts:
            continue
        frags: list[str] = []
        last = 0
        for m in cuts:
            frags.append(s[last : m.start()])
            last = m.end()
        frags.append(s[last:])
        children: dict[tuple, object] = {}
        for f in frags:
            child = _norm_bool_tree(f, _depth + 1)
            if child is None:
                return None
            # flatten same-operator children (associativity)
            grand = (
                child[1]
                if isinstance(child, tuple) and child[0] == op
                else (child,)
            )
            for g in grand:
                key = (0, g) if isinstance(g, str) else (1, repr(g))
                children[key] = g
        kids = tuple(children[k] for k in sorted(children))
        if len(kids) == 1:
            return kids[0]
        return (op, kids)
    return _norm_leaf(s)


def _norm_conjunct(conj: str) -> str:
    """Canonical token for one conjunct (see the block comment above):
    normalized when provably a simple binary comparison or an AND/OR
    tree of such comparisons (round 12), else the opaque ``_canon``
    text. Pure OR-chains keep their round-11 token byte-for-byte
    (string children sort plainly, so ``repr(('or', (...)))`` is
    unchanged)."""
    tree = _norm_bool_tree(conj)
    if tree is not None:
        return tree if isinstance(tree, str) else repr(tree)
    return _canon(conj)


def _cond_tokens(cond: str, using_cols: Optional[str]) -> tuple[str, ...]:
    """Canonical token tuple for one join condition. USING lists sort
    (``USING (a, b)`` ≡ ``USING (b, a)``: the condition is a SET of
    column equalities, and members are explicit-item aggregations, so
    output-column ORDER — the only thing the spelling changes — is
    unobservable); the ``using:`` prefix keeps USING tokens disjoint
    from any ON conjunct canon, so ON members still never merge with
    USING members.

    A conjunct that normalizes to a top-level AND tree splices its
    children as separate tokens (round 12): the caller pools conjuncts
    set-wise (σ conjunction), so ``ON (a=b AND c=d)`` tokens-equal
    ``ON a=b AND c=d`` — the paren spelling previously normalized to
    ONE composite token and declined against the split spelling.

    A literal ``TRUE`` conjunct drops (round 12): ``TRUE AND k ≡ k``
    exactly under 3VL for every join type (condition-expression
    identity, not a σ-placement argument), so ``ON TRUE`` yields an
    empty token set — which is precisely how the CROSS fold and the
    comma-FROM rewrite's ``ON TRUE`` filler steps signature-match
    their explicit-join spellings."""
    if using_cols is not None:
        cols = sorted(c.strip().lower() for c in using_cols.split(","))
        return ("using:" + ",".join(cols),)
    body = re.sub(r"^on\s+", "", cond.strip(), count=1, flags=re.I)
    toks: list[str] = []
    for c in _split_conjuncts(body):
        tree = _norm_bool_tree(c)
        if tree is None:
            toks.append(_canon(c))
        elif isinstance(tree, tuple) and tree[0] == "and":
            toks.extend(ch if isinstance(ch, str) else repr(ch) for ch in tree[1])
        else:
            toks.append(tree if isinstance(tree, str) else repr(tree))
    return tuple(t for t in toks if t != "true")


_MAX_DERIVED_NEST = 64


def _inner_select_sig(inner: str, nest: int) -> str:
    """Signature text for a derived table's inner SELECT (round 10,
    VERDICT r9 ask #2). When the inner FROM is an admissible join
    chain, the signature decomposes structurally — canon of the
    select-list head, the chain's ORDER- and CONDITION-SPELLING-
    insensitive signature from :func:`_parse_join_from`, canon of the
    trailing clauses — so ``FROM (SELECT … FROM a JOIN b ON …) t``
    members whose inner joins differ only in spelling share one
    signature (the most common dashboard wrapper shape; previously
    inner text had to match byte-for-byte modulo case/whitespace).
    Anything else falls back to the opaque ``_canon(inner)`` exactly
    as before — a fallback merely narrows sharing, never admits more.

    Soundness: signature equality ⇒ canon-equal select lists (same
    output columns, same expressions), join-chain signatures denoting
    the same relation (the r9/r10 segment arguments), and canon-equal
    trailing clauses — so the inner RELATIONS are identical and any
    member's inner text may be the one evaluated. ``nest`` bounds the
    structure-aware recursion (``_parse_join_from`` can re-enter
    through derived join operands, and this function re-enters through
    a single-derived-table inner FROM): round 11 (VERDICT r10 ask #5)
    admitted two structural levels; round 12 (VERDICT r11 ask #4)
    recurses until a non-signaturable construct appears — each level
    strictly consumes one layer of the input's parens, so work is
    bounded by input length times the cap, and ``_MAX_DERIVED_NEST``
    (64) is a pathological-input backstop far above any BI-generated
    wrapper depth, not a sharing policy; beyond it, opaque-canon
    exact-text sharing still applies. The soundness argument composes
    level-wise (each level's signature equality ⇒ identical relation
    at that level, by the same head/chain/tail argument), and the
    bare-star, LIMIT/OFFSET/FETCH, and set-operator declines below
    apply at EVERY level this function visits. The composed signature is ``repr`` of a
    tuple — structurally injective, no crafted inner text can spoof
    the head/chain/tail boundaries."""
    if nest > _MAX_DERIVED_NEST:
        return _canon(inner)
    s = inner.strip()
    if not re.match(r"select\b", s, re.I):
        return _canon(inner)
    depth, instr = _scan(s)
    # a depth-0 SET OPERATOR anywhere in the inner text declines
    # structural sharing outright (round 12, ADVICE r11 high): UNION/
    # INTERSECT/EXCEPT pair the two arms' select lists POSITIONALLY, so
    # a bare-star head whose column order the chain signature erases
    # feeds the set operator differently per operand spelling — the
    # round-10 wrong-merge class resurfacing through set operators.
    # Declining for EVERY head shape (not just bare stars) also closes
    # the keyword-swallowing vectors where the set-op arm lands inside
    # what this parser reads as the ON condition or the trailing
    # clauses (``… ON k UNION TABLE t``, ``WHERE p UNION VALUES (1)``)
    # — an opaque canon-equal token there would otherwise let operand
    # permutations share a signature around a construct this grammar
    # never modeled. Byte-canon-equal spellings still share (same text
    # → same plan → same relation), the pre-structural bar.
    for sm in re.finditer(r"\b(?:union|intersect|except|minus)\b", s, re.I):
        if not instr[sm.start()] and depth[sm.start()] == 0:
            return _canon(inner)
    m_from = _find_top(s, "from", depth, instr)
    if m_from is None:
        return _canon(inner)
    end = len(s)
    for kw in (
        "where", "group", "having", "order", "limit", "offset", "fetch",
        # query-organization clauses (round-12 review wave): without
        # these, ``… ON k SORT BY x AND a=1`` keeps the SORT text
        # inside the parsed join condition, where the conjunct split
        # reads ``a=1`` as a filter it is not
        "distribute", "sort", "cluster", "window", "qualify",
    ):
        m = _find_top(s, kw, depth, instr)
        if m is not None and m_from.end() <= m.start() < end:
            end = m.start()
    head = s[: m_from.start()]
    # a depth-0 LIMIT in the trailing clauses declines STRUCTURAL
    # sharing (round-11 review wave): LIMIT without a total order picks
    # plan-dependent rows, and the structural signature deliberately
    # admits members whose join-operand ORDER differs — different
    # plans, so the merged evaluation (the first member's spelling)
    # can feed a member a different row subset than its standalone run
    # would produce. Even ORDER BY + LIMIT is only total modulo ties.
    # Byte-canon-equal spellings still share (same text → same plan →
    # same subset), which is the pre-structural bar. OFFSET and FETCH
    # (round 12, ADVICE r11 medium) select a plan-dependent row subset
    # exactly like LIMIT — ``ORDER BY x OFFSET 10`` without a total
    # order drops different rows per plan — so they decline too.
    tail = s[end:]
    td, ti = _scan(tail)
    for lm in re.finditer(r"\b(?:limit|offset|fetch)\b", tail, re.I):
        if not ti[lm.start()] and td[lm.start()] == 0:
            return _canon(inner)
    # a BARE star in the select head (round-10 review wave, confirmed
    # wrong-merge repro): ``*`` expands in JOIN-OPERAND ORDER, which
    # the chain signature deliberately erases — two members differing
    # only in operand order then expose different COLUMN ORDERS.
    # Round 11 re-admits the common ``SELECT * FROM a JOIN b ON …``
    # wrapper by declining only where column ORDER is OBSERVABLE:
    # a depth-0 ordinal item in the trailing GROUP BY / ORDER BY
    # (resolves by select-list POSITION — ``GROUP BY 1`` groups a
    # different column per operand order), or a depth-0 LIMIT (already
    # declined above for every head). Absent those, the star-expanded
    # column SET is invariant under every equivalence the chain
    # signature admits — inner segments permute (set-union of operand
    # columns), RIGHT→LEFT mirrors preserve the set and the USING
    # null-extension side, semi/anti keep their fixed left side — and
    # all outer references resolve by NAME (members with explicit
    # select heads; a duplicate name exposed by ``*`` that a member
    # references errors in that member's STANDALONE analysis, which
    # runs before any merge — scheduler.run_batch → analyze). A
    # multiplication that merely looks like a bare star (depth-0 ``*``
    # not preceded by ``.``) is indistinguishable here and shares the
    # same (sound) treatment: its canon is part of the head signature
    # either way.
    for sm in re.finditer(r"\*", head):
        i = sm.start()
        if instr[i] or depth[i] != 0:
            continue
        j = i - 1
        while j >= 0 and head[j].isspace():
            j -= 1
        if j < 0 or head[j] != ".":
            if _tail_has_ordinal(tail):
                return _canon(inner)
            break
    from_text = s[m_from.end() : end].strip()
    pj = _parse_join_from(from_text, _nest=nest)
    if pj is not None:
        return repr(("dsel", _canon(head), pj[0], _tail_sig(s[end:])))
    # round 11 (VERDICT r10 ask #5): an inner FROM that is ITSELF a
    # single derived table — ``FROM (SELECT …) [AS] u`` with nothing
    # after the alias — recurses one structural level (nest-bounded
    # above). The nested alias is PART of the signature: the outer
    # head/tail may reference it qualified, so members must spell it
    # identically (conservative — a rename merely declines). The
    # nondeterminism bar is already enforced: every path into this
    # function ran ``cacheable_sql`` over the FULL outer inner text,
    # which lexically contains this nested text.
    dt = _parse_single_derived(from_text)
    if dt is None:
        return _canon(inner)
    nested_inner, alias = dt
    return repr(
        (
            "dsel",
            _canon(head),
            ("dtab", _inner_select_sig(nested_inner, nest + 1), alias),
            _tail_sig(s[end:]),
        )
    )


def _tail_sig(tail: str) -> str:
    """Signature for a derived inner's trailing clauses (round 12): the
    WHERE clause's top-level conjuncts sort with the full comparison /
    boolean-tree normalization — σ conjunction commutes, so
    ``WHERE qty >= 5 AND disc > 0.01`` denotes the same relation as
    ``WHERE 0.01 < disc AND qty >= 5`` — while everything after the
    WHERE body (GROUP BY / HAVING / ORDER BY) stays one opaque canon.
    Soundness: the token is ``repr(('where', <sorted conjunct set>,
    <rest canon>))`` — equality requires the same σ conjunct SET (each
    token relation-faithful by the _cond_tokens arguments) and
    byte-canon-equal remaining clauses, so the composed relations are
    identical. A stray depth-0 clause keyword inside the WHERE body
    (a column named ``group``…) merely shifts text from the conjunct
    set into the opaque rest — both sides of the repr — which can only
    NARROW sharing, never equate different relations."""
    t = tail.strip()
    if not t:
        return _canon(tail)
    if re.match(r"where\b", t, re.I):
        depth, instr = _scan(t)
        end = len(t)
        for kw in (
            "group", "having", "order", "limit", "offset", "fetch",
            "distribute", "sort", "cluster", "window", "qualify",
        ):
            m = _find_top(t, kw, depth, instr)
            if m is not None and 0 < m.start() < end:
                end = m.start()
        body = t[len("where"):end].strip()
        rest = t[end:]
        toks = tuple(sorted(set(_cond_tokens(body, None)))) if body else ()
    else:
        toks, rest = (), t
    # a HAVING clause's conjuncts sort the same way: HAVING is σ over
    # the grouped relation, and conjunction commutes there exactly as
    # in WHERE. The clauses around it stay opaque canons; the 5-tuple
    # shape cannot collide with the 3-tuple no-HAVING shape.
    d2, i2 = _scan(rest)
    mh = _find_top(rest, "having", d2, i2)
    if mh is None:
        return repr(("where", toks, _canon(rest)))
    hend = len(rest)
    for kw in (
        "order", "limit", "offset", "fetch",
        "distribute", "sort", "cluster", "window", "qualify",
    ):
        m = _find_top(rest, kw, d2, i2)
        if m is not None and mh.end() <= m.start() < hend:
            hend = m.start()
    hbody = rest[mh.end():hend].strip()
    htoks = tuple(sorted(set(_cond_tokens(hbody, None)))) if hbody else ()
    return repr(
        (
            "where",
            toks,
            _canon(rest[: mh.start()]),
            ("having", htoks),
            _canon(rest[hend:]),
        )
    )


def _tail_has_ordinal(tail: str) -> bool:
    """True when a depth-0 GROUP BY or ORDER BY item in ``tail`` is a
    bare integer — an ORDINAL, which resolves by select-list POSITION
    and therefore observes the column order a bare-star head exposes
    (see the round-11 comment in :func:`_inner_select_sig`). Items are
    comma-split at depth 0 with ASC/DESC/NULLS FIRST|LAST direction
    words stripped; an integer inside parens or a string literal is a
    constant, not an ordinal. Misreading a non-ordinal as one merely
    DECLINES sharing — safe direction."""
    d, ins = _scan(tail)
    clauses = [
        m
        for m in re.finditer(r"\b(?:group|order)\s+by\b", tail, re.I)
        if not ins[m.start()] and d[m.start()] == 0
    ]
    bounds = [
        m.start()
        for m in re.finditer(
            r"\b(?:group\s+by|order\s+by|having|limit|window)\b", tail, re.I
        )
        if not ins[m.start()] and d[m.start()] == 0
    ]
    for cm in clauses:
        end = min(
            (b for b in bounds if b > cm.start()), default=len(tail)
        )
        for item in _split_top(tail[cm.end() : end]):
            it = re.sub(
                r"\b(?:asc|desc|nulls\s+first|nulls\s+last)\b",
                "",
                item,
                flags=re.I,
            ).strip()
            if re.fullmatch(r"\d+", it):
                return True
    return False


def _parse_single_derived(from_text: str) -> Optional[tuple[str, str]]:
    """``(inner_select_text, alias_lower)`` when ``from_text`` is
    exactly one parenthesized SELECT with at most an ``[AS] alias``
    after the close paren (alias '' when absent — Spark and DuckDB
    both accept an unaliased subquery in FROM), else None. Shared by
    :func:`_inner_select_sig`'s round-11 recursion; the paren walk is
    the same literal-aware full-width match every other derived parse
    uses."""
    t = from_text.strip()
    if not t.startswith("("):
        return None
    _, ins = _scan(t)
    d = 0
    close = -1
    for i, c in enumerate(t):
        if ins[i]:
            continue
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
            if d == 0:
                close = i
                break
    if close < 0:
        return None
    inner = t[1:close].strip()
    if not re.match(r"select\b", inner, re.I):
        return None
    tail = t[close + 1 :].strip()
    alias = ""
    if tail:
        m = re.fullmatch(r"(?:as\s+)?([A-Za-z_]\w*)", tail, re.I)
        if not m:
            return None  # a JOIN, comma, or junk after the alias declines
        alias = m.group(1).lower()
        if alias in ("on", "using", "as"):
            return None
    return inner, alias


def _parse_derived_from(from_text: str) -> Optional[tuple[str, str, Optional[str]]]:
    """``(signature_key, emit_from_text, alias)`` for a single-level
    derived-table FROM member ``(SELECT …) [AS] t``, or None.

    Round-9 widening (VERDICT r8 ask #2): dashboard generators wrap
    queries in ``FROM (SELECT …) t`` constantly; members whose inner
    text is identical modulo case/whitespace (the same literal-aware
    ``_canon`` every other clause uses) share a signature, so the
    derived relation is EVALUATED ONCE and feeds every member — at
    100 TB the subquery's scan+shuffle is the dominant term, so this
    is the same N→1 saving as the bare-table merge. The inner text is
    deliberately OPAQUE (one signature token, re-emitted verbatim
    inside parens): its joins, unions, or window functions run inside
    the derived table exactly as standalone, while the outer
    key/aggregate/presentation machinery is source-agnostic. The
    alias, like a single-table alias, is stripped from member
    expressions and excluded from the signature (the derived table is
    the only FROM member, so unqualified references resolve uniquely).

    Declines: a derived table joined to anything (the matching close
    paren must be followed by at most an alias), inner text that is
    not a SELECT, and nondeterministic inner text (``rand()``/
    ``current_timestamp``/… — one shared evaluation would observably
    differ from N independent ones; same bar as the result cache,
    results.cacheable_sql)."""
    if not from_text.startswith("("):
        return None
    _, instr = _scan(from_text)
    d = 0
    close = -1
    for i, c in enumerate(from_text):
        if instr[i]:
            continue
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
            if d == 0:
                close = i
                break
    if close < 0:
        return None
    inner = from_text[1:close].strip()
    tail = from_text[close + 1 :].strip()
    alias: Optional[str] = None
    if tail:
        m = re.fullmatch(r"(?:as\s+)?([A-Za-z_]\w*)", tail, re.I)
        if not m:
            return None  # anything after the alias (a JOIN, a comma) declines
        alias = m.group(1)
    if not re.match(r"select\b", inner, re.I):
        return None
    from sparksql_server_spark.server.results import cacheable_sql

    if not cacheable_sql(inner):
        return None
    emit = f"({inner}) {alias}" if alias else f"({inner})"
    return "derived:" + _inner_select_sig(inner, 1), emit, alias

# a bare relation operand: ``table [AS] [alias]`` — shared by the FROM
# single-table check, the chain head, and CROSS operands so a future
# widening (schema-qualified or backticked names) cannot silently
# diverge between the three admission points
_BARE_TABLE = re.compile(r"([A-Za-z_]\w*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?", re.I)

# a pure column reference (optionally qualified) — the operand shape a
# WHERE equi-conjunct must have on BOTH sides to migrate into a
# comma-FROM rewrite's join condition
_COL_REF = re.compile(r"^[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?$")


def _is_equi_col_conjunct(frag: str) -> bool:
    """True when ``frag`` is exactly one depth-0 ``=`` comparison whose
    both sides are pure column references — the join-predicate shape
    the comma-FROM rewrite migrates from WHERE into the chain."""
    depth, instr = _scan(frag)
    ops = [
        m
        for m in _CMP_OPS.finditer(frag)
        if not instr[m.start()] and depth[m.start()] == 0
    ]
    if len(ops) != 1 or ops[0].group(0) != "=":
        return False
    lhs = frag[: ops[0].start()].strip()
    rhs = frag[ops[0].end() :].strip()
    return bool(_COL_REF.match(lhs) and _COL_REF.match(rhs))


def _normalize_comma_from(
    from_text: str, where_text: Optional[str]
) -> Optional[tuple[str, Optional[str]]]:
    """``(join_from_text, remaining_where_text)`` for a comma-FROM of
    bare tables — ``FROM a, b[, …] WHERE …`` — else None (round 12,
    VERDICT r11 ask #6; reference parity: the reference shared by
    input-source SETS, text-blind — ScanSharing.scala:95-119 — so its
    sharing never saw spelling at all). The implicit products become
    an explicit inner chain, and WHERE equi-conjuncts between pure
    column refs migrate into the final step's ON clause:

        FROM customer, orders WHERE c_custkey = o_custkey AND p
        → FROM customer JOIN orders ON c_custkey = o_custkey WHERE p

    Soundness: the chain is ALL-INNER by construction, and for inner
    joins σ conjuncts move freely between WHERE and ON — the relation
    is σ_{∧all}(× tables) either way (the same identity the r9 segment
    signature rests on). Scope is safe because only the LAST join step
    carries conditions (every table is in scope there); earlier steps
    get ``ON TRUE``, whose token drops from the signature (TRUE∧k≡k),
    so the rewrite signature-matches the explicit-join spelling with
    the same predicate set — and the emitted chain is real SQL whose
    inner-join conditions Catalyst pushes/reorders exactly as it would
    the explicit spelling. Classification is purely syntactic (one
    depth-0 ``=`` between column refs), so two members spelling the
    same predicates classify identically; a same-table col=col filter
    also migrates, which only changes WHICH clause carries it — not
    the relation. Declines (→ caller keeps the original text, which
    ``_parse_join_from`` then declines on the comma): any non-bare-
    table operand, any explicit JOIN keyword mixed in, fewer than two
    operands. A WHERE with a depth-0 OR keeps ALL conjuncts in place
    (``_split_conjuncts`` refuses to split there — the fragments are
    not conjuncts), producing a pure CROSS chain."""
    depth, instr = _scan(from_text)
    if not any(
        c == "," and depth[i] == 0 and not instr[i]
        for i, c in enumerate(from_text)
    ):
        return None
    for m in re.finditer(r"\bjoin\b", from_text, re.I):
        if not instr[m.start()]:
            return None  # mixed comma + explicit JOIN — decline
    parts = [p.strip() for p in _split_top(from_text)]
    if len(parts) < 2 or not all(_BARE_TABLE.fullmatch(p) for p in parts):
        return None
    moved: list[str] = []
    kept: list[str] = []
    if where_text and where_text.strip():
        for c in _split_conjuncts(where_text):
            (moved if _is_equi_col_conjunct(c) else kept).append(c.strip())
    if moved:
        chain = parts[0]
        for p in parts[1:-1]:
            chain += f" JOIN {p} ON TRUE"
        chain += f" JOIN {parts[-1]} ON " + " AND ".join(moved)
    else:
        chain = parts[0]
        for p in parts[1:]:
            chain += f" CROSS JOIN {p}"
    return chain, (" AND ".join(kept) if kept else None)


def _parse_join_from(
    from_text: str,
    _nest: int = 0,
    schema_fn=None,
) -> Optional[tuple[str, str]]:
    """``(signature, emit_text)`` of an inner/LEFT-join FROM chain, or
    None. ``emit_text`` is the normalized chain the merged statement
    re-emits — identical to the member text except for the RIGHT-join
    rewrite below, so normalized members share both signature and
    emission.

    Round-6 widening (VERDICT r5 ask #2; reference parity:
    MRShareOptimizer.scala:32-146 grouped ARBITRARY same-input jobs):
    ``fact [AS f] JOIN dim [AS d] ON cond [JOIN dim2 ... ON ...]`` —
    joins of simple named tables only. Round-7 (VERDICT r6 ask #5)
    additionally admits ``LEFT [OUTER] JOIN`` steps: dashboard SQL
    generators emit LEFT JOIN star chains by default, and since every
    member must write the IDENTICAL chain, the shared relation —
    including its null-extended rows — is the same for all members,
    so the CASE-fold of per-member WHERE predicates over one
    evaluation is exactly as sound as for inner joins. The join TYPE
    is part of the signature (``left_join`` vs ``join`` tokens), so
    an inner-join member never merges with a left-join member.

    Round-8 widening (VERDICT r7 ask #3), the two shapes SQL
    generators still emitted that declined:

    - ``<prefix> RIGHT [OUTER] JOIN B <cond>`` normalizes to
      ``B LEFT JOIN (<prefix>) <cond>`` at ANY chain position — pure
      syntax by left-associativity (exact for ON and USING conditions
      alike, including which side the USING column null-extends
      from): the parenthesized joined-table operand is plain SQL (no
      subquery, no alias, every qualifier still resolves — verified
      row-identical on Spark and DuckDB), so RIGHT-spelled members
      merge with each other at any depth, and TWO-TABLE RIGHT members
      additionally merge with the mirrored plain-LEFT members. (A
      member that itself WRITES a parenthesized operand still
      declines — the grammar's operands stay bare tables — so deeper
      mirrors only meet via the RIGHT spelling. Round 8 swapped only
      the two-table case, which stays byte-identical — a bare-table
      prefix takes no parens.)
    - ``USING (k, ...)`` conditions are admitted natively: the USING
      text joins the signature and is re-emitted verbatim, so member
      references to the coalesced bare column resolve in the merged
      statement exactly as they did standalone. (Rewriting USING to
      ON would BREAK those references — both sides then expose the
      column and the unqualified name turns ambiguous — so USING
      members merge with USING members, never with ON members; the
      same identical-text bar every other clause has.)

    Round-8b widening: ``FULL [OUTER] JOIN``, ``[LEFT] SEMI JOIN``,
    ``[LEFT] ANTI JOIN``, and explicit ``CROSS JOIN`` steps are
    admitted under the identical-chain bar. The soundness argument is
    the same one that admitted LEFT: every member writes the SAME
    chain, so the shared relation — null-extended, existence-filtered,
    or product rows included — is identical across members, and the
    CASE-fold of per-member WHERE predicates over one evaluation of
    that relation computes exactly what each member computes alone
    (neither the standalone nor the merged plan can push a WHERE
    below a FULL join, and semi/anti/cross relations are WHERE-order
    indifferent). Each type is its own signature token, so a FULL
    member never merges with a LEFT member. A CROSS JOIN segment is a
    bare ``table [alias]`` — a stray ON there declines (as Spark
    itself would). Merging a CROSS chain halves the N-member cost of
    the product, the one case where sharing pays superlinearly.

    Round-9 widening (VERDICT r8 ask #1): the signature is
    ORDER-INSENSITIVE within maximal inner-join segments. A chain is a
    left fold; a maximal run of plain ``JOIN`` steps (plus, for the
    first run, the head) forms one segment whose result is
    σ_{∧conditions}(prefix × ×tables) — inner joins commute and
    associate, so the segment's relation depends only on the operand
    MULTISET and condition SET, never the spelling order. The
    signature therefore encodes each segment as (sorted operands,
    sorted deduped conditions) folded through the chain's ordered
    non-inner boundary steps (outer/semi/anti/cross do NOT commute and
    keep their exact position and operand side). ``A JOIN B ON c JOIN
    C ON c2`` and ``B JOIN A ON c JOIN C ON c2`` — the ORM/BI batch
    shape the identical-text bar missed; the reference grouped by
    input-source SETS, order-blind (ScanSharing.scala:95-119) — now
    share one signature and one merged execution. The EMITTED chain is
    the FIRST member's normalized text: any member's spelling computes
    the shared relation, and every member reaching plan_merges was
    already analyzed standalone by the scheduler (run_batch → analyze,
    scheduler.py:185-193), so an order-invalid chain (an ON
    referencing a not-yet-joined alias) errors BEFORE merging, never
    silently borrows a valid member's emission. (Callers invoking
    plan_merges directly inherit that precondition.) The signature is
    ``repr()`` of a nested tuple — structurally injective, so no
    crafted condition text (brackets, commas, literals) can collide
    two different structures. Operand canon folds ``AS``
    (``nation n`` ≡ ``nation AS n``); aliases themselves remain part
    of the operand, so signature equality still guarantees an
    identical alias set and member expressions resolve against the
    emitted chain exactly as standalone.

    Round-10 widening (VERDICT r9 ask #1): condition SPELLING is
    canonicalized too (see the ``_cond_tokens`` block comment):
    top-level AND conjuncts split and sort, ``a = b`` ≡ ``b = a`` for
    symmetric operators, ``a > b`` mirrors to ``b < a``, ``!=`` folds
    to ``<>``, USING lists sort — and within an inner segment the
    conjuncts of ALL its ON clauses pool into one set (the segment is
    σ_{∧conds}(products), so which JOIN step a conjunct was spelled on
    is not semantics). ``ON a.x = b.x AND a.y = b.y`` now merges with
    ``ON b.y = a.y AND b.x = a.x`` — the other half of the ORM/BI
    spelling variance round 9 opened.

    NATURAL joins (need schema knowledge to normalize), comma
    (implicit cross — its join predicate lives in WHERE, which the
    merged OR-prefilter must not weaken), subqueries in FROM or ON,
    and anything else decline. Members must write the same chain
    modulo case/whitespace, the RIGHT normalization, and inner-segment
    order to share a signature — still conservative: a near-miss
    merely runs unmerged.

    The merged plan keeps the join inside the shared statement, so one
    scan of every base table feeds all members, and Catalyst/AQE
    broadcast the dim sides exactly as they would for any single
    member — the 100 TB star-join shape."""
    # every rewrite below is literal-aware (_collapse_ws /
    # _sub_outside_strings): the normalized text is both the SIGNATURE
    # and, since round 8, the EMITTED merged FROM — a keyword or
    # whitespace run inside a quoted ON literal (``ON c = 'inner
    # join'``) is data and must survive byte-for-byte, never fold into
    # a token or collapse (a blind rewrite both corrupted the emitted
    # literal and let members differing only inside a literal share a
    # signature)
    text = _collapse_ws(from_text)
    # pre-rewrite text that already spells an internal signature token
    # (``FROM a left_join b ON ...``) would otherwise parse as a cut
    # and share a signature/emission with the valid ``a LEFT JOIN b``
    # — but standalone it is a syntax error (or a reference to a table
    # that happens to be NAMED left_join, which this grammar cannot
    # distinguish from the token). Decline both, so invalid SQL errors
    # exactly as it would unmerged (ADVICE r8 low).
    _, _ins0 = _scan(text)
    for _m in re.finditer(
        r"\b(?:left|right|full|semi|anti|cross|natural)_join\b", text, re.I
    ):
        if not _ins0[_m.start()]:
            return None
    text = _sub_outside_strings(r"\binner\s+join\b", "join", text)
    # each join spelling -> one signature token; semi/anti first (they
    # may carry a LEFT prefix the left_join rewrite must not eat).
    # After these rewrites any surviving bare left/right/full/cross/
    # outer/semi/anti word is malformed or NATURAL-adjacent and
    # declines below
    text = _sub_outside_strings(r"\b(?:left\s+)?semi\s+join\b", "semi_join", text)
    text = _sub_outside_strings(r"\b(?:left\s+)?anti\s+join\b", "anti_join", text)
    text = _sub_outside_strings(r"\bleft\s+(?:outer\s+)?join\b", "left_join", text)
    text = _sub_outside_strings(r"\bright\s+(?:outer\s+)?join\b", "right_join", text)
    text = _sub_outside_strings(r"\bfull\s+(?:outer\s+)?join\b", "full_join", text)
    text = _sub_outside_strings(r"\bcross\s+join\b", "cross_join", text)
    # NATURAL [INNER] JOIN (round 12, VERDICT r11 ask #6): resolvable
    # only with catalog schemas (schema_fn); the INNER-join rewrite
    # already folded NATURAL INNER JOIN to "natural join". NATURAL
    # LEFT/RIGHT/FULL keep a bare "natural" word and decline via
    # _JOIN_DISALLOWED exactly as before.
    text = _sub_outside_strings(r"\bnatural\s+join\b", "natural_join", text)

    _TOKENS = (
        r"\b(?:left_join|right_join|full_join|semi_join|anti_join"
        r"|cross_join|natural_join|join)\b"
    )

    def _top_cuts(t: str) -> Optional[list]:
        d, ins = _scan(t)
        for i, c in enumerate(t):
            if c == "," and d[i] == 0 and not ins[i]:
                return None  # implicit comma join
        for m in _JOIN_DISALLOWED.finditer(t):
            if d[m.start()] == 0 and not ins[m.start()]:
                return None
        return [
            m
            for m in re.finditer(_TOKENS, t, re.I)
            if d[m.start()] == 0 and not ins[m.start()]
        ]

    def _derived_operand(t: str) -> Optional[tuple[str, str, str]]:
        """Parse a parenthesized derived-table operand at the start of
        ``t``: ``(SELECT …) [AS] alias``. Returns (emit_text,
        signature_text, rest_after_alias) or None. Round-9b widening:
        dashboards join generated subselects to dims; the inner text
        is one opaque token under the same identical-text +
        deterministic bar as derived FROM members, and the ALIAS is
        REQUIRED (member references need it, and without it the next
        word — ON/USING — would be eaten as an alias)."""
        if not t.startswith("("):
            return None
        _, ins = _scan(t)
        d = 0
        close = -1
        for i, c in enumerate(t):
            if ins[i]:
                continue
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d == 0:
                    close = i
                    break
        if close < 0:
            return None
        inner = t[1:close].strip()
        if not re.match(r"select\b", inner, re.I):
            return None
        from sparksql_server_spark.server.results import cacheable_sql

        if not cacheable_sql(inner):
            return None
        m = re.match(r"\s*(?:as\s+)?([A-Za-z_]\w*)", t[close + 1 :], re.I)
        if not m:
            return None
        alias = m.group(1)
        if alias.lower() in ("on", "using", "as"):
            return None  # unaliased operand — the keyword is not an alias
        rest = t[close + 1 + m.end() :].strip()
        return (
            f"({inner}) {alias}",
            f"({_inner_select_sig(inner, _nest + 1)}) {alias.lower()}",
            rest,
        )

    cuts = _top_cuts(text)
    if not cuts:
        return None
    segs: list[str] = []  # head, then one operand-text per cut below
    toks: list[str] = []
    last = 0
    for m in cuts:
        segs.append(text[last: m.start()])
        toks.append(m.group(0).lower())
        last = m.end()
    segs.append(text[last:])
    head = segs[0].strip()
    head_derived = _derived_operand(head)
    if head_derived is not None:
        if head_derived[2]:
            return None  # trailing text after the head's alias
        head = head_derived[0]
    elif not _BARE_TABLE.fullmatch(head):
        return None
    # left-to-right fold building the NORMALIZED chain: SQL join chains
    # are left-associative, so ``<prefix> RIGHT JOIN T <cond>`` is
    # exactly ``T LEFT JOIN (<prefix>) <cond>`` for ANY prefix — the
    # parenthesized joined-table operand (no subquery, no alias, every
    # qualifier still resolves) is plain SQL both Spark and DuckDB
    # accept, so RIGHT steps normalize at ANY chain position (round-8c;
    # the r8 grammar only swapped the two-table case). The swap is
    # exact for ON and USING alike, including which side the USING
    # column null-extends from.
    def _op_sig(op: str) -> str:
        # 'nation AS n' ≡ 'nation n' — operands are bare tables, no
        # string literals, so a plain regex fold is safe
        return _canon(re.sub(r"\s+as\s+", " ", op, flags=re.I))

    def _wrap(op_sig: str) -> tuple:
        # an operand SIGNATURE (already canonicalized — _op_sig for
        # bare tables, _derived_operand's sig for subqueries; re-
        # canonicalizing here would run the literal-blind AS-fold over
        # derived inner text) as a degenerate one-table inner segment,
        # so a two-table RIGHT member and its mirrored plain-LEFT
        # member still build the identical structure (r8 preserved)
        return ("inner", None, (op_sig,), ())

    norm = head
    # operand TABLE names in join order (None for derived operands) —
    # the NATURAL resolution needs the visible column set, which is the
    # union of all prior operands' schemas
    operand_tables: list[Optional[str]] = [
        None
        if head_derived is not None
        else _BARE_TABLE.fullmatch(head).group(1).lower()
    ]
    joined = False  # True once norm is itself a join (needs parens to
    # become a RIGHT swap's left operand — precedence, not cosmetics)
    # signature accumulator: nested tuples, repr'd at the end. The
    # pending inner segment collects operands/conditions until a
    # non-inner boundary (or end of chain) folds it in.
    sig_acc: Optional[tuple] = None
    seg_ops: list[str] = [
        head_derived[1] if head_derived is not None else _op_sig(head)
    ]
    seg_conds: list[str] = []

    def _flush_seg() -> None:
        nonlocal sig_acc, seg_ops, seg_conds
        if not seg_ops:
            return
        sig_acc = (
            "inner",
            sig_acc,  # accumulated prefix relation (None for the head)
            tuple(sorted(seg_ops)),  # multiset: duplicates retained
            tuple(sorted(set(seg_conds))),  # σ is idempotent on dupes
        )
        seg_ops, seg_conds = [], []

    for tok, seg in zip(toks, segs[1:]):
        seg = seg.strip()
        if tok == "cross_join":
            # CROSS JOIN takes no condition: bare table [alias] only.
            # Round 12: CROSS folds into the surrounding INNER segment
            # instead of flushing it — ``A CROSS JOIN B`` ≡ ``A JOIN B
            # ON TRUE`` (identical relation), and the segment model is
            # already σ_{∧conds}(× operands), where a condition-less
            # operand is exactly a product factor. Products commute
            # and associate and σ floats over them, so the fold is as
            # sound as the r9 inner-segment argument; it lets
            # ``a CROSS JOIN b``, ``b CROSS JOIN a``, ``a JOIN b ON
            # TRUE``, and the comma-FROM rewrite (round 12,
            # parse_agg_query) all share one signature.
            if not _BARE_TABLE.fullmatch(seg):
                return None
            norm = f"{norm} cross_join {seg}"
            seg_ops.append(_op_sig(seg))
            operand_tables.append(_BARE_TABLE.fullmatch(seg).group(1).lower())
            joined = True
            continue
        if tok == "natural_join":
            # round 12 (VERDICT r11 ask #6): NATURAL [INNER] JOIN is
            # exactly ``JOIN … USING (<common columns>)`` — the implied
            # USING list resolves from catalog schemas (schema_fn,
            # threaded from the scheduler's per-session catalog; absent
            # → decline, e.g. direct test callers). The column-order
            # freedom of the synthesized USING list is the freedom the
            # USING token already has (sorted: members here are
            # explicit-item aggregations, so FROM-relation column order
            # is unobservable). Declines: non-bare-table operand, any
            # unresolvable schema (derived operand upstream), zero
            # common columns (an implicit cross — out of scope). A
            # member with an ambiguous common column errors in its own
            # STANDALONE analysis before any merge (scheduler.analyze).
            mt = _BARE_TABLE.fullmatch(seg)
            if mt is None or schema_fn is None:
                return None
            right_cols = schema_fn(mt.group(1))
            if right_cols is None:
                return None
            left_cols: set[str] = set()
            for t in operand_tables:
                cols = schema_fn(t) if t else None
                if cols is None:
                    return None
                left_cols.update(c.lower() for c in cols)
            common = sorted(left_cols & {c.lower() for c in right_cols})
            if not common:
                return None
            operand = seg
            using_cols = ", ".join(common)
            cond = f"using ({using_cols})"
            op_sig = _op_sig(operand)
            tok = "join"
            operand_tables.append(mt.group(1).lower())
            natural = True
        else:
            natural = False
        if natural:
            pass
        elif (m2 := re.match(
            r"^([A-Za-z_]\w*(?:\s+(?:as\s+)?[A-Za-z_]\w*)?)\s+"
            r"(on\s+.+|using\s*\(([^()]+)\)\s*)$",
            seg,
            re.I | re.S,
        )) is not None:
            operand, cond, using_cols = (
                m2.group(1),
                m2.group(2).strip(),
                m2.group(3),
            )
            op_sig = _op_sig(operand)
            # visibility for NATURAL resolution (round-12 review wave):
            # a SEMI/ANTI right side contributes NO columns to the
            # joined relation, so it must never widen the common-column
            # set — None poisons any LATER NATURAL step into declining
            # (conservative: the left side's columns would still be
            # resolvable, but narrowing is always sound)
            operand_tables.append(
                None
                if tok in ("semi_join", "anti_join")
                else _BARE_TABLE.fullmatch(operand).group(1).lower()
            )
        else:
            # round-9b: parenthesized derived-table operand — one
            # opaque token, alias required, deterministic inner only
            der = _derived_operand(seg)
            if der is None:
                return None
            operand, op_sig, rest = der
            mc = re.match(
                r"^(on\s+.+|using\s*\(([^()]+)\)\s*)$", rest, re.I | re.S
            )
            if not mc:
                return None
            cond, using_cols = mc.group(1).strip(), mc.group(2)
            operand_tables.append(None)  # derived operand: no schema
        if using_cols is None and re.search(r"\bselect\b", cond, re.I):
            return None
        if using_cols is not None and not re.fullmatch(
            r"\s*[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*\s*", using_cols
        ):
            return None  # USING list must be plain column names
        cond_sig = tuple(sorted(set(_cond_tokens(cond, using_cols))))
        if tok == "right_join":
            prefix = f"({norm})" if joined else norm
            norm = f"{operand} left_join {prefix} {cond}"
            _flush_seg()
            # structurally identical to the mirrored plain-LEFT member
            sig_acc = ("left_join", _wrap(op_sig), sig_acc, cond_sig)
        elif tok == "join":
            norm = f"{norm} {tok} {operand} {cond}"
            seg_ops.append(op_sig)
            # conjuncts POOL across the whole inner segment (round 10):
            # the segment relation is σ_{∧all conds}(prefix × ×tables),
            # so which JOIN step a conjunct was spelled on is not part
            # of the semantics — 'A JOIN B ON p JOIN C ON q' shares
            # with 'A JOIN C ON q JOIN B ON p' (both analyzed
            # standalone first, so an order-invalid spelling errors
            # before merging)
            seg_conds.extend(_cond_tokens(cond, using_cols))
        elif tok == "full_join":
            norm = f"{norm} {tok} {operand} {cond}"
            _flush_seg()
            # FULL OUTER is symmetric as a bag of named tuples (ON:
            # matched rows identical, each side's unmatched rows
            # null-extend the same way regardless of spelling order;
            # USING: coalesce(a.k,b.k) == coalesce(b.k,a.k) — equal on
            # matches, single-sided otherwise), so the two sides sort
            # into the signature order-insensitively and ``A FULL JOIN
            # B`` merges with ``B FULL JOIN A``. Only the two-table
            # case can actually mirror (deeper prefixes would need
            # parenthesized operands, which the grammar declines), but
            # the sorted form is sound at any depth.
            sides = tuple(sorted((repr(sig_acc), repr(_wrap(op_sig)))))
            sig_acc = ("full_join", sides, cond_sig)
        else:
            norm = f"{norm} {tok} {operand} {cond}"
            _flush_seg()
            sig_acc = (tok, sig_acc, _wrap(op_sig), cond_sig)
        joined = True
    _flush_seg()
    text = norm
    emit = text
    for tok, sql in (
        ("left_join", "LEFT JOIN"),
        # every TOP-LEVEL right_join was consumed by the LEFT
        # normalization above; surviving occurrences live INSIDE
        # derived-table operands (the keyword rewrites are not
        # depth-aware) and must round-trip back to real SQL
        ("right_join", "RIGHT JOIN"),
        ("full_join", "FULL JOIN"),
        ("semi_join", "LEFT SEMI JOIN"),
        ("anti_join", "LEFT ANTI JOIN"),
        ("cross_join", "CROSS JOIN"),
    ):
        emit = _sub_outside_strings(rf"\b{tok}\b", sql, emit)
    return "join:" + repr(sig_acc), emit


@dataclass
class ParsedAgg:
    """One mergeable aggregation query, decomposed."""

    table: str  # lowercased simple identifier, or 'join:<canon>' chain
    where: Optional[str]  # raw predicate text (no trailing keywords)
    group_canon: tuple[str, ...]  # sorted canonical GROUP BY exprs
    group_raw: dict[str, str]  # canonical -> raw text (for SQL emission)
    # FROM-clause text for merged-SQL emission: the bare lowercased
    # table name for single-table members, the first member's raw join
    # chain for join-shaped members
    from_raw: str = ""
    # select items in original order:
    #   ("key", canon_expr, out_alias)
    #   ("agg", raw_expr, calls, out_alias) — calls = aggregate calls
    #   embedded in raw_expr: [(start, end, func, inner|None(star),
    #   is_distinct), ...]; the expression may wrap them in arbitrary
    #   scalar computation (CAST(sum(x) AS ...), sum(a)/sum(b), the
    #   TPC-H q1 shape)
    items: list[tuple] = field(default_factory=list)
    # presentation clauses (round-5 widening) — demux-only, never part
    # of the merged aggregate. *_seg are symbolic segment lists built
    # by _post_agg_segments at PARSE time (so an un-rewritable clause
    # declines before any merge is planned):
    #   ("text", raw)        — emitted verbatim (operators, literals,
    #                          scalar function names, keywords)
    #   ("key", canon)       — a group-by key → the view's __g column
    #   ("aggref", item_idx) — a select alias of aggregate item idx
    #   ("call", func, inner|None, is_distinct) — an aggregate call →
    #                          a hidden predicate-folded merged column
    having_seg: Optional[list[tuple]] = None
    order_seg: list[list[tuple]] = field(default_factory=list)
    limit: Optional[int] = None

    @property
    def signature(self) -> tuple[str, tuple[str, ...]]:
        return (self.table, self.group_canon)

    @property
    def n_distinct_aggs(self) -> int:
        n = sum(
            1
            for it in self.items
            if it[0] == "agg"
            for call in it[2]
            if call[4]
        )
        for segs in ([self.having_seg] if self.having_seg else []) + self.order_seg:
            n += sum(1 for s in segs if s[0] == "call" and s[3])
        return n


def _agg_calls(expr: str, allow_empty: bool = False) -> Optional[list[tuple]]:
    """All aggregate calls inside a select expression, left to right:
    [(start, end_exclusive, func_lower, inner|None for ``*``,
    is_distinct), ...]. None = the expression is not mergeable (no
    calls unless ``allow_empty``, nested aggregates, subquery, or
    unbalanced parens)."""
    depth, instr = _scan(expr)
    calls: list[tuple] = []
    last_end = 0
    for m in re.finditer(rf"\b({'|'.join(AGG_FUNCS)})\s*\(", expr, re.I):
        i = m.start()
        if instr[i]:
            continue
        if i < last_end:
            return None  # aggregate nested inside another aggregate
        open_i = m.end() - 1
        d = 0
        j = open_i
        while j < len(expr):
            c = expr[j]
            if not instr[j]:
                if c == "(":
                    d += 1
                elif c == ")":
                    d -= 1
                    if d == 0:
                        break
            j += 1
        if j >= len(expr):
            return None  # unbalanced
        inner = expr[open_i + 1 : j].strip()
        func = m.group(1).lower()
        is_distinct = False
        m_di = re.match(r"distinct\b", inner, re.I)
        if m_di:
            is_distinct = True
            inner = inner[m_di.end() :].strip()
        if inner == "*":
            if func != "count" or is_distinct:
                return None
            inner_val: Optional[str] = None
        else:
            if not inner or re.search(r"\bselect\b", inner, re.I):
                return None
            if re.search(rf"\b({'|'.join(AGG_FUNCS)})\s*\(", inner, re.I):
                return None  # nested aggregate
            inner_val = inner
        calls.append((i, j + 1, func, inner_val, is_distinct))
        last_end = j + 1
    if not calls and not allow_empty:
        return None
    return calls


def _text_segments(
    txt: str, simple_keys: set[str], alias_kind: dict[str, tuple]
) -> Optional[list[tuple]]:
    """Classify every bare identifier in a post-aggregation text span.

    Function names (identifier followed by ``(``) pass through verbatim
    — their ARGUMENTS are classified by this same scan. Everything not
    provably resolvable declines (None).

    Resolution order mirrors Spark's for the clause this feeds (the
    caller picks ``alias_kind``): ORDER BY resolves against the SELECT
    OUTPUT first, so a select alias wins over a same-named group key
    (``count(*) AS l_returnflag … ORDER BY l_returnflag`` sorts by the
    count — checking keys first silently inverted this); group keys are
    the child-plan fallback. HAVING passes an EMPTY alias map — its
    Spark-side resolution (child attributes before output aliases, and
    only sometimes aliases at all) differs from ORDER BY's, so the only
    bare identifiers accepted there are group keys, where both rules
    agree."""
    _, instr = _scan(txt)
    segs: list[tuple] = []
    last = 0
    for m in re.finditer(r"[A-Za-z_]\w*", txt):
        i = m.start()
        if instr[i] or i < last:
            continue
        j = m.end()
        while j < len(txt) and txt[j].isspace():
            j += 1
        if j < len(txt) and txt[j] == "(":
            continue  # scalar function name — not a column reference
        low = m.group(0).lower()
        if low in _POST_KEYWORDS:
            continue
        if low in alias_kind:  # output alias — Spark's first ORDER BY scope
            segs.append(("text", txt[last:i]))
            segs.append(alias_kind[low])
            last = m.end()
        elif low in simple_keys:
            segs.append(("text", txt[last:i]))
            segs.append(("key", low))
            last = m.end()
        else:
            return None  # unknown identifier — cannot re-point safely
    segs.append(("text", txt[last:]))
    return segs


def _post_agg_segments(
    expr: str, simple_keys: set[str], alias_kind: dict[str, tuple]
) -> Optional[list[tuple]]:
    """Decompose a HAVING predicate / ORDER BY item into symbolic
    segments the demux builder can render against the merged view (see
    ParsedAgg field docs), or None when the expression is outside the
    provably-rewritable surface. Aggregate calls may appear anywhere
    (``HAVING sum(x) > 10``, ``ORDER BY count(*) DESC``); computed
    group keys are reachable only through their select alias (ORDER BY
    only — see _text_segments on HAVING's narrower scope)."""
    calls = _agg_calls(expr, allow_empty=True)
    if calls is None:
        return None
    segs: list[tuple] = []
    last = 0
    for start, end, func, inner, distinct in calls:
        t = _text_segments(expr[last:start], simple_keys, alias_kind)
        if t is None:
            return None
        segs.extend(t)
        segs.append(("call", func, inner, distinct))
        last = end
    t = _text_segments(expr[last:], simple_keys, alias_kind)
    if t is None:
        return None
    segs.extend(t)
    return segs


def _classify_from(
    from_text: str, raw_where: Optional[str], *, schema_fn=None
) -> Optional[tuple[list, str, str, Optional[str]]]:
    """Classify an admissible FROM slice into ``(quals, table_key,
    from_raw, raw_where)`` — SHARED by :func:`parse_agg_query` and
    :func:`parse_select_query`, so a soundness fix in the FROM shapes
    can never land in one parser and silently miss the other (round-12
    review wave). Three shapes, or None:

    - bare table ``t [AS] [a]`` — re-emission is plain ``FROM t``, so
      the alias AND the table name strip from every expression slice
      (references resolve unqualified; differently-aliased members
      share one signature);
    - single derived table ``(SELECT …) [AS] t`` — the alias strips
      like a single-table alias (the derived relation is the only
      FROM member); signature per :func:`_parse_derived_from`;
    - join chain, after the comma-FROM normalization (which migrates
      WHERE equi-conjuncts into ON and REPLACES the caller's where
      text with the surviving conjuncts) — qualifiers are KEPT:
      aliases resolve against the re-emitted chain verbatim, and
      signature equality already requires identical aliasing (the
      RIGHT→LEFT normalization preserves every alias)."""
    m_tbl = _BARE_TABLE.fullmatch(from_text)
    if m_tbl:
        table_key = m_tbl.group(1).lower()
        return (
            [m_tbl.group(2), m_tbl.group(1)],
            table_key,
            table_key,
            raw_where,
        )
    if (parsed_derived := _parse_derived_from(from_text)) is not None:
        table_key, emit, d_alias = parsed_derived
        return ([d_alias] if d_alias else []), table_key, emit, raw_where
    comma = _normalize_comma_from(from_text, raw_where)
    if comma is not None:
        from_text, raw_where = comma
    parsed_join = _parse_join_from(from_text, schema_fn=schema_fn)
    if parsed_join is None:
        return None
    return [], parsed_join[0], parsed_join[1], raw_where


# the select-shape reject set: `over` is admitted here but not in the
# merge path — a window item is a deterministic presentation of the
# same relation (ties resolve with exactly the freedom Spark has
# between two runs of one text, which the text-key cache already
# exercises), and the whole window spec rides the item canon, so any
# spec difference keys apart. The MERGE path must keep declining OVER:
# merging changes row multiplicity, which changes window results.
_REJECT_SELECT = tuple(w for w in _REJECT_TOP if w != "over") + (
    "group",
    "having",
    "offset",
    "fetch",
)

_CTE_START = re.compile(r"^\s*with\s+(?!recursive\b)", re.I)
_CTE_ITEM = re.compile(r"\s*([A-Za-z_]\w*)\s+as\s*\(", re.I)
_MAX_CTES = 8


def _substitute_cte_once(text: str, name: str, body: str) -> Optional[str]:
    """Replace the single relation use of CTE ``name`` in ``text``
    with the derived table ``(body) name`` (alias kept if the use
    already carries one), or None. The use must be the ONE depth-0
    FROM/JOIN-preceded bare occurrence; ``name.`` qualifier uses stay
    valid (the derived alias IS the name); any other bare occurrence
    (e.g. a depth-0 select-list column that merely shares the name)
    declines rather than rewrites — the inliner never relies on
    downstream bars to catch a semantics-changing rewrite."""
    tdepth, tinstr = _scan(text)
    operand_span = None
    for mm in re.finditer(rf"\b{re.escape(name)}\b", text, re.I):
        i = mm.start()
        if tinstr[i]:
            continue
        if text[mm.end():].lstrip().startswith("."):
            continue  # qualifier use — stays valid (alias == name)
        before = text[:i].rstrip()
        is_operand = (
            tdepth[i] == 0
            and bool(re.search(r"\b(from|join)$", before, re.I))
            # the one depth-0 FROM that is NOT a relation introducer:
            # `x IS [NOT] DISTINCT FROM a` compares against column a —
            # substituting there rewrites a predicate into a scalar-
            # subquery comparison, and inside a later CTE body nothing
            # downstream would catch it (round-12 review, confirmed
            # wrong-key repro)
            and not re.search(
                r"\bis\s+(not\s+)?distinct\s+from$", before, re.I
            )
        )
        if not is_operand or operand_span is not None:
            return None  # not exactly one relation use — decline
        operand_span = (i, mm.end())
    if operand_span is None:
        return None
    i0, i1 = operand_span
    rest = text[i1:].lstrip()
    has_alias = bool(
        re.match(r"(as\s+)?[A-Za-z_]\w*", rest, re.I)
    ) and not re.match(
        r"(on|using|where|group|having|order|limit|offset|fetch|join|inner|"
        r"left|right|full|cross|natural|semi|anti|union|intersect|except|"
        r"minus|tablesample|pivot|unpivot|lateral|distribute|sort|cluster|"
        r"window|qualify)\b",
        rest,
        re.I,
    )
    repl = f"({body})" if has_alias else f"({body}) {name}"
    return text[:i0] + repl + text[i1:]


def _inline_single_cte(s: str) -> Optional[str]:
    """Rewrite a CTE statement into its derived-table form (round 12) —
    ``WITH x AS (SELECT …) SELECT … FROM x`` becomes ``SELECT … FROM
    (SELECT …) x``, the textbook equivalence for a non-recursive CTE
    referenced once (Spark itself inlines such CTEs; they are not
    materialization fences), after which the existing derived-table
    machinery signatures/merges/keys the statement. Multiple CTEs
    admit when EACH name has exactly one relation use in a strictly
    later scope (a later CTE body or the tail) — that covers both the
    staged-chain spelling (``b`` reads ``a``) and the join-of-CTEs
    spelling; bodies resolve in definition order so chains nest.
    Returns the rewritten text, or None to leave the statement
    untouched.

    Declines (None) on anything outside the shape: WITH RECURSIVE,
    backticks, a column-list CTE head (``x (a, b) AS …``), a
    non-SELECT body or tail, duplicate names, a self- or forward
    reference, more than ``_MAX_CTES`` bodies, or any name-occurrence
    pattern :func:`_substitute_cte_once` cannot prove is the single
    relation use."""
    m = _CTE_START.match(s)
    if m is None:
        return None
    if "`" in s:
        return None  # backtick-quoted identifiers — the alias scan
        # below would misjudge them (round-12 review); both parsers
        # decline backticks anyway
    _, instr = _scan(s)
    if _has_comment_marker(s, instr):
        return None  # comments are unmodeled — a `--` could swallow
        # a paren and derail the body scan below
    pos = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        mh = _CTE_ITEM.match(s, pos)
        if mh is None:
            return None  # column-list head / malformed item
        d = 0
        close = -1
        for i in range(mh.end() - 1, len(s)):
            if instr[i]:
                continue
            c = s[i]
            if c == "(":
                d += 1
            elif c == ")":
                d -= 1
                if d == 0:
                    close = i
                    break
        if close < 0:
            return None
        ctes.append((mh.group(1), s[mh.end(): close].strip()))
        if len(ctes) > _MAX_CTES:
            return None
        rest = s[close + 1:]
        stripped = rest.lstrip()
        if stripped.startswith(","):
            pos = close + 1 + (len(rest) - len(stripped)) + 1
            continue
        tail = stripped.strip()
        break
    if not re.match(r"select\b", tail, re.I):
        return None
    names = [n.lower() for n, _ in ctes]
    if len(set(names)) != len(names):
        return None  # duplicate names — reference resolution ambiguous
    for i, (_, body) in enumerate(ctes):
        if not re.match(r"select\b", body, re.I):
            return None
        for later in names[i:]:
            # self/forward references decline (a body may reference
            # only names defined BEFORE it; a coincidental column name
            # merely false-declines, the safe direction)
            if re.search(rf"\b{re.escape(later)}\b", body, re.I):
                return None
    # scopes in definition order: each body, then the tail. Every name
    # must be referenced in exactly ONE strictly later scope, where
    # _substitute_cte_once proves the single relation use. Processing
    # names in definition order resolves chains: by the time ``b``
    # (which read ``a``) is substituted anywhere, its body already
    # carries ``a``'s inline form.
    texts = [b for _, b in ctes] + [tail]
    for i, (name, _) in enumerate(ctes):
        ref_scopes = [
            j
            for j in range(i + 1, len(texts))
            if re.search(rf"\b{re.escape(name)}\b", texts[j], re.I)
        ]
        if len(ref_scopes) != 1:
            return None
        sub = _substitute_cte_once(texts[ref_scopes[0]], name, texts[i])
        if sub is None:
            return None
        texts[ref_scopes[0]] = sub
    return texts[-1]


def parse_agg_query(sql: str, schema_fn=None) -> Optional[ParsedAgg]:
    """Decompose a canonical single-table GROUP BY aggregation, or None.

    ``schema_fn(table) -> list[str] | None`` (optional) resolves table
    column names for NATURAL-join normalization; absent, NATURAL
    declines as before.

    Declines (returns None) on anything outside the shape — the caller
    runs the query unchanged. Every decline is safe; a false ACCEPT is
    not, so each rule here errs conservative.
    """
    s = sql.strip().rstrip(";").strip()
    inlined = _inline_single_cte(s)
    if inlined is not None:
        s = inlined  # single-CTE spelling → derived-table form
    low = s.lower()
    if not low.startswith("select"):
        return None
    depth, instr = _scan(s)
    if _has_comment_marker(s, instr):
        return None  # comments are unmodeled — decline to text keys
    for word in _REJECT_TOP:
        if _find_top(s, word, depth, instr):
            return None
    # SELECT DISTINCT at top level (DISTINCT inside agg parens is fine)
    m_d = re.match(r"select\s+distinct\b", low)
    if m_d:
        return None
    m_from = _find_top(s, "from", depth, instr)
    if m_from is None:
        return None
    m_group = _find_top(s, "group", depth, instr)
    if m_group is not None and not re.match(r"group\s+by\b", low[m_group.start():]):
        return None
    m_where = _find_top(s, "where", depth, instr)
    m_having = _find_top(s, "having", depth, instr)
    m_order = _find_top(s, "order", depth, instr)
    if m_order is not None and not re.match(r"order\s+by\b", low[m_order.start():]):
        return None
    m_limit = _find_top(s, "limit", depth, instr)

    # canonical clause sequence, each present clause bounding the
    # previous slice; a stray top-level keyword (e.g. a column named
    # "limit" in the select list) breaks monotonicity and declines
    present = [
        (name, m)
        for name, m in (
            ("from", m_from),
            ("where", m_where),
            ("group", m_group),
            ("having", m_having),
            ("order", m_order),
            ("limit", m_limit),
        )
        if m is not None
    ]
    starts = [m.start() for _, m in present]
    if starts != sorted(starts) or starts[0] <= len("select"):
        return None
    ends = {
        name: (present[k + 1][1].start() if k + 1 < len(present) else len(s))
        for k, (name, m) in enumerate(present)
    }

    select_list = s[len("select"): m_from.start()]
    from_text = s[m_from.end(): ends["from"]].strip()
    # any top-level JOIN must sit inside the FROM slice (valid SQL
    # puts it nowhere else; a stray match means the clause slicing is
    # not to be trusted — decline)
    for m_j in re.finditer(r"\bjoin\b", s, re.I):
        if not instr[m_j.start()] and depth[m_j.start()] == 0:
            if not (m_from.end() <= m_j.start() < ends["from"]):
                return None
    # a lambda parameter can SHADOW a stripped alias/table qualifier:
    # `transform(arr, x -> x.f)` under `FROM t x` strips to
    # `x -> f` — a DIFFERENT, still-valid expression (the outer
    # column f) — wrong data through both the merge re-emission and
    # the semantic cache key (round-12 review wave, confirmed repro).
    # Higher-order-function members decline wholesale.
    if any(not instr[m.start()] for m in re.finditer(r"->", s)):
        return None
    # _split_top silently drops empty segments, so a malformed list
    # (`SELECT a, b, FROM t`) would key/merge equal to the valid
    # spelling and mask the engine's ParseException (round-12 review).
    # A literal containing `,,` only ever false-declines — safe.
    if re.search(r",\s*(,|$)", select_list.strip()):
        return None
    classified = _classify_from(
        from_text,
        s[m_where.end(): ends["where"]] if m_where else None,
        schema_fn=schema_fn,
    )
    if classified is None:
        return None
    quals, table_key, from_raw, raw_where = classified
    where = None
    if raw_where is not None:
        where = _strip_qualifiers(raw_where, quals).strip()
        if not where or re.search(r"\bselect\b", where, re.I):
            return None  # subquery in predicate — decline
    group_raw: dict[str, str] = {}
    if m_group is not None:
        group_text = re.sub(
            r"^group\s+by\s*", "", s[m_group.start(): ends["group"]], flags=re.I
        )
        group_text = _strip_qualifiers(group_text, quals)
        if re.match(r"(all|grouping|rollup|cube)\b", group_text.strip(), re.I):
            return None
        if re.search(r",\s*(,|$)", group_text.strip()):
            return None  # malformed list — same mask as the select list
        group_raw_list = _split_top(group_text)
        if not group_raw_list:
            return None
        for g in group_raw_list:
            if re.fullmatch(r"\d+", g):  # ordinal GROUP BY — decline
                return None
            group_raw.setdefault(_canon(g), g)
    having_text = None
    if m_having is not None:
        having_text = _strip_qualifiers(s[m_having.end(): ends["having"]], quals).strip()
        if not having_text or re.search(r"\bselect\b", having_text, re.I):
            return None
    order_items: list[str] = []
    if m_order is not None:
        order_text = re.sub(
            r"^order\s+by\s*", "", s[m_order.start(): ends["order"]], flags=re.I
        )
        if re.search(r",\s*(,|$)", order_text.strip()):
            return None  # malformed list — same mask as the select list
        order_items = _split_top(_strip_qualifiers(order_text, quals))
        if not order_items:
            return None
    limit_val = None
    if m_limit is not None:
        limit_text = s[m_limit.end():].strip()
        if not re.fullmatch(r"\d+", limit_text):
            return None  # LIMIT ALL / expression — decline
        limit_val = int(limit_text)
    select_list = _strip_qualifiers(select_list, quals)
    # a subquery ANYWHERE in the select list or GROUP BY declines
    # (round 12, wrong-merge repro): ``SELECT (SELECT max(x) FROM t)
    # FROM t`` embeds an aggregate call that belongs to the SUBQUERY —
    # classifying it as an outer aggregate merged an N-row projection
    # into a 1-row global aggregation. Same bar as the WHERE/HAVING
    # subquery declines above.
    if re.search(r"\bselect\b", select_list, re.I):
        return None
    if group_raw and any(
        re.search(r"\bselect\b", g, re.I) for g in group_raw.values()
    ):
        return None
    # no GROUP BY = global aggregation (GROUP BY ()): group_canon is
    # the empty tuple; the query must then be pure aggregates (checked
    # below — any non-agg item fails the key/agg classification)
    group_canon = tuple(sorted(group_raw))

    parsed = ParsedAgg(
        table=table_key,
        where=where,
        group_canon=group_canon,
        group_raw=group_raw,
        from_raw=from_raw,
    )
    for item in _split_top(select_list):
        idepth, iinstr = _scan(item)
        alias = None
        m_as = None
        for m in re.finditer(r"\s+as\s+([A-Za-z_]\w*)\s*$", item, re.I):
            if not iinstr[m.start()] and idepth[m.start()] == 0:
                m_as = m
        if m_as:
            alias = m_as.group(1)
            expr = item[: m_as.start()].strip()
        else:
            expr = item.strip()
        if alias is not None and alias.startswith("__"):
            return None  # reserved namespace (__g/__m/__gid merged columns)
        c = _canon(expr)
        if c in group_raw:
            if alias is None:
                if not _SIMPLE_IDENT.match(expr):
                    return None  # unaliased computed key — no stable name
                alias = expr
            parsed.items.append(("key", c, alias))
            continue
        calls = _agg_calls(expr)
        if calls is None or alias is None:
            return None  # non-agg non-key item, or agg without AS alias
        parsed.items.append(("agg", expr, calls, alias))
    if not any(it[0] == "agg" for it in parsed.items):
        return None  # plain GROUP BY projection — nothing to share
    # presentation clauses: validate rewritability NOW (a decline here
    # keeps the whole statement off the merge path; by construction the
    # demux build below can then never fail)
    if having_text is not None or order_items:
        if "`" in s:
            return None  # backticked identifiers — outside the scan's model
        simple_keys = {c for c in group_raw if _SIMPLE_IDENT.match(c)}
        alias_kind: dict[str, tuple] = {}
        for j, it in enumerate(parsed.items):
            if it[0] == "key":
                alias_kind[it[2].lower()] = ("key", it[1])
            else:
                alias_kind[it[3].lower()] = ("aggref", j)
        if having_text is not None:
            # HAVING: group keys only (empty alias scope — Spark's
            # HAVING resolution order differs from ORDER BY's; where
            # they could disagree, decline)
            segs = _post_agg_segments(having_text, simple_keys, {})
            if segs is None:
                return None
            parsed.having_seg = segs
        for o in order_items:
            segs = _post_agg_segments(o, simple_keys, alias_kind)
            if segs is None:
                return None
            parsed.order_seg.append(segs)
    parsed.limit = limit_val
    return parsed


# ---------------------------------------------------------------------------


@dataclass
class MergePlan:
    """One merged job standing in for N member jobs."""

    jobs: list[QueryJob]
    merged_sql: str
    demux_sql: dict[int, str]  # job_id -> rewritten SQL over the view
    view: str
    session: Any = None  # the member jobs' shared session (None = root)
    grouping_sets: int = 1  # distinct sets merged (1 = no Expand)


def _agg_expr(func: str, inner: Optional[str], distinct: bool, pred: Optional[str]) -> str:
    d = "DISTINCT " if distinct else ""
    if pred is None:
        return f"{func}({d}{'*' if inner is None else inner})"
    body = "1" if inner is None else inner  # count(*) -> count(CASE..1..)
    return f"{func}({d}CASE WHEN ({pred}) THEN ({body}) END)"


def _rewrite_item(raw_expr: str, calls: list[tuple], pred: Optional[str]) -> str:
    """The select expression with every embedded aggregate call
    replaced by its predicate-folded form; surrounding scalar
    computation (CAST, arithmetic, round, …) is preserved verbatim —
    it evaluates post-aggregation exactly as in the original query."""
    out: list[str] = []
    last = 0
    for start, end, func, inner, distinct in calls:
        out.append(raw_expr[last:start])
        out.append(_agg_expr(func, inner, distinct, pred))
        last = end
    out.append(raw_expr[last:])
    return "".join(out)


def _build_merge(
    members: list[tuple[QueryJob, ParsedAgg]], *, grouping_sets: bool
) -> MergePlan:
    """Emit merged SQL + per-job demux SQL for one merge group.

    ``members`` all share a table (and, when not ``grouping_sets``, a
    grouping signature).
    """
    table = members[0][1].from_raw or members[0][1].table
    raw_of: dict[str, str] = {}
    for _, p in members:
        for c, r in p.group_raw.items():
            raw_of.setdefault(c, r)
    # Spark derives the grouping-expression order (= grouping_id() bit
    # order, MSB first) from FIRST APPEARANCE across the grouping sets
    # as written. Emit sets in sorted order, each set's exprs in its own
    # (sorted-canonical) tuple order, and derive ``ordered`` from that
    # exact emission so the python-side gid matches Spark's
    # (empirically pinned in tests/test_mrshare.py).
    sets_list: list[tuple[str, ...]] = sorted({p.group_canon for _, p in members})
    ordered: list[str] = []
    for s in sets_list:
        for c in s:
            if c not in ordered:
                ordered.append(c)
    g_alias = {c: f"__g{k}" for k, c in enumerate(ordered)}

    sel: list[str] = [f"{raw_of[c]} AS {g_alias[c]}" for c in ordered]
    preds = [p.where for _, p in members]
    merged_where = ""
    if all(pr is not None for pr in preds):
        merged_where = " WHERE " + " OR ".join(f"({pr})" for pr in preds)

    demux: dict[int, str] = {}
    n = len(ordered)
    for i, (job, p) in enumerate(members):
        conds: list[str] = []
        if grouping_sets:
            gid = sum(
                1 << (n - 1 - k)
                for k, c in enumerate(ordered)
                if c not in p.group_canon
            )
            conds.append(f"__gid = {gid}")
        # presence counter: a grouped query's result contains a group
        # only if >=1 row matched its predicate. A GLOBAL aggregate
        # (empty signature) always returns exactly one row — count=0 /
        # NULL aggregates, never a missing row — so it must NOT be
        # presence-filtered.
        if p.where is not None and p.group_canon:
            sel.append(f"count(CASE WHEN ({p.where}) THEN 1 END) AS __m{i}_has")
            conds.append(f"__m{i}_has > 0")
        out_items: list[str] = []
        for j, it in enumerate(p.items):
            if it[0] == "key":
                out_items.append(f"{g_alias[it[1]]} AS {it[2]}")
            else:
                _, raw_expr, calls, alias = it
                sel.append(f"{_rewrite_item(raw_expr, calls, p.where)} AS __m{i}_{j}")
                out_items.append(f"__m{i}_{j} AS {alias}")

        # presentation clauses re-applied over the merged view: HAVING
        # becomes part of the demux WHERE (the view's rows are already
        # aggregated), its aggregate calls landing as hidden
        # predicate-folded columns of the shared aggregate; ORDER BY
        # re-points at view columns (select ordinals stay valid — the
        # demux select list preserves the member's item order); LIMIT
        # cuts the demux result only. Hidden columns are deduped by
        # fragment, seeded with the member's BARE single-call select
        # aggregates, so HAVING count(*) > 5 reuses a selected
        # count(*) AS n instead of widening the merged aggregate.
        hidden_cols: dict[str, str] = {}
        for j, it in enumerate(p.items):
            if it[0] == "agg" and len(it[2]) == 1:
                start, end, func, inner, distinct = it[2][0]
                if it[1].strip() == it[1][start:end]:
                    hidden_cols[_agg_expr(func, inner, distinct, p.where)] = f"__m{i}_{j}"

        def _render_post(segs: list[tuple], i: int = i, p: "ParsedAgg" = p) -> str:
            out: list[str] = []
            for seg in segs:
                if seg[0] == "text":
                    out.append(seg[1])
                elif seg[0] == "key":
                    out.append(g_alias[seg[1]])
                elif seg[0] == "aggref":
                    out.append(f"__m{i}_{seg[1]}")
                else:  # ("call", func, inner, distinct)
                    frag = _agg_expr(seg[1], seg[2], seg[3], p.where)
                    col = hidden_cols.get(frag)
                    if col is None:
                        col = f"__m{i}_h{len(hidden_cols)}"
                        hidden_cols[frag] = col
                        sel.append(f"{frag} AS {col}")
                    out.append(col)
            return "".join(out)

        if p.having_seg is not None:
            conds.append(f"({_render_post(p.having_seg)})")
        order_clause = (
            " ORDER BY " + ", ".join(_render_post(o) for o in p.order_seg)
            if p.order_seg
            else ""
        )
        limit_clause = f" LIMIT {p.limit}" if p.limit is not None else ""

        view = "__MRSHARE_VIEW__"  # patched below once the name is known
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        demux[job.job_id] = (
            f"SELECT {', '.join(out_items)} FROM {view}{where}"
            f"{order_clause}{limit_clause}"
        )

    if grouping_sets:
        sel.insert(len(ordered), "grouping_id() AS __gid")
        sets_sql = ", ".join(
            "(" + ", ".join(raw_of[c] for c in s) + ")" for s in sets_list
        )
        group_clause = f"GROUP BY GROUPING SETS ({sets_sql})"
        n_sets = len(sets_list)
    else:
        # empty ordered = merged GLOBAL aggregation: no GROUP BY at all
        group_clause = (
            "GROUP BY " + ", ".join(raw_of[c] for c in ordered) if ordered else ""
        )
        n_sets = 1

    view = f"mrshare_{uuid.uuid4().hex[:10]}"
    merged_sql = (
        f"SELECT {', '.join(sel)} FROM {table}{merged_where} {group_clause}"
    )
    demux = {jid: q.replace("__MRSHARE_VIEW__", view) for jid, q in demux.items()}
    return MergePlan(
        jobs=[j for j, _ in members],
        merged_sql=merged_sql,
        demux_sql=demux,
        view=view,
        session=members[0][0].session,
        grouping_sets=n_sets,
    )


# modeled cost of reading+decoding the shared source once, in units of
# one Expand pass over the same rows. Any value > 1 yields the same
# decisions under the once-per-group Expand charge (see _split_members:
# the maximum Expand saving from splitting a feasible group is 2, an
# extra group always costs a scan); 2.0 is kept explicit so the model
# stays a cost model rather than a boolean. The reference hardcoded its
# analogous constants outright (fileSize=9800, B, m —
# MRShareOptimizer.scala:36-40).
_SCAN_WEIGHT = 2.0


def _split_members(
    members: list[tuple[QueryJob, "ParsedAgg"]],
    max_distinct_aggs: int,
    max_members: int,
) -> list[list[tuple[QueryJob, "ParsedAgg"]]]:
    """The reference's ``SplitMRShareJobs`` dynamic program
    (MRShareOptimizer.scala:48-116), re-derived for Spark's cost
    asymmetry. MRShare sorted jobs by sorting passes p_i and chose
    consecutive groups maximizing GAIN = scan savings minus the extra
    shuffle the slowest member imposes on the rest (MRShareCM.GS). In
    Spark there are no multi-pass sorts; the asymmetric cost is the
    DISTINCT-aggregate Expand: a merged plan whose members fold D >= 2
    distinct aggregates (each CASE-wrapped per member, so same-column
    distincts across members still form separate distinct groups)
    replicates EVERY input row x(D+1) through Expand — taxing every
    co-merged light member with D extra passes of input volume.

    Model, in input-relation-volume units (all members share one
    signature, hence one source and one row count):
        cost(group) = scan_weight + expand_factor
        expand_factor = 1 if D <= 1 else D + 1
    The Expand factor charges ONCE per group, not per member — this is
    MEASURED, not assumed: on the admitted regime (sources past the
    64 MiB floor, e.g. the bench's 8x CSV fact), a 12-member bag with
    two single-distinct carriers ran 1.86 s merged flat vs 2.22 s as
    [lights]+[distincts] vs 3.49 s unmerged. Per-member CASE-folded
    aggregate columns are whole-stage-codegen-fused and essentially
    free next to a source scan, so an earlier per-member multiplier
    (which made the DP split that bag) charged merging for work the
    engine doesn't do. Under this calibration flat always wins within
    feasibility, and the DP's remaining — and real — job is
    CONSTRAINT-DRIVEN packing: a group is infeasible as a merge when
    D > max_distinct_aggs (Expand blowup cap, as before) or |group| >
    max_members (bounds CASE columns per row and demux round-trips per
    plan — previously unbounded within a bag). Where the pre-DP
    planner declined an over-cap bag WHOLESALE (all members unmerged),
    the DP packs maximal feasible groups: members sort by distinct
    count (the reference sorted by p_i), so consecutive splits
    suffice."""
    ms = sorted(members, key=lambda jp: (jp[1].n_distinct_aggs, jp[0].job_id))
    n = len(ms)
    d = [p.n_distinct_aggs for _, p in ms]
    inf = float("inf")

    def group_cost(i: int, j: int) -> float:  # members i..j as one plan
        k = j - i + 1
        big_d = sum(d[i : j + 1])
        if k > 1 and (big_d > max_distinct_aggs or k > max_members):
            return inf
        factor = 1.0 if big_d <= 1 else big_d + 1.0
        return _SCAN_WEIGHT + factor

    dp = [0.0] + [inf] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(j):
            c = dp[i] + group_cost(i, j - 1)
            if c < dp[j] - 1e-12:
                dp[j] = c
                back[j] = i
    groups: list[list[tuple[QueryJob, ParsedAgg]]] = []
    j = n
    while j > 0:
        i = back[j]
        groups.append(ms[i:j])
        j = i
    return list(reversed(groups))


def parse_select_query(sql: str) -> Optional[tuple]:
    """Decompose a canonical projection/selection statement for the
    result cache's semantic key (round 12): ``SELECT <items> FROM
    <table [alias] | (SELECT …) t | join chain> [WHERE …]
    [ORDER BY …] [LIMIT n]`` — the repeat-dashboard shape
    :func:`parse_agg_query` declines (no aggregation to merge).
    Returns ``(from_sig, items, where_tokens, order_canons, limit)``
    or None. Every decline is safe, a false accept is not, so each
    rule errs conservative:

    - select items key IN ORDER (column order is observable). An
      aliased item keys ``("expr", folded-canon, alias-VERBATIM)`` —
      alias case is the client-visible column name. A bare identifier
      keys case-preserving verbatim (probed: ``SELECT R_NAME`` names
      the column ``R_NAME``). Anything else keys by the case-
      PRESERVING whitespace-collapsed canon: Spark derives auto
      names from the parse tree (whitespace-blind, case-faithful), so
      whitespace-only respellings share a name while case respellings
      key apart. ``*`` / ``t.*`` decline (expansion order is catalog
      state, invisible to the key).
    - WHERE keys as the sorted σ-conjunct token set — conjunction
      commutes and each token is relation-faithful by the merge
      path's leaf proofs (:func:`_cond_tokens`).
    - single-table and derived members strip their alias qualifier
      from every expression slice (alias spelling is unobservable:
      the qualifier never reaches output names); join members keep
      qualifiers and rely on the chain signature's alias-preserving
      operand normalization, exactly like the merge path.
      Analyzability caveat (round-12 review): when a qualified and a
      bare reference are BOTH valid they resolve to the same column
      (Spark prefers the alias-qualified column, falling back to
      struct-field access only when no such column exists), so
      key-equal VALID spellings always return identical data; a
      spelling that would itself fail analysis (``address.city``
      resolving a struct field where bare ``city`` resolves nothing)
      can be served the valid spelling's cached rows instead of its
      AnalysisException — an error-masking bound shared with the
      merge path's re-emission, never wrong data.
    - GROUP BY / HAVING (the aggregation path owns those shapes),
      SELECT DISTINCT, set operators, QUALIFY/DISTRIBUTE/WINDOW/…,
      OFFSET/FETCH, backticks, comments, and subqueries in
      items/WHERE/ORDER all decline. Window OVER items ADMIT (see
      ``_REJECT_SELECT``): the whole spec rides the item canon, and
      tie resolution has exactly the freedom two runs of one text
      already have under the text-key cache.
    - ORDER BY keys by per-item literal-safe folded canons in order
      (a trailing ``asc`` drops — it is the grammar default). LIMIT
      keys by value. LIMIT without a total order picks plan-dependent
      rows, but any n rows of the identical relation is a valid
      answer for every key-equal spelling — the same freedom Spark
      exercises between two runs of the SAME text.
    """
    s = sql.strip().rstrip(";").strip()
    inlined = _inline_single_cte(s)
    if inlined is not None:
        s = inlined  # single-CTE spelling → derived-table form
    low = s.lower()
    if not low.startswith("select") or re.match(r"select\s+distinct\b", low):
        return None
    if "`" in s:
        return None  # backticked identifiers — outside the canon model
    depth, instr = _scan(s)
    if _has_comment_marker(s, instr):
        return None  # comments are unmodeled — decline to text keys
    # lambda parameters can SHADOW stripped alias/table qualifiers —
    # same wrong-data hazard and same wholesale decline as
    # parse_agg_query (round-12 review wave, confirmed repro)
    if any(not instr[m.start()] for m in re.finditer(r"->", s)):
        return None
    for word in _REJECT_SELECT:
        if _find_top(s, word, depth, instr):
            return None
    m_from = _find_top(s, "from", depth, instr)
    if m_from is None:
        return None
    m_where = _find_top(s, "where", depth, instr)
    m_order = _find_top(s, "order", depth, instr)
    if m_order is not None and not re.match(
        r"order\s+by\b", low[m_order.start():]
    ):
        return None
    m_limit = _find_top(s, "limit", depth, instr)
    present = [
        (name, m)
        for name, m in (
            ("from", m_from),
            ("where", m_where),
            ("order", m_order),
            ("limit", m_limit),
        )
        if m is not None
    ]
    starts = [m.start() for _, m in present]
    if starts != sorted(starts) or starts[0] <= len("select"):
        return None
    ends = {
        name: (present[k + 1][1].start() if k + 1 < len(present) else len(s))
        for k, (name, m) in enumerate(present)
    }
    select_list = s[len("select"): m_from.start()]
    if re.search(r",\s*(,|$)", select_list.strip()):
        return None  # malformed list — _split_top would drop the empty
        # segment and the key would mask the engine's ParseException
    from_text = s[m_from.end(): ends["from"]].strip()
    # any top-level JOIN must sit inside the FROM slice (mirrors
    # parse_agg_query: a stray match means the slicing is untrusted)
    for m_j in re.finditer(r"\bjoin\b", s, re.I):
        if not instr[m_j.start()] and depth[m_j.start()] == 0:
            if not (m_from.end() <= m_j.start() < ends["from"]):
                return None

    classified = _classify_from(
        from_text, s[m_where.end(): ends["where"]] if m_where else None
    )
    if classified is None:
        return None
    quals, from_sig, _, raw_where = classified
    where_tokens: tuple = ()
    if raw_where is not None:
        w = _strip_qualifiers(raw_where, quals).strip()
        if not w or re.search(r"\bselect\b", w, re.I):
            return None  # subquery in predicate — decline
        where_tokens = tuple(sorted(set(_cond_tokens(w, None))))

    order_canons: tuple = ()
    if m_order is not None:
        order_text = re.sub(
            r"^order\s+by\s*", "", s[m_order.start(): ends["order"]],
            flags=re.I,
        )
        if re.search(r",\s*(,|$)", order_text.strip()):
            return None  # malformed list — same mask as the select list
        raw_items = _split_top(_strip_qualifiers(order_text, quals))
        if not raw_items:
            return None
        canons = []
        for o in raw_items:
            if not o.strip() or re.search(r"\bselect\b", o, re.I):
                return None
            # strip the grammar-default trailing ASC from the RAW item
            # (post-canon stripping missed items ending in a non-word
            # char — `(a+b) ASC` canons to `(a+b)asc`; round-12
            # review); never strip a bare `asc` identifier to empty
            stripped = re.sub(r"\s+asc\s*$", "", o, flags=re.I)
            canons.append(_canon(stripped if stripped.strip() else o))
        order_canons = tuple(canons)

    limit_val = None
    if m_limit is not None:
        limit_text = s[m_limit.end():].strip()
        if not re.fullmatch(r"\d+", limit_text):
            return None  # LIMIT ALL / expression — decline
        limit_val = int(limit_text)

    items: list[tuple] = []
    for item in _split_top(_strip_qualifiers(select_list, quals)):
        item = item.strip()
        if not item or re.search(r"\bselect\b", item, re.I):
            return None
        if item == "*" or re.fullmatch(
            r"[A-Za-z_]\w*\s*\.\s*\*", item
        ):
            return None  # star projection — expansion is catalog state
        idepth, iinstr = _scan(item)
        m_as = None
        for m in re.finditer(r"\s+as\s+([A-Za-z_]\w*)\s*$", item, re.I):
            if not iinstr[m.start()] and idepth[m.start()] == 0:
                m_as = m
        if m_as:
            expr = item[: m_as.start()].strip()
            if not expr:
                return None
            items.append(("expr", _canon(expr), m_as.group(1)))
        elif _SIMPLE_IDENT.match(item):
            items.append(("col", item))
        else:
            items.append(("raw", _canon(item, fold=False)))
    if not items:
        return None
    return (from_sig, tuple(items), where_tokens, order_canons, limit_val)


def semantic_result_key(sql: str):
    """Spelling-insensitive result-cache key for a statement in the
    canonical mergeable-aggregation shape OR the canonical
    projection/selection shape (:func:`parse_select_query`), else None
    (round 12: the work-sharing the merge path proves sound within a
    batch extends ACROSS TIME — a dashboard re-issuing the same
    aggregation or filtered scan with generator-permuted conjuncts,
    IN-list items, or join operand order hits the result cache instead
    of re-executing). The two shapes carry distinct tags (``"sem"`` /
    ``"selp"``) so their key spaces never collide.

    The key captures everything that determines the result:

    - ``signature`` — relation (single table, or the order- and
      spelling-insensitive join-chain signature) + grouping set; by
      the merge-path soundness arguments, equality ⇒ identical input
      relation and grouping.
    - ``items`` — ORDERED select items (column order is observable),
      each with its canon expression and its output alias VERBATIM
      (column-name case is observable to clients).
    - ``where`` — the sorted σ-conjunct token set (conjunction
      commutes; each token relation-faithful per the leaf proofs).
    - ``having``/``order`` — the parse-time symbolic segments with
      text pieces canon'd (exact-match conservative).
    - ``limit`` — LIMIT without a total order picks plan-dependent
      rows, but ANY n rows of the (identical) relation is a valid
      answer for every key-equal spelling — the same freedom Spark
      already exercises between two runs of the SAME text.

    Nondeterministic text returns None (belt: the server's put path is
    already gated on ``cacheable_sql``). A None falls back to the
    text-normalized key — strictly the old behavior, never wider.
    Tuple keys cannot collide with text keys (type-disjoint)."""
    from sparksql_server_spark.server.results import cacheable_sql

    if not cacheable_sql(sql):
        return None
    # the WHOLE construction degrades to text keys on any internal
    # error (round-12 review: wrapping only the parse left the token
    # builders below able to turn a normalizer bug into a failed
    # request instead of a narrower cache)
    try:
        p = parse_agg_query(sql)
        if p is None:
            # no aggregation — try the canonical projection/selection
            # shape (round 12): same leaf machinery, observables
            # (item order, output-name spelling) keyed verbatim
            sel = parse_select_query(sql)
            return None if sel is None else ("selp",) + sel
        items = tuple(
            (it[0], it[1], it[2])
            if it[0] == "key"
            else ("agg", _canon(it[1]), it[3])
            for it in p.items
        )
        where = (
            tuple(sorted(set(_cond_tokens(p.where, None)))) if p.where else ()
        )

        def _seg_canon(segs: list[tuple]) -> tuple:
            return tuple(
                ("text", _canon(s[1])) if s[0] == "text" else tuple(s)
                for s in segs
            )

        having = _seg_canon(p.having_seg) if p.having_seg else None
        order = tuple(_seg_canon(s) for s in p.order_seg)
        return ("sem", p.signature, items, where, having, order, p.limit)
    except Exception:  # a parser bug must degrade to text keys, not 500
        return None


def plan_merges(
    jobs: list[QueryJob],
    *,
    max_grouping_sets: int = 4,
    max_distinct_aggs: int = 2,
    max_members_per_merge: int = 32,
    cost_split: bool = True,
    schema_fn_for=None,
) -> list[MergePlan]:
    """Group a batch's mergeable jobs into MergePlans.

    Regime 1: same (table, session, grouping signature), ≥2 jobs — the
    ``_split_members`` DP (reference ``SplitMRShareJobs`` analog)
    decides WHICH consecutive cost-sorted members merge together;
    DP singletons fall through to regime 2. Regime 2: leftover
    single-signature jobs on the same (table, session) merge via
    GROUPING SETS when 2 ≤ distinct sets ≤ ``max_grouping_sets`` (the
    Expand-inflation bound standing in for MRShareCM's GAIN).
    ``max_distinct_aggs`` bounds DISTINCT aggregates per merged plan —
    each multi-distinct adds its own Expand in Spark."""
    from sparksql_server_spark.server.results import cacheable_sql

    parsed: dict[int, ParsedAgg] = {}
    by_sig: dict[tuple, list[tuple[QueryJob, ParsedAgg]]] = {}
    for job in jobs:
        # nondeterministic member text never merges (round 12): the
        # CASE-folded rewrite re-evaluates a member's WHERE predicate
        # once per aggregate expression, so a `rand()` predicate would
        # draw independently for `sum(...)` and the presence counter —
        # group membership and values disagreeing in a way no
        # standalone run produces. The same bar keeps the condition
        # canonicalizer's idempotence/dedup steps exact (duplicate
        # `rand()<0.5` disjuncts are NOT one draw). Previously only
        # derived-table inner text was gated (the `_derived_operand` /
        # `_parse_derived_from` call sites); this gates the whole
        # member. Registered UDFs are outside the scanner's reach —
        # Spark itself treats them as deterministic unless registered
        # otherwise, which is the user's assertion to make.
        if not cacheable_sql(job.sql):
            continue
        p = parse_agg_query(
            job.sql,
            schema_fn=schema_fn_for(job) if schema_fn_for else None,
        )
        if p is None:
            continue
        parsed[job.job_id] = p
        by_sig.setdefault((id(job.session), p.signature), []).append((job, p))

    plans: list[MergePlan] = []
    leftovers: dict[tuple, list[tuple[QueryJob, ParsedAgg]]] = {}
    for (sess_key, sig), members in sorted(
        by_sig.items(), key=lambda kv: kv[1][0][0].job_id
    ):
        if len(members) >= 2:
            # cost_split=False bypasses the DP (flat one-plan-per-
            # signature merge) — a semantics-testing hook: the demux
            # equivalence property must hold for EVERY admissible
            # grouping, not only the cost-optimal one
            groups = (
                _split_members(members, max_distinct_aggs, max_members_per_merge)
                if cost_split
                else [members]
            )
            for group in groups:
                if len(group) >= 2:
                    plans.append(_build_merge(group, grouping_sets=False))
                else:
                    leftovers.setdefault((sess_key, sig[0]), []).extend(group)
        else:
            leftovers.setdefault((sess_key, sig[0]), []).extend(members)

    for (sess_key, _table), members in sorted(
        leftovers.items(), key=lambda kv: kv[1][0][0].job_id
    ):
        # GLOBAL aggregates (empty signature) never join a GROUPING
        # SETS merge: grouping-sets aggregation over EMPTY merged input
        # (all-predicate batch where nothing matches, or empty table)
        # yields zero groups, but a true global aggregate must return
        # exactly one row (count=0/NULLs) — ADVICE r4 medium. Regime 1
        # merges of >=2 global aggregates keep plain no-GROUP-BY SQL,
        # which preserves the mandatory row; global singletons here run
        # unmerged.
        members = [(j, p) for j, p in members if p.group_canon]
        # pack within the DISTINCT-aggregate budget instead of
        # all-or-nothing: one over-budget member (e.g. a DP singleton
        # with several DISTINCTs routed here from regime 1) must not
        # cost every other leftover its GROUPING SETS merge (review
        # r7) — cheapest-first keeps the most members, excluded ones
        # run unmerged exactly as they would have pre-merge
        members = sorted(
            members, key=lambda jp: (jp[1].n_distinct_aggs, jp[0].job_id)
        )
        kept: list = []
        budget = max_distinct_aggs
        for j, p in members:
            if p.n_distinct_aggs <= budget:
                kept.append((j, p))
                budget -= p.n_distinct_aggs
        kept.sort(key=lambda jp: jp[0].job_id)
        sets = {p.group_canon for _, p in kept}
        if len(kept) < 2 or not (2 <= len(sets) <= max_grouping_sets):
            continue
        plans.append(_build_merge(kept, grouping_sets=True))
    return plans
