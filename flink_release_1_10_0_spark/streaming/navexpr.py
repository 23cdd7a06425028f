"""DEFINE-clause navigation predicates for MATCH_RECOGNIZE.

The reference compiles ``DEFINE B AS B.price > LAST(A.price)`` into an
``IterativeCondition`` evaluated per partial match against the match's
per-variable event buffer (``flink-table-planner-blink/.../codegen/
MatchCodeGenerator.scala`` navigation codegen;
``flink-libraries/flink-cep/.../nfa/NFA.java:85`` keeps the buffer).

Spark-first split: predicates WITHOUT navigation stay Spark SQL boolean
columns precomputed JVM-side before the keyed shuffle (``nfa.py``).  A
predicate WITH navigation inherently depends on per-run state, so — like
the reference — it is evaluated per (event, run) inside the stateful
operator.  This module compiles the SQL text ONCE into a closure tree
(no parsing or eval() in the event loop); the NFA tracks, per run, only
the bounded first/last values each navigation actually references —
never the event history.

Supported grammar (raises NotImplementedError beyond it):

- literals (numbers, 'strings', TRUE/FALSE/NULL), ``( )``
- arithmetic ``+ - * / %``, comparisons ``= <> != < <= > >=``,
  ``IS [NOT] NULL``, ``AND OR NOT`` with SQL three-valued logic
- ``col`` / ``OWN.col``: the current row (tentatively classified as the
  variable being defined, per SQL:2016)
- ``V.col`` for another pattern variable: sugar for ``LAST(V.col)``
- ``FIRST(V.col [, k])`` / ``LAST(V.col [, k])``: logical navigation
  over the rows mapped to ``V`` so far in this match; for the OWN
  variable the current row is included (``LAST(B.price, 1)`` = the
  previous B), matching Flink's RUNNING semantics in DEFINE
- ``PREV(col [, k])`` (also ``PREV(V.col [, k])``): PHYSICAL navigation
  — the row ``k`` positions earlier in the partition by order, whether
  or not it was matched (SQL:2016 PREV; default k=1)
- ``NEXT(...)`` in DEFINE needs lookahead — rejected like the reference
  rejects it outside MEASURES.
- aggregates ``SUM/AVG/MIN/MAX(expr)``, ``COUNT(V.col)``,
  ``COUNT(V.*)``, ``COUNT(*)`` with the reference's RUNNING semantics
  (``docs/dev/table/streaming/match_recognize.md:263-331``,
  ``MatchCodeGenerator.scala`` aggregate codegen): the aggregate ranges
  over the rows mapped to the variable SO FAR in this match, including
  the current row when it is (tentatively) classified as that variable
  — ``A AS AVG(A.price) < 15`` accepts a row iff the average with it
  appended stays below 15, exactly the reference's flagship example.
  The argument may be an expression, but must reference a single
  pattern variable (``SUM(A.price * A.tax)`` is valid,
  ``AVG(A.price * B.tax)`` refuses — the reference's rule), and
  ``DISTINCT`` aggregates refuse like the reference.  The NFA tracks
  one bounded accumulator ``(count, sum, min, max)`` per (variable,
  argument) per run — never the row history.

A navigation that resolves to no row (variable unmatched, offset past
the buffer, PREV before the first row) is SQL NULL; a predicate that
evaluates to NULL is not satisfied (the run does not take the edge).
"""

from __future__ import annotations

import decimal
import numbers
import operator
import re
from collections.abc import Callable
from dataclasses import dataclass, field

# evaluation context: fn(row, nav, navn, prev) where
#   row  : dict col -> current-row value
#   nav  : dict var -> col -> [firsts:list, lasts:list]  (bounded)
#   navn : dict var -> rows mapped to var so far (excluding current)
#   prev : list of previous physical rows' dicts, oldest..newest
Evaluator = Callable[[dict, dict, dict, list], object]


@dataclass
class NavPred:
    """A compiled navigational DEFINE predicate plus the bookkeeping the
    NFA needs: which row columns to ship through the shuffle, which
    (variable, column) values to track per run and how many of them,
    and how many physical rows back PREV reaches."""

    fn: Evaluator
    row_cols: frozenset[str]
    # var -> col -> [need_first, need_last] (how many head/tail values)
    tracked: dict[str, dict[str, list[int]]] = field(default_factory=dict)
    prev_depth: int = 0
    # var -> agg_key -> arg evaluator (None = row-count only, COUNT(V.*));
    # the NFA keeps one (count, sum, min, max) accumulator per entry per
    # run, updated when a row is consumed into var
    aggs: dict[str, dict[str, object]] = field(default_factory=dict)
    # a COUNT(*) / COUNT(V.*) appears: the NFA then counts EVERY
    # consumed row per variable (navn), not just tracked ones
    count_all: bool = False


_TOKEN = re.compile(r"""
    \s*(?:
      (?P<num>\d+(?:\.\d+)?)
    | '(?P<str>(?:[^']|'')*)'
    | (?P<star>[A-Za-z_]\w*\s*\.\s*\*)
    | (?P<ident>[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)?)
    | (?P<op><>|!=|<=|>=|=|<|>|\+|-|\*|/|%|\(|\)|,)
    )""", re.VERBOSE)

_KEYWORDS = {"AND", "OR", "NOT", "IS", "NULL", "TRUE", "FALSE",
             "FIRST", "LAST", "PREV", "NEXT",
             "SUM", "AVG", "COUNT", "MIN", "MAX"}

_AGG_KINDS = ("SUM", "AVG", "COUNT", "MIN", "MAX")


def _tokenize(s: str) -> list[tuple[str, object]]:
    out, pos, n = [], 0, len(s)
    while pos < n:
        if s[pos].isspace():
            pos += 1
            continue
        m = _TOKEN.match(s, pos)
        if not m or m.end() == pos:
            raise NotImplementedError(
                f"navigation predicate grammar: unsupported token at "
                f"{s[pos:pos + 20]!r} (supported: arithmetic, comparisons, "
                f"AND/OR/NOT, IS [NOT] NULL, FIRST/LAST/PREV navigation)")
        if m.group("num") is not None:
            t = m.group("num")
            out.append(("num", float(t) if "." in t else int(t)))
        elif m.group("str") is not None:
            out.append(("str", m.group("str").replace("''", "'")))
        elif m.group("star") is not None:
            out.append(("star", re.sub(r"\s*\.\s*\*", "",
                                       m.group("star"))))
        elif m.group("ident") is not None:
            ident = re.sub(r"\s*\.\s*", ".", m.group("ident"))
            up = ident.upper()
            if "." not in ident and up in _KEYWORDS:
                out.append(("kw", up))
            else:
                out.append(("ident", ident))
        else:
            out.append(("op", m.group("op")))
        pos = m.end()
    out.append(("end", None))
    return out


_CMP_OPS = {"=": operator.eq, "<>": operator.ne, "!=": operator.ne,
            "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}


def _cmp(op: str):
    f = _CMP_OPS[op]

    def fn(a, b, f=f):
        if a is None or b is None:
            return None
        return f(a, b)
    return fn


def _num(v) -> bool:
    # numbers.Number covers int/float AND decimal.Decimal — DecimalType
    # columns reach rowvals as decimal.Decimal via pandas tolist(), and
    # rejecting them would silently NULL every navigation predicate
    # over a DECIMAL column (diverging from the Spark-SQL fast path).
    # Exact-type fast path first: the abc instancecheck dominated the
    # NFA profile at 700k calls/head, and int/float cover virtually
    # every value the hot loop sees (bool is a subclass of int, so the
    # exact-type test correctly skips it).
    t = type(v)
    if t is int or t is float:
        return True
    return isinstance(v, numbers.Number) and not isinstance(v, bool)


def fold_acc(acc, v):
    """Fold one value into a ``(count, sum, min, max)`` RUNNING-aggregate
    accumulator — the single update rule shared by the NFA's stored
    per-run state (``nfa.nav_take``) and the tentative current-row
    evaluation inside the compiled aggregate closure, so the two can
    never desynchronize.  NULL values don't count; Decimals fold as
    float (JSON round-trip safety); non-numeric values count and
    min/max but never sum."""
    n, s, mn, mx = acc
    if v is None:
        return n, s, mn, mx
    t = type(v)
    if t is not int and t is not float and isinstance(v, decimal.Decimal):
        v = float(v)
    n += 1
    if _num(v):
        s = v if s is None else s + v
    mn = v if mn is None or v < mn else mn
    mx = v if mx is None or v > mx else mx
    return n, s, mn, mx


_ARITH_OPS = {"+": operator.add, "-": operator.sub, "*": operator.mul,
              "%": operator.mod, "/": operator.truediv}

# empty aggregate accumulator (count, sum, min, max) — COUNT over an
# unmatched variable is 0, the others NULL
_ZERO_ACC = (0, None, None, None)


def _arith(op: str):
    # Numeric operands only: Python '+' on two strings would concatenate
    # and int/int '/' true-divides, so an untyped closure could diverge
    # from what the same SQL text does on the Spark fast path.  Non-
    # numeric operands yield NULL (the predicate is then not satisfied)
    # instead of silently applying Python semantics.
    f = _ARITH_OPS[op]
    guard = op in ("%", "/")

    def fn(a, b, f=f, guard=guard):
        if not _num(a) or not _num(b):
            return None
        # decimal.Decimal refuses mixed arithmetic with float — compute
        # in float like the rest of the closure tier (predicates are
        # comparisons; the SQL fast path owns exact decimal math)
        if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
            a, b = float(a), float(b)
        if guard and b == 0:
            return None                       # SQL: x/0, x%0 -> NULL guard
        return f(a, b)
    return fn


class _Compiler:
    """Recursive-descent compiler: SQL text -> closure tree."""

    def __init__(self, text: str, own_var: str, all_vars: list[str]):
        self.toks = _tokenize(text)
        self.i = 0
        self.own = own_var
        self.vars = set(all_vars)
        self.row_cols: set[str] = set()
        self.tracked: dict[str, dict[str, list[int]]] = {}
        self.prev_depth = 0
        self.aggs: dict[str, dict[str, object]] = {}
        self.count_all = False
        self.in_agg = False
        self.agg_vars: set[str] = set()

    # token helpers ------------------------------------------------------
    def peek(self):
        return self.toks[self.i]

    def take(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect_op(self, op: str):
        k, v = self.take()
        if k != "op" or v != op:
            raise NotImplementedError(f"expected {op!r}, got {v!r}")

    # bookkeeping --------------------------------------------------------
    def _track(self, var: str, col: str, kind: str, off: int):
        d = self.tracked.setdefault(var, {}).setdefault(col, [0, 0])
        if kind == "first":
            d[0] = max(d[0], off + 1)
        else:
            d[1] = max(d[1], off + 1)
        self.row_cols.add(col)

    # grammar ------------------------------------------------------------
    def parse(self) -> Evaluator:
        e = self.or_expr()
        k, _ = self.peek()
        if k != "end":
            raise NotImplementedError(
                f"trailing tokens in navigation predicate: "
                f"{self.toks[self.i:]!r}")
        return e

    def or_expr(self) -> Evaluator:
        parts = [self.and_expr()]
        while self.peek() == ("kw", "OR"):
            self.take()
            parts.append(self.and_expr())
        if len(parts) == 1:
            return parts[0]

        def fn(row, nav, navn, prev, parts=parts):
            saw_null = False
            for p in parts:
                v = p(row, nav, navn, prev)
                if v is True:
                    return True
                if v is None:
                    saw_null = True
            return None if saw_null else False
        return fn

    def and_expr(self) -> Evaluator:
        parts = [self.not_expr()]
        while self.peek() == ("kw", "AND"):
            self.take()
            parts.append(self.not_expr())
        if len(parts) == 1:
            return parts[0]

        def fn(row, nav, navn, prev, parts=parts):
            saw_null = False
            for p in parts:
                v = p(row, nav, navn, prev)
                if v is False:
                    return False
                if v is None:
                    saw_null = True
            return None if saw_null else True
        return fn

    def not_expr(self) -> Evaluator:
        if self.peek() == ("kw", "NOT"):
            self.take()
            inner = self.not_expr()

            def fn(row, nav, navn, prev, inner=inner):
                v = inner(row, nav, navn, prev)
                return None if v is None else not v
            return fn
        return self.cmp_expr()

    def cmp_expr(self) -> Evaluator:
        left = self.add_expr()
        k, v = self.peek()
        if k == "op" and v in ("=", "<>", "!=", "<", "<=", ">", ">="):
            self.take()
            right = self.add_expr()
            op = _cmp(v)

            def fn(row, nav, navn, prev, left=left, right=right, op=op):
                return op(left(row, nav, navn, prev),
                          right(row, nav, navn, prev))
            return fn
        if k == "kw" and v == "IS":
            self.take()
            negate = False
            if self.peek() == ("kw", "NOT"):
                self.take()
                negate = True
            kk, vv = self.take()
            if (kk, vv) != ("kw", "NULL"):
                raise NotImplementedError("IS must be followed by [NOT] NULL")

            def fn(row, nav, navn, prev, left=left, negate=negate):
                isnull = left(row, nav, navn, prev) is None
                return (not isnull) if negate else isnull
            return fn
        return left

    def add_expr(self) -> Evaluator:
        left = self.mul_expr()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.take()
                right = self.mul_expr()
                op = _arith(v)
                left = (lambda row, nav, navn, prev, a=left, b=right, op=op:
                        op(a(row, nav, navn, prev), b(row, nav, navn, prev)))
            else:
                return left

    def mul_expr(self) -> Evaluator:
        left = self.unary()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("*", "/", "%"):
                self.take()
                right = self.unary()
                op = _arith(v)
                left = (lambda row, nav, navn, prev, a=left, b=right, op=op:
                        op(a(row, nav, navn, prev), b(row, nav, navn, prev)))
            else:
                return left

    def unary(self) -> Evaluator:
        k, v = self.peek()
        if k == "op" and v == "-":
            self.take()
            inner = self.unary()
            return (lambda row, nav, navn, prev, inner=inner:
                    None if inner(row, nav, navn, prev) is None
                    else -inner(row, nav, navn, prev))
        return self.primary()

    def _nav_args(self) -> tuple[str, str, int]:
        """Parse ``V.col [, k]`` inside FIRST/LAST/PREV parens."""
        self.expect_op("(")
        k, v = self.take()
        if k != "ident":
            raise NotImplementedError(f"navigation needs V.col, got {v!r}")
        if "." in v:
            var, col = v.split(".", 1)
        else:
            var, col = self.own, v      # PREV(col) — unqualified
        off = None
        kk, vv = self.peek()
        if (kk, vv) == ("op", ","):
            self.take()
            kn, vn = self.take()
            if kn != "num" or not isinstance(vn, int):
                raise NotImplementedError("navigation offset must be an int")
            off = vn
        self.expect_op(")")
        return var, col, off

    def _agg_call(self, kind: str) -> Evaluator:
        """Parse + compile ``SUM/AVG/MIN/MAX(expr)``, ``COUNT(V.col)``,
        ``COUNT(V.*)``, ``COUNT(*)`` with RUNNING semantics: the value
        over the rows mapped to the variable so far in this match, the
        current row included when it is tentatively classified as that
        variable (``match_recognize.md:263-331``)."""
        self.expect_op("(")
        pk, pv = self.peek()
        if pk == "ident" and pv.upper() == "DISTINCT":
            raise NotImplementedError(
                "DISTINCT aggregates in MATCH_RECOGNIZE are not "
                "supported (the reference refuses them too, "
                "match_recognize.md:331)")
        if kind == "COUNT" and (pk, pv) == ("op", "*"):
            # COUNT(*): every row of the candidate match, the current
            # (tentatively classified) row included
            self.take()
            self.expect_op(")")
            self.count_all = True
            return lambda row, nav, navn, prev: sum(navn.values()) + 1
        if pk == "star":
            # COUNT(V.*): rows mapped to V (current row included when V
            # is the variable being defined)
            if kind != "COUNT":
                raise NotImplementedError(
                    f"{kind}(V.*) is not valid — only COUNT takes V.*")
            self.take()
            self.expect_op(")")
            var = pv
            if var not in self.vars:
                raise ValueError(
                    f"COUNT({var}.*): {var!r} is not a pattern variable")
            self.count_all = True
            own = var == self.own
            return (lambda row, nav, navn, prev, var=var, own=own:
                    navn.get(var, 0) + (1 if own else 0))
        # expression argument over a single pattern variable
        i0 = self.i
        self.in_agg, self.agg_vars = True, set()
        arg = self.add_expr()
        self.in_agg = False
        self.expect_op(")")
        if len(self.agg_vars) != 1:
            raise NotImplementedError(
                f"{kind}(...) argument must reference exactly one "
                f"pattern variable (got {sorted(self.agg_vars)}) — "
                "SUM(A.price * A.tax) is valid, AVG(A.price * B.tax) "
                "is not (the reference's single-variable rule)")
        var = next(iter(self.agg_vars))
        # stable accumulator key: the argument's token slice (dedups the
        # same argument text across predicates sharing a pattern)
        akey = "\x00" + kind + ":" + repr(self.toks[i0:self.i - 1])
        self.aggs.setdefault(var, {})[akey] = arg
        own = var == self.own

        # specialized per kind: the per-(event, run) call resolves the
        # accumulator slot by a precompiled index instead of a string
        # if-chain, and only allocates when the current row folds in
        if kind == "AVG":
            def fn(row, nav, navn, prev, var=var, own=own,
                   arg=arg, akey=akey):
                vd = nav.get(var)
                acc = (vd.get(akey) if vd else None) or _ZERO_ACC
                if own:
                    # tentative include of the current row: same fold as
                    # the stored accumulator update (nfa.nav_take)
                    acc = fold_acc(acc, arg(row, nav, navn, prev))
                n, s = acc[0], acc[1]
                return None if not n or s is None else s / n
        else:
            pos = {"COUNT": 0, "SUM": 1, "MIN": 2, "MAX": 3}[kind]

            def fn(row, nav, navn, prev, var=var, own=own,
                   arg=arg, akey=akey, pos=pos):
                vd = nav.get(var)
                acc = (vd.get(akey) if vd else None) or _ZERO_ACC
                if own:
                    acc = fold_acc(acc, arg(row, nav, navn, prev))
                return acc[pos]
        return fn

    def primary(self) -> Evaluator:
        k, v = self.take()
        if k == "num" or k == "str":
            return lambda row, nav, navn, prev, v=v: v
        if k == "kw" and v in ("TRUE", "FALSE"):
            b = v == "TRUE"
            return lambda row, nav, navn, prev, b=b: b
        if k == "kw" and v == "NULL":
            return lambda row, nav, navn, prev: None
        if k == "op" and v == "(":
            e = self.or_expr()
            self.expect_op(")")
            return e
        if k == "kw" and v == "NEXT":
            raise NotImplementedError(
                "NEXT(...) in DEFINE needs lookahead — the reference "
                "rejects it outside MEASURES too; use PREV on the later "
                "variable instead")
        if k == "kw" and v in _AGG_KINDS:
            if self.in_agg:
                raise NotImplementedError(
                    f"nested aggregate {v}(...) inside an aggregate "
                    "argument is not supported (the reference refuses "
                    "nested aggregations too)")
            return self._agg_call(v)
        if self.in_agg and k == "kw" and v in ("FIRST", "LAST", "PREV"):
            raise NotImplementedError(
                f"{v}(...) navigation inside an aggregate argument is "
                "not supported (the reference's aggregate arguments are "
                "row expressions over a single pattern variable)")
        if k == "kw" and v in ("FIRST", "LAST"):
            var, col, off = self._nav_args()
            off = 0 if off is None else off
            if var not in self.vars:
                raise ValueError(
                    f"{v}({var}.{col}): {var!r} is not a pattern variable")
            self._track(var, col, "first" if v == "FIRST" else "last", off)
            own = var == self.own
            if v == "FIRST":
                def fn(row, nav, navn, prev, var=var, col=col, off=off,
                       own=own):
                    vals = nav.get(var, {}).get(col)
                    firsts = vals[0] if vals else []
                    if off < len(firsts):
                        return firsts[off]
                    if own and off == navn.get(var, 0):
                        return row.get(col)      # current row is the off-th
                    return None
                return fn

            def fn(row, nav, navn, prev, var=var, col=col, off=off, own=own):
                vals = nav.get(var, {}).get(col)
                lasts = vals[1] if vals else []
                if own:
                    if off == 0:
                        return row.get(col)      # current row included
                    return lasts[-off] if off <= len(lasts) else None
                return lasts[-(off + 1)] if off < len(lasts) else None
            return fn
        if k == "kw" and v == "PREV":
            var, col, off = self._nav_args()
            if var != self.own:
                # SQL:2016 anchors a qualified PREV at V's last mapped
                # row; the reference rejects physical offsets entirely
                # (MatchCodeGenerator.scala:335).  Silently navigating k
                # physical rows before the CURRENT row would be wrong
                # under relaxed contiguity, so refuse loudly.
                raise NotImplementedError(
                    f"PREV({var}.{col}): qualified PREV over another "
                    "pattern variable is not supported (PREV here is "
                    "physical, anchored at the current row); use "
                    f"LAST({var}.{col}, k) for logical navigation")
            off = 1 if off is None else off
            if off < 1:
                raise NotImplementedError("PREV offset must be >= 1")
            self.prev_depth = max(self.prev_depth, off)
            self.row_cols.add(col)

            def fn(row, nav, navn, prev, col=col, off=off):
                return prev[-off].get(col) if off <= len(prev) else None
            return fn
        if k == "ident":
            if self.in_agg:
                if "." not in v:
                    raise NotImplementedError(
                        f"unqualified column {v!r} inside an aggregate "
                        "argument: qualify it with the pattern variable "
                        "(SUM(A.price)) — the aggregate ranges over "
                        "that variable's mapped rows")
                var, col = v.split(".", 1)
                if var not in self.vars:
                    raise ValueError(
                        f"unknown qualifier {var!r} in aggregate "
                        f"argument (pattern variables: "
                        f"{sorted(self.vars)})")
                self.agg_vars.add(var)
                self.row_cols.add(col)
                # the arg closure is applied to ONE mapped row of the
                # variable at accumulation time: `row` is that row
                return lambda row, nav, navn, prev, col=col: row.get(col)
            if "." in v:
                var, col = v.split(".", 1)
                if var == self.own:
                    self.row_cols.add(col)
                    return lambda row, nav, navn, prev, col=col: row.get(col)
                if var in self.vars:
                    # bare other-variable reference == LAST(var.col)
                    self._track(var, col, "last", 0)

                    def fn(row, nav, navn, prev, var=var, col=col):
                        vals = nav.get(var, {}).get(col)
                        lasts = vals[1] if vals else []
                        return lasts[-1] if lasts else None
                    return fn
                raise ValueError(
                    f"unknown qualifier {var!r} in DEFINE (pattern "
                    f"variables: {sorted(self.vars)})")
            self.row_cols.add(v)
            return lambda row, nav, navn, prev, v=v: row.get(v)
        raise NotImplementedError(f"unsupported token {v!r} in predicate")


def compile_nav_predicate(pred: str, own_var: str,
                          all_vars: list[str]) -> NavPred:
    """Compile a DEFINE predicate containing navigation into a NavPred.

    ``own_var`` is the variable being defined (its bare/qualified column
    references read the current row); ``all_vars`` are all pattern
    variables (qualifying one of them navigates the match buffer)."""
    c = _Compiler(pred, own_var, all_vars)
    fn = c.parse()
    return NavPred(fn=fn, row_cols=frozenset(c.row_cols),
                   tracked=c.tracked, prev_depth=c.prev_depth,
                   aggs=c.aggs, count_all=c.count_all)


def has_navigation(pred: str, own_var: str, all_vars: list[str]) -> bool:
    """True when the predicate needs per-run evaluation: a FIRST/LAST/
    PREV/NEXT call, an aggregate (SUM/AVG/COUNT/MIN/MAX — RUNNING over
    the match buffer), or a qualified reference to ANOTHER variable."""
    if re.search(r"\b(FIRST|LAST|PREV|NEXT|SUM|AVG|COUNT|MIN|MAX)\s*\(",
                 pred, re.IGNORECASE):
        return True
    return any(re.search(rf"\b{re.escape(v)}\s*\.", pred)
               for v in all_vars if v != own_var)
