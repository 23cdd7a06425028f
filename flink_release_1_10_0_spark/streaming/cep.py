"""CEP pattern API (``flink-libraries/flink-cep/.../pattern/
Pattern.java:50-542``) compiled onto the generic NFA in
``streaming/nfa.py``: one engine, as the reference's ``NFACompiler``
feeds one ``NFA.java:85`` inside ``CepOperator.java:82``.

Every pattern gets the reference semantics and one output schema (see
``nfa.match_nfa``: key, ``start_id``/``end_id``, ``start_ts``/``end_ts``,
``n_events``, ``ev_ids``/``ev_stages``).  With the default
``after_match="no_skip"`` every match emits when it completes:

- ``begin(A).followed_by(B).within(T)`` — each A's run takes its first
  B inside the window (relaxed contiguity, SKIP_TILL_NEXT).
- ``begin(A).next(B)`` — strict contiguity: B must be the key's very
  next event.
- ``begin(A).followed_by_any(B).within(T)`` — every in-window (A, B)
  pair (SKIP_TILL_ANY).
- ``begin(A).one_or_more().followed_by(B).within(T)`` — a run starts
  at every A, and a non-greedy loop also emits each stop-early prefix:
  ``a1 a2 b`` yields ``a1 b``, ``a1 a2 b`` and ``a2 b``.
- ``begin(A).times(n).consecutive()`` — every run of n adjacent As,
  overlapping.
- ``begin(A).followed_by(B).optional().followed_by(C).within(T)`` —
  both the ``A C`` and the ``A B C`` match.
- ``begin(A).not_followed_by(B).within(T)`` — each A with no B in
  ``(A.ts, A.ts + T]``, emitted when the window closes: on a stream
  when the watermark reaches ``A.ts + T`` (``watermark_timers``), on a
  bounded input at its end.

Matches consume their events through the skip strategy, not through a
different operator: ``.greedy()`` on the loop plus
``match_stream(..., after_match="skip_past_last")`` emits one maximal
match per closing event and discards every run that began inside it.
``begin(A).one_or_more().greedy().followed_by(B).within(T)`` then
yields one row per B holding all pending in-window As, and
``times(n).consecutive()`` yields non-overlapping runs of n.

``where`` conditions are arbitrary row predicates ANDed onto the
stage's event type (``or_`` ORs alternatives); navigation and
aggregates (``LAST(a.value)``) compile to per-run closures.  The NFA
also takes arbitrary-length sequences, times(n)/times(from, to)
quantifiers, consecutive()/allow_combinations() INNER loop strategies
(the entry seam keeps the sequencing verb's contiguity), leading
optionals, group patterns (``begin_pattern``/``followed_by_pattern``/
``next_pattern``) both unrolled (``times=n``) and QUANTIFIED
(``group_optional``/``group_one_or_more``/``group_times``/
``group_times_or_more`` — NFA group loop-back edges,
GroupPattern.java:30), every after-match skip strategy, and — with
``match_stream(..., emit_timeouts=True)`` — the timed-out-partial-match
side output.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class _Stage:
    event_type: str
    one_or_more: bool = False
    negated: bool = False
    strict: bool = False        # next() — no ignore self-loop
    any_match: bool = False     # followedByAny() — no consumption
    optional: bool = False      # optional() — stage may be skipped
    times_n: int | None = None  # times(n) / times(n, m) lower bound
    times_m: int | None = None  # times(n, m) upper bound (range form)
    or_more: bool = False       # timesOrMore(n)
    consecutive: bool = False   # inner STRICT (between loop iterations)
    combinations: bool = False  # inner ANY (allowCombinations)
    greedy: bool = False        # greedy() — loop wins over advance
    wheres: list[str] = field(default_factory=list)   # .where(sql) — ANDed
    ors: list[str] = field(default_factory=list)      # .or_(sql) — ORed
    until_sql: str | None = None                      # .until(sql)

    def pred_sql(self, wheres: list[str] | None = None) -> str:
        """Compile event-type sugar + where/or conditions to one SQL
        boolean expression (Pattern.where(...).or(...) semantics).
        ``wheres`` overrides the condition list (the NFA compiler keeps
        navigation conditions out of the SQL bit — they ride the
        per-run closure instead)."""
        wheres = self.wheres if wheres is None else wheres
        base = f"event_type = '{self.event_type}'"
        if wheres:
            base = "(" + " AND ".join([base] + [f"({w})" for w in wheres]) + ")"
        if self.ors:
            base = "(" + " OR ".join([base] + [f"({o})" for o in self.ors]) + ")"
        return base


@dataclass
class Pattern:
    """Fluent pattern builder."""

    stages: list[_Stage] = field(default_factory=list)
    within_minutes: float | None = None
    # quantified groups: (start_idx, end_idx, min_reps, max_reps|None)
    groups: list[tuple] = field(default_factory=list)
    # span of the most recent *_pattern() call, quantifiable while it
    # is still the pattern tail
    _last_group: tuple | None = None

    @classmethod
    def begin(cls, event_type: str) -> "Pattern":
        return cls(stages=[_Stage(event_type)])

    # ---- group patterns (GroupPattern.java:30; Pattern.begin/next/
    # followedBy(Pattern) overloads) -------------------------------
    # Two tiers:
    # - ``times=n`` (n >= 1) UNROLLS the sub-pattern into n mandatory
    #   copies — exact, no group state needed;
    # - the ``group_*`` quantifier methods attach a REAL group
    #   quantifier (optional / oneOrMore / times(from, to) /
    #   timesOrMore) executed by the NFA's group loop-back edges
    #   (NFACompiler's middle states).  Quantified groups need >= 2
    #   plain consuming stages with exact inner quantifiers — the NFA
    #   validates and refuses the rest loudly.

    @classmethod
    def begin_pattern(cls, sub: "Pattern", times: int = 1) -> "Pattern":
        """``Pattern.begin(Pattern)``: start with a sub-pattern —
        unrolled ``times`` times, or quantified via a following
        ``group_*`` call (``times`` must stay 1 then)."""
        import copy as _copy

        if sub.within_minutes is not None:
            raise ValueError(
                "the sub-pattern carries within(): a group cannot "
                "scope a window to itself — set within() on the OUTER "
                "pattern instead")
        if times < 1:
            raise NotImplementedError(
                "times(n) group unrolling needs n >= 1; for optional/"
                "unbounded group quantifiers use group_optional()/"
                "group_one_or_more()/group_times(from, to)")
        p = cls(stages=[_copy.deepcopy(s)
                        for _ in range(times) for s in sub.stages])
        if times == 1:
            p._last_group = (0, len(p.stages) - 1)
        return p

    def followed_by_pattern(self, sub: "Pattern",
                            times: int = 1) -> "Pattern":
        """``Pattern.followedBy(Pattern)``: sequence a sub-pattern
        (relaxed contiguity at the seam) — unrolled ``times`` times, or
        quantified via a following ``group_*`` call."""
        import copy as _copy

        if sub.within_minutes is not None:
            raise ValueError(
                "the sub-pattern carries within(): a group cannot "
                "scope a window to itself — set within() on the OUTER "
                "pattern instead")
        if times < 1:
            raise NotImplementedError(
                "times(n) group unrolling needs n >= 1; for optional/"
                "unbounded group quantifiers use group_optional()/"
                "group_one_or_more()/group_times(from, to)")
        start = len(self.stages)
        for _ in range(times):
            self.stages.extend(_copy.deepcopy(s) for s in sub.stages)
        self._last_group = ((start, len(self.stages) - 1)
                            if times == 1 else None)
        return self

    def next_pattern(self, sub: "Pattern") -> "Pattern":
        """``Pattern.next(Pattern)``: strict contiguity at the seam —
        the sub-pattern's first event must immediately follow."""
        import copy as _copy

        if sub.within_minutes is not None:
            raise ValueError(
                "the sub-pattern carries within(): a group cannot "
                "scope a window to itself — set within() on the OUTER "
                "pattern instead")
        start = len(self.stages)
        stages = [_copy.deepcopy(s) for s in sub.stages]
        stages[0].strict = True
        self.stages.extend(stages)
        self._last_group = (start, len(self.stages) - 1)
        return self

    # ---- group quantifiers (Quantifier applied to a GroupPattern) --

    def _quantify_group(self, mn: int, mx: int | None) -> "Pattern":
        if self._last_group is None:
            raise ValueError(
                "group quantifier without a group: call begin_pattern/"
                "followed_by_pattern/next_pattern (times=1) first")
        start, end = self._last_group
        if end != len(self.stages) - 1:
            raise ValueError(
                "group quantifier must directly follow its group "
                "(stages were appended in between)")
        if end == start:
            raise NotImplementedError(
                "single-stage group quantifier: quantify the stage "
                "itself (times/one_or_more/optional)")
        if any(g[0] <= end and start <= g[1] for g in self.groups):
            raise NotImplementedError(
                "nested/overlapping group quantifiers are not supported")
        self.groups.append((start, end, mn, mx))
        self._last_group = None
        return self

    def group_optional(self) -> "Pattern":
        """``GroupPattern.optional()``: the whole sub-pattern may be
        skipped (0 or 1 repetitions)."""
        return self._quantify_group(0, 1)

    def group_one_or_more(self) -> "Pattern":
        """``GroupPattern.oneOrMore()``: the sub-pattern repeats 1+
        times; each completed repetition of a trailing group emits a
        prefix match (the reference's partial-match semantics)."""
        return self._quantify_group(1, None)

    def group_times(self, n: int, m: int | None = None) -> "Pattern":
        """``GroupPattern.times(n[, m])``: exactly n (or n..m)
        repetitions, executed by the NFA group loop (no unrolling)."""
        if m is not None and m < n:
            raise ValueError(f"group_times({n}, {m}): to < from")
        return self._quantify_group(n, m if m is not None else n)

    def group_times_or_more(self, n: int) -> "Pattern":
        """``GroupPattern.timesOrMore(n)``: at least n repetitions."""
        return self._quantify_group(n, None)

    def one_or_more(self) -> "Pattern":
        self.stages[-1].one_or_more = True
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Exactly ``n`` occurrences, or ``n`` to ``m`` with the range
        form (``Pattern.times(from, to)``, ``Pattern.java:472``)."""
        if m is not None and m < n:
            raise ValueError(f"times({n}, {m}): to < from")
        self.stages[-1].times_n = n
        self.stages[-1].times_m = m
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """At least ``n`` occurrences (``Pattern.timesOrMore``)."""
        self.stages[-1].times_n = n
        self.stages[-1].or_more = True
        return self

    def consecutive(self) -> "Pattern":
        self.stages[-1].consecutive = True
        return self

    def allow_combinations(self) -> "Pattern":
        """Non-deterministic relaxed contiguity INSIDE the last (loop)
        stage (``Quantifier.allowCombinations``, ``Pattern.java:389``):
        after each CONTINUING take the pre-take run stays alive, so
        every order-preserving subsequence of loop events (anchored at
        the loop's first take — the entry seam keeps the outer
        strategy) forms its own partial match.  Combinatorial by
        design (the reference is too); the per-key run cap still
        bounds state."""
        s = self.stages[-1]
        if not (s.one_or_more or s.times_n is not None):
            raise ValueError("allow_combinations() applies to a loop "
                             "stage (oneOrMore/times/timesOrMore)")
        if s.consecutive:
            raise ValueError("allow_combinations() conflicts with "
                             "consecutive()")
        s.combinations = True
        return self

    def optional(self) -> "Pattern":
        self.stages[-1].optional = True
        return self

    def greedy(self) -> "Pattern":
        """Loop consumes as much as possible before advancing
        (``Pattern.greedy``): while the loop stage still matches an
        event, the advance-to-next-stage branch is suppressed."""
        self.stages[-1].greedy = True
        return self

    def where(self, sql: str) -> "Pattern":
        """AND an arbitrary row predicate onto the last stage
        (``Pattern.where`` / IterativeCondition)."""
        self.stages[-1].wheres.append(sql)
        return self

    def or_(self, sql: str) -> "Pattern":
        """OR an alternative row predicate onto the last stage
        (``Pattern.or``)."""
        self.stages[-1].ors.append(sql)
        return self

    def until(self, sql: str) -> "Pattern":
        """Stop condition for a loop stage (``Pattern.until``): the loop
        stops accepting events once an event satisfies ``sql``."""
        self.stages[-1].until_sql = sql
        return self

    def not_next(self, event_type: str) -> "Pattern":
        """Strict absence (``Pattern.notNext``): the immediately
        following event must NOT match."""
        self.stages.append(_Stage(event_type, negated=True, strict=True))
        return self

    def followed_by(self, event_type: str) -> "Pattern":
        self.stages.append(_Stage(event_type))
        return self

    def followed_by_any(self, event_type: str) -> "Pattern":
        """Relaxed contiguity, non-deterministic runs
        (``Pattern.followedByAny``): every qualifying pair matches."""
        self.stages.append(_Stage(event_type, any_match=True))
        return self

    def next(self, event_type: str) -> "Pattern":
        """Strict contiguity (``Pattern.next``): the very next event."""
        self.stages.append(_Stage(event_type, strict=True))
        return self

    def not_followed_by(self, event_type: str) -> "Pattern":
        """Absence pattern (``Pattern.notFollowedBy``): match when no such
        event arrives inside the window (decided on watermark)."""
        self.stages.append(_Stage(event_type, negated=True))
        return self

    def within(self, minutes: float) -> "Pattern":
        self.within_minutes = minutes
        return self

    def _compile_nfa_stages(self) -> list:
        """Compile the fluent stages to generic NFA stages
        (``streaming/nfa.py``).

        ``where()`` conditions containing NAVIGATION or AGGREGATES
        (``LAST(a.value)``, ``PREV(value)``, ``SUM(c.value) < k``) are
        the Pattern-API analog of the reference's ``IterativeCondition``
        (``ctx.getEventsForPattern``, ``flink-cep/.../conditions/
        IterativeCondition.java:56``): they compile to per-run closures
        (``navexpr.py``) ANDed with the stage's plain-SQL predicate
        bits, exactly like the SQL DEFINE tier.  Pattern variables are
        the stage event types — navigation requires them UNIQUE (the
        reference's NFACompiler rejects duplicate pattern names too);
        ``or_()``/``until()`` keep the plain-SQL grammar (refuse with
        navigation — an OR across the SQL/closure split cannot be
        evaluated in one tier)."""
        from flink_release_1_10_0_spark.streaming.navexpr import (
            compile_nav_predicate, has_navigation)
        from flink_release_1_10_0_spark.streaming.nfa import NfaStage

        all_vars = [s.event_type for s in self.stages]
        out = []
        for s in self.stages:
            nav_pred = None
            plain_wheres = s.wheres
            navs = [w for w in s.wheres
                    if has_navigation(w, s.event_type, all_vars)]
            if navs:
                if s.negated:
                    raise NotImplementedError(
                        "navigation/aggregate where() on a negation "
                        "stage: guards are evaluated against every "
                        "in-between event, not a consuming edge (the "
                        "NFA refuses this too)")
                if len(set(all_vars)) != len(all_vars):
                    raise NotImplementedError(
                        "navigation/aggregate conditions need UNIQUE "
                        "stage event types (the per-variable match "
                        "buffer is keyed by name; the reference's "
                        "NFACompiler rejects duplicate pattern names)")
                if s.ors:
                    raise NotImplementedError(
                        "or_() alongside a navigation/aggregate "
                        "where(): the OR spans the SQL/per-run-closure "
                        "split — fold it into one where() instead")
                if s.until_sql is not None and has_navigation(
                        s.until_sql, s.event_type, all_vars):
                    raise NotImplementedError(
                        "until() with navigation/aggregates is not "
                        "supported (the stop condition is a plain row "
                        "predicate in the reference too)")
                plain_wheres = [w for w in s.wheres if w not in navs]
                nav_pred = compile_nav_predicate(
                    " AND ".join(f"({w})" for w in navs),
                    s.event_type, all_vars)
            if s.times_n is not None:
                mn = s.times_n
                mx = (None if s.or_more
                      else s.times_m if s.times_m is not None
                      else s.times_n)
            elif s.one_or_more:
                mn, mx = 1, None
            elif s.optional:
                mn, mx = 0, 1
            else:
                mn, mx = 1, 1
            if s.strict:
                cont = "strict"
            elif s.any_match:
                cont = "relaxed_nd"
            else:
                cont = "relaxed"
            # the OUTER knob above carries the sequencing verb
            # (next/followedBy/followedByAny — the entry seam);
            # consecutive()/allowCombinations() set the INNER strategy
            # between loop iterations (Quantifier.java inner consuming
            # strategy), leaving the seam untouched: `a b+ c` with
            # consecutive() still allows a gap between a and b1
            inner = ("strict" if s.consecutive
                     else "relaxed_nd" if s.combinations else None)
            if s.any_match and (mx is None or mx > 1):
                # followedByAny INTO a loop: outer SKIP_TILL_ANY entry
                # semantics (every possible loop anchor) are not what
                # the bare-relaxed_nd-loop compat reading gives
                # (allowCombinations) — refuse instead of silently
                # reinterpreting.  Non-loop quantifiers (optional(),
                # times(1)) carry no inner-strategy ambiguity: the
                # relaxed_nd entry seam compiles as-is.
                raise NotImplementedError(
                    "followedByAny into a LOOP stage: outer "
                    "SKIP_TILL_ANY entry is not supported — use "
                    "allow_combinations() for inner-ANY subsequence "
                    "semantics, or drop the quantifier")
            out.append(NfaStage(
                pred=s.pred_sql(plain_wheres), name=s.event_type,
                contiguity=cont,
                min_times=mn, max_times=mx, greedy=s.greedy,
                until=s.until_sql, negated=s.negated, inner=inner,
                nav=nav_pred))
        for (gs_, ge_, gmn_, gmx_) in self.groups:
            out[ge_].group_start = gs_
            out[ge_].group_min = gmn_
            out[ge_].group_max = gmx_
        return out

    def match_stream(self, events: DataFrame, key: str = "user_id",
                     after_match: str = "no_skip",
                     emit_timeouts: bool = False,
                     watermark_timers: str | None = None) -> DataFrame:
        """Compile to the generic NFA (``nfa.match_nfa``); returns the
        match stream, or a batch frame when ``events`` is bounded.

        Every shape has the reference semantics and ``match_nfa``'s
        output schema; shapes the NFA cannot run raise
        ``NotImplementedError`` (never silently-wrong results).
        ``after_match`` is the reference's ``AfterMatchSkipStrategy``:
        ``"skip_past_last"`` with a ``.greedy()`` loop consumes matched
        events (one maximal match per closing event).

        ``emit_timeouts=True`` is the ``PatternStream.flatSelect(
        timeoutTag, ...)`` surface: the output gains a ``timed_out``
        boolean column, and window-expired partial matches are emitted
        with it set (``TimedOutPartialMatchHandler.java``).  Requires
        ``within(...)`` and no negation stage.

        ``watermark_timers`` (a watermark delay string) arms cross-key
        event-time timers so a key that goes silent still flushes when
        the GLOBAL watermark passes its window — the reference's
        ``CepOperator.onEventTime``.  Requires ``within(...)`` and a
        streaming source (see ``nfa.match_nfa``).  A trailing
        ``not_followed_by`` on a stream needs it: its match is the
        watermark closing the window; on a bounded input the end of
        input closes it.
        """
        from flink_release_1_10_0_spark.streaming.nfa import match_nfa

        if emit_timeouts and any(s.negated for s in self.stages):
            raise NotImplementedError(
                "emit_timeouts with negation stages: an absence "
                "pattern's window closing IS its match, not a timeout")
        return match_nfa(events, self._compile_nfa_stages(),
                         within_minutes=self.within_minutes, key=key,
                         after_match=after_match,
                         emit_timeouts=emit_timeouts,
                         watermark_timers=watermark_timers)


_PATTERN_TOKEN = __import__("re").compile(
    r"\s*([A-Za-z_]\w*)\s*(\*|\+|\?|\{\d+(?:,\d*)?\})?(\??)")


def _parse_quant(quant: str) -> tuple[int, int | None]:
    """``* + ? {n} {n,} {n,m}`` -> (min, max|None)."""
    if quant == "*":
        return 0, None
    if quant == "+":
        return 1, None
    if quant == "?":
        return 0, 1
    body = quant[1:-1]
    if "," not in body:
        return int(body), int(body)
    lo, hi = body.split(",")
    return int(lo), (int(hi) if hi else None)


def compile_match_pattern(pattern: str, define: dict[str, str],
                          nav: dict | None = None) -> list:
    """Compile a MATCH_RECOGNIZE PATTERN string — ``A B+ C``,
    ``A B{2,4} C?``, and PATTERN GROUPS ``A (B C)+ D`` /
    ``A (B C){2,3} D`` — into generic NFA stages
    (``StreamExecMatch.scala:69`` compiles the variable grammar via
    ``org.apache.flink.cep.pattern.Pattern``; pattern groups are an
    EXCEEDS-reference surface — the reference documents them as
    unsupported, ``match_recognize.md:1106`` — executed by the NFA's
    quantified-group loop-back edges, ``GroupPattern.java:30``).

    Semantics: SQL row-pattern matching is over CONSECUTIVE rows, so
    every stage gets strict contiguity (a row matching no usable
    variable kills the run); quantifiers are greedy by default, and a
    trailing ``?`` on a quantifier (``B*?``) makes it reluctant —
    exactly the SQL:2016 / reference grammar.

    Group narrowings (loud): exact ``(B C){n}`` UNROLLS (no group
    state); variable-rep groups (``+``, ``{n,}``, ``{n,m}``) need
    min >= 1 (a min-0 group rests runs at a strict seam) and at least
    one MANDATORY stage after the group — mid-pattern, strict
    contiguity makes the rep count deterministic (the proceed and
    loop-back branches are killed by the very rows that disambiguate
    them), while a TRAILING variable-rep group would emit one prefix
    per completed repetition (the CEP partial-match contract) where
    SQL:2016 greedy emission wants only the maximum.  Nested groups
    refuse (the NFA's documented narrowing).

    ``nav`` maps variables whose DEFINE uses navigation (``LAST(A.x)``
    of another variable, ``PREV``) to compiled ``navexpr.NavPred``
    closures; those stages carry the per-run refinement the NFA
    evaluates like the reference's IterativeConditions
    (``MatchCodeGenerator.scala`` navigation codegen).
    """
    import re as _re

    from flink_release_1_10_0_spark.streaming.nfa import NfaStage

    def _stage(var, quant, reluctant):
        if var not in define:
            raise ValueError(f"PATTERN variable {var!r} has no DEFINE")
        mn, mx = (1, 1) if quant is None else _parse_quant(quant)
        return NfaStage(
            pred=define[var], name=var, contiguity="strict",
            min_times=mn, max_times=mx,
            greedy=not reluctant and not (mn == 1 and mx == 1),
            nav=(nav or {}).get(var))

    _GROUP_QUANT = _re.compile(r"\s*(\*|\+|\?|\{\d+(?:,\d*)?\})?(\??)")
    stages, pos, s = [], 0, pattern.strip()
    while pos < len(s):
        while pos < len(s) and s[pos].isspace():
            pos += 1
        if pos >= len(s):
            break
        if s[pos] == "(":
            close = s.find(")", pos)
            if close < 0:
                raise ValueError(f"unbalanced '(' in PATTERN at {s[pos:]!r}")
            inner = s[pos + 1:close]
            if "(" in inner:
                raise NotImplementedError(
                    "nested PATTERN groups are not supported (the NFA's "
                    "group middle states are non-nested; flatten or "
                    "unroll the inner group)")
            gm = _GROUP_QUANT.match(s, close + 1)
            quant, reluctant = gm.group(1), gm.group(2)
            sub = []
            ipos = 0
            inner = inner.strip()
            while ipos < len(inner):
                im = _PATTERN_TOKEN.match(inner, ipos)
                if not im or im.end() == ipos:
                    raise ValueError(f"bad PATTERN group at {inner[ipos:]!r}")
                sub.append(_stage(im.group(1), im.group(2), im.group(3)))
                ipos = im.end()
            if not sub:
                raise ValueError("empty PATTERN group")
            if quant is None:
                stages.extend(sub)          # plain grouping: (B C) == B C
            elif len(sub) == 1:
                # single-variable group: the quantifier is a plain stage
                # quantifier ((B)+ == B+) — ONLY when the inner variable
                # is unquantified; ((B{2}))+ would need quantifier
                # composition, not overwrite
                if (sub[0].min_times, sub[0].max_times) != (1, 1):
                    raise NotImplementedError(
                        "quantified variable inside a quantified "
                        "single-variable group ((B{2})+): compose the "
                        "quantifiers yourself (B{2} repeated is "
                        "(B B)+ as a two-stage group)")
                mn, mx = _parse_quant(quant)
                sub[0].min_times, sub[0].max_times = mn, mx
                sub[0].greedy = (not reluctant
                                 and not (mn == 1 and mx == 1))
                stages.extend(sub)
            else:
                mn, mx = _parse_quant(quant)
                if reluctant:
                    raise NotImplementedError(
                        "reluctant PATTERN group quantifier: SQL "
                        "shortest-match group emission needs lookahead")
                if mn == 0:
                    raise NotImplementedError(
                        "optional/star PATTERN group ((B C)? / (B C)*): "
                        "a min-0 group rests runs at a STRICT seam, "
                        "which the NFA refuses — make the group "
                        "mandatory or unroll the alternatives")
                if mn == mx:
                    # exact reps: unroll — identical semantics under
                    # strict contiguity, no group state at all
                    import copy as _copy
                    stages.extend(_copy.deepcopy(st)
                                  for _ in range(mn) for st in sub)
                else:
                    gs0 = len(stages)
                    stages.extend(sub)
                    stages[-1].group_start = gs0
                    stages[-1].group_min = mn
                    stages[-1].group_max = mx
            pos = close + 1 + (gm.end() - gm.pos)
            continue
        m = _PATTERN_TOKEN.match(s, pos)
        if not m or m.end() == pos:
            raise ValueError(f"bad PATTERN at {s[pos:]!r}")
        stages.append(_stage(m.group(1), m.group(2), m.group(3)))
        pos = m.end()
    # a VARIABLE-REP group needs a mandatory stage after it: trailing
    # group loops emit one prefix per completed repetition (the CEP
    # partial-match contract), not SQL's single maximal match
    for i, st in enumerate(stages):
        if st.group_start is not None and st.group_min != st.group_max:
            if not any(s2.min_times >= 1 and s2.group_start is None
                       for s2 in stages[i + 1:]):
                raise NotImplementedError(
                    "variable-repetition PATTERN group at the pattern "
                    "end: SQL greedy emission wants the single maximal "
                    "match, but a trailing group loop emits one prefix "
                    "per repetition — anchor the pattern with a "
                    "mandatory variable after the group")
    if stages[0].min_times == 0:
        # the generic NFA starts a run at every stage reachable through
        # leading optionals and emits EVERY branch (the CEP-library
        # contract); SQL:2016 emits ONE preferred match per start row,
        # which would need greedy backtracking across those start
        # alternatives — refuse rather than silently over-emit.
        raise NotImplementedError(
            "leading optional/star PATTERN variable: SQL row-pattern "
            "matching emits one preferred match per start row; anchor "
            "the pattern with a mandatory first variable")
    last = stages[-1]
    if (last.min_times == 0 or last.is_loop()) and not last.greedy:
        # SQL:2016 reluctant quantifiers produce ONE shortest match per
        # start row; the NFA's non-greedy tier emits one match per
        # extension (the CEP-library contract), which would silently
        # diverge from SQL semantics at the pattern end.  The reference
        # rejects reluctant trailing quantifiers too
        # (MatchCodeGenerator.scala greedy handling).
        raise NotImplementedError(
            "reluctant quantifier on the LAST pattern variable: SQL "
            "shortest-match emission at pattern end needs lookahead; "
            "drop the '?' or anchor the pattern with a following "
            "variable")
    return stages


def _parse_after_match(after_match: str):
    """Map the SQL AFTER MATCH clause to the NFA skip strategy.

    Accepted: ``skip_to_next_row``, ``skip_past_last_row``,
    ``skip_to_first <var>``, ``skip_to_last <var>`` — the reference's
    full surface (``AfterMatchSkipStrategy``; parsed by
    ``StreamExecMatch.scala:69`` from the MATCH_RECOGNIZE clause)."""
    from flink_release_1_10_0_spark.streaming.nfa import (
        SKIP_PAST_LAST, SKIP_TO_FIRST, SKIP_TO_LAST, SKIP_TO_NEXT)

    am = after_match.strip().lower()
    if am == "skip_to_next_row":
        # SkipToNextStrategy (a REAL skip strategy in the reference, not
        # noSkip): one preferred match per start position, start-order
        # emission — partials/held matches starting AT an emitted
        # match's start event are discarded
        return SKIP_TO_NEXT
    if am == "skip_past_last_row":
        return SKIP_PAST_LAST
    parts = after_match.split()
    if len(parts) == 2 and parts[0].lower() in (SKIP_TO_FIRST, SKIP_TO_LAST):
        return (parts[0].lower(), parts[1])
    raise ValueError(f"bad AFTER MATCH clause {after_match!r}")


def match_recognize_pattern(events: DataFrame, partition_by: str,
                            define: dict[str, str], pattern: str,
                            within_minutes: float | None = None,
                            after_match: str = "skip_to_next_row") -> DataFrame:
    """Full MATCH_RECOGNIZE execution: PATTERN string + DEFINE predicates
    compiled straight onto the generic NFA (no symbol column — each
    DEFINE is evaluated as its stage's predicate, so a row satisfying
    several variables can take whichever edge the NFA position allows,
    the reference's exact behavior)."""
    from flink_release_1_10_0_spark.streaming.nfa import match_nfa

    return match_nfa(events, compile_match_pattern(pattern, define),
                     within_minutes=within_minutes, key=partition_by,
                     after_match=_parse_after_match(after_match))


_MEASURE_AGG = __import__("re").compile(
    r"^\s*(FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\s*\(\s*([A-Za-z_]\w*)\.(\w+|\*)"
    r"\s*(?:,\s*(\d+)\s*)?\)\s*$",
    __import__("re").IGNORECASE)

# Aggregate over an EXPRESSION argument (``SUM(A.price * A.tax)``) —
# valid in the reference iff every reference inside names a single
# pattern variable (match_recognize.md:326); FIRST/LAST keep the plain
# V.col grammar (offset navigation has no expression form there either)
_MEASURE_AGG_EXPR = __import__("re").compile(
    r"^\s*(MIN|MAX|SUM|AVG|COUNT)\s*\(\s*(.+?)\s*\)\s*$",
    __import__("re").IGNORECASE | __import__("re").DOTALL)
_QUAL_REF = __import__("re").compile(r"\b([A-Za-z_]\w*)\s*\.\s*(\w+)")

# Columns carrying money amounts: SUM over these takes the decimal-exact
# accumulation path (the repo's cross-engine determinism convention, see
# queries/__init__.py docstring).  Keyed on an explicit set — not a
# hardcoded name inside the compiler — so SUM over any other column is a
# visible plain-double narrowing, not a silent one.
_MONEY_COLS = frozenset({"value"})


def _parse_measure(spec: str) -> tuple[str, str, str, str, int]:
    """Parse one MEASURES expression: (mode, agg, variable, column,
    offset).

    Grammar (the reference's ``MatchCodeGenerator.scala`` measure
    surface): optional ``RUNNING``/``FINAL`` prefix (SQL:2016 per-row
    semantics in ALL ROWS PER MATCH — RUNNING aggregates over the match
    prefix up to the current row, FINAL over the whole match), then
    ``FIRST(V.col[, k])``, ``LAST(V.col[, k])`` (logical navigation
    offset: the (k+1)-th row mapped to V from the first/last end,
    SQL:2016 ``FIRST``/``LAST`` second argument), ``MIN/MAX/SUM/AVG
    (V.col)``, ``COUNT(V.*)``/``COUNT(V.col)``, or bare ``V.col``
    (= LAST).  Documented narrowing: the unprefixed default here is
    FINAL (SQL:2016 defaults ALL ROWS measures to RUNNING; write the
    keyword for that)."""
    s = spec.strip()
    mode = "FINAL"
    low = s.lower()
    if low.startswith("running "):
        mode, s = "RUNNING", s[len("running "):]
    elif low.startswith("final "):
        mode, s = "FINAL", s[len("final "):]
    if __import__("re").match(r"^\s*COUNT\s*\(\s*\*\s*\)\s*$", s,
                              __import__("re").IGNORECASE):
        # COUNT(*): every row of the match, no classifier filter (the
        # "*" variable marker compiles to an unfiltered aggregate)
        return mode, "COUNT", "*", "*", 0
    m = _MEASURE_AGG.match(s)
    if m:
        fn_ = m.group(1).upper()
        off = int(m.group(4)) if m.group(4) is not None else 0
        if off and fn_ not in ("FIRST", "LAST"):
            raise ValueError(
                f"bad MEASURES expression {spec!r}: a navigation offset "
                f"is only valid on FIRST/LAST, not {fn_}")
        return mode, fn_, m.group(2), m.group(3), off
    m = _MEASURE_AGG_EXPR.match(s)
    if m:
        # aggregate over an expression argument: every qualified
        # reference must name ONE pattern variable (``SUM(A.price *
        # A.tax)`` valid, ``AVG(A.price * B.tax)`` not — the
        # reference's rule, match_recognize.md:326); the stripped
        # expression rides in the col slot and passes to Spark SQL
        # verbatim under the variable's CLASSIFIER filter
        fn_, arg = m.group(1).upper(), m.group(2)
        # `MAX(X.v) - MIN(X.v)` starts with an aggregate call too: the
        # lazy capture is then a FRAGMENT of a compound expression
        # ('X.v) - MIN(X.v' — paren depth goes NEGATIVE scanning it,
        # even though the total counts balance).  A prefix-depth check
        # is the correct fragment detector; an equal-count check is not
        # (it passes here and would silently drop the classifier filter
        # from the first fragment) — let the compound path split it.
        depth = 0
        for ch in arg:
            depth += (ch == "(") - (ch == ")")
            if depth < 0:
                raise ValueError(f"bad MEASURES expression {spec!r}")
        if depth != 0:
            raise ValueError(f"bad MEASURES expression {spec!r}")
        if arg.upper().startswith("DISTINCT "):
            raise NotImplementedError(
                "DISTINCT aggregates in MEASURES are not supported "
                "(the reference refuses them too, "
                "match_recognize.md:331)")
        avars = {v for v, _ in _QUAL_REF.findall(arg)}
        if len(avars) != 1:
            raise ValueError(
                f"bad MEASURES expression {spec!r}: an aggregate "
                f"argument must reference exactly one pattern variable "
                f"(got {sorted(avars)})")
        var = next(iter(avars))
        expr = __import__("re").sub(rf"\b{var}\s*\.\s*", "", arg)
        return mode, fn_, var, expr, 0
    var, _, col = s.strip().partition(".")
    if not col or not var.isidentifier():
        raise ValueError(f"bad MEASURES expression {spec!r}")
    return mode, "LAST", var, col.strip(), 0


# One navigation fragment inside a COMPOUND measure expression: an
# aggregate call FIRST/LAST/MIN/MAX/SUM/AVG/COUNT over V.col (or V.*
# for COUNT), or a bare qualified V.col reference (= LAST), optionally
# RUNNING/FINAL-prefixed.
_NAV_FRAGMENT = __import__("re").compile(
    r"(?:(?:RUNNING|FINAL)\s+)?"
    r"(?:(?:FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\s*\(\s*[A-Za-z_]\w*\s*\.\s*"
    r"(?:\w+|\*)\s*(?:,\s*\d+\s*)?\)"
    r"|[A-Za-z_]\w*\s*\.\s*\w+)",
    __import__("re").IGNORECASE)


def _measure_sql_any(spec: str, valid_vars: list[str] | None = None,
                     subsets: dict[str, list[str]] | None = None) -> str:
    """Compile a MEASURES expression — a single navigation aggregate OR
    a compound scalar expression over them (``LAST(A.value) -
    FIRST(B.value)``, ``ROUND(AVG(X.v), 2)``) — to one SQL aggregate
    expression over the exploded match rows.  The reference accepts
    arbitrary RexNode expressions in MEASURES
    (``MatchCodeGenerator.scala`` measure codegen); here each
    navigation fragment compiles via :func:`_measure_sql` and the
    scalar glue passes through to Spark SQL verbatim.  Compound
    expressions are a ONE ROW PER MATCH surface — the ALL ROWS path
    keeps the single-call grammar."""
    try:
        return _measure_sql(spec, subsets)
    except ValueError:
        pass
    out, last_end, n_frag = [], 0, 0
    for m in _NAV_FRAGMENT.finditer(spec):
        frag = m.group(0)
        if valid_vars is not None:
            _, _, var, _, _ = _parse_measure(frag)
            if var not in valid_vars and var not in (subsets or {}):
                raise ValueError(
                    f"MEASURES fragment {frag!r}: {var!r} is not a "
                    f"pattern variable or SUBSET "
                    f"(have {sorted(valid_vars)})")
        out.append(spec[last_end:m.start()])
        out.append("(" + _measure_sql(frag, subsets) + ")")
        last_end = m.end()
        n_frag += 1
    if n_frag == 0:
        raise ValueError(f"bad MEASURES expression {spec!r}")
    out.append(spec[last_end:])
    return "".join(out)


def _subset_filter(var: str,
                   subsets: dict[str, list[str]] | None) -> str:
    """CLASSIFIER filter for one variable — or, for a SQL:2016 SUBSET
    union variable, for ANY of its members (rows mapped to any member,
    the SUBSET contract)."""
    if var == "*":
        return ""        # COUNT(*): all match rows, no classifier filter
    members = (subsets or {}).get(var)
    if members is None:
        return f"FILTER (WHERE var = '{var}')"
    quoted = ", ".join(f"'{v}'" for v in members)
    return f"FILTER (WHERE var IN ({quoted}))"


def _measure_sql(spec: str,
                 subsets: dict[str, list[str]] | None = None) -> str:
    """Compile a MEASURES expression to a grouped aggregate over the
    exploded match rows (columns: event attributes + ``var`` =
    CLASSIFIER, ``pos`` = position in match).  ONE ROW PER MATCH output
    is the final row, where RUNNING and FINAL coincide (SQL:2016), so
    the mode prefix is accepted and ignored here.

    Navigation offsets (``FIRST(V.col, k)``/``LAST(V.col, k)``) index
    into the pos-sorted rows mapped to V: collect (pos, col) pairs,
    sort, ``try_element_at`` at ``k+1`` / ``-(k+1)`` (NULL when the
    match mapped fewer than k+1 rows to V — SQL:2016 navigation
    out-of-range semantics)."""
    _, fn_, var, col, off = _parse_measure(spec)
    flt = _subset_filter(var, subsets)
    if fn_ in ("FIRST", "LAST") and off:
        idx = off + 1 if fn_ == "FIRST" else -(off + 1)
        return (f"try_element_at(array_sort(collect_list("
                f"named_struct('p', pos, 'v', {col})) {flt}), {idx}).v")
    if fn_ == "FIRST":
        return f"min_by({col}, pos) {flt}"
    if fn_ == "LAST":
        return f"max_by({col}, pos) {flt}"
    if fn_ == "COUNT":
        return (f"count(*) {flt}" if col == "*" else f"count({col}) {flt}")
    if fn_ == "SUM" and col in _MONEY_COLS:
        return f"CAST(sum(CAST({col} AS DECIMAL(18,2))) {flt} AS DOUBLE)"
    return f"{fn_.lower()}({col}) {flt}"


def _measure_window(spec: str, w_final, w_running,
                    subsets: dict[str, list[str]] | None = None):
    """Same measure as a window aggregate (ALL ROWS PER MATCH attaches
    measure values to every row of the match without a self-join —
    FILTER isn't valid in a window spec, so conditionals stand in).

    RUNNING measures use the prefix frame ``rowsBetween(unboundedPreceding,
    currentRow)`` ordered by match position — the reference's
    RUNNING/FINAL split in ``MatchCodeGenerator.scala`` codegen."""
    from pyspark.sql import functions as F

    mode, fn_, var, col, off = _parse_measure(spec)
    w = w_running if mode == "RUNNING" else w_final
    members = (subsets or {}).get(var)
    if var == "*":               # COUNT(*): every match row
        is_var = F.lit(True)
    else:
        is_var = (F.col("var").isin(members) if members is not None
                  else F.col("var") == var)
    if fn_ in ("FIRST", "LAST") and off:
        # offset navigation: pos-sorted (pos, col) pairs of V's rows in
        # the frame, indexed k+1 from the matching end (NULL if absent)
        pairs = F.sort_array(F.collect_list(
            F.when(is_var, F.struct(F.col("pos").alias("p"),
                                    F.col(col).alias("v")))).over(w))
        idx = off + 1 if fn_ == "FIRST" else -(off + 1)
        return F.try_element_at(pairs, F.lit(idx))["v"]
    if fn_ == "COUNT":
        # F.expr also covers expression arguments (SUM(A.price * A.tax)
        # rides through _parse_measure with the stripped expression in
        # the col slot)
        v = F.lit(1) if col == "*" else F.expr(col)
        return F.count(F.when(is_var, v)).over(w)
    if fn_ == "SUM" and col in _MONEY_COLS:
        return (F.sum(F.when(is_var, F.col(col).cast("decimal(18,2)")))
                .over(w).cast("double"))
    if fn_ in ("SUM", "MIN", "MAX", "AVG"):
        return getattr(F, fn_.lower())(F.when(is_var, F.expr(col))).over(w)
    # FIRST/LAST: order by pos via struct min/max
    s = F.when(is_var, F.struct(F.col("pos"), F.col(col).alias("__v")))
    agg = F.min(s) if fn_ == "FIRST" else F.max(s)
    return agg.over(w)["__v"]


def match_recognize_measures(matches: DataFrame, events: DataFrame,
                             stage_names: list[str],
                             measures: dict[str, str],
                             partition_by: str | list[str] = "user_id",
                             rows_per_match: str = "one",
                             subsets: dict[str, list[str]] | None = None,
                             exclude: list[str] | None = None,
                             measure_vars: list[str] | None = None,
                             ) -> DataFrame:
    """MEASURES + ONE/ALL ROWS PER MATCH projection over a completed
    match log (``StreamExecMatch.scala:69`` / ``MatchCodeGenerator.scala``
    measure codegen; ``PatternProcessFunctionRunner`` output modes).

    Spark-first layout: the NFA emits each match's consumed event ids
    (``ev_ids``/``ev_stages``); measures are a *declarative projection*
    — explode the match to (match, pos, event_id, var=CLASSIFIER) rows,
    equi-join event attributes back by id, and aggregate per match with
    FILTER'd min_by/max_by/sum — all JVM-side, no Python in the loop.
    At scale both sides shuffle on ``event_id`` once; the match log is
    tiny next to the event log, so AQE broadcasts it.

    - ``rows_per_match="one"``: one row per match — MATCH_NUMBER()
      (``match_no``, per-partition match-DETECTION order: a match is
      numbered when it completes, i.e. by (end_ts, end_id), ties broken
      by start — the reference's completion-order numbering) + the
      measures.
    - ``rows_per_match="all"``: one row per consumed event — adds
      ``classifier`` (CLASSIFIER()), ``pos``, ``event_id``; measures
      default to final-value semantics (SQL:2016 FINAL; prefix with
      ``RUNNING`` for prefix-aggregate semantics per row).

    ``exclude`` names pattern variables under SQL:2016 EXCLUSION
    (``{- B -}``): their rows participate in matching and in every
    measure (RUNNING frames included) but are dropped from the ALL
    ROWS output.  ONE ROW output is unaffected (exclusion has no
    effect there — the standard's own note; the reference documents
    exclusion as unsupported, match_recognize.md:1115).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if rows_per_match not in ("one", "all"):
        raise ValueError(f"bad rows_per_match {rows_per_match!r}")
    keys = ([partition_by] if isinstance(partition_by, str)
            else list(partition_by))
    w = Window.partitionBy(*keys).orderBy(
        "end_ts", "end_id", "start_ts", "start_id")
    mm = matches.withColumn("match_no", F.row_number().over(w))
    names = F.array(*[F.lit(s) for s in stage_names])
    ex = (mm.select(*keys, "match_no",
                    F.posexplode(F.arrays_zip("ev_ids", "ev_stages"))
                    .alias("pos", "z"))
          .select(*keys, "match_no", "pos",
                  F.col("z.ev_ids").alias("event_id"),
                  F.element_at(names, F.col("z.ev_stages") + 1).alias("var")))
    joined = ex.join(events.drop(*keys), "event_id")
    if rows_per_match == "one":
        # measure validity is checked against measure_vars when given
        # (alternation: a measure may reference a variable of ANOTHER
        # branch — its classifier filter then matches nothing, so
        # COUNT yields 0 and value aggregates yield NULL, the SQL:2016
        # unmatched-variable semantics)
        vv = measure_vars if measure_vars is not None else stage_names
        aggs = [F.expr(_measure_sql_any(spec, valid_vars=vv,
                                        subsets=subsets))
                .alias(name) for name, spec in measures.items()]
        return joined.groupBy(*keys, "match_no").agg(*aggs)
    wm = Window.partitionBy(*keys, "match_no")
    wr = (Window.partitionBy(*keys, "match_no").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = joined.select(*keys, "match_no", "pos", "event_id",
                        F.col("var").alias("classifier"),
                        *[_measure_window(spec, wm, wr, subsets).alias(name)
                          for name, spec in measures.items()])
    if exclude:
        # EXCLUSION filters output rows AFTER the measure windows ran —
        # excluded rows still count in RUNNING/FINAL aggregates
        out = out.filter(~F.col("classifier").isin(list(exclude)))
    return out
