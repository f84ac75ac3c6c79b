"""CEP / MATCH_RECOGNIZE — pattern matching over keyed, ordered rows.

Reimplements the semantics of the reference's NFA-based CEP library
(ref: flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/
pattern/Pattern.java:50, Quantifier.java, nfa/NFA.java:85; SQL surface
StreamExecMatch.scala:69, MatchCodeGenerator.scala) on Spark:

  - A :class:`Pattern` is an ordered list of :class:`Step`s, each with a
    name, a per-row predicate, and a quantifier (``1``, ``+``, ``*``,
    ``?``, ``{n}``, ``{n,}``, ``{n,m}``, each optionally reluctant with
    a trailing ``?``), plus negation (``not_next`` / ``not_followed_by``)
    and loop stop conditions (``until``) — the full algebra of
    Pattern.java/Quantifier.java. Predicates see the candidate row *and*
    the rows matched so far (giving PREV/LAST/FIRST navigation, ref
    FlinkSqlOperatorTable.java:989-995).
  - AFTER MATCH SKIP PAST LAST ROW / SKIP TO NEXT ROW
    (ref: cep/aftermatch/AfterMatchSkipStrategy.java).
  - Greedy quantifiers with backtracking, like the reference's shared-
    buffer NFA.

Execution model (Spark-first): pattern matching is inherently sequential
*within a key* but embarrassingly parallel *across keys* — exactly the
shape of ``groupBy(key).applyInPandas``. Each key's rows arrive as one
Arrow batch, the NFA runs in vectorized-friendly Python, and output rows
carry one match each. At 100 TB the shuffle is one hash partition by
key — the same data movement the reference's keyBy requires — and no
state is held beyond a single group.

The streaming variant keeps a bounded per-key tail buffer as keyed
fold state (``KeyedStream._fold``) so matches spanning micro-batch
boundaries are found; rows are processed in event-time order within
the buffer.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RowPredicate = Callable[[pd.Series, dict[str, list[pd.Series]]], bool]

_BASE_QUANT = {"1": (1, 1), "?": (0, 1), "+": (1, math.inf), "*": (0, math.inf)}
_RANGE_QUANT = re.compile(r"\{(\d+)(,(\d*))?\}$")


def _parse_quantifier(q: str) -> tuple[int, float, bool]:
    """'{n}' / '{n,}' / '{n,m}' / '1?+*' [+ trailing '?' = reluctant]
    → (min_count, max_count, greedy).  Mirrors the reference's
    Quantifier.java: times(n) = {n}, timesOrMore(n) = {n,},
    times(n, m) = {n,m}, oneOrMore = +, optional = ?, greedy flag."""
    greedy = True
    if len(q) > 1 and q.endswith("?") and q != "??":
        q, greedy = q[:-1], False
    elif q == "??":
        q, greedy = "?", False
    if q in _BASE_QUANT:
        lo, hi = _BASE_QUANT[q]
        return lo, hi, greedy
    m = _RANGE_QUANT.fullmatch(q)
    if not m:
        raise ValueError(f"unsupported quantifier {q!r}")
    lo = int(m.group(1))
    if m.group(2) is None:  # {n}
        hi: float = lo
    elif m.group(3) == "":  # {n,}
        hi = math.inf
    else:  # {n,m}
        hi = int(m.group(3))
    if hi < lo:
        raise ValueError(f"quantifier upper bound below lower: {q!r}")
    return lo, hi, greedy


@dataclass
class Step:
    """One pattern variable (ref: Pattern.java begin/next/where chain,
    quantifiers Quantifier.java: times/timesOrMore/oneOrMore/optional/
    greedy; negation Pattern.notNext/notFollowedBy; stop condition
    Pattern.until)."""

    name: str
    predicate: RowPredicate
    quantifier: str = "1"  # '1'|'?'|'+'|'*'|'{n}'|'{n,}'|'{n,m}' [+'?']
    # 'strict' (next) | 'relaxed' (followedBy) | 'relaxed_any'
    # (followedByAny — non-deterministic: EVERY viable position yields a
    # match, not just the first)
    contiguity: str = "strict"
    negated: bool = False  # notNext (strict) / notFollowedBy (relaxed)
    until_pred: RowPredicate | None = None  # stop condition for loops
    # contiguity BETWEEN repeats of a looping quantifier (ref:
    # Quantifier.ConsumingStrategy): 'strict' (= .consecutive(), the
    # default here), 'relaxed' (skip-till-next: non-matching gap rows are
    # ignored), 'any' (= .allowCombinations(): every subset choice forks
    # its own match — combinatorial, like the reference)
    repeats: str = "strict"
    min_count: int = field(init=False)
    max_count: float = field(init=False)
    greedy: bool = field(init=False)

    def __post_init__(self):
        self.min_count, self.max_count, self.greedy = _parse_quantifier(
            self.quantifier
        )
        if self.contiguity not in ("strict", "relaxed", "relaxed_any"):
            raise ValueError(f"unsupported contiguity {self.contiguity!r}")
        if self.negated and self.quantifier != "1":
            raise ValueError(
                "negated steps (notNext/notFollowedBy) take no quantifier"
            )
        if self.until_pred is not None and self.max_count <= 1:
            raise ValueError("until() requires a looping quantifier (+/*/{n,})")
        if self.repeats not in ("strict", "relaxed", "any"):
            raise ValueError(f"unsupported repeat contiguity {self.repeats!r}")


class Pattern:
    """``Pattern.begin('a', p).next('b', q, '+').followed_by('c', r)`` —
    the fluent surface of cep/pattern/Pattern.java:50.  ``next`` is
    strict contiguity; ``followed_by`` is relaxed contiguity (non-
    matching rows between steps are ignored, the reference NFA's IGNORE
    self-loop).  ``within`` bounds first→last matched-row event time
    (ref: Pattern.java within(Time) / NFA window timeout)."""

    def __init__(self, steps: list[Step], within_td: "pd.Timedelta | None" = None):
        self.steps = steps
        self.within_td = within_td

    @classmethod
    def begin(cls, name: str, predicate: RowPredicate, quantifier: str = "1") -> "Pattern":
        return cls([Step(name, predicate, quantifier)])

    def next(self, name: str, predicate: RowPredicate, quantifier: str = "1") -> "Pattern":
        return Pattern(self.steps + [Step(name, predicate, quantifier)], self.within_td)

    def followed_by(
        self, name: str, predicate: RowPredicate, quantifier: str = "1"
    ) -> "Pattern":
        """Relaxed contiguity (ref: Pattern.followedBy).  For ``+``/``*``
        the relaxation applies to REACHING the step; repeats inside it
        stay strict (= reference ``followedBy(...).consecutive()``)."""
        return Pattern(
            self.steps + [Step(name, predicate, quantifier, contiguity="relaxed")],
            self.within_td,
        )

    def followed_by_any(
        self, name: str, predicate: RowPredicate, quantifier: str = "1"
    ) -> "Pattern":
        """Non-deterministic relaxed contiguity (ref: Pattern.followedByAny
        — NFA takes the IGNORE edge even after a successful TAKE, so every
        viable position for this step produces its own match).  Requires
        ``after_match='skip_to_next_row'`` downstream: the reference's
        skip-past strategies are ill-defined over overlapping match sets."""
        return Pattern(
            self.steps
            + [Step(name, predicate, quantifier, contiguity="relaxed_any")],
            self.within_td,
        )

    def within(self, duration: str) -> "Pattern":
        """Time constraint on a whole match, e.g. ``within("1 hour")``
        (ref: Pattern.java within(Time)).  Requires the rows to carry the
        event-time column used for ordering."""
        return Pattern(self.steps, pd.Timedelta(duration))

    def not_next(self, name: str, predicate: RowPredicate) -> "Pattern":
        """The immediately following row must NOT satisfy `predicate`
        (ref: Pattern.notNext — a negative step that consumes nothing)."""
        return Pattern(
            self.steps + [Step(name, predicate, negated=True)], self.within_td
        )

    def not_followed_by(self, name: str, predicate: RowPredicate) -> "Pattern":
        """No row satisfying `predicate` may occur between the previous
        step's match and the next step's first matched row (ref:
        Pattern.notFollowedBy).  As the LAST step it requires `within`
        — the reference likewise rejects a pattern ending in
        notFollowedBy without a window (Pattern.java checkIfNoNotPattern
        counterpart in NFACompiler)."""
        return Pattern(
            self.steps + [Step(name, predicate, contiguity="relaxed", negated=True)],
            self.within_td,
        )

    def _mod_last(self, **changes) -> "Pattern":
        last = self.steps[-1]
        new = Step(
            last.name,
            last.predicate,
            changes.get("quantifier", last.quantifier),
            last.contiguity,
            last.negated,
            changes.get("until_pred", last.until_pred),
            changes.get("repeats", last.repeats),
        )
        return Pattern(self.steps[:-1] + [new], self.within_td)

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Exactly n (or n..m) repeats of the last step (ref:
        Pattern.times(int) / times(from, to))."""
        return self._mod_last(quantifier=f"{{{n}}}" if m is None else f"{{{n},{m}}}")

    def times_or_more(self, n: int) -> "Pattern":
        """At least n repeats of the last step (ref: Pattern.timesOrMore)."""
        return self._mod_last(quantifier=f"{{{n},}}")

    def optional(self) -> "Pattern":
        """Last step may match zero times (ref: Pattern.optional)."""
        last = self.steps[-1]
        lo, hi, greedy = last.min_count, last.max_count, last.greedy
        hi_s = "" if math.isinf(hi) else int(hi)
        q = f"{{0,{hi_s}}}" if hi_s != "" else "{0,}"
        if hi == 1:
            q = "?"
        return self._mod_last(quantifier=q if greedy else q + "?")

    def reluctant(self) -> "Pattern":
        """Last step consumes as FEW rows as possible — the inverse of
        the default greedy consumption (ref: Quantifier greedy flag;
        SQL reluctant spellings `+?`, `*?`, `{n,m}?`)."""
        last = self.steps[-1]
        q = last.quantifier
        return self._mod_last(quantifier=q if q.endswith("?") and q != "?" else q + "?")

    def consecutive(self) -> "Pattern":
        """Strict contiguity between repeats of the last (looping) step
        (ref: Pattern.consecutive).  This is already the default here, so
        the call is a documentation no-op kept for API parity."""
        return self._mod_last(repeats="strict")

    def relaxed_repeats(self) -> "Pattern":
        """Skip-till-next between repeats: non-matching rows inside the
        loop are ignored (ref: Quantifier.ConsumingStrategy
        SKIP_TILL_NEXT — the reference's *default* for followedBy
        loops; here opt-in to keep the strict default stable)."""
        return self._mod_last(repeats="relaxed")

    def allow_combinations(self) -> "Pattern":
        """Non-deterministic repeats: every increasing subset of
        matching rows forks its own match (ref:
        Pattern.allowCombinations / ConsumingStrategy SKIP_TILL_ANY).
        Combinatorial by design; requires
        ``after_match='skip_to_next_row'`` like followed_by_any."""
        return self._mod_last(repeats="any")

    def until(self, predicate: RowPredicate) -> "Pattern":
        """Stop condition for the last (looping) step: consumption stops
        at the first row satisfying `predicate`; that row is not part of
        the match (ref: Pattern.until)."""
        return self._mod_last(until_pred=predicate)


def _iter_matches_at(
    rows: list[pd.Series],
    start: int,
    steps: list[Step],
    ts_col: str | None = None,
    within: "pd.Timedelta | None" = None,
):
    """Backtracking NFA as a generator: yields every complete binding
    {step_name: [rows]} for a match starting at rows[start], in
    deterministic exploration order.  For patterns without any
    ``followed_by_any`` step, the FIRST yield is exactly the greedy
    deterministic match (Quantifier.java's default consumption) and
    deterministic steps cut exploration after their first viable choice
    — so ``next(gen, None)`` reproduces single-match semantics at the
    original cost.  ``relaxed_any`` steps keep exploring, yielding one
    match per viable (position, repeat-count) — the reference NFA's
    IGNORE-after-TAKE edge (Pattern.followedByAny).

    `within` (with `ts_col`) rejects taking any row later than
    first-taken-row + within — and, because rows are event-time sorted,
    also cuts relaxed-contiguity forward scans at that horizon, so a
    followedBy never walks more than the time window (the same pruning
    the reference gets from NFA window timeouts)."""

    def in_window(first_ts, row) -> bool:
        if within is None or first_ts is None:
            return True
        return row[ts_col] - first_ts <= within

    def go(i: int, s: int, matched, first_ts, banned):
        """`banned`: predicates from preceding notFollowedBy steps —
        no gap row before the next positive step's first take may
        satisfy any of them (ref: NFA STOP state semantics)."""
        if s == len(steps):
            if any(matched.values()):
                yield matched
            return
        step = steps[s]

        if step.negated:
            if step.contiguity == "strict":  # notNext
                if (
                    i < len(rows)
                    and in_window(first_ts, rows[i])
                    and step.predicate(rows[i], matched)
                ):
                    return
                yield from go(i, s + 1, matched, first_ts, banned)
                return
            # notFollowedBy
            if s == len(steps) - 1:
                # trailing notFollowedBy: only meaningful with a window
                # (the reference rejects it without within)
                if within is None:
                    raise ValueError(
                        "pattern may not end in not_followed_by without within()"
                    )
                for j in range(i, len(rows)):
                    if not in_window(first_ts, rows[j]):
                        break
                    if step.predicate(rows[j], matched):
                        return
                if any(matched.values()):
                    yield matched
                return
            yield from go(i, s + 1, matched, first_ts, banned + [step.predicate])
            return

        binding = dict(matched)
        binding[step.name] = list(matched.get(step.name, []))
        # non-deterministic step: every viable alternative produces its
        # own match (followedByAny positions, allowCombinations subsets)
        nondet = step.contiguity == "relaxed_any" or step.repeats == "any"
        lo = max(step.min_count, 1)

        def try_take(count_matched: dict, j: int):
            row = rows[j]
            if not in_window(first_ts, row):
                return None
            taken = dict(count_matched)
            taken[step.name] = count_matched[step.name] + [row]
            return taken if step.predicate(row, count_matched) else None

        def first_ts_after(j: int):
            if first_ts is not None:
                return first_ts
            return rows[j][ts_col] if ts_col is not None else None

        def zero_take():
            # step skipped entirely: position, clock, and bans unchanged
            yield from go(i, s + 1, binding, first_ts, banned)

        def options(i0: int):
            """(n, state, resume_pos) alternatives for this step's
            repeats, first take pinned at i0 (outer contiguity already
            chose it).  'strict' repeats: prefixes of the contiguous
            run (greedy order honors the quantifier flag); 'relaxed':
            skip-till-next chain — non-matching gap rows are ignored
            (the reference's default ConsumingStrategy for loops);
            'any': DFS over every increasing subset of matching rows
            (Quantifier.allowCombinations)."""
            if step.until_pred is not None and step.until_pred(rows[i0], binding):
                return
            first = try_take(binding, i0)
            if first is None:
                return
            if step.repeats == "any" and step.max_count > 1:
                if 1 >= lo:
                    yield (1, first, i0 + 1)

                def dfs(state, last, count):
                    for j in range(last + 1, len(rows)):
                        row = rows[j]
                        if not in_window(first_ts, row):
                            return
                        if step.until_pred is not None and step.until_pred(
                            row, state
                        ):
                            return
                        t = try_take(state, j)
                        if t is None:
                            continue
                        if count + 1 >= lo:
                            yield (count + 1, t, j + 1)
                        if count + 1 < step.max_count:
                            yield from dfs(t, j, count + 1)

                yield from dfs(first, i0, 1)
                return
            takes = [binding, first]
            positions = [i0]
            j = i0 + 1
            while j < len(rows) and len(takes) - 1 < step.max_count:
                row = rows[j]
                if not in_window(first_ts, row):
                    break
                if step.until_pred is not None and step.until_pred(
                    row, takes[-1]
                ):
                    break
                t = try_take(takes[-1], j)
                if t is None:
                    if step.repeats == "relaxed":
                        j += 1
                        continue
                    break
                takes.append(t)
                positions.append(j)
                j += 1
            max_n = len(positions)
            if max_n >= lo:
                ns = (
                    range(max_n, lo - 1, -1)
                    if step.greedy
                    else range(lo, max_n + 1)
                )
                for n in ns:
                    yield (n, takes[n], positions[n - 1] + 1)

        if step.min_count == 0 and not step.greedy:
            emitted = False
            for res in zero_take():
                emitted = True
                yield res
            if emitted and not nondet:
                return

        if step.contiguity in ("relaxed", "relaxed_any"):
            starts = range(i, len(rows))
        else:
            starts = range(i, i + 1) if i < len(rows) else range(0)
        for i0 in starts:
            if not in_window(first_ts, rows[i0]):
                break  # rows are event-time sorted: nothing later fits
            if i0 > i and banned and any(b(rows[i0 - 1], matched) for b in banned):
                break  # a forbidden row entered the gap — all later starts fail
            for n, state_n, resume in options(i0):
                got = False
                for res in go(resume, s + 1, state_n, first_ts_after(i0), []):
                    got = True
                    yield res
                if got and not nondet:
                    # deterministic step: first viable (position, count)
                    # wins — later alternatives exist only as
                    # backtracking fallbacks
                    return
        if step.min_count == 0 and step.greedy:
            yield from zero_take()

    yield from go(start, 0, {n.name: [] for n in steps} | {}, None, [])


def _match_at(
    rows: list[pd.Series],
    start: int,
    steps: list[Step],
    ts_col: str | None = None,
    within: "pd.Timedelta | None" = None,
) -> dict[str, list[pd.Series]] | None:
    """First (greedy deterministic) match starting at rows[start], or
    None — the single-match view of :func:`_iter_matches_at`."""
    return next(
        _iter_matches_at(rows, start, steps, ts_col=ts_col, within=within), None
    )


def _timeout_partial_at(
    rows: list,
    i: int,
    steps: list[Step],
    ts_col: str | None,
    within: "pd.Timedelta | None",
) -> dict | None:
    """The TIMED-OUT partial match of the run starting at rows[i], or
    None (ref: flink-cep PatternStream timeout output / NFA.java pending
    computation states discarded past the window).

    A run times out when it matched a non-empty proper prefix and is
    still WAITING for its next step when the window expires (bounded
    input drains with a +inf watermark, so every pending run times out).
    A run stuck on a STRICT ``next`` step whose immediate successor row
    exists inside the window but fails the predicate DIED instead — the
    reference NFA kills it on the spot and emits nothing."""
    for k in range(len(steps) - 1, 0, -1):
        m = _match_at(rows, i, steps[:k], ts_col=ts_col, within=within)
        if m is None:
            continue
        bound = [r for v in m.values() for r in v]
        if not bound:
            return None  # only empty optionals matched — not a real run
        nxt = steps[k]
        if nxt.contiguity == "strict" and not nxt.negated:
            j = max(r["__rowidx"] for r in bound) + 1
            if j < len(rows):
                in_win = True
                if within is not None and ts_col is not None:
                    first_ts = min(r[ts_col] for r in bound)
                    in_win = rows[j][ts_col] - first_ts <= within
                if in_win:
                    return None  # died on the strict successor, no timeout
        return m
    return None


def _run_nfa(
    pdf: pd.DataFrame,
    steps: list[Step],
    measures: dict[str, Callable[[dict[str, list[pd.Series]]], object]],
    after_match: str,
    ts_col: str | None = None,
    within: "pd.Timedelta | None" = None,
    timeout_measures: dict | None = None,
) -> pd.DataFrame:
    # plain dicts, not pd.Series: same row["field"] access for predicates
    # and measures, ~10× less per-row overhead in the NFA loop
    rows = pdf.to_dict("records")
    # Tag each row with its scan position: with relaxed contiguity a match
    # can have gaps, so SKIP PAST LAST ROW must resume after the last
    # matched row's INDEX, not start + match size (which would rescan the
    # gap rows and let consumed rows seed later matches — a semantics the
    # reference's AfterMatchSkipStrategy.java explicitly forbids).
    for idx, row in enumerate(rows):
        row["__rowidx"] = idx
    if any(
        st.contiguity == "relaxed_any" or st.repeats == "any" for st in steps
    ):
        # followedByAny/allowCombinations produce overlapping matches;
        # the skip-past strategies are ill-defined over them (which
        # match's last row?) — the reference couples non-determinism
        # with no-skip too.
        if after_match != "skip_to_next_row":
            raise ValueError(
                "followed_by_any/allow_combinations require"
                " after_match='skip_to_next_row'"
            )
        out_any: list[dict] = []
        for i in range(len(rows)):
            for m in _iter_matches_at(
                rows, i, steps, ts_col=ts_col, within=within
            ):
                out_any.append({k: fn(m) for k, fn in measures.items()})
        return pd.DataFrame(out_any)
    out: list[dict] = []
    i = 0
    while i < len(rows):
        m = _match_at(rows, i, steps, ts_col=ts_col, within=within)
        if m is None and timeout_measures is not None:
            tm = _timeout_partial_at(rows, i, steps, ts_col, within)
            if tm is not None:
                out.append(
                    {"side": "timeout", **{k: fn(tm) for k, fn in timeout_measures.items()}}
                )
        if m is not None:
            row_out = {k: fn(m) for k, fn in measures.items()}
            if timeout_measures is not None:
                row_out = {"side": "match", **row_out}
            out.append(row_out)
            if isinstance(after_match, tuple):
                # ("skip_to_first"|"skip_to_last", var) — resume AT the
                # first/last row matched to `var` (ref:
                # AfterMatchSkipStrategy.java SKIP_TO_FIRST/SKIP_TO_LAST)
                mode, var = after_match
                bound = m.get(var) or []
                if not bound:  # var matched zero rows (?/*) → next row
                    i += 1
                else:
                    tgt = (
                        bound[0]["__rowidx"]
                        if mode == "skip_to_first"
                        else bound[-1]["__rowidx"]
                    )
                    if tgt <= i:
                        # would re-attempt at the same position forever —
                        # the reference raises for this degenerate spec
                        raise ValueError(
                            f"AFTER MATCH SKIP TO {mode.rsplit('_', 1)[-1].upper()}"
                            f" {var} does not advance past row {i}"
                        )
                    i = tgt
            elif after_match == "skip_past_last_row":
                last_idx = max(r["__rowidx"] for v in m.values() for r in v)
                i = last_idx + 1
            else:  # skip_to_next_row
                i += 1
        else:
            i += 1
    return pd.DataFrame(out)


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    pattern: Pattern,
    measures: dict[str, Callable[[dict[str, list[pd.Series]]], object]],
    output_schema: str,
    after_match: str = "skip_past_last_row",
    num_partitions: int | None = None,
) -> DataFrame:
    """Batch MATCH_RECOGNIZE (ref: StreamExecMatch.scala:69 semantics,
    bounded input). `measures` maps output column → fn(matched_groups);
    matched_groups is {step_name: [pandas rows]} supporting
    FIRST/LAST/PREV navigation by plain list indexing.

    The input is explicitly hash-repartitioned on the key first: the NFA
    cost is per-ROW Python work, so AQE's byte-based partition
    coalescing (which would squash this small shuffle onto a couple of
    tasks) is the wrong policy here — the explicit repartition pins
    key-parallel fan-out and satisfies the groupBy's distribution
    requirement, so no second shuffle is added (measured 4.6× on
    sf0.1)."""
    steps = pattern.steps
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ts_col = order_by[0] if pattern.within_td is not None else None

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="mergesort")
        return _run_nfa(
            pdf, steps, measures, after_match, ts_col=ts_col, within=pattern.within_td
        )

    return (
        df.repartition(n, *partition_by)
        .groupBy(*partition_by)
        .applyInPandas(apply, schema=output_schema)
    )


def match_recognize_with_timeouts(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    pattern: Pattern,
    measures: dict[str, Callable[[dict[str, list[pd.Series]]], object]],
    timeout_measures: dict[str, Callable[[dict[str, list[pd.Series]]], object]],
    output_schema: str,
    after_match: str = "skip_past_last_row",
    num_partitions: int | None = None,
) -> DataFrame:
    """CEP with the TIMEOUT side output (ref: flink-cep
    PatternStream.java select(OutputTag, PatternTimeoutFunction,
    PatternSelectFunction) — the two-sided select every SLA/funnel
    monitor uses: completed matches AND the partial matches whose
    ``within`` window expired while they were still waiting).

    Returns one DataFrame tagged by a leading ``side`` column
    ('match' | 'timeout'); ``measures`` shapes match rows,
    ``timeout_measures`` shapes the timed-out partial (missing steps
    simply are not in the binding — use ``m.get(name)``).  Both sides
    must produce the same columns (``output_schema`` minus ``side``).
    Requires ``pattern.within(...)``: without a window nothing can time
    out (the reference's timeout function is equally unreachable then).

    Timeout semantics on bounded input: the drain watermark is +inf, so
    every still-pending run emits its partial — the same end-of-input
    behavior as the reference's job-finish NFA advance.  Runs killed by
    a strict-contiguity violation emit NOTHING (dead, not timed out)."""
    if pattern.within_td is None:
        raise ValueError(
            "match_recognize_with_timeouts requires pattern.within(...) — "
            "without a window no run can time out"
        )
    steps = pattern.steps
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ts_col = order_by[0]

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="mergesort")
        return _run_nfa(
            pdf,
            steps,
            measures,
            after_match,
            ts_col=ts_col,
            within=pattern.within_td,
            timeout_measures=timeout_measures,
        )

    return (
        df.repartition(n, *partition_by)
        .groupBy(*partition_by)
        .applyInPandas(apply, schema=output_schema)
    )


def match_recognize_stream(
    df: DataFrame,
    partition_by: list[str],
    ts_col: str,
    pattern: Pattern,
    measures: dict[str, Callable[[dict[str, list[pd.Series]]], object]],
    output_schema: str,
    max_pattern_rows: int,
    after_match: str = "skip_past_last_row",
):
    """Streaming CEP on the keyed fold (``KeyedStream._fold``): a bounded
    tail buffer (max_pattern_rows − 1 rows) per key carries partial
    matches across micro-batches (the role of the reference's per-key NFA
    SharedBuffer, nfa/sharedbuffer/SharedBuffer.java).  Each micro-batch
    runs the NFA over the tail plus its rows in ``ts_col`` order and
    emits the matches found; the tail is frame state, so arbitrary row
    dtypes (timestamps, arrays) survive the state store round-trip."""
    from my_flink_1_10_2_spark.streaming.stream import KeyedStream

    def fold(key, tail, rows):
        full = (
            rows
            if tail is None
            else pd.concat([tail, rows], ignore_index=True).sort_values(
                ts_col, kind="mergesort", ignore_index=True
            )
        )
        matches = _run_nfa(
            full, pattern.steps, measures, after_match, ts_col=ts_col, within=pattern.within_td
        )
        return full.tail(max(0, max_pattern_rows - 1)), matches

    return KeyedStream(df, list(partition_by))._fold(fold, ts_col, output_schema).df


class PatternStream:
    """ref: flink-cep PatternStream.java:51 — the result of
    CEP.pattern(); ``select`` runs the NFA and shapes one output row per
    match."""

    def __init__(self, df, partition_by, order_by, pattern: "Pattern"):
        self.df = df
        self.partition_by = list(partition_by)
        self.order_by = list(order_by)
        self.pattern = pattern

    def select(
        self,
        measures: dict,
        output_schema: str,
        after_match: str = "skip_past_last_row",
    ) -> DataFrame:
        """ref: PatternStream.select:128 (PatternSelectFunction — here
        the measures dict, same contract as match_recognize)."""
        return match_recognize(
            self.df,
            self.partition_by,
            self.order_by,
            self.pattern,
            measures,
            output_schema,
            after_match=after_match,
        )

    def select_with_timeouts(
        self,
        timeout_measures: dict,
        measures: dict,
        output_schema: str,
        after_match: str = "skip_past_last_row",
    ) -> DataFrame:
        """ref: PatternStream.select:146 (OutputTag + PatternTimeout
        Function overload) — timeout side first, mirroring the reference
        argument order.  Output rows carry ``side`` ∈
        {'match', 'timeout'}."""
        return match_recognize_with_timeouts(
            self.df,
            self.partition_by,
            self.order_by,
            self.pattern,
            measures,
            timeout_measures,
            output_schema,
            after_match=after_match,
        )


class CEP:
    """ref: flink-cep CEP.java:29."""

    @staticmethod
    def pattern(stream_or_df, pattern: "Pattern", key_by=None, order_by=None) -> PatternStream:
        """ref: CEP.java:38 — pair an input with a Pattern.  `key_by`
        defaults to no partitioning columns only if the caller really
        has a global sequence; pass the key columns for keyed patterns
        (the reference requires a keyed stream for parallel CEP too)."""
        df = stream_or_df.df if hasattr(stream_or_df, "df") else stream_or_df
        keys = [key_by] if isinstance(key_by, str) else list(key_by or [])
        order = [order_by] if isinstance(order_by, str) else list(order_by or [])
        if not order:
            raise ValueError("CEP.pattern needs order_by (the event-time column)")
        if not keys:
            # global pattern: single constant key, same serial semantics
            # as the reference's non-keyed CEP (one NFA instance)
            df = df.withColumn("__cep_key", F.lit(0))
            keys = ["__cep_key"]
        return PatternStream(df, keys, order, pattern)
