"""Predicate AST + three-valued zone-map evaluation.

Re-expresses the reference's pruning language (SURVEY §2.2; reference
query_enginev5.py:99-230): everything is ``col ⊕ literal`` /
``literal ⊕ col``, BETWEEN, IN, AND, OR — evaluated as "may-match"
over per-block min/max statistics. Unknown shapes return MAYBE
(conservative; reference query_enginev5.py:214-215).

Deliberate fixes over the reference (SURVEY §2.5):
- type-mismatched literal/stat comparisons return MAYBE instead of
  raising (the reference would throw inside ``_expr_may_match``),
- ``!=`` prunes when min == max == literal (the reference never prunes
  on ``!=``; Spark's parquet filter does — we match Spark),
- IS NULL / IS NOT NULL prune on ``null_count`` (the reference records
  null_count but never uses it).

Each node also renders itself as a Spark ``Column`` so the same AST
drives both the pruning predictor and a DataFrame filter.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Any, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

# Three-valued outcome of zone-map evaluation: True = some row may
# match, False = provably no row matches (block prunable).
MAYBE = True


@dataclass(frozen=True)
class ColumnStats:
    """Zone-map entry for one (block × column)."""

    min: Any
    max: Any
    null_count: int | None = None
    num_values: int | None = None

    @property
    def all_null(self) -> bool:
        return (
            self.null_count is not None
            and self.num_values is not None
            and self.null_count >= self.num_values
        )


def _as_naive_datetime(v: Any):
    """Best-effort view of ``v`` as a naive UTC datetime, else None.

    date → midnight (exactly Spark's CAST(date AS timestamp));
    ISO string → parsed (exactly Spark's string→timestamp cast for
    the formats the fuzz grammar and TPC-H queries use — naive strings
    are session-zone values, and ``session.get_spark`` pins the
    session zone to UTC); tz-aware values (TIMESTAMP_MICROS footers
    are isAdjustedToUTC, so pyarrow hands back aware datetimes) →
    converted to naive UTC. Everything lands in one zone, so the
    comparison is exact, not approximate."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            return v
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, _dt.date):
        return _dt.datetime.combine(v, _dt.time())
    if isinstance(v, str):
        try:
            p = _dt.datetime.fromisoformat(v)
        except ValueError:
            return None
        if p.tzinfo is None:
            return p
        return p.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return None


def _align(stat: Any, lit: Any):
    """Coerce (zone-map stat, SQL literal) to a comparable pair, or
    None when no sound coercion exists (→ MAYBE upstream).

    The temporal branch is the load-bearing one: parquet footers hand
    back datetime/date objects while SQL literals arrive as strings,
    so without it every date-window predicate — the single most common
    pruning driver (TPC-H q1/q3/q6 all filter l_shipdate) — evaluated
    to MAYBE and pruned nothing."""
    if stat is None or lit is None:
        return None
    if isinstance(stat, bool) or isinstance(lit, bool):
        return (stat, lit) if type(stat) is type(lit) else None
    num = (int, float)
    if isinstance(stat, num) and isinstance(lit, num):
        return (stat, lit)
    # datetimes go through the naive-UTC view: an aware footer bound
    # and a naive literal do not compare directly
    if type(stat) is type(lit) and not isinstance(stat, _dt.datetime):
        return (stat, lit)
    s, v = _as_naive_datetime(stat), _as_naive_datetime(lit)
    if s is not None and v is not None:
        return (s, v)
    return None


class Pred:
    """Base predicate node."""

    def may_match(self, stats: dict[str, ColumnStats]) -> bool:
        raise NotImplementedError

    def to_column(self) -> Column:
        raise NotImplementedError

    def columns(self) -> set[str]:
        raise NotImplementedError

    def __and__(self, other: "Pred") -> "And":
        return And(self, other)

    def __or__(self, other: "Pred") -> "Or":
        return Or(self, other)


@dataclass(frozen=True)
class TruePred(Pred):
    """No WHERE clause / unparseable residual → scan everything
    (reference query_enginev5.py:77-85)."""

    def may_match(self, stats):
        return True

    def to_column(self):
        return F.lit(True)

    def columns(self):
        return set()


@dataclass(frozen=True)
class Cmp(Pred):
    """col <op> literal with op ∈ {=, !=, <, <=, >, >=}."""

    op: str
    col: str
    value: Any

    # Prune rules (SURVEY §2.2 P5-P10). False = block skipped.
    def may_match(self, stats):
        st = stats.get(self.col)
        if st is None:
            return MAYBE
        al, ah = _align(st.min, self.value), _align(st.max, self.value)
        if al is None or ah is None:
            return MAYBE
        lo, vlo = al
        hi, vhi = ah
        if self.op == "=":
            return lo <= vlo and vhi <= hi
        if self.op == "!=":
            # prunable only when the block is constant at v
            return not (lo == vlo and hi == vhi)
        if self.op == ">":
            return hi > vhi
        if self.op == ">=":
            return hi >= vhi
        if self.op == "<":
            return lo < vlo
        if self.op == "<=":
            return lo <= vlo
        return MAYBE

    def to_column(self):
        c = F.col(self.col)
        return {
            "=": c == self.value,
            "!=": c != self.value,
            ">": c > self.value,
            ">=": c >= self.value,
            "<": c < self.value,
            "<=": c <= self.value,
        }[self.op]

    def columns(self):
        return {self.col}


@dataclass(frozen=True)
class Between(Pred):
    """col BETWEEN lo AND hi — skip iff max < lo or min > hi
    (reference query_enginev5.py:122-136)."""

    col: str
    lo: Any
    hi: Any

    def may_match(self, stats):
        st = stats.get(self.col)
        if st is None:
            return MAYBE
        a_max = _align(st.max, self.lo)
        a_min = _align(st.min, self.hi)
        if a_max is None or a_min is None:
            return MAYBE
        return not (a_max[0] < a_max[1] or a_min[0] > a_min[1])

    def to_column(self):
        return F.col(self.col).between(self.lo, self.hi)

    def columns(self):
        return {self.col}


@dataclass(frozen=True)
class InList(Pred):
    """col IN (literals) — skip iff every value is outside [min,max]
    (reference query_enginev5.py:139-164)."""

    col: str
    values: tuple

    def may_match(self, stats):
        st = stats.get(self.col)
        if st is None:
            return MAYBE
        ok_any = False
        for v in self.values:
            am, ax = _align(st.min, v), _align(st.max, v)
            if am is None or ax is None:
                return MAYBE
            if am[0] <= am[1] and ax[1] <= ax[0]:
                ok_any = True
        return ok_any

    def to_column(self):
        return F.col(self.col).isin(*self.values)

    def columns(self):
        return {self.col}


@dataclass(frozen=True)
class IsNull(Pred):
    """col IS NULL — prunes via null_count (deliberate improvement;
    the reference records null_count but never prunes on it,
    microblock_index.py:141-147)."""

    col: str

    def may_match(self, stats):
        st = stats.get(self.col)
        if st is None or st.null_count is None:
            return MAYBE
        return st.null_count > 0

    def to_column(self):
        return F.col(self.col).isNull()

    def columns(self):
        return {self.col}


@dataclass(frozen=True)
class IsNotNull(Pred):
    col: str

    def may_match(self, stats):
        st = stats.get(self.col)
        if st is None:
            return MAYBE
        return not st.all_null

    def to_column(self):
        return F.col(self.col).isNotNull()

    def columns(self):
        return {self.col}


@dataclass(frozen=True)
class And(Pred):
    """may(L) ∧ may(R) (reference query_enginev5.py:108-112)."""

    left: Pred
    right: Pred

    def may_match(self, stats):
        return self.left.may_match(stats) and self.right.may_match(stats)

    def to_column(self):
        return self.left.to_column() & self.right.to_column()

    def columns(self):
        return self.left.columns() | self.right.columns()


@dataclass(frozen=True)
class Or(Pred):
    """may(L) ∨ may(R) (reference query_enginev5.py:115-119)."""

    left: Pred
    right: Pred

    def may_match(self, stats):
        return self.left.may_match(stats) or self.right.may_match(stats)

    def to_column(self):
        return self.left.to_column() | self.right.to_column()

    def columns(self):
        return self.left.columns() | self.right.columns()


@dataclass(frozen=True)
class Not(Pred):
    """NOT — pushed through known children where exact, else MAYBE.
    (Zone maps can only certify NOT(=) via constant blocks.)"""

    child: Pred

    def may_match(self, stats):
        ch = self.child
        if isinstance(ch, Cmp):
            flipped = {"=": "!=", "!=": "=", ">": "<=", ">=": "<", "<": ">=", "<=": ">"}
            return Cmp(flipped[ch.op], ch.col, ch.value).may_match(stats)
        if isinstance(ch, IsNull):
            return IsNotNull(ch.col).may_match(stats)
        if isinstance(ch, IsNotNull):
            return IsNull(ch.col).may_match(stats)
        return MAYBE

    def to_column(self):
        return ~self.child.to_column()

    def columns(self):
        return self.child.columns()


PredT = Union[TruePred, Cmp, Between, InList, IsNull, IsNotNull, And, Or, Not]
