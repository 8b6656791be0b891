"""Column expression IR and its compilation to ``pyspark.sql.Column``.

This is a brand-new, Spark-first re-expression of the reference's
``ColumnExpression`` algebra (reference: src/model/column_expression/
column_expression.py:17). The reference compiles these trees to SQLAlchemy
expressions for 9 warehouse dialects; here there is exactly one "dialect":
the PySpark Column API, which Catalyst then optimizes (constant folding,
predicate pushdown, column pruning are all free).

Semantics faithfully ported from the reference:

* ``== None`` / ``!= None`` compile to IS [NOT] NULL, and ``None == None``
  folds to TRUE (reference: compilers/binary_op.py:57-78). Plain Spark
  ``===`` null comparison yields NULL, so this rewrite is load-bearing.
* Null-aware ``in_``: ``x.in_([a, None])`` becomes ``x IN (a) OR x IS NULL``
  (reference: column_expression.py:550-568).
* ``now()`` is materialized to a Python datetime at compile time, keeping
  ``is_this_week`` etc. stable within one query
  (reference: compilers/sql_function.py:47-53).
* Granularity truncation honors a configurable first day of week
  (default SUNDAY, reference: src/run/compile/settings.py:6-13); Spark's
  ``date_trunc('week')`` is Monday-based so we apply the +1/-1 day trick
  (reference: compilers/granularity.py:118-126).
* Identifier auto-inference: a column name names itself; a function names
  itself ``{fn}_{base}``; raw SQL names its trailing identifier token
  (reference: sql_text.py:46-53, sql_function.py:31-41).
* ``__dunder__`` identifiers are reserved for internal columns and stripped
  from final output (reference: column_expression.py:40-45,
  post_process.py:8-17).
"""

from __future__ import annotations

import copy
import datetime
import re
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .timeinterval import normalize_timedelta, timeinterval

# --------------------------------------------------------------------------
# Settings (reference: src/run/compile/settings.py:6-13)
# --------------------------------------------------------------------------

DEFAULT_FIRST_DAY_OF_WEEK = 0  # 0=Sunday, 1=Monday (Spark native)

GRAINS = ("second", "minute", "hour", "day", "week", "month", "quarter", "year")

RESERVED_NAME_RE = re.compile(r"^__.*__$")


def interval_expr(num: int, unit: str) -> Column:
    """INTERVAL literal; Spark has no QUARTER interval unit, so quarters
    render as 3-month multiples."""
    if unit == "quarter":
        num, unit = num * 3, "month"
    return F.expr(f"INTERVAL {num} {unit}")


# --------------------------------------------------------------------------
# Compile context
# --------------------------------------------------------------------------


@dataclass
class ExprContext:
    """Everything an expression needs to become a ``pyspark.sql.Column``."""

    spark: SparkSession
    df: Optional[DataFrame] = None  # current frame (type probing, `*`)
    now: Optional[datetime.datetime] = None  # captured once per compile
    # maps (namespace, column) -> physical column name in the current frame
    ns_col: Callable[[str, str], str] = lambda ns, col: f"__ns_{ns}__{col}"
    # pre-attached subquery marker columns, keyed by id(node)
    subquery_cols: dict = field(default_factory=dict)
    first_day_of_week: int = DEFAULT_FIRST_DAY_OF_WEEK
    # identifier -> expression for {{ attr }} substitution in raw SQL
    sql_bindings: dict = field(default_factory=dict)

    def get_now(self) -> datetime.datetime:
        if self.now is None:
            self.now = datetime.datetime.now()
        return self.now

    def type_of(self, col: Column) -> Optional[T.DataType]:
        """Best-effort static type of a compiled column (no job is run)."""
        if self.df is None:
            return None
        try:
            return self.df.select(col).schema[0].dataType
        except AnalysisException:
            return None


# --------------------------------------------------------------------------
# Base class
# --------------------------------------------------------------------------


class ColumnExpression:
    """Immutable scalar expression node. All mutators copy."""

    __TYPE_KEY__ = "abstract"

    def __init__(self) -> None:
        self._identifier: Optional[str] = None
        self._namespace: Optional[str] = None  # join-relation qualifier

    # --- naming (reference: column_expression.py:28-77) ---

    def named(self, name: str) -> "ColumnExpression":
        new = copy.copy(self)
        new._identifier = name
        return new

    @property
    def identifier(self) -> str:
        return self._identifier or self.default_identifier() or "value"

    def default_identifier(self) -> Optional[str]:
        return None

    @property
    def _is_star(self) -> bool:
        return isinstance(self, StarExpression)

    def disambiguated(self, namespace: str) -> "ColumnExpression":
        """Qualify this expression to a joined relation's namespace.

        The namespace tag is propagated to every column-name leaf so complex
        attribute expressions resolve inside the joined relation
        (reference: column_expression.py:81-99)."""
        new = copy.deepcopy(self)
        new._namespace = namespace
        for node in new.walk():
            if isinstance(node, ColumnNameExpression):
                node._namespace = namespace
        return new

    # --- compile ---

    def compile(self, ctx: ExprContext) -> Column:  # pragma: no cover
        raise NotImplementedError

    def compile_named(self, ctx: ExprContext) -> Column:
        return self.compile(ctx).alias(self.identifier)

    # --- tree walking ---

    def children(self) -> list:
        return []

    def walk(self):
        yield self
        for child in self.children():
            if isinstance(child, ColumnExpression):
                yield from child.walk()

    # --- operator overloads (reference: column_expression.py:643-692) ---

    def _binop(self, op: str, other: Any, reverse: bool = False):
        from .keypath import BoundKeyPath, KeyPath, _Call

        if isinstance(other, KeyPath):
            # defer until the keypath resolves against a model
            return BoundKeyPath(
                lambda o, _op=op, _rev=reverse: self._binop(_op, o, _rev),
                [_Call([other], {})],
            )
        from .model import Model

        if isinstance(other, Model):
            # a Model operand is a scalar subquery — the reference declares
            # this surface but its as_scalar_column_expression is missing
            # (latent bug, reference: column_expression.py:637-638); here it
            # compiles properly via a broadcast one-row cross join
            other = SubqueryExpression("scalar", other)
        else:
            other = to_expr(other)
        if reverse:
            return BinaryOpExpression(op, other, self)
        return BinaryOpExpression(op, self, other)

    def __eq__(self, other):  # type: ignore[override]
        return self._binop("=", other)

    def __ne__(self, other):  # type: ignore[override]
        return self._binop("!=", other)

    def __lt__(self, other):
        return self._binop("<", other)

    def __le__(self, other):
        return self._binop("<=", other)

    def __gt__(self, other):
        return self._binop(">", other)

    def __ge__(self, other):
        return self._binop(">=", other)

    def __add__(self, other):
        return self._binop("+", other)

    def __radd__(self, other):
        return self._binop("+", other, reverse=True)

    def __sub__(self, other):
        return self._binop("-", other)

    def __rsub__(self, other):
        return self._binop("-", other, reverse=True)

    def __mul__(self, other):
        return self._binop("*", other)

    def __rmul__(self, other):
        return self._binop("*", other, reverse=True)

    def __truediv__(self, other):
        return self._binop("/", other)

    def __rtruediv__(self, other):
        return self._binop("/", other, reverse=True)

    def __floordiv__(self, other):
        return self._binop("//", other)

    def __and__(self, other):
        return self._binop("AND", other)

    def __or__(self, other):
        return self._binop("OR", other)

    def __invert__(self):
        from .func import not_

        return not_(self)

    def __hash__(self):
        return id(self)

    def __bool__(self):
        raise TypeError(
            "ColumnExpression cannot be evaluated as a Python boolean; "
            "use func.and_/func.or_/func.not_ instead of and/or/not."
        )

    # --- membership / string ops (reference: column_expression.py:479-622) ---

    def bucket_other(self, *buckets, other="Other") -> "ColumnExpression":
        """Coerce any value not in ``buckets`` into ``other`` (reference:
        column_expression.py:352-378). Buckets may be literals and/or
        Models (membership via the null-aware ``in_`` semantics, so a
        Model bucket compiles to the same null-safe semi-join). Keeps the
        base expression's identifier for direct use as a group."""
        from .model import Model  # local: avoid circular import

        other_expr = other if isinstance(other, ColumnExpression) else PyValueExpression(other)
        literal_items = [b for b in buckets if not isinstance(b, Model)]
        model_items = [b for b in buckets if isinstance(b, Model)]
        cases = []
        if literal_items:
            cases.append((self.in_(literal_items), self))
        for m in model_items:
            cases.append((self.in_(m), self))
        result = CasesExpression(cases, other=other_expr)
        if self._identifier or self.default_identifier():
            result = result.named(self.identifier)
        return result

    def in_(self, container) -> "ColumnExpression":
        from .model import Model  # local import to avoid cycle

        if isinstance(container, Model):
            return SubqueryExpression("in", container, needle=self)
        if isinstance(container, (list, tuple, set)):
            return _InListExpression(self, list(container))
        return BinaryOpExpression("IN", self, to_expr(container))

    def contains(self, value, case_insensitive: bool = False) -> "ColumnExpression":
        return _ContainsExpression(self, to_expr(value), case_insensitive)

    def contains_any(self, *values, case_insensitive: bool = False) -> "ColumnExpression":
        from .func import or_

        return or_(*[self.contains(v, case_insensitive) for v in _flat(values)])

    def contains_all(self, *values, case_insensitive: bool = False) -> "ColumnExpression":
        from .func import and_

        return and_(*[self.contains(v, case_insensitive) for v in _flat(values)])

    def like(self, pattern: str) -> "ColumnExpression":
        return BinaryOpExpression("LIKE", self, to_expr(pattern))

    def ilike(self, pattern: str) -> "ColumnExpression":
        return BinaryOpExpression("ILIKE", self, to_expr(pattern))

    def is_null(self) -> "ColumnExpression":
        return BinaryOpExpression("=", self, PyValueExpression(None))

    def is_not_null(self) -> "ColumnExpression":
        return BinaryOpExpression("!=", self, PyValueExpression(None))

    def cast(self, type_name: str) -> "ColumnExpression":
        return _CastExpression(self, type_name)

    # --- temporal granularity (reference: column_expression.py:146-206) ---

    def by_granularity(self, grain: str) -> "GranularityExpression":
        if grain not in GRAINS:
            raise ValueError(f"unknown granularity {grain!r}; expected one of {GRAINS}")
        return GranularityExpression(self, grain)

    def by_second(self):
        return self.by_granularity("second")

    def by_minute(self):
        return self.by_granularity("minute")

    def by_hour(self):
        return self.by_granularity("hour")

    def by_day(self):
        return self.by_granularity("day")

    def by_week(self):
        return self.by_granularity("week")

    def by_month(self):
        return self.by_granularity("month")

    def by_quarter(self):
        return self.by_granularity("quarter")

    def by_year(self):
        return self.by_granularity("year")

    # --- temporal sugar (reference: column_expression.py:209-317) ---

    def _is_between(self, grain: str, intervals_ago: int) -> "ColumnExpression":
        return _TemporalRangeExpression(self, grain, intervals_ago)

    def is_today(self):
        return self._is_between("day", 0)

    def is_yesterday(self):
        return self._is_between("day", 1)

    def is_this_week(self):
        return self._is_between("week", 0)

    def is_last_week(self):
        return self._is_between("week", 1)

    def is_this_month(self):
        return self._is_between("month", 0)

    def is_last_month(self):
        return self._is_between("month", 1)

    def is_this_quarter(self):
        return self._is_between("quarter", 0)

    def is_last_quarter(self):
        return self._is_between("quarter", 1)

    def is_this_year(self):
        return self._is_between("year", 0)

    def is_last_year(self):
        return self._is_between("year", 1)

    def format_timestamp(self, fmt: str = "%Y-%m-%dT%H:%M:%S") -> "ColumnExpression":
        return FormatTimestampExpression(self, fmt)

    strftime = format_timestamp

    # --- wire format (reference: serializable version 7) ---

    def to_wire(self) -> dict:
        return {
            "type": self.__TYPE_KEY__,
            "identifier": self._identifier,
            "namespace": self._namespace,
        }

    @staticmethod
    def from_wire(data: dict) -> "ColumnExpression":
        node = _WIRE_REGISTRY[data["type"]]._from_wire(data)
        node._identifier = data.get("identifier")
        node._namespace = data.get("namespace")
        return node


def _flat(values):
    if len(values) == 1 and isinstance(values[0], (list, tuple, set)):
        return list(values[0])
    return list(values)


def to_expr(value: Any) -> ColumnExpression:
    """Coerce a Python value / expression into a ColumnExpression."""
    if isinstance(value, ColumnExpression):
        return value
    from .keypath import KeyPath

    if isinstance(value, KeyPath):
        raise TypeError(
            f"unresolved KeyPath {value!r}; keypaths (attr.x / msr.y / rel.r.z) "
            "must be passed to Model methods, which resolve them"
        )
    return PyValueExpression(value)


# --------------------------------------------------------------------------
# Leaf nodes
# --------------------------------------------------------------------------


class ColumnNameExpression(ColumnExpression):
    """Reference to a physical (or previously-selected) column by name.

    Reference: src/model/column_expression/column_name.py:9.
    """

    __TYPE_KEY__ = "columnName"

    def __init__(self, name: str) -> None:
        super().__init__()
        self.name = name

    def default_identifier(self):
        return self.name

    def compile(self, ctx: ExprContext) -> Column:
        if self._namespace:
            return F.col(ctx.ns_col(self._namespace, self.name))
        return F.col(self.name)

    def __repr__(self):
        ns = f"{self._namespace}." if self._namespace else ""
        return f"column({ns}{self.name})"

    def to_wire(self):
        return {**super().to_wire(), "name": self.name}

    @classmethod
    def _from_wire(cls, data):
        return cls(data["name"])


class StarExpression(ColumnExpression):
    """``column("*")`` — select everything in the current frame."""

    __TYPE_KEY__ = "star"

    def default_identifier(self):
        return "*"

    def compile(self, ctx: ExprContext) -> Column:
        return F.col("*")

    def compile_named(self, ctx: ExprContext) -> Column:
        return F.col("*")

    @classmethod
    def _from_wire(cls, data):
        return cls()


class PyValueExpression(ColumnExpression):
    """A Python literal (reference: src/model/column_expression/py_value.py:7).

    ``None`` compiles to a typed NULL; ``datetime``/``date`` to literals;
    ``timedelta``/``timeinterval`` only appear inside interval arithmetic and
    are handled by BinaryOpExpression.
    """

    __TYPE_KEY__ = "pyValue"

    def __init__(self, value: Any) -> None:
        super().__init__()
        if isinstance(value, datetime.timedelta):
            value = normalize_timedelta(value)
        self.value = value

    def default_identifier(self):
        return None

    def compile(self, ctx: ExprContext) -> Column:
        v = self.value
        if v is None:
            return F.lit(None)
        if isinstance(v, timeinterval):
            return interval_expr(v.num, v.unit)
        return F.lit(v)

    def __repr__(self):
        return f"value({self.value!r})"

    def to_wire(self):
        v = self.value
        if isinstance(v, (datetime.datetime, datetime.date)):
            v = {"__datetime__": v.isoformat()}
        elif isinstance(v, timeinterval):
            v = {"__timeinterval__": [v.unit, v.num]}
        return {**super().to_wire(), "value": v}

    @classmethod
    def _from_wire(cls, data):
        v = data["value"]
        if isinstance(v, dict) and "__datetime__" in v:
            v = datetime.datetime.fromisoformat(v["__datetime__"])
        elif isinstance(v, dict) and "__timeinterval__" in v:
            v = timeinterval(*v["__timeinterval__"])
        return cls(v)


# --------------------------------------------------------------------------
# Binary ops
# --------------------------------------------------------------------------

_SIMPLE_OPS = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "AND": lambda a, b: a & b,
    "OR": lambda a, b: a | b,
}


class BinaryOpExpression(ColumnExpression):
    """Reference: src/model/column_expression/binary_op.py:8 and its compiler
    src/run/compile/column_expression/compilers/binary_op.py:30-141."""

    __TYPE_KEY__ = "binaryOp"

    def __init__(self, op: str, left: ColumnExpression, right: ColumnExpression) -> None:
        super().__init__()
        self.op = op
        self.left = left
        self.right = right

    def children(self):
        return [self.left, self.right]

    def default_identifier(self):
        return self.left.default_identifier()

    def _is_null_literal(self, node) -> bool:
        return isinstance(node, PyValueExpression) and node.value is None

    def compile(self, ctx: ExprContext) -> Column:
        op = self.op

        # IS [NOT] NULL rewrites (reference: compilers/binary_op.py:57-78)
        if op in ("=", "!="):
            left_null = self._is_null_literal(self.left)
            right_null = self._is_null_literal(self.right)
            if left_null and right_null:
                # `None == None` folds to a constant (reference :68-73)
                return F.lit(op == "=")
            if left_null or right_null:
                target = self.right if left_null else self.left
                col = target.compile(ctx)
                return col.isNull() if op == "=" else col.isNotNull()
            a, b = self.left.compile(ctx), self.right.compile(ctx)
            return (a == b) if op == "=" else (a != b)

        # interval arithmetic: ts +/- timedelta/timeinterval
        if op in ("+", "-"):
            interval = self._interval_side()
            if interval is not None:
                side, iv = interval
                other = self.left if side == "right" else self.right
                base = other.compile(ctx)
                sign = iv.num if op == "+" else -iv.num
                if side == "left" and op == "-":
                    raise ValueError("cannot subtract a timestamp from an interval")
                return base + interval_expr(sign, iv.unit)

        if op == "//":
            a, b = self.left.compile(ctx), self.right.compile(ctx)
            return F.floor(a / b)

        if op == "LIKE":
            return self.left.compile(ctx).like(_literal_str(self.right, ctx))
        if op == "ILIKE":
            return self.left.compile(ctx).ilike(_literal_str(self.right, ctx))

        if op == "IN":
            # dynamic containment: string-in-string or value-in-array
            # (reference: compilers/binary_op.py:144-194)
            needle = self.left.compile(ctx)
            hay = self.right.compile(ctx)
            hay_type = ctx.type_of(hay)
            if isinstance(hay_type, T.ArrayType):
                return F.array_contains(hay, needle)
            return hay.contains(needle)

        if op in _SIMPLE_OPS:
            return _SIMPLE_OPS[op](self.left.compile(ctx), self.right.compile(ctx))
        raise ValueError(f"unknown binary operator {op!r}")

    def _interval_side(self):
        for side, node in (("left", self.left), ("right", self.right)):
            if isinstance(node, PyValueExpression) and isinstance(node.value, timeinterval):
                return side, node.value
        return None

    def __repr__(self):
        return f"({self.left!r} {self.op} {self.right!r})"

    def to_wire(self):
        return {
            **super().to_wire(),
            "op": self.op,
            "left": self.left.to_wire(),
            "right": self.right.to_wire(),
        }

    @classmethod
    def _from_wire(cls, data):
        return cls(
            data["op"],
            ColumnExpression.from_wire(data["left"]),
            ColumnExpression.from_wire(data["right"]),
        )


def _literal_str(node: ColumnExpression, ctx: ExprContext) -> Any:
    if isinstance(node, PyValueExpression) and isinstance(node.value, str):
        return node.value
    return node.compile(ctx)


class _InListExpression(ColumnExpression):
    """Null-aware list membership (reference: column_expression.py:550-568)."""

    __TYPE_KEY__ = "inList"

    def __init__(self, needle: ColumnExpression, items: list) -> None:
        super().__init__()
        self.needle = needle
        self.items = [to_expr(i) for i in items]

    def children(self):
        return [self.needle, *self.items]

    def default_identifier(self):
        return self.needle.default_identifier()

    def compile(self, ctx: ExprContext) -> Column:
        needle = self.needle.compile(ctx)
        non_null = [
            i for i in self.items if not (isinstance(i, PyValueExpression) and i.value is None)
        ]
        has_null = len(non_null) < len(self.items)
        if not self.items:
            return F.lit(False)
        if not non_null:  # all-null list short-circuits (reference :560-563)
            return needle.isNull()
        cond = needle.isin(*[i.compile(ctx) for i in non_null])
        if has_null:
            cond = cond | needle.isNull()
        return cond

    def to_wire(self):
        return {
            **super().to_wire(),
            "needle": self.needle.to_wire(),
            "items": [i.to_wire() for i in self.items],
        }

    @classmethod
    def _from_wire(cls, data):
        node = cls(ColumnExpression.from_wire(data["needle"]), [])
        node.items = [ColumnExpression.from_wire(i) for i in data["items"]]
        return node


class _ContainsExpression(ColumnExpression):
    """Substring or array containment, dispatched on the haystack's type
    (reference: column_expression.py:575-622, compilers/binary_op.py:156-174).
    """

    __TYPE_KEY__ = "contains"

    def __init__(self, haystack, needle, case_insensitive: bool = False) -> None:
        super().__init__()
        self.haystack = haystack
        self.needle = needle
        self.case_insensitive = case_insensitive

    def children(self):
        return [self.haystack, self.needle]

    def default_identifier(self):
        return self.haystack.default_identifier()

    def compile(self, ctx: ExprContext) -> Column:
        hay = self.haystack.compile(ctx)
        needle = self.needle.compile(ctx)
        hay_type = ctx.type_of(hay)
        if isinstance(hay_type, T.ArrayType):
            return F.array_contains(hay, needle)
        if self.case_insensitive:
            return F.lower(hay).contains(F.lower(needle))
        return hay.contains(needle)

    def to_wire(self):
        return {
            **super().to_wire(),
            "haystack": self.haystack.to_wire(),
            "needle": self.needle.to_wire(),
            "ci": self.case_insensitive,
        }

    @classmethod
    def _from_wire(cls, data):
        return cls(
            ColumnExpression.from_wire(data["haystack"]),
            ColumnExpression.from_wire(data["needle"]),
            data["ci"],
        )


class _CastExpression(ColumnExpression):
    __TYPE_KEY__ = "cast"

    def __init__(self, base: ColumnExpression, type_name: str) -> None:
        super().__init__()
        self.base = base
        self.type_name = type_name

    def children(self):
        return [self.base]

    def default_identifier(self):
        return self.base.default_identifier()

    def compile(self, ctx: ExprContext) -> Column:
        return self.base.compile(ctx).cast(self.type_name)

    def to_wire(self):
        return {**super().to_wire(), "base": self.base.to_wire(), "castTo": self.type_name}

    @classmethod
    def _from_wire(cls, data):
        return cls(ColumnExpression.from_wire(data["base"]), data["castTo"])


# --------------------------------------------------------------------------
# CASE WHEN (reference: src/model/column_expression/cases.py:8)
# --------------------------------------------------------------------------


class CasesExpression(ColumnExpression):
    __TYPE_KEY__ = "case"

    def __init__(self, cases: list, other: Any = None) -> None:
        super().__init__()
        self.cases = [(to_expr(c), to_expr(v)) for c, v in cases]
        self.other = to_expr(other)

    def children(self):
        out = []
        for c, v in self.cases:
            out += [c, v]
        return out + [self.other]

    def default_identifier(self):
        return "cases"

    def compile(self, ctx: ExprContext) -> Column:
        col = None
        for cond, val in self.cases:
            c, v = cond.compile(ctx), val.compile(ctx)
            col = F.when(c, v) if col is None else col.when(c, v)
        if col is None:
            return self.other.compile(ctx)
        return col.otherwise(self.other.compile(ctx))

    def to_wire(self):
        return {
            **super().to_wire(),
            "cases": [[c.to_wire(), v.to_wire()] for c, v in self.cases],
            "other": self.other.to_wire(),
        }

    @classmethod
    def _from_wire(cls, data):
        node = cls([], None)
        node.cases = [
            (ColumnExpression.from_wire(c), ColumnExpression.from_wire(v))
            for c, v in data["cases"]
        ]
        node.other = ColumnExpression.from_wire(data["other"])
        return node


# --------------------------------------------------------------------------
# Temporal nodes
# --------------------------------------------------------------------------


class GranularityExpression(ColumnExpression):
    """DATE_TRUNC to one of 8 grains with configurable week start
    (reference: src/model/column_expression/granularity.py:8 and
    compilers/granularity.py:27-298)."""

    __TYPE_KEY__ = "granularity"

    def __init__(self, base: ColumnExpression, grain: str) -> None:
        super().__init__()
        self.base = base
        self.grain = grain

    def children(self):
        return [self.base]

    def default_identifier(self):
        return self.base.default_identifier()

    def compile(self, ctx: ExprContext) -> Column:
        base = self.base.compile(ctx)
        return compile_trunc(base, self.grain, ctx.first_day_of_week)

    def to_wire(self):
        return {**super().to_wire(), "base": self.base.to_wire(), "grain": self.grain}

    @classmethod
    def _from_wire(cls, data):
        return cls(ColumnExpression.from_wire(data["base"]), data["grain"])


def compile_trunc(col: Column, grain: str, first_day_of_week: int = 0) -> Column:
    """``date_trunc`` with week-start offset (reference trick at
    compilers/granularity.py:118-126): Spark weeks start Monday; to start on
    Sunday, shift forward 1 day, truncate, shift back."""
    if grain == "week" and first_day_of_week == 0:
        shifted = col + F.expr("INTERVAL 1 DAY")
        return F.date_trunc("week", shifted) - F.expr("INTERVAL 1 DAY")
    return F.date_trunc(grain, col)


class _TemporalRangeExpression(ColumnExpression):
    """``is_today`` / ``is_last_week`` family: half-open range
    ``[trunc(now) - n units, trunc(now) - (n-1) units)`` using the
    compile-time-materialized now() (reference: column_expression.py:209-317).
    """

    __TYPE_KEY__ = "temporalRange"

    def __init__(self, base: ColumnExpression, grain: str, intervals_ago: int) -> None:
        super().__init__()
        self.base = base
        self.grain = grain
        self.intervals_ago = intervals_ago

    def children(self):
        return [self.base]

    def default_identifier(self):
        name = self.base.default_identifier() or "timestamp"
        kind = "this" if self.intervals_ago == 0 else "last"
        return f"{name}_is_{kind}_{self.grain}"

    def compile(self, ctx: ExprContext) -> Column:
        base = self.base.compile(ctx)
        now_lit = F.lit(ctx.get_now())
        start = compile_trunc(now_lit, self.grain, ctx.first_day_of_week)
        n = self.intervals_ago
        lo = start - interval_expr(n, self.grain)
        hi = start - interval_expr(n - 1, self.grain)
        return (base >= lo) & (base < hi)

    def to_wire(self):
        return {
            **super().to_wire(),
            "base": self.base.to_wire(),
            "grain": self.grain,
            "intervalsAgo": self.intervals_ago,
        }

    @classmethod
    def _from_wire(cls, data):
        return cls(ColumnExpression.from_wire(data["base"]), data["grain"], data["intervalsAgo"])


# --------------------------------------------------------------------------
# format_timestamp (reference: compilers/format_timestamp.py:38-272)
# --------------------------------------------------------------------------

# Python strftime token -> Spark DateTimeFormatter pattern. A None value
# means the token needs a computed expression instead of a pattern.
_STRFTIME_TOKENS = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%-m": "M",
    "%d": "dd",
    "%-d": "d",
    "%H": "HH",
    "%-H": "H",
    "%I": "hh",
    "%-I": "h",
    "%M": "mm",
    "%-M": "m",
    "%S": "ss",
    "%-S": "s",
    "%p": "a",
    "%A": "EEEE",
    "%a": "EEE",
    "%B": "MMMM",
    "%b": "MMM",
    "%j": "DDD",
    "%z": "xx",
    "%Z": "zz",
    "%%": None,  # literal percent
    "%Q": None,  # custom quarter token (reference :80-112)
}


class FormatTimestampExpression(ColumnExpression):
    """strftime-style timestamp formatting. The reference tokenizes the
    format string into literal / pattern / computed segments and concatenates
    (reference: compilers/format_timestamp.py:57-70); we do the same with a
    single Python-strftime -> DateTimeFormatter map."""

    __TYPE_KEY__ = "formatTimestamp"

    def __init__(self, base: ColumnExpression, fmt: str) -> None:
        super().__init__()
        self.base = base
        self.fmt = fmt

    def children(self):
        return [self.base]

    def default_identifier(self):
        return self.base.default_identifier()

    def compile(self, ctx: ExprContext) -> Column:
        base = self.base.compile(ctx)
        segments: list[Column] = []
        pattern_buf = ""
        literal_buf = ""

        def flush_literal():
            # literal runs are quoted as ONE block: per-character quoting
            # would produce `'d''a''y'`, and '' is DateTimeFormatter's
            # ESCAPED QUOTE — rendering the literal `d'a'y`
            nonlocal pattern_buf, literal_buf
            if literal_buf:
                if any(c.isalpha() or c == "'" for c in literal_buf):
                    pattern_buf += "'" + literal_buf.replace("'", "''") + "'"
                else:
                    pattern_buf += literal_buf
                literal_buf = ""

        def flush_pattern():
            nonlocal pattern_buf
            flush_literal()
            if pattern_buf:
                segments.append(F.date_format(base, pattern_buf))
                pattern_buf = ""

        def append_pattern(pat: str):
            # adjacent identical tokens (e.g. %m%m) must not merge into one
            # longer DateTimeFormatter run (MM+MM = MMMM = "January") —
            # start a fresh date_format segment instead
            nonlocal pattern_buf
            flush_literal()
            if pattern_buf and pattern_buf[-1] == pat[0]:
                flush_pattern()
            pattern_buf += pat

        i = 0
        fmt = self.fmt
        while i < len(fmt):
            tok2, tok3 = fmt[i : i + 2], fmt[i : i + 3]
            if len(tok3) == 3 and tok3 in _STRFTIME_TOKENS:
                append_pattern(_STRFTIME_TOKENS[tok3])
                i += 3
            elif tok2 in _STRFTIME_TOKENS:
                if tok2 == "%%":
                    literal_buf += "%"
                elif tok2 == "%Q":
                    flush_pattern()
                    segments.append(F.quarter(base).cast("string"))
                else:
                    append_pattern(_STRFTIME_TOKENS[tok2])
                i += 2
            else:
                literal_buf += fmt[i]
                i += 1
        flush_pattern()
        if not segments:
            return F.lit("")
        if len(segments) == 1:
            return segments[0]
        return F.concat(*segments)

    def to_wire(self):
        return {**super().to_wire(), "base": self.base.to_wire(), "format": self.fmt}

    @classmethod
    def _from_wire(cls, data):
        return cls(ColumnExpression.from_wire(data["base"]), data["format"])


# --------------------------------------------------------------------------
# SQL functions (reference: src/model/column_expression/sql_function.py:8)
# --------------------------------------------------------------------------


class PythonUdfExpression(ColumnExpression):
    """User Python function as an expression — the extension the reference
    lacks entirely (its only escape hatch is raw SQL text; SURVEY.md §2.7).

    ``vectorized=True`` (default) compiles to an Arrow-batched pandas_udf —
    the function receives/returns ``pandas.Series``, evaluated per batch,
    ~10-100× faster than row-at-a-time. ``vectorized=False`` falls back to
    a row-at-a-time ``F.udf`` for functions that can't vectorize.

    Local-only: Python callables have no wire format (use ``column(sql=)``
    for portable custom expressions)."""

    __TYPE_KEY__ = "pythonUdf"

    def __init__(
        self,
        fn: Callable,
        return_type: str,
        args: Optional[list] = None,
        vectorized: bool = True,
        agg: bool = False,
    ) -> None:
        super().__init__()
        self.fn = fn
        self.return_type = return_type
        self.args = [to_expr(a) for a in (args or [])]
        self.vectorized = vectorized
        self.agg = agg

    def children(self):
        return list(self.args)

    def default_identifier(self):
        name = getattr(self.fn, "__name__", "")
        return name if name and name != "<lambda>" else None

    def compile(self, ctx: ExprContext) -> Column:
        cols = [a.compile(ctx) for a in self.args]
        if self.agg:
            # grouped-agg pandas UDF: fn receives pandas.Series (one per
            # arg, the group's values) and returns ONE scalar. Spark
            # evaluates it per group inside groupBy().agg() — a true
            # custom UDAF with Arrow transfer. Note: unlike built-in
            # aggregates there is no partial/merge step, so every group's
            # values ship to one task — fine for bounded groups, not for
            # a single global group over 100 TB.
            from pyspark.sql.functions import PandasUDFType

            udf = F.pandas_udf(self.fn, self.return_type, PandasUDFType.GROUPED_AGG)
        elif self.vectorized:
            udf = F.pandas_udf(self.fn, self.return_type)
        else:
            udf = F.udf(self.fn, self.return_type)
        return udf(*cols)

    def to_wire(self):
        raise NotImplementedError(
            "python_udf expressions are local-only and cannot be serialized; "
            "use column(sql=...) for portable custom expressions"
        )


# extra scalar-function parameters carried outside the args list:
# (python attribute, wire-format key) — serialized only when present
_SQL_FN_EXTRAS = [
    ("pad_len", "padLen"),
    ("pad_str", "padStr"),
    ("repeat_n", "repeatN"),
    ("regex_pattern", "regexPattern"),
    ("regex_group", "regexGroup"),
    ("regex_repl", "regexRepl"),
]


class SqlFunctionExpression(ColumnExpression):
    __TYPE_KEY__ = "sqlFunction"

    def __init__(self, function: str, args: Optional[list] = None) -> None:
        super().__init__()
        self.function = function
        self.args = [to_expr(a) for a in (args or [])]

    def children(self):
        return list(self.args)

    def default_identifier(self):
        # reference: sql_function.py:31-41 — `{fn}_{base}` or bare fn
        if self.args:
            base = self.args[0].default_identifier() or self.args[0]._identifier
            if base:
                return f"{self.function}_{base}"
        return self.function

    def compile(self, ctx: ExprContext) -> Column:
        fn = self.function
        if fn == "count":
            if not self.args:
                return F.count(F.lit(1))
            arg = self.args[0]
            # count(distinct(x)) -> countDistinct
            if isinstance(arg, SqlFunctionExpression) and arg.function == "distinct":
                return F.countDistinct(arg.args[0].compile(ctx))
            return F.count(arg.compile(ctx))
        if fn == "distinct":
            raise ValueError(
                "distinct() can only be used inside count(); "
                "use Model.pick for distinct rows"
            )
        if fn == "countIf":
            cond = self.args[0].compile(ctx)
            # sugar: SUM(CASE WHEN cond THEN 1 ELSE 0 END)
            # (reference: src/model/func/_sql_functions.py:25-30)
            return F.sum(F.when(cond, 1).otherwise(0))
        if fn == "approxDistinct":
            return F.approx_count_distinct(self.args[0].compile(ctx), rsd=self.rsd)
        if fn == "jsonValue":
            # JSONPath string extraction (net-new; the reference maps
            # struct/record to JSON only as a best-effort type name)
            return F.get_json_object(self.args[0].compile(ctx), self.json_path)
        if fn == "percentile":
            return F.percentile(self.args[0].compile(ctx), F.lit(self.percentile_p))
        if fn in ("min", "max", "sum", "avg"):
            return getattr(F, fn)(self.args[0].compile(ctx))
        if fn == "stddev":
            return F.stddev_samp(self.args[0].compile(ctx))
        if fn == "variance":
            return F.var_samp(self.args[0].compile(ctx))
        if fn == "corr":
            return F.corr(self.args[0].compile(ctx), self.args[1].compile(ctx))
        if fn == "covar":
            return F.covar_samp(self.args[0].compile(ctx), self.args[1].compile(ctx))
        if fn == "anyValue":
            return F.any_value(self.args[0].compile(ctx))
        if fn == "floor":
            return F.floor(self.args[0].compile(ctx))
        if fn == "ceiling":
            return F.ceil(self.args[0].compile(ctx))
        # net-new scalar conveniences (the reference routes these through
        # raw column(sql=...) text; SURVEY §2.7 "no general string/math
        # function library")
        if fn in ("abs", "length", "lower", "upper", "trim", "sqrt"):
            return getattr(F, fn)(self.args[0].compile(ctx))
        if fn in (
            "exp", "log2", "log10", "reverse", "initcap", "ltrim", "rtrim", "md5",
        ):
            return getattr(F, fn)(self.args[0].compile(ctx))
        if fn == "ln":
            return F.log(self.args[0].compile(ctx))
        if fn == "sign":
            return F.signum(self.args[0].compile(ctx))
        if fn == "pow":
            return F.pow(self.args[0].compile(ctx), self.args[1].compile(ctx))
        if fn == "mod":
            return self.args[0].compile(ctx) % self.args[1].compile(ctx)
        if fn in ("greatest", "least"):
            return getattr(F, fn)(*[a.compile(ctx) for a in self.args])
        if fn == "nullif":
            a, b = self.args[0].compile(ctx), self.args[1].compile(ctx)
            # ANSI: NULL when equal, else a (NULL inputs fall through to a)
            return F.when(a == b, F.lit(None)).otherwise(a)
        if fn == "substring":
            return F.substring(*[a.compile(ctx) for a in self.args])
        if fn == "replace":
            return F.replace(*[a.compile(ctx) for a in self.args])
        if fn == "instr":
            return F.instr(self.args[0].compile(ctx), self.args[1].compile(ctx))
        if fn == "levenshtein":
            return F.levenshtein(self.args[0].compile(ctx), self.args[1].compile(ctx))
        if fn in ("lpad", "rpad"):
            return getattr(F, fn)(
                self.args[0].compile(ctx), self.pad_len, self.pad_str
            )
        if fn == "repeat":
            return F.repeat(self.args[0].compile(ctx), self.repeat_n)
        if fn == "regexpExtract":
            return F.regexp_extract(
                self.args[0].compile(ctx), self.regex_pattern, self.regex_group
            )
        if fn == "regexpReplace":
            return F.regexp_replace(
                self.args[0].compile(ctx), self.regex_pattern, self.regex_repl
            )
        if fn == "split":
            return F.split(self.args[0].compile(ctx), self.regex_pattern)
        if fn == "round":
            return F.round(self.args[0].compile(ctx), self.round_scale)
        if fn == "concat":
            return F.concat(*[a.compile(ctx) for a in self.args])
        if fn == "coalesce":
            return F.coalesce(*[a.compile(ctx) for a in self.args])
        if fn == "now":
            # materialized at compile time (reference: sql_function.py:47-53)
            return F.lit(ctx.get_now())
        if fn == "diffSeconds":
            a, b = self.args[0].compile(ctx), self.args[1].compile(ctx)
            # reference Databricks branch: unix_timestamp(a) - unix_timestamp(b)
            # (compilers/sql_function.py:90-91)
            return F.unix_timestamp(a) - F.unix_timestamp(b)
        if fn == "and":
            out = self.args[0].compile(ctx)
            for a in self.args[1:]:
                out = out & a.compile(ctx)
            return out
        if fn == "or":
            out = self.args[0].compile(ctx)
            for a in self.args[1:]:
                out = out | a.compile(ctx)
            return out
        if fn == "not":
            arg = self.args[0]
            # NOT pushdown rewrite `not(a < b)` -> `a >= b`
            # (reference: compilers/sql_function.py:116-136)
            if isinstance(arg, BinaryOpExpression):
                flipped = {"<": ">=", "<=": ">", ">": "<=", ">=": "<", "=": "!=", "!=": "="}
                if arg.op in flipped and not (
                    arg._is_null_literal(arg.left) or arg._is_null_literal(arg.right)
                ):
                    return BinaryOpExpression(flipped[arg.op], arg.left, arg.right).compile(ctx)
            return ~arg.compile(ctx)
        raise ValueError(f"unknown SQL function {self.function!r}")

    def to_wire(self):
        out = {
            **super().to_wire(),
            "function": self.function,
            "args": [a.to_wire() for a in self.args],
        }
        if hasattr(self, "percentile_p"):
            out["percentileP"] = self.percentile_p
        if hasattr(self, "round_scale"):
            out["roundScale"] = self.round_scale
        if hasattr(self, "json_path"):
            out["jsonPath"] = self.json_path
        if hasattr(self, "rsd"):
            out["rsd"] = self.rsd
        for attr_name, key in _SQL_FN_EXTRAS:
            if hasattr(self, attr_name):
                out[key] = getattr(self, attr_name)
        return out

    @classmethod
    def _from_wire(cls, data):
        node = cls(data["function"], [])
        node.args = [ColumnExpression.from_wire(a) for a in data["args"]]
        if "percentileP" in data:
            node.percentile_p = data["percentileP"]
        if "roundScale" in data:
            node.round_scale = data["roundScale"]
        if "jsonPath" in data:
            node.json_path = data["jsonPath"]
        if "rsd" in data:
            node.rsd = data["rsd"]
        for attr_name, key in _SQL_FN_EXTRAS:
            if key in data:
                setattr(node, attr_name, data[key])
        return node


AGG_FUNCTIONS = frozenset({"count", "countIf", "min", "max", "sum", "avg"})


def is_aggregate_expr(expr: ColumnExpression) -> bool:
    """True if the expression contains an aggregate function call."""
    for node in expr.walk():
        if isinstance(node, SqlFunctionExpression) and node.function in AGG_FUNCTIONS:
            return True
    return False


# --------------------------------------------------------------------------
# Raw SQL text (reference: src/model/column_expression/sql_text.py:38)
# --------------------------------------------------------------------------

SELF_TABLE_ALIAS = "self"
_BINDING_RE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_.]*)\s*\}\}")
_MAX_BINDING_DEPTH = 100


class SqlTextExpression(ColumnExpression):
    """A raw SQL fragment, compiled through ``F.expr``.

    Supports ``{{ name }}`` substitution against the model's attributes
    (reference: sql_text.py:82-129 with cyclic-alias-safe expansion at
    src/run/compile/utils/sql.py:52-101) and a ``self.`` table qualifier that
    is rewritten away, since the DataFrame is the current relation
    (reference: compilers/sql_text.py:121-166).
    """

    __TYPE_KEY__ = "sqlText"

    def __init__(self, sql: str) -> None:
        super().__init__()
        self.sql = sql
        # snapshot of the model's attributes at the point the expression
        # was used, for {{ name }} substitution (populated by Model methods)
        self.bindings: dict = {}

    def default_identifier(self):
        # trailing identifier token (reference: sql_text.py:46-53)
        m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", self.sql)
        return m.group(1) if m else None

    def _render(self, ctx: ExprContext) -> str:
        sql = self.sql
        bindings = {**ctx.sql_bindings, **self.bindings}
        for _ in range(_MAX_BINDING_DEPTH):
            replaced = False

            def sub(m):
                nonlocal replaced
                name = m.group(1)
                binding = bindings.get(name)
                if binding is None:
                    raise KeyError(f"no attribute named {name!r} for {{{{ }}}} substitution")
                replaced = True
                if isinstance(binding, SqlTextExpression):
                    return f"({binding.sql})"
                return f"({binding_to_sql(binding, ctx)})"

            sql = _BINDING_RE.sub(sub, sql)
            if not replaced:
                break
        # `self.` qualifier points at the current relation
        sql = re.sub(rf"\b{SELF_TABLE_ALIAS}\.", "", sql)
        return sql

    def compile(self, ctx: ExprContext) -> Column:
        return F.expr(self._render(ctx))

    def to_wire(self):
        return {**super().to_wire(), "sql": self.sql}

    @classmethod
    def _from_wire(cls, data):
        return cls(data["sql"])


def binding_to_sql(expr: ColumnExpression, ctx: ExprContext) -> str:
    """Render a bound expression into SQL text for {{ }} substitution."""
    if isinstance(expr, ColumnNameExpression):
        if expr._namespace:
            return ctx.ns_col(expr._namespace, expr.name)
        return expr.name
    if isinstance(expr, PyValueExpression):
        v = expr.value
        if v is None:
            return "NULL"
        if isinstance(v, str):
            escaped = v.replace("'", "''")
            return f"'{escaped}'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return repr(v)
    if isinstance(expr, SqlTextExpression):
        return expr._render(ctx)
    if isinstance(expr, BinaryOpExpression):
        return (
            f"({binding_to_sql(expr.left, ctx)} {expr.op} {binding_to_sql(expr.right, ctx)})"
        )
    raise TypeError(f"cannot render {type(expr).__name__} into a SQL fragment")


# --------------------------------------------------------------------------
# Subqueries (reference: src/model/column_expression/subquery_expression.py:10)
# --------------------------------------------------------------------------


class SubqueryExpression(ColumnExpression):
    """``x.in_(model)`` / ``func.exists(model)``.

    In Spark this compiles via a *join rewrite*: the source compiler
    pre-scans expressions for subquery nodes, attaches a deduplicated
    left join against the subquery's values with a boolean marker column,
    and stores the marker in ``ctx.subquery_cols`` — so the expression works
    in any boolean position, not just top-level WHERE.
    """

    __TYPE_KEY__ = "subquery"

    def __init__(self, kind: str, model, needle: Optional[ColumnExpression] = None) -> None:
        super().__init__()
        assert kind in ("in", "exists", "scalar")
        self.kind = kind
        self.model = model
        self.needle = needle

    def children(self):
        return [self.needle] if self.needle is not None else []

    def default_identifier(self):
        return f"{self.kind}_subquery"

    def compile(self, ctx: ExprContext) -> Column:
        marker = ctx.subquery_cols.get(id(self))
        if marker is None:
            raise RuntimeError(
                "SubqueryExpression was not pre-attached by the source compiler; "
                "subqueries are only supported inside Model transforms"
            )
        return marker

    def to_wire(self):
        return {
            **super().to_wire(),
            "kind": self.kind,
            "model": self.model.to_wire(),
            "needle": self.needle.to_wire() if self.needle is not None else None,
        }

    @classmethod
    def _from_wire(cls, data):
        from .model import Model

        return cls(
            data["kind"],
            Model.from_wire(data["model"]),
            ColumnExpression.from_wire(data["needle"]) if data["needle"] else None,
        )


class WindowExpression(ColumnExpression):
    """User-facing window functions — net-new surface: the reference has no
    window API at all (SURVEY §2.6: windows exist only inside its
    match_steps compiler). A Spark-first engine gets them for free via
    ``Column.over``, and running totals / ranks / lag-lead are table
    stakes for an analytics engine.

    ``function`` is one of row_number/rank/dense_rank, lag/lead, or the
    windowed aggregates sum/avg/min/max/count. ``partition`` is what keeps
    a window scale-safe: an empty partition list is a legal global window
    but executes on ONE task — always partition at real data sizes.
    ``order`` entries are expressions or ``(expression, "desc")`` pairs.
    ``frame`` is a ROWS (start, end) pair with ``None`` = unbounded on
    that side; ordered aggregates default to the SQL-standard
    (unbounded-preceding, current-row) — pinned as ROWS, not RANGE, so
    peer rows under a non-unique ordering accumulate deterministically
    one at a time."""

    __TYPE_KEY__ = "window"
    _RANKERS = (
        "row_number", "rank", "dense_rank", "ntile", "percent_rank", "cume_dist"
    )
    _OFFSETS = ("lag", "lead")
    _AGGS = ("sum", "avg", "min", "max", "count")
    _EDGES = ("first_value", "last_value", "nth_value")

    def __init__(
        self,
        function: str,
        args: Optional[list] = None,
        partition: Optional[list] = None,
        order: Optional[list] = None,
        frame: Optional[tuple] = None,
        offset: Optional[int] = None,
        default: Any = None,
    ) -> None:
        super().__init__()
        if function not in self._RANKERS + self._OFFSETS + self._AGGS + self._EDGES:
            raise ValueError(f"unsupported window function {function!r}")
        self.function = function
        self.args = [to_expr(a) for a in (args or [])]
        self.partition = [to_expr(p) for p in (partition or [])]
        self.order = []
        for o in order or []:
            expr, direction = o if isinstance(o, tuple) else (o, "asc")
            if direction not in ("asc", "desc"):
                raise ValueError(f"order direction must be asc/desc, got {direction!r}")
            self.order.append((to_expr(expr), direction))
        if function in self._RANKERS + self._OFFSETS + self._EDGES and not self.order:
            raise ValueError(f"{function} requires order=")
        self.frame = tuple(frame) if frame is not None else None
        self.offset = offset
        self.default = default

    def children(self):
        return self.args + self.partition + [e for e, _ in self.order]

    def default_identifier(self):
        return self.function

    def compile(self, ctx: ExprContext) -> Column:
        from pyspark.sql import Window

        w = Window.partitionBy(*[p.compile(ctx) for p in self.partition])
        if self.order:
            w = w.orderBy(
                *[
                    e.compile(ctx).desc() if d == "desc" else e.compile(ctx).asc()
                    for e, d in self.order
                ]
            )
        if self.frame is not None:
            lo = Window.unboundedPreceding if self.frame[0] is None else int(self.frame[0])
            hi = Window.unboundedFollowing if self.frame[1] is None else int(self.frame[1])
            w = w.rowsBetween(lo, hi)
        elif self.function in self._AGGS and self.order:
            w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fn = self.function
        if fn == "ntile":
            col = F.ntile(int(self.offset))
        elif fn in self._RANKERS:
            col = getattr(F, fn)()
        elif fn in self._EDGES:
            # full-partition frame by default so last_value sees the whole
            # partition (SQL's default current-row frame is a famous trap)
            if self.frame is None:
                w = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            if fn == "nth_value":
                col = F.nth_value(self.args[0].compile(ctx), int(self.offset))
            else:
                base = F.first if fn == "first_value" else F.last
                col = base(self.args[0].compile(ctx))
        elif fn in self._OFFSETS:
            col = getattr(F, fn)(
                self.args[0].compile(ctx), self.offset if self.offset is not None else 1,
                self.default,
            )
        elif fn == "count" and not self.args:
            col = F.count(F.lit(1))
        else:
            col = getattr(F, fn)(self.args[0].compile(ctx))
        return col.over(w)

    def to_wire(self):
        return {
            **super().to_wire(),
            "function": self.function,
            "args": [a.to_wire() for a in self.args],
            "partition": [p.to_wire() for p in self.partition],
            "order": [[e.to_wire(), d] for e, d in self.order],
            "frame": list(self.frame) if self.frame is not None else None,
            "offset": self.offset,
            "default": self.default,
        }

    @classmethod
    def _from_wire(cls, data):
        node = cls.__new__(cls)
        ColumnExpression.__init__(node)
        node.function = data["function"]
        node.args = [ColumnExpression.from_wire(a) for a in data["args"]]
        node.partition = [ColumnExpression.from_wire(p) for p in data["partition"]]
        node.order = [
            (ColumnExpression.from_wire(e), d) for e, d in data["order"]
        ]
        node.frame = tuple(data["frame"]) if data["frame"] is not None else None
        node.offset = data["offset"]
        node.default = data["default"]
        return node


# --------------------------------------------------------------------------
# Public constructor (reference: src/model/column.py:53-81)
# --------------------------------------------------------------------------


_UNSET = object()


def column(
    name: Optional[str] = None, *, sql: Optional[str] = None, value: Any = _UNSET
) -> ColumnExpression:
    """Build a column reference by physical name, a raw-SQL fragment, or a
    literal value (reference: src/model/column.py:53-81)."""
    provided = sum([name is not None, sql is not None, value is not _UNSET])
    if provided != 1:
        raise ValueError("column() requires exactly one of `name`, `sql`, or `value`")
    if name is not None:
        if name == "*":
            return StarExpression()
        return ColumnNameExpression(name)
    if value is not _UNSET:
        return PyValueExpression(value)
    if sql == "*":
        return StarExpression()
    return SqlTextExpression(sql)


_WIRE_REGISTRY = {
    cls.__TYPE_KEY__: cls
    for cls in (
        ColumnNameExpression,
        StarExpression,
        PyValueExpression,
        BinaryOpExpression,
        _InListExpression,
        _ContainsExpression,
        _CastExpression,
        CasesExpression,
        GranularityExpression,
        _TemporalRangeExpression,
        FormatTimestampExpression,
        SqlFunctionExpression,
        SqlTextExpression,
        SubqueryExpression,
        WindowExpression,
    )
}
