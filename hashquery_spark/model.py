"""The ``Model`` — the single fundamental unit of the DSL.

A Model is a table source + a chain of relational transforms + named
attribute/measure/relation definitions (reference: src/model/model.py:45,
fields at :74-97). Every transform method is copy-on-write (the reference's
``@builder_method``, src/utils/builder.py:8-25) and resolves KeyPath
arguments (``attr.x`` / ``msr.y`` / ``rel.r.z``) against the model.

Execution: the Source tree compiles to a lazy pyspark DataFrame
(sources.py); ``run()`` collects to pandas through Arrow. Spark's lazy
logical plan plays the role the reference's CTE chain + remote warehouse
play (SURVEY.md §3).
"""

from __future__ import annotations

import copy
import functools
import warnings
from typing import Any, Dict, List, Optional, Union

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import func
from .connection import Connection
from .expr import ColumnExpression, column, to_expr
from .keypath import KeyPath, rel, resolve_all_nested_keypaths, resolve_keypath
from .match_steps import MatchStepsSource, ModelActivitySchema
from .sources import (
    ExplodeSource,
    FrameOpSource,
    PandasMapSource,
    AggregateSource,
    SetOpSource,
    TopKSource,
    SessionizeSource,
    PivotSource,
    CompileState,
    FilterSource,
    FoldSource,
    JoinOneSource,
    LimitSource,
    PickSource,
    SortSource,
    Source,
    SqlTextSource,
    TableNameSource,
    UnionSource,
    compile_model_df,
    strip_private_columns,
)

FUNNEL_COUNT_COLUMN_NAME = "entities"  # reference: src/model/model.py:42


def builder_method(fn):
    """Copy-on-write mutator: deepcopy self, resolve keypath args against the
    copy, mutate it, return it (reference: src/utils/builder.py:8-25)."""

    @functools.wraps(fn)
    def wrapped(self, *args, **kwargs):
        new = copy.deepcopy(self)
        args = resolve_all_nested_keypaths(new, list(args))
        kwargs = resolve_all_nested_keypaths(new, kwargs)
        fn(new, *args, **kwargs)
        return new

    wrapped.mutate = fn  # in-place variant, used internally
    return wrapped


class IdentifiableMap:
    """Ordered identifier -> item map (items carry ``.identifier``)."""

    def __init__(self, items=None) -> None:
        self._items: Dict[str, Any] = {}
        for item in items or []:
            self.add(item)

    def add(self, item) -> None:
        self._items[self._ident(item)] = item

    @staticmethod
    def _ident(item) -> str:
        return item.identifier if hasattr(item, "identifier") else item._identifier

    def get(self, key: str):
        return self._items.get(key)

    def keys(self):
        return self._items.keys()

    def __iter__(self):
        return iter(self._items.values())

    def __len__(self):
        return len(self._items)

    def __contains__(self, key: str):
        return key in self._items

    def __repr__(self):
        return f"IdentifiableMap({list(self._items)})"


class ModelNamespace:
    """A joined sub-model addressable as ``rel.<name>.<attr>``
    (reference: src/model/namespace.py:10)."""

    def __init__(self, identifier: str, nested_model: "Model") -> None:
        self._identifier = identifier
        self._nested_model = nested_model
        self._through_foreign_key_attr: Optional[ColumnExpression] = None

    @property
    def identifier(self) -> str:
        return self._identifier

    def __getattr__(self, name: str) -> ColumnExpression:
        if name.startswith("_"):
            raise AttributeError(name)
        result = self._nested_model._access_identifiable_map("_attributes", name)
        return result.disambiguated(self._identifier)

    def __getitem__(self, key: str) -> ColumnExpression:
        return self.__getattr__(key)

    def __repr__(self):
        return (
            f"Relation `{self._identifier}`: "
            f"attributes: {', '.join(self._nested_model._attributes.keys())}"
        )

    def to_wire(self) -> dict:
        return {
            "type": "modelNamespace",
            "identifier": self._identifier,
            "nestedModel": self._nested_model.to_wire(),
            "throughForeignKeyAttr": (
                self._through_foreign_key_attr.to_wire()
                if self._through_foreign_key_attr is not None
                else None
            ),
        }

    @classmethod
    def from_wire(cls, data: dict) -> "ModelNamespace":
        ns = cls(data["identifier"], Model.from_wire(data["nestedModel"]))
        if data.get("throughForeignKeyAttr"):
            ns._through_foreign_key_attr = ColumnExpression.from_wire(
                data["throughForeignKeyAttr"]
            )
        return ns


def _deep_equal(a: Optional[ColumnExpression], b: Optional[ColumnExpression]) -> bool:
    if a is None or b is None:
        return a is b
    return a.to_wire() == b.to_wire()


def _unwrap_name(value) -> Optional[str]:
    """Accept a plain string or a trailing-property keypath as a name."""
    if value is None or isinstance(value, str):
        return value
    if isinstance(value, KeyPath):
        comps = value._components
        if comps and hasattr(comps[-1], "name"):
            return comps[-1].name
    if isinstance(value, ColumnExpression):
        return value.identifier
    return None


class Model:
    """reference: src/model/model.py:45."""

    def __init__(
        self,
        connection: Optional[Connection] = None,
        table: Optional[str] = None,
        *,
        schema: Optional[str] = None,
        sql_query: Optional[str] = None,
    ) -> None:
        self._connection = connection
        self._source: Optional[Source] = None
        if sql_query is not None:
            self._source = SqlTextSource(sql_query)
        elif table is not None:
            self._source = TableNameSource(table, schema)
        self._attributes: IdentifiableMap = IdentifiableMap()
        self._measures: IdentifiableMap = IdentifiableMap()
        self._namespaces: IdentifiableMap = IdentifiableMap()
        # default PK (reference: src/model/model.py:82)
        self._primary_key: ColumnExpression = column("id")
        self._activity_schema: Optional[ModelActivitySchema] = None
        self._custom_meta: Dict[str, Any] = {}
        if self._source is not None:
            self._reflect_attributes()

    def _reflect_attributes(self) -> None:
        """Attach one attribute per column of the compiled source, so
        `attr.<col>` works out of the box. Schema reflection is free on
        Spark (analysis only, no job) — the reference instead fires LIMIT-0
        probe queries (src/run/db/reflection.py:17-84)."""
        if self._connection is None:
            return
        try:
            df = compile_model_df(self, CompileState(connection=self._connection))
        except AnalysisException:
            return  # a raw-SQL source naming tables not registered yet
        for col_name in df.columns:
            self._attributes.add(column(col_name))

    # --- internal accessor for keypaths (reference: model.py:101-160) ---

    def _access_identifiable_map(self, map_names, identifier: str):
        map_names = [map_names] if isinstance(map_names, str) else map_names
        for map_name in map_names:
            result = getattr(self, map_name).get(identifier)
            if result is not None:
                return result
        # fall back across maps with a helpful error (reference behavior)
        hints = []
        if self._attributes.get(identifier) is not None:
            hints.append(f"an attribute named `{identifier}` exists (use attr.{identifier})")
        if self._measures.get(identifier) is not None:
            hints.append(f"a measure named `{identifier}` exists (use msr.{identifier})")
        if self._namespaces.get(identifier) is not None:
            hints.append(f"a relation named `{identifier}` exists (use rel.{identifier})")
        name_kinds = " or ".join(m.strip("_").replace("namespaces", "relations") for m in map_names)
        msg = f"No {name_kinds} named `{identifier}` was found in the model."
        if hints:
            msg += " " + "; ".join(hints)
        raise AttributeError(msg)

    def __deepcopy__(self, memo):
        new = object.__new__(Model)
        for k, v in self.__dict__.items():
            if k == "_connection":
                new.__dict__[k] = v  # sessions are shared, never copied
            else:
                new.__dict__[k] = copy.deepcopy(v, memo)
        return new

    # --- configuration builders ---

    @builder_method
    def with_connection(self, connection: Connection) -> "Model":
        self._connection = connection

    @builder_method
    def with_source(self, table=None, *, schema=None, sql_query=None) -> "Model":
        self._source = SqlTextSource(sql_query) if sql_query else TableNameSource(table, schema)

    @builder_method
    def with_attributes(self, *args, **kwargs) -> "Model":
        """Attach named attribute definitions; free until referenced
        (reference: model.py:235-251)."""
        normalize = lambda e: e if isinstance(e, ColumnExpression) else column(e)
        for e in args:
            self._attributes.add(normalize(e))
        for identifier, e in kwargs.items():
            self._attributes.add(normalize(e).named(identifier))

    @builder_method
    def with_measures(self, *args, **kwargs) -> "Model":
        """Attach measure definitions; only evaluated inside ``aggregate()``
        (reference: model.py:265-279)."""
        for e in args:
            self._measures.add(to_expr(e))
        for identifier, e in kwargs.items():
            self._measures.add(to_expr(e).named(identifier))

    @builder_method
    def with_primary_key(self, expression) -> "Model":
        self._primary_key = to_expr(expression)

    @builder_method
    def with_custom_meta(self, name: str, value) -> "Model":
        self._custom_meta[name] = value

    def get_custom_meta(self, name: str):
        return self._custom_meta.get(name)

    def with_join_one(
        self,
        joined: "Model",
        *,
        foreign_key=None,
        condition=None,
        named=None,
        drop_unmatched: bool = False,
        broadcast: bool = False,
    ) -> "Model":
        """Attach a many-to-one relation (reference: model.py:282-350).

        Attaching is free: no JOIN enters the plan unless the relation is
        referenced. ``broadcast=True`` hints Spark to broadcast the joined
        side (small dims); AQE otherwise decides at runtime.

        Not wrapped in @builder_method: ``condition=`` may reference the
        relation being attached (``rel.<name>.x``), so it must resolve
        AFTER the namespace is added (reference: model.py:330-338)."""
        new = copy.deepcopy(self)
        Model._with_join_one_impl(
            new,
            joined,
            foreign_key=foreign_key,
            condition=condition,
            named=named,
            drop_unmatched=drop_unmatched,
            broadcast=broadcast,
        )
        return new

    def _with_join_one_impl(
        self,
        joined: "Model",
        *,
        foreign_key=None,
        condition=None,
        named=None,
        drop_unmatched: bool = False,
        broadcast: bool = False,
    ) -> None:
        if foreign_key is None and condition is None:
            raise ValueError(
                "`.with_join_one` must specify a join condition using "
                "`foreign_key=` and/or `condition=`"
            )
        joined = resolve_keypath(self, joined)
        relation_name = _unwrap_name(named)
        if not relation_name:
            relation_name = joined._source.default_identifier() if joined._source else None
        if not relation_name:
            raise ValueError(
                "Join was not provided an identifier and a default could not "
                "be inferred. Provide an explicit name using `named=`"
            )
        relation = ModelNamespace(relation_name, joined)
        join_predicate = None
        if foreign_key is not None:
            foreign_key = resolve_keypath(self, foreign_key)
            join_predicate = foreign_key == joined._primary_key.disambiguated(relation_name)
        self._namespaces.add(relation)
        if condition is not None:
            condition = resolve_keypath(self, condition)
            join_predicate = (
                condition if join_predicate is None else func.and_(join_predicate, condition)
            )
        if foreign_key is not None and condition is None:
            relation._through_foreign_key_attr = foreign_key
        self._source = JoinOneSource(
            base=self._source,
            relation=relation,
            join_condition=join_predicate,
            drop_unmatched=drop_unmatched,
            broadcast=broadcast,
        )

    def with_join_many(
        self,
        joined: "Model",
        *,
        foreign_key,
        key=None,
        named=None,
        broadcast: bool = False,
    ) -> "Model":
        """Attach a one-to-many relation (net-new; the reference only has
        the many-to-one ``with_join_one``, src/model/model.py:282-350).

        The many side is pre-aggregated per its ``foreign_key`` — the
        joined model's MEASURES become per-row attributes of this model
        (``rel.<name>.<measure_name>``), which makes a 1-N reference
        fan-out-proof by construction: a raw one-to-many join duplicates
        outer rows and double-counts every downstream aggregate (the
        classic symmetric-aggregate hazard); aggregating before the join
        makes that state unrepresentable. Rows with no children read NULL
        for every relation attribute (coalesce explicitly for 0-defaults,
        as TPC-H Q13 does).

        ``foreign_key`` is resolved against the JOINED model (the child's
        pointer back to us); ``key`` is the matching expression on this
        model, defaulting to the primary key.

        Lazy like join_one: nothing enters the plan unless the relation
        is referenced. Scale: compiles to groupBy(fk).agg(measures) on
        the many side — map-side partial aggregation, one shuffle of one
        narrow row per key — then a key equi-join whose strategy is left
        to AQE (a pre-aggregated child side is often broadcastable even
        when the raw child table is not).
        """
        joined = resolve_keypath(self, joined)
        if not joined._measures:
            raise ValueError(
                "`.with_join_many` exposes the joined model's measures as "
                "per-row attributes; define them first with `.with_measures`"
            )
        relation_name = _unwrap_name(named)
        if not relation_name:
            relation_name = (
                joined._source.default_identifier() if joined._source else None
            )
        if not relation_name:
            raise ValueError(
                "Join was not provided an identifier and a default could not "
                "be inferred. Provide an explicit name using `named=`"
            )
        fk = joined._prep(resolve_keypath(joined, foreign_key))
        key_name = fk.identifier or "__join_many_key__"
        rolled = joined.aggregate(
            groups=[fk.named(key_name)], measures=list(joined._measures)
        )
        outer_key = (
            resolve_keypath(self, key) if key is not None else self._primary_key
        )
        cond = to_expr(outer_key) == column(key_name).disambiguated(relation_name)
        return self.with_join_one(
            rolled, condition=cond, named=relation_name, broadcast=broadcast
        )

    @builder_method
    def with_activity_schema(self, *, group, timestamp, event_key) -> "Model":
        """(group, timestamp, event_key) defaults for event analysis
        (reference: model.py:354-384)."""
        self._activity_schema = ModelActivitySchema(
            group=to_expr(group), timestamp=to_expr(timestamp), event_key=to_expr(event_key)
        )

    def _prep(self, e) -> ColumnExpression:
        """Coerce to an expression and snapshot attribute bindings for any
        ``{{ name }}`` raw-SQL references (reference: sql_text.py:82-129)."""
        from .expr import SqlTextExpression, _BINDING_RE

        e = to_expr(e) if not isinstance(e, str) else column(e)
        for node in e.walk():
            if isinstance(node, SqlTextExpression):
                for name in _BINDING_RE.findall(node.sql):
                    bound = self._attributes.get(name)
                    if bound is None:
                        bound = self._measures.get(name)
                    if bound is not None and name not in node.bindings:
                        node.bindings[name] = copy.deepcopy(bound)
        return e

    # --- relational transforms ---

    @builder_method
    def filter(self, condition) -> "Model":
        self._source = FilterSource(self._source, self._prep(condition))

    @builder_method
    def pick(self, *columns) -> "Model":
        cols = [self._prep(c) for c in columns]
        self._source = PickSource(self._source, cols)
        self._attributes = IdentifiableMap(
            column(c.identifier) for c in cols if not c._is_star
        )
        self._namespaces = IdentifiableMap()
        self._measures = IdentifiableMap()

    @builder_method
    def sort(self, sort, dir: str = "asc", nulls: str = "auto", *, small: bool = False) -> "Model":
        self._source = SortSource(self._source, self._prep(sort), dir, nulls, small)

    @builder_method
    def limit(self, count: int, *, offset: int = 0) -> "Model":
        self._source = LimitSource(self._source, count, offset=offset)

    @builder_method
    def union_all(self, other: "Model") -> "Model":
        self._source = UnionSource(self._source, other._source)
        self._namespaces = IdentifiableMap()

    @builder_method
    def union_by_name(
        self, other: "Model", allow_missing: bool = False
    ) -> "Model":
        """UNION ALL matched by column NAME (net-new; the reference union
        is positional only). ``allow_missing=True`` fills columns absent
        on one side with NULL — the schema-drift-tolerant union for
        multi-snapshot corpus pipelines."""
        self._source = UnionSource(
            self._source, other._source, by_name=True, allow_missing=allow_missing
        )
        self._namespaces = IdentifiableMap()

    @builder_method
    def top_k(self, k: int, by, *, per=None, dir: str = "desc", rank_name=None, tiebreak=None) -> "Model":
        """Per-group top-k (net-new; the reference only has global
        sort+limit). ``per`` gives the partition columns; ``rank_name``
        optionally keeps the 1-based rank; ``tiebreak`` columns (ascending)
        make the selection a deterministic total order."""
        per = [self._prep(p) for p in (per or [])]
        tiebreak = [self._prep(t) for t in (tiebreak or [])]
        self._source = TopKSource(
            self._source, k, self._prep(by), per, dir, rank_name, tiebreak
        )

    @builder_method
    def sessionize(self, *, group=None, timestamp=None, gap=None,
                   session_name: str = "session_id", tiebreak=None) -> "Model":
        """Gap-based batch sessionization (net-new; streaming twin is
        streaming.sessionize). Adds ``session_name``: per entity, a new
        session starts when the time since the previous event exceeds
        ``gap`` (timedelta; default 30 minutes). One shuffle on the entity
        key. ``group``/``timestamp`` default to the activity schema."""
        from datetime import timedelta as _td

        group = resolve_all_nested_keypaths(self, group)
        timestamp = resolve_all_nested_keypaths(self, timestamp)
        tiebreak = resolve_all_nested_keypaths(self, tiebreak or [])
        schema = self._activity_schema
        if group is None and schema is not None:
            group = schema.group
        if timestamp is None and schema is not None:
            timestamp = schema.timestamp
        if group is None or timestamp is None:
            raise ValueError(
                "sessionize requires group= and timestamp= (or an activity "
                "schema set via with_activity_schema)"
            )
        gap = gap if gap is not None else _td(minutes=30)
        self._source = SessionizeSource(
            self._source,
            self._prep(group),
            self._prep(timestamp),
            gap.total_seconds(),
            session_name,
            [self._prep(t) for t in tiebreak],
        )
        self._attributes = IdentifiableMap(
            list(self._attributes) + [column(session_name)]
        )

    @builder_method
    def pivot(self, *, ids, key, value, values, agg: str = "sum") -> "Model":
        """Pivot long to wide — the inverse of fold (net-new). ``values``
        lists the pivot keys explicitly so the output schema is
        deterministic; each becomes a column holding ``agg`` of ``value``.
        One shuffle (groupBy + pivot with map-side partials)."""
        ids = [self._prep(i) for i in ids]
        self._source = PivotSource(
            self._source, ids, self._prep(key), self._prep(value), list(values), agg
        )
        self._attributes = IdentifiableMap(
            [column(i.identifier) for i in ids] + [column(str(v)) for v in values]
        )
        self._namespaces = IdentifiableMap()
        self._measures = IdentifiableMap()

    @builder_method
    def intersect(self, other: "Model") -> "Model":
        """ANSI INTERSECT (distinct) — net-new; the reference has only
        UNION ALL (SURVEY.md §2.7)."""
        self._source = SetOpSource(self._source, other._source, "intersect")
        self._namespaces = IdentifiableMap()

    @builder_method
    def except_(self, other: "Model") -> "Model":
        """ANSI EXCEPT (distinct) — net-new."""
        self._source = SetOpSource(self._source, other._source, "except")
        self._namespaces = IdentifiableMap()

    @builder_method
    def intersect_all(self, other: "Model") -> "Model":
        """ANSI INTERSECT ALL (bag semantics: min of per-side
        multiplicities) — net-new."""
        self._source = SetOpSource(self._source, other._source, "intersectAll")
        self._namespaces = IdentifiableMap()

    @builder_method
    def except_all(self, other: "Model") -> "Model":
        """ANSI EXCEPT ALL (bag semantics: multiplicity difference) —
        net-new."""
        self._source = SetOpSource(self._source, other._source, "exceptAll")
        self._namespaces = IdentifiableMap()

    @builder_method
    def union_distinct(self, other: "Model") -> "Model":
        """ANSI UNION (distinct) — net-new."""
        self._source = SetOpSource(self._source, other._source, "unionDistinct")
        self._namespaces = IdentifiableMap()

    @builder_method
    def aggregate(self, *, measures=None, groups=None, grouping_mode="group") -> "Model":
        """GROUP BY groups, compute measures (reference: model.py:390-407).
        Afterwards groups+measures become plain attributes and measures
        reset. ``grouping_mode`` extends the reference with native
        "rollup"/"cube" multi-level aggregation (absent there, SURVEY §2.7);
        Spark computes all grouping-set levels in one pass."""
        measures = [self._prep(m) for m in (measures or [])]
        groups = [self._prep(g) for g in (groups or [])]
        self._source = AggregateSource(
            self._source, groups=groups, measures=measures, grouping_mode=grouping_mode
        )
        self._attributes = IdentifiableMap(column(c.identifier) for c in groups + measures)
        self._measures = IdentifiableMap()
        self._namespaces = IdentifiableMap()

    @builder_method
    def explode(self, expr, named: str, outer: bool = False) -> "Model":
        """Lateral array expansion (net-new; pairs with func.split): one
        output row per array element, all existing columns kept, the
        element exposed as attribute ``named``. ``outer=True`` keeps
        NULL/empty-array rows with a NULL element. Physical plan: one
        Generate inside codegen — narrow, no shuffle."""
        e = self._prep(resolve_keypath(self, expr))
        self._source = ExplodeSource(self._source, e, named, outer)
        self._attributes.add(column(named))

    def fold(
        self,
        ids: List[ColumnExpression],
        values: List[ColumnExpression],
        key_name: str = "key",
        value_name: str = "value",
    ) -> "Model":
        """Unpivot/melt to long format (reference: model.py:939-995).
        Semantics = the reference's pick×N → union_all chain; physical plan =
        a single-scan native ``unpivot``."""
        ids = resolve_all_nested_keypaths(self, ids)
        values = resolve_all_nested_keypaths(self, values)
        new = copy.deepcopy(self)
        new._source = FoldSource(
            new._source,
            [new._prep(i) for i in ids],
            [new._prep(v) for v in values],
            key_name,
            value_name,
        )
        new._attributes = IdentifiableMap(
            [column(i.identifier) for i in ids] + [column(key_name), column(value_name)]
        )
        new._measures = IdentifiableMap()
        new._namespaces = IdentifiableMap()
        return new

    # --- event analysis (reference: model.py:411-537) ---

    def _require_normalized_activity_schema(self, group, timestamp, event_key, fn_name):
        base = self._activity_schema
        group = to_expr(group) if group is not None else (base.group if base else None)
        timestamp = (
            to_expr(timestamp) if timestamp is not None else (base.timestamp if base else None)
        )
        event_key = (
            to_expr(event_key) if event_key is not None else (base.event_key if base else None)
        )
        if group is None or timestamp is None or event_key is None:
            raise ValueError(
                f"`{fn_name}` requires an activity schema: pass group=, timestamp=, "
                "event_key= or configure them via `.with_activity_schema(...)`"
            )
        return ModelActivitySchema(group=group, timestamp=timestamp, event_key=event_key)

    @staticmethod
    def _normalize_steps(steps, activity_schema) -> List[ColumnExpression]:
        """str -> (event_key == str).named(str); (key, name) tuples rename
        (reference: src/utils/activity_schema.py:9-38)."""

        def normalize(step):
            if isinstance(step, ColumnExpression):
                return step
            if isinstance(step, str):
                name = "".join(c if (c.isalnum() or c == "_") else "_" for c in step)
                return (activity_schema.event_key == step).named(name)
            step_key, step_name = step
            return (activity_schema.event_key == step_key).named(step_name)

        normalized = [normalize(s) for s in steps]
        seen = set()
        dupes = [s.identifier for s in normalized if s.identifier in seen or seen.add(s.identifier)]
        if dupes:
            raise ValueError(
                f"Found non-unique steps: {', '.join(dupes)}. Provide unique names "
                "via (<step value>, <unique identifier>) or `.named()`."
            )
        return normalized

    @builder_method
    def match_steps(
        self,
        steps,
        *,
        group=None,
        timestamp=None,
        event_key=None,
        partition_start_events=None,
        time_limit=None,
        max_events_per_entity=None,
        salt_partials=None,
    ) -> "Model":
        """Match each entity's event stream against ordered step predicates
        (reference: model.py:411-537). See match_steps.py for the engine.
        ``max_events_per_entity`` (net-new) caps each journey to its first
        N matching events — the safety valve for pathological entities."""
        events_model = copy.deepcopy(self)
        activity_schema = self._require_normalized_activity_schema(
            group, timestamp, event_key, "match_steps"
        )
        if not steps:
            raise ValueError("`match_steps` needs a non-empty list of steps.")
        step_conditions = self._normalize_steps(list(steps), activity_schema)
        partition_start_events = [to_expr(p) for p in (partition_start_events or [])]

        self._source = MatchStepsSource(
            base=self._source,
            activity_schema=activity_schema,
            steps=step_conditions,
            partition_start_events=partition_start_events,
            time_limit=time_limit,
            max_events_per_entity=max_events_per_entity,
            salt_partials=salt_partials,
        )

        # keep only namespaces joined exactly on our group; reattach them
        # (reference: model.py:462-477)
        step_names = {s.identifier for s in step_conditions}
        preserved = [
            ns
            for ns in self._namespaces
            if ns._identifier not in step_names
            and _deep_equal(ns._through_foreign_key_attr, activity_schema.group)
        ]
        self._namespaces = IdentifiableMap()
        for ns in preserved:
            Model._with_join_one_impl(
                self,
                ns._nested_model,
                foreign_key=column(activity_schema.group.identifier),
                named=ns._identifier,
            )
        for step in step_conditions:
            self._namespaces.add(ModelNamespace(step.identifier, events_model))

        # reset attributes (reference: model.py:485-517)
        self._attributes = IdentifiableMap([column(activity_schema.group.identifier)])
        ts = activity_schema.timestamp
        self._attributes.add(
            func.cases(
                *[
                    (ts.disambiguated(step.identifier) != None, step.identifier)  # noqa: E711
                    for step in reversed(step_conditions)
                ],
                other=None,
            ).named("last_matched_step_name")
        )
        self._attributes.add(
            func.cases(
                *[
                    (
                        ts.disambiguated(step.identifier) != None,  # noqa: E711
                        len(step_conditions) - 1 - i,
                    )
                    for i, step in enumerate(reversed(step_conditions))
                ],
                other=None,
            ).named("last_matched_step_index")
        )
        for partition in partition_start_events:
            self._attributes.add(column(partition.identifier))
        self._primary_key = activity_schema.group

        # reset measures (reference: model.py:520-533)
        self._measures = IdentifiableMap()
        self._measures.add(func.count().named(FUNNEL_COUNT_COLUMN_NAME))
        for step in step_conditions:
            self._measures.add(
                func.count_if(
                    ts.disambiguated(step.identifier) != None  # noqa: E711
                ).named(f"{step.identifier}_count")
            )
        self._activity_schema = None

    def funnel(
        self,
        steps,
        *,
        group=None,
        timestamp=None,
        event_key=None,
        time_limit=None,
        partition_start_events=None,
        partition_matches=None,
        top_of_funnel: Union[int, str] = 0,
        salt_partials=None,
    ) -> "Model":
        """Ordered-step conversion counts (reference: model.py:539-733).
        Pure composition: match_steps → aggregate → fold → pick → sort."""
        steps = resolve_all_nested_keypaths(self, steps)
        group = resolve_all_nested_keypaths(self, group)
        timestamp = resolve_all_nested_keypaths(self, timestamp)
        event_key = resolve_all_nested_keypaths(self, event_key)
        partition_start_events = resolve_all_nested_keypaths(self, partition_start_events or [])
        partition_start_events = [to_expr(p) for p in partition_start_events]

        activity_schema = self._require_normalized_activity_schema(
            group, timestamp, event_key, "funnel"
        )
        top_index = top_of_funnel if isinstance(top_of_funnel, int) else None
        top_name = top_of_funnel if isinstance(top_of_funnel, str) else "entities"
        if top_index is not None and top_index < 0:
            raise ValueError("`top_of_funnel` index must be >= 0.")
        if top_index is not None and steps and top_index >= len(steps):
            raise ValueError(
                "There are not enough steps in the funnel to filter to the "
                "provided `top_of_funnel` index"
            )
        if isinstance(top_of_funnel, str) and partition_start_events:
            raise ValueError(
                "`top_of_funnel` cannot be a string when partitioning with "
                "`partition_start_events`."
            )

        if len(steps) == 0:
            # top of funnel only: count distinct entities (reference :664-675)
            return self.aggregate(
                measures=[
                    column(value=top_name).named("step"),
                    func.count(func.distinct(activity_schema.group)).named(
                        FUNNEL_COUNT_COLUMN_NAME
                    ),
                ]
            )

        normalized = self._normalize_steps(list(steps), activity_schema)
        step_names = [s.identifier for s in normalized]
        matched = self.match_steps(
            steps,
            group=group,
            timestamp=timestamp,
            event_key=event_key,
            time_limit=time_limit,
            partition_start_events=partition_start_events,
            salt_partials=salt_partials,
        )
        partition_outputs = [column(p.identifier) for p in partition_start_events]
        partition_matches = resolve_all_nested_keypaths(matched, partition_matches or [])
        all_partitions = partition_outputs + list(partition_matches)

        aggregated = matched.aggregate(
            groups=all_partitions, measures=list(matched._measures)
        )
        all_step_value_columns = [column(FUNNEL_COUNT_COLUMN_NAME).named(top_name)] + [
            column(f"{sid}_count").named(sid) for sid in step_names
        ]
        folded = aggregated.fold(
            ids=[column(g.identifier) for g in all_partitions],
            values=(
                all_step_value_columns
                if top_index is None
                else all_step_value_columns[(top_index + 1):]
            ),
            key_name="step",
            value_name=FUNNEL_COUNT_COLUMN_NAME,
        )
        # output is ≤ (steps+1) rows per cohort — sort on one partition
        # (no range-exchange sampling job)
        result = folded.pick(column("*"))
        for p in all_partitions:
            result = result.sort(column(p.identifier), small=True)
        result = result.sort(
            func.cases(
                *[
                    (column("step") == step_name, idx)
                    for idx, step_name in enumerate([top_name, *step_names])
                ],
                other=len(step_names) + 1,
            ).named("step_index"),
            dir="asc",
            small=True,
        )
        # re-register the output columns as attributes so funnel results
        # compose further (join two funnels, filter on step — the
        # events.md "Comparing Funnels" guide); the reference's own
        # pick("*") leaves the attribute map empty, making its documented
        # pattern unrunnable verbatim
        return result.with_attributes(
            *[p.identifier for p in all_partitions],
            "step",
            FUNNEL_COUNT_COLUMN_NAME,
        )

    @builder_method
    def map_batches(self, fn, schema: str) -> "Model":
        """Arrow-batched whole-frame Python transform (``mapInPandas``):
        ``fn`` receives an iterator of pandas DataFrames (one per Arrow
        batch) and yields transformed DataFrames matching ``schema`` (a
        DDL string). Narrow — batches stream through Python with no
        shuffle; rows may be added or dropped. Local-only (not
        wire-serializable), like func.python_udf."""
        self._source = PandasMapSource(self._source, fn, schema)
        self._reset_to_schema(schema)

    @builder_method
    def transform_group(self, fn, schema: str, group=None) -> "Model":
        """Grouped pandas transform (``applyInPandas``): ``fn`` receives
        each group's rows as ONE pandas DataFrame and returns a DataFrame
        matching ``schema``. One shuffle on the group key(s); each group
        must fit in a task's memory. ``group`` defaults to the activity
        schema's group. Local-only (not wire-serializable)."""
        group = resolve_all_nested_keypaths(self, group)
        if group is None and self._activity_schema is not None:
            group = self._activity_schema.group
        if group is None:
            raise ValueError(
                "transform_group requires group= (or an activity schema)"
            )
        groups = group if isinstance(group, (list, tuple)) else [group]
        self._source = PandasMapSource(
            self._source, fn, schema, groups=[self._prep(g) for g in groups]
        )
        self._reset_to_schema(schema)

    @builder_method
    def pipe(self, op, *args, **kwargs) -> "Model":
        """Chain any ``DataFrame -> DataFrame`` operator from
        :mod:`hashquery_spark.ops` into the model DSL::

            Model(conn, "orders").pipe(winsorize, "o_totalprice",
                                       by="o_orderstatus")
                 .filter(attr.o_totalprice_winsorized > 100)

        The op receives this model's compiled frame as its first
        argument; the result's columns become the model's attributes
        (resolved by Spark ANALYSIS only — nothing executes). Measures,
        relations, and pending sorts reset (brand-new schema). Local-only
        (callables have no wire format, like map_batches).

        Caveat (observed in the physical plan): a downstream ``.filter``
        on an op-derived column is pushed BELOW the op's projections by
        Catalyst, re-deriving the column's whole expression tree inside
        the scan predicate — harmless for cheap columns, expensive for
        wide derivations (char_entropy's 37 counts). Gate inside the op,
        or ``.cached()`` the piped model before heavy filtering."""
        self._source = FrameOpSource(
            self._source,
            lambda df: op(df, *args, **kwargs),
            label=getattr(op, "__name__", "op"),
        )
        self._attributes = IdentifiableMap()
        self._measures = IdentifiableMap()
        self._namespaces = IdentifiableMap()
        self._reflect_attributes()

    def _reset_to_schema(self, schema: str) -> None:
        from pyspark.sql.types import StructType

        self._attributes = IdentifiableMap(
            column(f.name) for f in StructType.fromDDL(schema).fields
        )
        self._measures = IdentifiableMap()
        self._namespaces = IdentifiableMap()

    def retention(
        self,
        grain: str = "week",
        *,
        group=None,
        timestamp=None,
        max_periods: Optional[int] = None,
    ) -> "Model":
        """Cohort retention curve: entities bucketed by first-activity
        period, then for each (cohort, period_offset) the count and
        fraction of the cohort active in that period. Output:
        (cohort, period_offset, active, cohort_size, retention_rate).

        The reference announces ``Model.retention`` as future work
        (docs/pattern_guides/events.md "Retention/Survival Curves") and
        directs users to hand-build it; here it is first-class. Pure
        composition: first-activity aggregate → cohort join → two-key
        aggregate → windowed cohort size (offset-0 row, which always
        exists by construction).

        ``grain`` ∈ day/week/month (weeks are Sunday-start like all
        engine granularities). Scale: one aggregate over the events for
        cohorts, one shuffle for the (cohort, offset) rollup; the
        first-activity side joins on the entity key and the final window
        runs over the tiny cohort×offset frame."""
        if grain not in ("day", "week", "month"):
            raise ValueError(f"unsupported retention grain {grain!r}")
        group = resolve_all_nested_keypaths(self, group)
        timestamp = resolve_all_nested_keypaths(self, timestamp)
        schema = self._activity_schema
        if group is None and schema is not None:
            group = schema.group
        if timestamp is None and schema is not None:
            timestamp = schema.timestamp
        if group is None or timestamp is None:
            raise ValueError(
                "retention requires group= and timestamp= (or an activity "
                "schema set via with_activity_schema)"
            )
        group = to_expr(group)
        timestamp = to_expr(timestamp)
        gid = group.identifier
        trunc = lambda e: getattr(e, f"by_{grain}")()
        firsts = (
            self.aggregate(
                groups=[group],
                measures=[func.min(timestamp).named("__first_ts__")],
            )
            .pick(column(gid), trunc(column("__first_ts__")).named("cohort"))
            .with_primary_key(column(gid))
        )
        if grain == "month":
            offset_sql = (
                "(year(activity) * 12 + month(activity))"
                " - (year(cohort) * 12 + month(cohort))"
            )
        elif grain == "week":
            offset_sql = "datediff(activity, cohort) DIV 7"
        else:
            offset_sql = "datediff(activity, cohort)"
        curve = (
            self.with_join_one(
                firsts, foreign_key=group, named="cohort_src", drop_unmatched=True
            )
            .aggregate(
                groups=[
                    rel.cohort_src.cohort.named("cohort"),
                    trunc(timestamp).named("activity"),
                ],
                measures=[func.count(func.distinct(group)).named("active")],
            )
            .pick(
                column("cohort"),
                column(sql=f"CAST({offset_sql} AS BIGINT)").named("period_offset"),
                column("active"),
            )
        )
        if max_periods is not None:
            curve = curve.filter(column("period_offset") < max_periods)
        return curve.pick(
            column("cohort"),
            column("period_offset"),
            column("active"),
            func.first_value(
                column("active"),
                partition=[column("cohort")],
                order=[column("period_offset")],
            ).named("cohort_size"),
        ).pick(
            column("cohort"),
            column("period_offset"),
            column("active"),
            column("cohort_size"),
            # tie-proof 4-dp half-up (ops.dedup.round4_ratio rationale)
            column(
                sql="floor((CAST(100000 AS DOUBLE) * active"
                " + CAST(5 AS DOUBLE) * cohort_size)"
                " / (CAST(10 AS DOUBLE) * cohort_size)) / CAST(10000 AS DOUBLE)"
            ).named(
                "retention_rate"
            ),
        )

    def funnel_conversion_rate(
        self,
        steps,
        *,
        group=None,
        timestamp=None,
        event_key=None,
        time_limit=None,
        partition_start_events=None,
        partition_matches=None,
        salt_partials=None,
    ) -> "Model":
        """Conversion rate + started/converted counts + avg seconds
        (reference: model.py:735-870)."""
        steps = resolve_all_nested_keypaths(self, steps)
        group = resolve_all_nested_keypaths(self, group)
        timestamp = resolve_all_nested_keypaths(self, timestamp)
        event_key = resolve_all_nested_keypaths(self, event_key)
        partition_start_events = resolve_all_nested_keypaths(self, partition_start_events or [])
        partition_start_events = [to_expr(p) for p in partition_start_events]
        activity_schema = self._require_normalized_activity_schema(
            group, timestamp, event_key, "funnel_conversion_rate"
        )

        if len(steps) == 0:
            count_distinct = func.count(func.distinct(activity_schema.group))
            result = self.aggregate(
                groups=list(partition_start_events),
                measures=[
                    count_distinct.named("startedCount"),
                    count_distinct.named("convertedCount"),
                    column(value=0).named("avgSecondsToConvert"),
                    column(value=1).named("rate"),
                ],
            )
            for p in partition_start_events:
                result = result.sort(column(p.identifier), dir="asc")
            return result

        matched = self.match_steps(
            steps,
            group=group,
            timestamp=timestamp,
            event_key=event_key,
            time_limit=time_limit,
            partition_start_events=partition_start_events,
            salt_partials=salt_partials,
        )
        partition_outputs = [column(p.identifier) for p in partition_start_events]
        partition_matches = resolve_all_nested_keypaths(matched, partition_matches or [])
        normalized = self._normalize_steps(list(steps), activity_schema)
        first_ts = activity_schema.timestamp.disambiguated(normalized[0].identifier)
        last_ts = activity_schema.timestamp.disambiguated(normalized[-1].identifier)

        rate = (
            func.count_if(last_ts != None) / func.count_if(first_ts != None)  # noqa: E711
        ).named("rate")
        avg_seconds = func.avg(func.diff_seconds(last_ts, first_ts)).named(
            "avgSecondsToConvert"
        )
        started = func.count_if(first_ts != None).named("startedCount")  # noqa: E711
        converted = func.count_if(last_ts != None).named("convertedCount")  # noqa: E711

        all_partitions = partition_outputs + list(partition_matches)
        matched = matched.filter(first_ts != None)  # noqa: E711
        result = matched.aggregate(
            groups=all_partitions,
            measures=[rate, started, converted, avg_seconds],
        )
        # sort by the aggregated OUTPUT columns: the reference sorts by the
        # raw partition expression here (model.py:866-868), which cannot
        # resolve post-aggregation for partition_matches cohorts — sorting
        # by the output name is the working semantics
        for p in all_partitions:
            result = result.sort(column(p.identifier), dir="asc")
        return result

    # --- execution (reference: model.py:999-1056) ---

    def _compile_state(self) -> CompileState:
        if self._connection is None:
            raise ValueError("Model has no connection; use .with_connection(...)")
        state = CompileState(connection=self._connection)
        # global pre-scan: which (namespace, column) pairs are referenced
        # anywhere — powers dead-join elision and match_steps' lazy
        # full-row collection
        for src in self._source.walk_sources():
            for e in src.expressions():
                if not isinstance(e, ColumnExpression):
                    continue
                for node in e.walk():
                    if node._namespace:
                        name = getattr(node, "name", None) or node.identifier
                        state.global_ns_refs.add((node._namespace, name))
        # attributes/measures defined but not yet consumed can also carry
        # namespace references that will be resolved later
        for e in list(self._attributes) + list(self._measures):
            for node in e.walk():
                if node._namespace:
                    name = getattr(node, "name", None) or node.identifier
                    state.global_ns_refs.add((node._namespace, name))
        return state

    def to_df(self) -> DataFrame:
        """Compile to a lazy pyspark DataFrame (no execution)."""
        state = self._compile_state()
        df = compile_model_df(self, state)
        df = strip_private_columns(df)
        return _dedupe_output_columns(df)

    def run(self) -> "RunResults":
        return RunResults(self.to_df())

    def df(self):
        """Fetch the final table as a pandas DataFrame (reference:
        src/model/model.py:1018-1030 — its ``freshness``/cache knobs are
        remote-execution concerns with no local meaning here)."""
        return self.run().df

    def describe(self, columns=None, approx: bool = False) -> DataFrame:
        """Per-column data profile of this model's result (net-new
        terminal convenience over ops.profile_table): one row per column
        with row/null/distinct counts and min/max, computed in ONE scan.
        ``approx=True`` swaps exact distincts for HLL++ at extreme scale."""
        from .ops.profile import profile_table

        return profile_table(self.to_df(), cols=columns, approx=approx)

    def cached(self) -> "Model":
        """Mark this model's current result for in-memory+disk caching
        (net-new): downstream transforms reuse the materialized frame
        instead of recomputing the lineage. Spark evicts under pressure."""
        new = copy.deepcopy(self)
        from .sources import CacheSource

        new._source = CacheSource(new._source)
        return new

    @builder_method
    def sample(self, fraction: float, *, seed: int = 42) -> "Model":
        """Bernoulli row sampling (net-new; pipelines subsample corpora).
        Seeded for reproducibility within a fixed partitioning; sampling is
        partition-dependent, so results are stable per layout, not per
        logical content."""
        from .sources import SampleSource

        self._source = SampleSource(self._source, fraction, seed)

    @builder_method
    def repartitioned(self, num_partitions: int, by=None) -> "Model":
        """Explicit partitioning control (net-new): hash-repartition on
        ``by`` columns (co-locates downstream joins/aggs on those keys) or
        round-robin when ``by`` is None. Use sparingly — AQE usually
        chooses better than humans."""
        from .sources import RepartitionSource

        by = [self._prep(b) for b in (by or [])]
        self._source = RepartitionSource(self._source, num_partitions, by)

    def write(
        self,
        path: str,
        format: str = "parquet",
        mode: str = "overwrite",
        partition_by: Optional[List[str]] = None,
        sort_by: Optional[List[str]] = None,
        zorder_by: Optional[List[str]] = None,
        zorder_bits: int = 4,
        zorder_partitions: Optional[int] = None,
    ) -> None:
        """Write the result to a table sink — net-new beyond the reference,
        which has no sinks (SURVEY.md §2.8). ``partition_by`` produces
        hive-style partition directories for downstream partition pruning.
        ``sort_by`` sorts WITHIN each output task (sortWithinPartitions —
        a narrow, shuffle-free sort) so parquet row-group min/max
        statistics become selective: downstream scans filtered on the
        sort column skip non-matching row groups entirely.

        ``zorder_by`` generalizes that to SEVERAL filter columns at once:
        each column is quantile-bucketed into 2**zorder_bits ranks (one
        small percentile_approx job collects the boundaries), the ranks'
        bits are interleaved into a Morton/Z-value, and the frame is
        range-repartitioned + sorted on it — so row-group min/max stats
        stay tight on EVERY zorder column, not just the first sort key.
        This is the standard multi-dimensional data-skipping layout for
        100 TB fact tables scanned along different dimensions; it costs
        one extra shuffle at write time."""
        df = self.to_df()
        if zorder_by:
            df = _with_zvalue(df, zorder_by, zorder_bits)
            range_args = ([zorder_partitions] if zorder_partitions else []) + [
                F.col(_ZVALUE)
            ]
            df = df.repartitionByRange(*range_args).sortWithinPartitions(
                _ZVALUE
            ).drop(_ZVALUE)
        elif sort_by:
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.format(format).mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    def write_bucketed(
        self,
        table_name: str,
        buckets: int,
        by: List[str],
        *,
        sort_by: Optional[List[str]] = None,
        path: Optional[str] = None,
        format: str = "parquet",
        mode: str = "overwrite",
    ) -> None:
        """Write as a bucketed (and optionally sort-within-bucket) catalog
        table — net-new beyond the reference. Two tables bucketed by the
        same key into the same bucket count join WITHOUT any exchange:
        the shuffle is paid once at write time instead of on every join,
        the decisive layout optimization for repeatedly-joined 100 TB
        fact tables. Read back via ``Model(conn, table_name)``."""
        writer = (
            self.to_df().write.format(format).mode(mode).bucketBy(buckets, *by)
        )
        if sort_by:
            writer = writer.sortBy(*sort_by)
        if path:
            writer = writer.option("path", path)
        writer.saveAsTable(table_name)

    def sql(self) -> str:
        """The compiled plan, as text (the reference returns rendered SQL,
        src/model/model.py:1036-1056; on Spark the equivalent artifact is
        the parsed/analyzed/optimized/physical plan dump)."""
        return self.to_df()._jdf.queryExecution().toString()

    def explain(self, mode: str = "formatted") -> None:
        self.to_df().explain(mode)

    def scale_report(self) -> dict:
        """Lint this model's physical plan for scale smells (cartesian
        products, unpartitioned windows, redundant scans, ...) BEFORE
        running it on a real cluster — see
        :func:`hashquery_spark.plan_lint.plan_report`. Costs one analysis
        + planning pass; nothing executes."""
        from .plan_lint import plan_report

        return plan_report(self.to_df())

    def run_metrics(self) -> dict:
        """Execute the model and return the executed plan's SQL metrics
        (shuffle bytes/records, spill, scan rows/files, peak operator
        memory) — the measured twin of :meth:`scale_report`; see
        :func:`hashquery_spark.plan_lint.run_metrics`."""
        from .plan_lint import run_metrics

        return run_metrics(self.to_df())

    # --- serialization (wire format, reference: serializable version 7) ---

    WIRE_VERSION = 7

    def to_wire(self, format: str = "native") -> dict:
        """Serialize. ``format="native"`` (default) is this engine's own
        wire format; ``format="reference"`` emits reference wire-format v7
        JSON that the reference client can hydrate (for the shared
        Source/ColumnExpression subset — see wire_reference.py)."""
        if format == "reference":
            from .wire_reference import native_to_reference

            return native_to_reference(self.to_wire())
        if format != "native":
            raise ValueError(f"unknown wire format {format!r}")
        return {
            "type": "model",
            "version": self.WIRE_VERSION,
            "source": self._source.to_wire() if self._source else None,
            "attributes": [a.to_wire() for a in self._attributes],
            "measures": [m.to_wire() for m in self._measures],
            "namespaces": [n.to_wire() for n in self._namespaces],
            "primaryKey": self._primary_key.to_wire(),
            "activitySchema": (
                self._activity_schema.to_wire() if self._activity_schema else None
            ),
            "customMeta": self._custom_meta,
        }

    @classmethod
    def from_wire(cls, data: dict, connection: Optional[Connection] = None) -> "Model":
        from .wire_reference import is_reference_wire, reference_to_native

        if is_reference_wire(data):
            # a model serialized by the reference client (v7) — transform
            # to the native payload, dropping its (secret-censored)
            # connection envelope in favor of the Spark connection given
            data = reference_to_native(data)
        model = cls(connection)
        if data.get("source"):
            model._source = Source.from_wire(data["source"])
        model._attributes = IdentifiableMap(
            ColumnExpression.from_wire(a) for a in data["attributes"]
        )
        model._measures = IdentifiableMap(
            ColumnExpression.from_wire(m) for m in data["measures"]
        )
        model._namespaces = IdentifiableMap(
            ModelNamespace.from_wire(n) for n in data["namespaces"]
        )
        model._primary_key = ColumnExpression.from_wire(data["primaryKey"])
        if data.get("activitySchema"):
            model._activity_schema = ModelActivitySchema.from_wire(data["activitySchema"])
        model._custom_meta = data.get("customMeta", {})
        return model

    def __repr__(self):
        lines = ["Model:"]
        if self._source is not None:
            lines.append(f"  source: {self._source.__TYPE_KEY__}")
        lines.append(f"  attributes: {', '.join(self._attributes.keys()) or '(none)'}")
        lines.append(f"  measures: {', '.join(self._measures.keys()) or '(none)'}")
        lines.append(f"  relations: {', '.join(self._namespaces.keys()) or '(none)'}")
        return "\n".join(lines)


_ZVALUE = "__zvalue__"


def _with_zvalue(df: DataFrame, cols: List[str], bits: int) -> DataFrame:
    """Append a Morton/Z-value column interleaving the quantile ranks of
    ``cols`` (``bits`` bits per column).

    One bounded percentile_approx job collects 2**bits - 1 boundaries per
    column (GK sketch — no full sort); rank assignment is then a FLAT
    codegen'd sum of boundary comparisons (no HOF, no join), and the bit
    interleave is shift/or arithmetic. Total driver data: cols × 2**bits
    doubles."""
    if not 1 <= bits <= 16:
        raise ValueError("zorder_bits must be in [1, 16]")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    prob_sql = "array(" + ",".join(f"{p!r}D" for p in probs) + ")"
    bounds_row = df.selectExpr(
        *[
            f"percentile_approx(CAST(`{c}` AS DOUBLE), {prob_sql}, 10000) AS `{c}`"
            for c in cols
        ]
    ).collect()[0]
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        boundaries = sorted(set(b for b in (bounds_row[c] or []) if b is not None))
        rank = F.lit(0)
        for b in boundaries:
            rank = rank + (F.col(c).cast("double") >= F.lit(float(b))).cast("int")
        rank = F.coalesce(rank, F.lit(0))  # NULLs sort first
        for k in range(bits):
            bit = F.shiftright(rank, k).bitwiseAND(F.lit(1)).cast("long")
            z = z.bitwiseOR(F.shiftleft(bit, k * len(cols) + j))
    return df.withColumn(_ZVALUE, z)


def _dedupe_output_columns(df: DataFrame) -> DataFrame:
    """Duplicate output names renamed ``_2``, ``_3``, ... with a warning
    (reference: src/run/execute/post_process.py:20-48)."""
    seen: Dict[str, int] = {}
    new_names = []
    renamed = False
    for c in df.columns:
        if c in seen:
            seen[c] += 1
            new_names.append(f"{c}_{seen[c]}")
            renamed = True
        else:
            seen[c] = 1
            new_names.append(c)
    if renamed:
        warnings.warn("duplicate output column names were renamed with _N suffixes")
        return df.toDF(*new_names)
    return df


class RunResults:
    """Execution results (reference: src/run/run_results.py:13-101)."""

    def __init__(self, spark_df: DataFrame) -> None:
        self._spark_df = spark_df
        self._pandas = None

    @property
    def spark_df(self) -> DataFrame:
        return self._spark_df

    @property
    def df(self):
        """pandas DataFrame (Arrow-accelerated collect)."""
        if self._pandas is None:
            self._pandas = self._spark_df.toPandas()
        return self._pandas

    @property
    def py_records(self) -> List[dict]:
        return self.df.to_dict("records")

    @property
    def sql_query(self) -> str:
        return self._spark_df._jdf.queryExecution().toString()
