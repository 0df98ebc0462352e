"""Pipe assembly DSL — the Cascading dataflow surface (SURVEY.md §2.1).

A pipe assembly is a DAG of :class:`Pipe` elements (``Each``, ``Every``,
``GroupBy``, ``CoGroup``, ``HashJoin``, ``Merge``, ``Checkpoint``) exactly as
in the reference's dispatch
(``/root/reference/src/main/java/com/dataartisans/flink/cascading/planner/FlinkFlowStep.java:176-353``).
Pipes are pure plan objects; :mod:`cascading_flink_spark.planner` compiles
the DAG to DataFrame transformations, so Catalyst — not this DSL — chooses
physical strategies (exchange placement, join algorithm, codegen fusion).

Sub-assemblies (``Retain``, ``Rename``, ``Discard``, ``Coerce``, ``Unique``,
the ``AggregateBy`` family) are constructor functions composing primitive
pipes, mirroring cascading-core's SubAssembly sugar (SURVEY.md §2.2).
"""

from __future__ import annotations

import itertools
from typing import Sequence

from .fields import Fields
from .operations.base import Aggregator, Buffer, Filter, Operation
from .operations.aggregators import (
    Average, Count, First, Sum, MaxValue, MinValue,
)
from .operations.functions import Identity

_counter = itertools.count()


class Pipe:
    """A named element of the assembly DAG.

    ``Pipe("lhs")`` is a *head* — its name binds to a source tap in the
    FlowDef (like Cascading's head pipes).  ``Pipe("newname", prev)`` renames
    a branch (used for split fan-out, reference dispatch ``:230-242``).
    """

    def __init__(self, name: str | None = None, previous: "Pipe | None" = None) -> None:
        self.name = name or f"pipe_{next(_counter)}"
        self.previous: list[Pipe] = [previous] if previous is not None else []

    @property
    def heads(self) -> list["Pipe"]:
        if not self.previous:
            return [self]
        seen, out = set(), []
        stack = [self]
        while stack:
            p = stack.pop()
            if id(p) in seen:
                continue
            seen.add(id(p))
            if not p.previous:
                out.append(p)
            stack.extend(p.previous)
        return out

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.name!r})"


class Each(Pipe):
    """Apply a Function or Filter per row (reference ``:338-347,461-475``).

    ``Each(prev, argument_selector, operation, output_selector)``.
    Defaults: args=ALL; output=RESULTS for Functions (Cascading default),
    ALL for Filters (filters don't change the tuple).
    """

    def __init__(self, previous: Pipe, argument_selector=Fields.ALL,
                 operation: Operation | None = None,
                 output_selector: Fields | Sequence[str] | None = None,
                 name: str | None = None) -> None:
        super().__init__(name, previous)
        if operation is None and isinstance(argument_selector, Operation):
            operation, argument_selector = argument_selector, Fields.ALL
        if operation is None:
            raise ValueError("Each requires an operation")
        self.argument_selector = Fields.coerce(argument_selector)
        self.operation = operation
        if output_selector is None:
            output_selector = Fields.ALL if isinstance(operation, Filter) else Fields.RESULTS
        self.output_selector = Fields.coerce(output_selector)


class Every(Pipe):
    """Apply an Aggregator or Buffer to each group; must follow a
    GroupBy/CoGroup/Every (reference ``GroupByReducer.java:42-156``)."""

    def __init__(self, previous: Pipe, argument_selector=Fields.ALL,
                 operation: Operation | None = None,
                 output_selector: Fields | Sequence[str] | None = None,
                 name: str | None = None) -> None:
        super().__init__(name, previous)
        if operation is None and isinstance(argument_selector, Operation):
            operation, argument_selector = argument_selector, Fields.ALL
        if not isinstance(operation, (Aggregator, Buffer)):
            raise ValueError("Every hosts an Aggregator or Buffer")
        if not isinstance(previous, (GroupBy, CoGroup, HashJoin, Every)):
            # BufferAfterEveryAssert / structural checks, reference
            # FlinkConnector.java:96-100.  HashJoin counts: the planner's
            # Every chain accepts it as a grouping root (aggregate over
            # the join key), same as CoGroup.
            raise ValueError(
                "Every must follow GroupBy, CoGroup, HashJoin, or Every")
        if isinstance(operation, Buffer) and isinstance(previous, Every):
            raise ValueError("Buffer must directly follow the GroupBy (BufferAfterEveryAssert)")
        self.argument_selector = Fields.coerce(argument_selector)
        self.operation = operation
        self.output_selector = Fields.coerce(output_selector) if output_selector is not None else Fields.ALL


class GroupBy(Pipe):
    """Hash-partition + group by key fields, optional secondary sort
    (reference ``:243-271,477-650``).

    * multiple input pipes -> union-then-group (``prepareGroupByInput``)
    * ``sort_fields`` -> secondary sort within each group
    * ``reverse_order`` -> descending sort (``translateInverseSortedGroupBy``)
    * ``group_fields=Fields.NONE`` -> keyless/global group (global agg or
      global sort, ``translateGlobalGroupBy`` — Spark range-partitions the
      global sort instead of the reference's dop-1 plan, strictly better at
      scale)
    """

    def __init__(self, pipes: Pipe | Sequence[Pipe],
                 group_fields=Fields.NONE, sort_fields=None,
                 reverse_order: bool = False, name: str | None = None,
                 comparators: dict | None = None,
                 num_partitions: int | None = None) -> None:
        pipe_list = [pipes] if isinstance(pipes, Pipe) else list(pipes)
        super().__init__(name)
        self.previous = pipe_list
        self.group_fields = Fields.coerce(group_fields)
        self.sort_fields = Fields.coerce(sort_fields) if sort_fields is not None else Fields.NONE
        self.reverse_order = reverse_order
        # Custom field Comparators (Cascading allows an arbitrary java
        # Comparator per sort field; reference honors them in binary sort,
        # types/field/CustomFieldComparator.java:30).  Spark equivalent: a
        # SQL expression per sort field defining the derived sort key, e.g.
        # {"name": "length(name)"} sorts groups by name length.
        self.comparators = dict(comparators) if comparators else None
        # Per-grouping parallelism hint — the reference's per-node DOP
        # (flink.num.shuffleTasks, FlinkFlowStep.java:187-195, applied via
        # setParallelism on each reduce/sort op :426-438).  None = let the
        # planner size the stage (AQE for native aggs, default parallelism
        # for Python buffer stages).
        self.num_partitions = num_partitions


class Joiner:
    """Base joiner (Cascading ``cascading.pipe.joiner.*``)."""

    how: str = "inner"


class InnerJoin(Joiner):
    how = "inner"


class LeftJoin(Joiner):
    how = "left"


class RightJoin(Joiner):
    how = "right"


class OuterJoin(Joiner):
    how = "full"


class SemiJoin(Joiner):
    """Keep left rows with >= 1 match (SQL EXISTS).  Beyond the reference's
    joiner set (its users express this with an inner join + dedup); native
    left_semi avoids materializing match multiplicity."""

    how = "left_semi"


class AntiJoin(Joiner):
    """Keep left rows with no match (SQL NOT EXISTS)."""

    how = "left_anti"


class MixedJoin(Joiner):
    """Per-input outer flags, Cascading's convention: True = that input is
    joined OUTER (its absence for a key is tolerated and null-padded);
    False = that input is required (a key-group without it emits nothing).
    ``[False, True]`` is a left join; ``[True, False]`` a right join.

    n-ary semantics are the reference's accumulate-then-emit model: all
    inputs co-group through a full-outer cascade, then the joiner decides
    emission per key (``prepareFullOuterCoGroupInput``
    ``FlinkFlowStep.java:706-763``, ``TupleOuterJoiner.java:50-63``) — a
    key present in inputs 1 and 3 but not 2 still pairs 1 with 3.
    """

    def __init__(self, outer_flags: Sequence[bool]) -> None:
        self.outer_flags = list(outer_flags)


class BufferJoin(Joiner):
    """Custom join logic: user code sees all co-grouped streams
    (reference ``:802-851``, ``CoGroupBufferClosure.java:41-418``).

    ``fn(key_pdf, *group_pdfs) -> pandas.DataFrame[declared]`` compiled to
    ``cogroup().applyInPandas`` (2-way) or tagged-union ``applyInPandas``
    (n-way) — the same union trick the reference uses.

    ``stream_left=True`` is the giant-group-safe mode mirroring the
    reference's execution exactly: input 0 is STREAMED (never materialized
    per key) while inputs 1..n-1 are collected per key
    (``CoGroupBufferClosure.java:213-246`` streams input 0;
    ``SpillingTupleCollectionFactory.java:41-49`` spills the collected rhs
    over 10k tuples).  ``fn`` is then called once per Arrow batch chunk of
    input 0's rows for a key (plus once with an empty chunk for keys with
    no input-0 rows), so a pathological hot key on the streamed side never
    materializes in memory.  Requires ``fn`` to be distributive over
    input-0 chunks — the same contract Cascading's streamed joiner imposes.
    """

    def __init__(self, declared, fn, types: Sequence[str],
                 stream_left: bool = False) -> None:
        self.declared = Fields.coerce(declared)
        self.fn = fn
        self.types = list(types)
        self.stream_left = stream_left


class CoGroup(Pipe):
    """Reduce-side n-ary equi-join (reference ``:272-302,675-925``).

    ``group_fields`` is one Fields per input pipe; ``declared_fields`` names
    the concatenated output (required when input names collide, like
    Cascading).  ``Fields.NONE`` keys -> Cartesian product
    (``prepareInnerCrossInput`` ``:765-800``).
    """

    def __init__(self, pipes: Sequence[Pipe], group_fields: Sequence,
                 declared_fields=None, joiner: Joiner | None = None,
                 num_self_joins: int = 0, name: str | None = None,
                 comparators: dict | None = None) -> None:
        super().__init__(name)
        pipe_list = list(pipes)
        if num_self_joins:
            # reference computeSpliceInputsFieldsKeys :1191-1236 replicates
            # the single input n times
            if len(pipe_list) != 1:
                raise ValueError("num_self_joins requires exactly one pipe")
            pipe_list = pipe_list * (num_self_joins + 1)
            gl = list(group_fields)
            if gl and isinstance(gl[0], (Fields, list, tuple)) and len(gl) == 1:
                # a per-input list of ONE key spec replicates per replica;
                # a bare Fields or flat name list needs nothing here — the
                # shared-key normalization below already fans it out (the
                # old unconditional `list(group_fields) * n` turned a flat
                # ['id'] into a duplicated two-field key ['id','id'])
                group_fields = gl * (num_self_joins + 1)
        self.previous = pipe_list
        gf = list(group_fields)
        if len(gf) and not isinstance(gf[0], (Fields, list, tuple)):
            gf = [gf] * len(pipe_list)  # same key names for every input
        self.group_fields = [Fields.coerce(g) for g in gf]
        if len(self.group_fields) != len(pipe_list):
            raise ValueError("group_fields must have one entry per pipe")
        self.declared_fields = Fields.coerce(declared_fields) if declared_fields is not None else None
        self.joiner = joiner or InnerJoin()
        # Custom comparators on JOIN keys (the reference registers them on
        # every key, types/tuple/TupleTypeInfo.java:79-126): a SQL expression
        # per key field name (as declared in that input) defining the derived
        # comparable key, e.g. {"name_l": "lower(name_l)",
        # "name_r": "lower(name_r)"} joins case-insensitively.
        self.comparators = dict(comparators) if comparators else None


class HashJoin(Pipe):
    """Map-side broadcast join: first input streamed, the rest broadcast
    (reference ``:303-319,974-1189``; BROADCAST_HASH_SECOND hint at
    ``:993,1039``).  The reference supports Inner/Left only (README.md:22);
    Spark's broadcast hint gives us every join type — we keep the reference's
    restriction as a validation toggle off by default.
    """

    def __init__(self, pipes: Sequence[Pipe], group_fields: Sequence,
                 declared_fields=None, joiner: Joiner | None = None,
                 name: str | None = None,
                 comparators: dict | None = None) -> None:
        super().__init__(name)
        self.previous = list(pipes)
        gf = list(group_fields)
        if len(gf) and not isinstance(gf[0], (Fields, list, tuple)):
            gf = [gf] * len(self.previous)
        self.group_fields = [Fields.coerce(g) for g in gf]
        if len(self.group_fields) != len(self.previous):
            # same clear assembly-time error as CoGroup — without it the
            # planner truncates the zip and dies in an opaque IndexError
            raise ValueError("group_fields must have one entry per pipe")
        self.declared_fields = Fields.coerce(declared_fields) if declared_fields is not None else None
        self.joiner = joiner or InnerJoin()
        self.comparators = dict(comparators) if comparators else None


class Merge(Pipe):
    """Union-all of same-schema branches, no dedup (reference ``:320-337,
    652-673``) -> ``unionByName``."""

    def __init__(self, pipes: Sequence[Pipe], name: str | None = None) -> None:
        super().__init__(name)
        self.previous = list(pipes)


class Intersect(Pipe):
    """Set intersection (distinct) of same-schema branches.

    Beyond the reference: SURVEY §2.4 notes Cascading users hand-express
    intersect/except via CoGroup joiners; here they are native set ops."""

    def __init__(self, pipes: Sequence[Pipe], name: str | None = None) -> None:
        super().__init__(name)
        self.previous = list(pipes)


class Except(Pipe):
    """Set difference: rows of the first branch not in the others.
    ``keep_duplicates=True`` -> EXCEPT ALL semantics."""

    def __init__(self, pipes: Sequence[Pipe], keep_duplicates: bool = False,
                 name: str | None = None) -> None:
        super().__init__(name)
        self.previous = list(pipes)
        self.keep_duplicates = keep_duplicates


class Rollup(Pipe):
    """Hierarchical grouping-sets aggregation (GROUP BY ROLLUP).

    ``aggs`` maps output name -> SQL aggregate expression.  Beyond the
    reference (no grouping sets in Cascading); subtotal rows carry NULL
    group keys, matching SQL."""

    shape = "rollup"

    def __init__(self, previous: Pipe, group_fields, aggs: dict,
                 name: str | None = None) -> None:
        super().__init__(name, previous)
        self.group_fields = Fields.coerce(group_fields)
        self.aggs = dict(aggs)


class Cube(Rollup):
    """All grouping-set combinations (GROUP BY CUBE)."""

    shape = "cube"


class Pivot(Pipe):
    """Pivot (long -> wide): one output column per pivot value (explicit
    value list so the schema stays plan-time static, like everything else).

    Beyond the reference; ``aggs`` maps the measure expression applied per
    cell (single agg: name ignored, columns named by pivot value)."""

    def __init__(self, previous: Pipe, group_fields, pivot_field: str,
                 pivot_values: Sequence, agg_expr: str = "count(1)",
                 name: str | None = None) -> None:
        super().__init__(name, previous)
        self.group_fields = Fields.coerce(group_fields)
        self.pivot_field = pivot_field
        self.pivot_values = list(pivot_values)
        self.agg_expr = agg_expr


class Transform(Pipe):
    """Generic DataFrame-level sub-assembly: splice any ``fn(DataFrame) ->
    DataFrame`` into a pipe assembly — THE bridge between the Cascading-
    style DSL and the extension operators (dedup, similarity, mixture,
    URL canonicalization, ...): ``Transform(pipe, lambda df:
    exact_dedup(df))``.

    The function receives the compiled upstream DataFrame and must return
    a DataFrame; everything downstream (traps, grouping, sinks) composes
    normally.  Declarative fns (extension operators are all built from
    native Column expressions) keep full Catalyst optimization across the
    splice — this is sugar, not an optimization barrier."""

    def __init__(self, previous: Pipe, fn, name: str | None = None) -> None:
        if not callable(fn):
            raise TypeError("Transform fn must be callable")
        super().__init__(name, previous)
        self.fn = fn


class Checkpoint(Pipe):
    """Materialization hint at a branch point.  Flink reuses intermediate
    results natively (reference dispatch ``:230-242`` memoizes per boundary);
    Spark recomputes branches by default, so Checkpoint compiles to
    ``.cache()`` (SURVEY.md §2.1 #16).

    With ``tap`` it is a DURABLE checkpoint (Cascading's checkpoint tap /
    flow-restart support): under an explicit ``FlowDef.set_run_id`` (the
    ``setRunID`` analog), a tap path that already holds data SKIPS the
    upstream subgraph and reads the checkpoint back — re-running a failed
    flow resumes after its last completed checkpoint.  Without a run id
    every run recomputes and overwrites.  Otherwise the upstream result is
    written to the tap when the flow is planned and read back as the
    branch input.  (The write is one eager
    job at ``connect()`` time: Spark's lazy model has no between-steps
    barrier to hang it on, and plan-time is where this planner resolves
    everything else eagerly too.)"""

    def __init__(self, previous: Pipe, name: str | None = None,
                 tap=None) -> None:
        super().__init__(name, previous)
        self.tap = tap


# --------------------------------------------------------------------------
# Sub-assemblies (cascading-core sugar, SURVEY.md §2.2 bottom rows)
# --------------------------------------------------------------------------

def Retain(previous: Pipe, fields) -> Pipe:
    """Keep only the given fields (projection)."""
    f = Fields.coerce(fields)
    return Each(previous, f, Identity(), Fields.RESULTS, name=f"{previous.name}_retain")


def Discard(previous: Pipe, fields) -> Pipe:
    """Drop the given fields: SWAP with empty declared results keeps the
    complement of the argument fields."""
    f = Fields.coerce(fields)
    return Each(previous, f, Identity(declared=[]), Fields.SWAP,
                name=f"{previous.name}_discard")


def Rename(previous: Pipe, from_fields, to_fields) -> Pipe:
    src = Fields.coerce(from_fields)
    dst = Fields.coerce(to_fields)
    if len(src) != len(dst):
        raise ValueError("Rename: arity mismatch")
    return Each(previous, src, Identity(declared=list(dst.names)), Fields.SWAP,
                name=f"{previous.name}_rename")


def Coerce(previous: Pipe, fields, types) -> Pipe:
    from .operations.functions import Coerce as CoerceFn
    f = Fields.coerce(fields)
    return Each(previous, f, CoerceFn(list(types)), Fields.REPLACE,
                name=f"{previous.name}_coerce")


class Unique(Pipe):
    """Distinct rows on the given fields, first-wins (Cascading ``Unique``)
    -> ``dropDuplicates`` (map-side partial dedup + final, like AggregateBy).
    """

    def __init__(self, previous: Pipe, fields=Fields.ALL, name: str | None = None) -> None:
        super().__init__(name, previous)
        self.fields = Fields.coerce(fields)


def _aggregate_by(previous, group_fields, agg: Aggregator, name: str) -> Pipe:
    """AggregateBy = partial (map-side) + final aggregation composite
    (reference example ``WordCount.java:50``).  Catalyst always plans
    partial+final HashAggregate, so this is pure sugar (SURVEY.md §4.1)."""
    g = GroupBy(previous, group_fields, name=name)
    return Every(g, Fields.coerce(agg._argument_fields), agg, Fields.ALL)


def CountBy(previous: Pipe, group_fields, count_field: str) -> Pipe:
    a = Count(count_field)
    a._argument_fields = Fields.NONE
    return _aggregate_by(previous, group_fields, a, f"{previous.name}_countby")


def SumBy(previous: Pipe, group_fields, value_field: str, sum_field: str,
          cast: str | None = None) -> Pipe:
    a = Sum(sum_field, cast=cast)
    a._argument_fields = Fields(value_field)
    return _aggregate_by(previous, group_fields, a, f"{previous.name}_sumby")


def AverageBy(previous: Pipe, group_fields, value_field: str, avg_field: str) -> Pipe:
    a = Average(avg_field)
    a._argument_fields = Fields(value_field)
    return _aggregate_by(previous, group_fields, a, f"{previous.name}_avgby")


def MinBy(previous: Pipe, group_fields, value_field: str, min_field: str) -> Pipe:
    a = MinValue(min_field)
    a._argument_fields = Fields(value_field)
    return _aggregate_by(previous, group_fields, a, f"{previous.name}_minby")


def MaxBy(previous: Pipe, group_fields, value_field: str, max_field: str) -> Pipe:
    a = MaxValue(max_field)
    a._argument_fields = Fields(value_field)
    return _aggregate_by(previous, group_fields, a, f"{previous.name}_maxby")


def FirstBy(previous: Pipe, group_fields, value_field: str, first_field: str,
            sort_fields=None) -> Pipe:
    a = First(first_field)
    a._argument_fields = Fields(value_field)
    g = GroupBy(previous, group_fields, sort_fields=sort_fields,
                name=f"{previous.name}_firstby")
    return Every(g, a._argument_fields, a, Fields.ALL)
