"""Fields algebra — the schema/selector core of the Cascading data model.

Re-expresses ``cascading.tuple.Fields`` (see reference usage at
``/root/reference/src/main/java/com/dataartisans/flink/cascading/planner/FlinkFlowStep.java:463,505-511``
and ``types/tuple/TupleTypeInfo.java:44-77``) for a DataFrame world:

* A ``Fields`` is an ordered list of column names, optionally typed.
* Selector singletons (``ALL``, ``RESULTS``, ``ARGS``, ``SWAP``, ``REPLACE``,
  ``GROUP``, ``VALUES``, ``NONE``, ``UNKNOWN``) drive how an operation's
  declared output is spliced into the incoming tuple — the subtle heart of
  Cascading's Each/Every semantics (SURVEY.md §2.1 #3).
* Resolution happens at *plan time* against a known input schema, mirroring
  Cascading's static field resolution during ``connect()`` (SURVEY.md §3.1),
  so selector errors raise before any Spark job runs.

Unlike the reference there is no runtime tuple machinery here: resolution
produces plain column-name lists that the planner turns into
``DataFrame.select`` projections, which Catalyst prunes and pushes down.
"""

from __future__ import annotations

from typing import Sequence, Union


class Fields:
    """Ordered, optionally-typed list of field names, plus selector kinds.

    ``Fields("a", "b")`` declares two named fields.  ``Fields.ALL`` etc. are
    selector singletons.  Types (when given) are Spark SQL type strings or
    :class:`pyspark.sql.types.DataType` objects, used by ``Coerce`` and the
    delimited-tap schema builder.
    """

    # Selector singletons (class attributes assigned after the class body).
    ALL: "Fields"
    RESULTS: "Fields"
    ARGS: "Fields"
    SWAP: "Fields"
    REPLACE: "Fields"
    GROUP: "Fields"
    VALUES: "Fields"
    NONE: "Fields"
    UNKNOWN: "Fields"

    def __init__(self, *names: str, types: Sequence | None = None,
                 _kind: str | None = None) -> None:
        self._kind = _kind
        self.names: tuple[str, ...] = tuple(names)
        self.types: tuple | None = tuple(types) if types is not None else None
        if self.types is not None and len(self.types) != len(self.names):
            raise ValueError(
                f"types length {len(self.types)} != names length {len(self.names)}")
        for n in self.names:
            if not isinstance(n, str):
                raise TypeError(f"field names must be str, got {n!r}")

    # ------------------------------------------------------------------ util
    @property
    def is_selector(self) -> bool:
        return self._kind is not None

    @property
    def kind(self) -> str | None:
        return self._kind

    def __len__(self) -> int:
        return len(self.names)

    def __iter__(self):
        return iter(self.names)

    def __eq__(self, other) -> bool:
        if not isinstance(other, Fields):
            return NotImplemented
        return self._kind == other._kind and self.names == other.names

    def __hash__(self) -> int:
        return hash((self._kind, self.names))

    def __repr__(self) -> str:
        if self._kind:
            return f"Fields.{self._kind}"
        return f"Fields{self.names!r}"

    def append(self, other: "Fields") -> "Fields":
        dup = set(self.names) & set(other.names)
        if dup:
            raise FieldsResolutionError(f"duplicate field names on append: {sorted(dup)}")
        return Fields(*(self.names + other.names))

    @staticmethod
    def coerce(value: Union["Fields", str, Sequence[str], None]) -> "Fields":
        """Accept Fields | str | list-of-str | None (-> NONE)."""
        if value is None:
            return Fields.NONE
        if isinstance(value, Fields):
            return value
        if isinstance(value, str):
            return Fields(value)
        return Fields(*value)


Fields.ALL = Fields(_kind="ALL")
Fields.RESULTS = Fields(_kind="RESULTS")
Fields.ARGS = Fields(_kind="ARGS")
Fields.SWAP = Fields(_kind="SWAP")
Fields.REPLACE = Fields(_kind="REPLACE")
Fields.GROUP = Fields(_kind="GROUP")
Fields.VALUES = Fields(_kind="VALUES")
Fields.NONE = Fields(_kind="NONE")
Fields.UNKNOWN = Fields(_kind="UNKNOWN")


class FieldsResolutionError(ValueError):
    """Raised at plan time when a selector cannot resolve against a schema.

    Mirrors Cascading's assembly-time planner failures
    (``FlinkConnector.java:96-100`` registers the structural asserts; field
    resolution itself happens in cascading-core during connect)."""


def resolve_argument_fields(incoming: Sequence[str], argument_selector: Fields) -> list[str]:
    """Pick the operation's argument columns from the incoming schema."""
    if argument_selector is Fields.ALL or argument_selector is Fields.UNKNOWN:
        return list(incoming)
    if argument_selector is Fields.NONE:
        return []
    if argument_selector is Fields.GROUP or argument_selector is Fields.VALUES:
        raise FieldsResolutionError(
            f"{argument_selector} is only valid inside Every; incoming={list(incoming)}")
    if argument_selector.is_selector:
        raise FieldsResolutionError(
            f"unsupported argument selector {argument_selector}")
    missing = [n for n in argument_selector.names if n not in incoming]
    if missing:
        raise FieldsResolutionError(
            f"argument fields {missing} not in incoming schema {list(incoming)}")
    return list(argument_selector.names)


def resolve_output_fields(
    incoming: Sequence[str],
    argument_fields: Sequence[str],
    declared: Sequence[str],
    output_selector: Fields,
) -> tuple[list[str], list[str]]:
    """Resolve an Each/Every output selector.

    Returns ``(output_names, sources)`` where ``sources[i]`` is either
    ``"in:<name>"`` (take from incoming tuple) or ``"res:<name>"`` (take from
    operation results).  The planner turns this into a ``select``.

    Semantics follow Cascading's tuple-splicing rules (exercised throughout
    ``runtime/each/EachStreamGraph.java:35-98`` in the reference; the
    selection itself is cascading-core behavior):

    * ``ALL``     -> incoming ++ results (name collision = error)
    * ``RESULTS`` -> results only
    * ``SWAP``    -> (incoming - argument_fields) ++ results
    * ``REPLACE`` -> incoming, with each argument field replaced in place by
                     the result of the same position (declared must be the
                     argument fields or same arity)
    * ``ARGS``    -> argument fields only (from results if redeclared, else
                     incoming)
    * explicit    -> select by name from incoming ++ results, results winning
                     on collision
    """
    incoming = list(incoming)
    declared = list(declared)
    res = [f"res:{n}" for n in declared]

    if output_selector is Fields.RESULTS:
        return declared, res
    if output_selector is Fields.ALL:
        dup = set(incoming) & set(declared)
        if dup:
            raise FieldsResolutionError(
                f"Fields.ALL collision between incoming and declared: {sorted(dup)}")
        return incoming + declared, [f"in:{n}" for n in incoming] + res
    if output_selector is Fields.SWAP:
        keep = [n for n in incoming if n not in set(argument_fields)]
        dup = set(keep) & set(declared)
        if dup:
            raise FieldsResolutionError(
                f"Fields.SWAP collision between retained and declared: {sorted(dup)}")
        return keep + declared, [f"in:{n}" for n in keep] + res
    if output_selector is Fields.REPLACE:
        if len(declared) != len(argument_fields):
            raise FieldsResolutionError(
                f"Fields.REPLACE needs declared arity {len(argument_fields)}, "
                f"got {len(declared)}")
        mapping = dict(zip(argument_fields, declared))
        out, src = [], []
        for n in incoming:
            if n in mapping:
                out.append(n)
                src.append(f"res:{mapping[n]}")
            else:
                out.append(n)
                src.append(f"in:{n}")
        return out, src
    if output_selector is Fields.ARGS:
        out, src = [], []
        declared_set = set(declared)
        for n in argument_fields:
            out.append(n)
            src.append(f"res:{n}" if n in declared_set else f"in:{n}")
        return out, src
    if output_selector.is_selector:
        raise FieldsResolutionError(f"unsupported output selector {output_selector}")

    # Explicit selection over incoming ++ results; results shadow incoming.
    declared_set = set(declared)
    incoming_set = set(incoming)
    out, src = [], []
    for n in output_selector.names:
        if n in declared_set:
            out.append(n)
            src.append(f"res:{n}")
        elif n in incoming_set:
            out.append(n)
            src.append(f"in:{n}")
        else:
            raise FieldsResolutionError(
                f"output selector field {n!r} not in incoming {incoming} "
                f"or declared {declared}")
    return out, src
