"""Planner: compiles a pipe-assembly DAG to DataFrame transformations.

The Spark analog of ``FlinkFlowStep.buildFlinkProgram``
(``/root/reference/src/main/java/com/dataartisans/flink/cascading/planner/FlinkFlowStep.java:176-353``):
a memoized topological walk that pattern-matches each pipe and emits
DataFrame operations.  Crucially — unlike the reference, which hand-places
exchanges (Boundaries) and hardcodes join strategies — we emit *logical*
DataFrame plans and let Catalyst + AQE choose physical strategies
(SURVEY.md §4.1): predicate pushdown, column pruning, partial aggregation,
broadcast-vs-sortmerge, skew handling.  The only physical hints we inject
are ``broadcast()`` for HashJoin (honoring the user's explicit map-side-join
request, reference ``:993,1039``) and ``cache()`` for Checkpoint (Spark
recomputes branches; Flink doesn't — SURVEY.md §2.1 #16).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fields import Fields, FieldsResolutionError, resolve_argument_fields, resolve_output_fields
from .operations.base import Aggregator, Buffer, Filter, Function
from .operations.assertions import AssertionLevel, _Assertion
from .operations.buffers import FirstNBuffer, PyBuffer
from .operations.filters import CounterOp, Limit, PyFilter
from .operations.functions import PyFunction, UnGroup
from .pipes import (
    AntiJoin, BufferJoin, Checkpoint, CoGroup, Each, Every, Except,
    GroupBy, HashJoin, InnerJoin, Intersect, LeftJoin, MixedJoin, Merge,
    OuterJoin, Pipe, Pivot, RightJoin, Rollup, SemiJoin, Transform, Unique,
)


def _is_missing_path_error(e: Exception) -> bool:
    """True only for 'no data there yet' read failures: missing path, or a
    present-but-empty directory Spark cannot infer a schema from."""
    msg = str(e)
    return any(s in msg for s in (
        "PATH_NOT_FOUND", "Path does not exist",
        "UNABLE_TO_INFER_SCHEMA", "Unable to infer schema",
        "FileNotFoundException"))


class PlannerError(ValueError):
    pass


def _python_stage_parts(df: DataFrame) -> int:
    """Explicit shuffle-partition count for CPU-bound Python stages.

    AQE coalesces shuffles by BYTE size and cannot see per-row Python cost:
    a keyed repartition feeding a per-group Python buffer collapses to one
    task on small-byte inputs, serializing every group on a single core
    (observed: 150k-row/15k-group PyBuffer → 1 task → 6x slower).  An
    explicit count is exempt from AQE coalescing; ``defaultParallelism``
    scales with executor count on a real cluster, so the stage keeps
    cluster-wide parallelism at 100 TB too."""
    try:
        shuffle_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:     # e.g. "auto" on some builds
        shuffle_parts = 0
    return max(df.sparkSession.sparkContext.defaultParallelism, shuffle_parts)


def _tagged_union(renamed: list[DataFrame], key_names: list[list[str]]
                  ) -> tuple[DataFrame, list[str], list[list[str]]]:
    """BufferJoin's tagged union (``prepareBufferCoGroupInput``
    ``:802-851``): every input row carries its key columns as ``__k<i>``,
    its input index as ``__idx`` and the superset of all inputs' columns
    (inputs are already renamed collision-free), null-padded — no row
    serde.  Returns ``(unified, key_aliases, slices)``, ``slices[i]``
    being input ``i``'s own columns."""
    key_aliases = [f"__k{i}" for i in range(len(key_names[0]))]
    col_types: dict[str, T.DataType] = {}
    slices: list[list[str]] = []
    for rdf in renamed:
        slices.append(list(rdf.columns))
        for f in rdf.schema.fields:
            col_types[f.name] = f.dataType
    all_cols = [c for sl in slices for c in sl]
    parts = []
    for idx, (rdf, keys_i, sl) in enumerate(zip(renamed, key_names, slices)):
        sel = [F.col(k).alias(a) for k, a in zip(keys_i, key_aliases)]
        sel.append(F.lit(idx).alias("__idx"))
        own = set(sl)
        for c in all_cols:
            sel.append(F.col(c) if c in own
                       else F.lit(None).cast(col_types[c]).alias(c))
        parts.append(rdf.select(*sel))
    unified = parts[0]
    for prt in parts[1:]:
        unified = unified.unionByName(prt)
    return unified, key_aliases, slices


class FlowPlanner:
    """Compile pipes against bound source DataFrames.

    ``assertion_level`` strips assertions below the flow level at plan time,
    mirroring the reference's ApplyAssertionLevel rule
    (``FlinkConnector.java:126``).
    """

    def __init__(self, spark: SparkSession,
                 assertion_level: AssertionLevel = AssertionLevel.STRICT,
                 debug: bool = False,
                 traps: set[str] | None = None,
                 run_id: str | None = None) -> None:
        self.spark = spark
        self.assertion_level = assertion_level
        self.debug = debug
        self.traps = traps or set()
        # Cascading setRunID analog: durable checkpoints resume only when set
        self.run_id = run_id
        # name -> Observation (CounterOp metrics, read after the action)
        self.observations: dict[str, object] = {}
        # pipe name -> DataFrame of trapped rows (payload json, error)
        self.trap_frames: dict[str, DataFrame] = {}
        self._memo: dict[int, DataFrame] = {}

    def add_trap_frame(self, name: str, df: DataFrame) -> None:
        """Accumulate trapped rows per pipe name: a head pipe's source trap
        and operation traps on the same name all land in ONE channel
        (Cascading unions all trapped rows into the trap tap)."""
        prev = self.trap_frames.get(name)
        self.trap_frames[name] = df if prev is None else prev.unionByName(df)

    # -------------------------------------------------------------- walk
    def compile(self, pipe: Pipe, sources: dict[str, DataFrame]) -> DataFrame:
        self.sources = sources
        return self._compile(pipe)

    def _compile(self, pipe: Pipe) -> DataFrame:
        # memoization per pipe object = the reference's flinkMemo per
        # boundary (FlinkFlowStep.java:200) — a split's branches reuse the
        # same upstream DataFrame (same logical subtree; Catalyst/AQE reuse
        # exchanges where profitable).
        key = id(pipe)
        if key in self._memo:
            return self._memo[key]
        df = self._dispatch(pipe)
        self._memo[key] = df
        return df

    def _dispatch(self, pipe: Pipe) -> DataFrame:
        if isinstance(pipe, Each):
            return self._compile_each(pipe)
        if isinstance(pipe, Every):
            return self._compile_every_chain(pipe)
        if isinstance(pipe, GroupBy):
            return self._compile_groupby_alone(pipe)
        if isinstance(pipe, (CoGroup, HashJoin)):
            df, _keys = self._compile_cogroup(pipe)
            return df
        if isinstance(pipe, Merge):
            return self._compile_merge(pipe)
        if isinstance(pipe, Intersect):
            dfs = [self._compile(p) for p in pipe.previous]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.intersect(d)
            return out
        if isinstance(pipe, Except):
            dfs = [self._compile(p) for p in pipe.previous]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.exceptAll(d) if pipe.keep_duplicates else out.subtract(d)
            return out
        if isinstance(pipe, Pivot):
            df = self._compile(pipe.previous[0])
            keys = list(pipe.group_fields.names)
            return (df.groupBy(*keys)
                      .pivot(pipe.pivot_field, pipe.pivot_values)
                      .agg(F.expr(pipe.agg_expr)))
        if isinstance(pipe, Rollup):
            df = self._compile(pipe.previous[0])
            keys = list(pipe.group_fields.names)
            aggs = [F.expr(expr).alias(name) for name, expr in pipe.aggs.items()]
            grouped = df.cube(*keys) if pipe.shape == "cube" else df.rollup(*keys)
            return grouped.agg(*aggs)
        if isinstance(pipe, Unique):
            return self._compile_unique(pipe)
        if isinstance(pipe, Transform):
            out = pipe.fn(self._compile(pipe.previous[0]))
            if not isinstance(out, DataFrame):
                raise TypeError(
                    f"Transform '{pipe.name}' fn returned "
                    f"{type(out).__name__}, expected DataFrame")
            return out
        if isinstance(pipe, Checkpoint):
            if pipe.tap is not None:
                # Durable checkpoint / flow restart (Cascading checkpoint
                # taps): existing data short-circuits the upstream subgraph
                # — but ONLY under an explicit run id (Cascading restarts
                # from checkpoint taps only when FlowDef.setRunID is given),
                # so changed inputs are never silently served stale data.
                # The run id also SCOPES the checkpoint path (as Cascading
                # scopes checkpoint dirs by runID): re-running under run id
                # X resumes X's checkpoints; a new run id starts fresh
                # instead of resuming another run's data.
                tap = pipe.tap
                if self.run_id is not None:
                    import copy
                    import os as _os
                    tap = copy.copy(pipe.tap)
                    tap.paths = [_os.path.join(p, self.run_id)
                                 for p in pipe.tap.paths]
                    try:
                        existing = tap.read(self.spark)
                        existing.schema  # force resolution
                        return existing
                    except Exception as e:
                        # Only "no checkpoint yet" may fall through to
                        # recompute; a corrupt or unreadable checkpoint is a
                        # real error, not a reason to silently recompute.
                        if not _is_missing_path_error(e):
                            raise
                tap.write(self._compile(pipe.previous[0]))
                return tap.read(self.spark)
            return self._compile(pipe.previous[0]).cache()
        if type(pipe) is Pipe:
            if not pipe.previous:
                if pipe.name not in self.sources:
                    raise PlannerError(f"head pipe {pipe.name!r} has no bound source")
                return self.sources[pipe.name]
            return self._compile(pipe.previous[0])
        raise PlannerError(f"unknown pipe type {type(pipe).__name__}")

    # -------------------------------------------------------------- Each
    def _compile_each(self, pipe: Each) -> DataFrame:
        df = self._compile(pipe.previous[0])
        op = pipe.operation
        incoming = df.columns
        arg_names = resolve_argument_fields(incoming, pipe.argument_selector)
        arg_cols = [df[n] for n in arg_names]

        if isinstance(op, _Assertion):
            if op.level > self.assertion_level:
                return df  # stripped at plan time
            cond = op.condition(arg_cols)
            msg = f"assertion {type(op).__name__} failed on fields {arg_names}"
            if pipe.name in self.traps:
                # Cascading traps catch assertion failures row-wise
                # (FlinkFlowProcess.java:169-190): divert failing rows to
                # the trap channel instead of failing the job.
                fail = ~F.coalesce(cond, F.lit(False))
                self.add_trap_frame(pipe.name, df.filter(fail).select(
                    F.to_json(F.struct(*[df[c] for c in df.columns]))
                     .alias("payload"),
                    F.lit(msg).alias("error")))
                return df.filter(F.coalesce(cond, F.lit(False)))
            keep = F.when(cond, F.lit(True)).otherwise(F.raise_error(F.lit(msg)))
            return df.filter(keep)

        if isinstance(op, Limit):
            # Planner special case — reference treats Limit as a stateful
            # filter; Spark's native limit is the scalable equivalent.
            return df.limit(op.n)

        if isinstance(op, CounterOp):
            # Counters/FlowStats via native Observation metrics
            # (reference: Flink accumulators, AccumulatorCache.java:28).
            from pyspark.sql import Observation
            obs = Observation(op.metric_name)
            self.observations[op.metric_name] = obs
            return df.observe(obs, F.count(F.lit(1)).alias("count"))

        if isinstance(op, Filter):
            if isinstance(op, PyFilter):
                out = self._pandas_filter(df, op, arg_names,
                                          trap_pipe=pipe.name if pipe.name in self.traps else None)
            elif pipe.name in self.traps:
                # Native-filter trap mode: a NULL predicate for non-null
                # arguments is the try_-compiled "would have thrown" signal
                # (same contract as Function.safe_columns).
                pred = op.safe_remove(arg_cols)
                if pred is None:
                    raise PlannerError(
                        f"trap bound to pipe {pipe.name!r}, but "
                        f"{type(op).__name__} has no row-safe (try_) form — "
                        "use a Python operation, or ExpressionFilter("
                        "trap_null_results=True) with SQL try_ functions")
                args_ok = F.lit(True)
                for c in arg_cols:
                    args_ok = args_ok & c.isNotNull()
                fail = args_ok & pred.isNull()
                self.add_trap_frame(pipe.name, df.filter(fail).select(
                    F.to_json(F.struct(*[df[c] for c in incoming]))
                     .alias("payload"),
                    F.lit(f"{type(op).__name__}: native filter failed "
                          "(try_-compiled NULL predicate for non-null "
                          "arguments)").alias("error")))
                # standard SQL three-valued semantics for the non-failure
                # rows: a NULL predicate over NULL arguments drops the row
                # exactly as the untrapped `filter(~remove)` does — binding
                # a trap must not change which non-failing rows survive
                out = df.filter(~fail & ~pred)
            else:
                out = df.filter(~op.remove(arg_cols))
            if pipe.output_selector is Fields.ALL:
                return out
            out_names, _ = resolve_output_fields(incoming, arg_names, [], pipe.output_selector)
            return out.select(*out_names)

        if not isinstance(op, Function):
            raise PlannerError(f"Each cannot host {type(op).__name__}")

        # ---- Functions ----
        if isinstance(op, UnGroup):
            return self._compile_ungroup(df, op)

        declared = (list(arg_names) if op.declared is Fields.ARGS
                    else op.declared_names)

        if getattr(op, "is_pandas", False):
            return self._pandas_function(df, pipe, op, arg_names, declared,
                                         trapped=pipe.name in self.traps)

        if op.is_generator:
            if pipe.name in self.traps:
                raise PlannerError(
                    f"trap bound to pipe {pipe.name!r}, but generator "
                    f"{type(op).__name__} has no row-safe form — native "
                    "splits/explodes cannot fail row-wise")
            arr = op.generate(arg_cols)
            out_names, srcs = resolve_output_fields(incoming, arg_names, declared,
                                                    pipe.output_selector)
            gen_name = declared[0]
            sel = []
            for name, src in zip(out_names, srcs):
                if src == f"res:{gen_name}":
                    sel.append(F.explode(arr).alias(name))
                elif src.startswith("in:"):
                    sel.append(df[src[3:]].alias(name))
                else:
                    raise PlannerError(f"generator cannot source {src}")
            return df.select(*sel)

        trapped_native = pipe.name in self.traps
        if trapped_native:
            # Native-op trap mode (Cascading traps catch ANY operation
            # failure, FlinkFlowProcess.java:169-190): compile the try_
            # variant and divert rows where a result is NULL for non-null
            # arguments — exactly the rows the plain expression would have
            # failed the job on under ANSI semantics.
            cols = op.safe_columns(arg_cols)
            if cols is None:
                raise PlannerError(
                    f"trap bound to pipe {pipe.name!r}, but "
                    f"{type(op).__name__} has no row-safe (try_) form — "
                    "use a Python operation, or an op supporting trap mode "
                    "(DateParser, Coerce, ExpressionFunction("
                    "trap_null_results=True))")
        else:
            cols = op.columns(arg_cols)
        if len(cols) != len(declared):
            raise PlannerError(
                f"{type(op).__name__} produced {len(cols)} columns for "
                f"{len(declared)} declared fields")
        res_map = dict(zip(declared, cols))
        out_names, srcs = resolve_output_fields(incoming, arg_names, declared,
                                                pipe.output_selector)
        sel = []
        for name, src in zip(out_names, srcs):
            if src.startswith("res:"):
                sel.append(res_map[src[4:]].alias(name))
            else:
                sel.append(df[src[3:]].alias(name))
        if trapped_native:
            args_ok = F.lit(True)
            for c in arg_cols:
                args_ok = args_ok & c.isNotNull()
            any_res_null = F.lit(False)
            for c in cols:
                any_res_null = any_res_null | c.isNull()
            fail = args_ok & any_res_null
            self.add_trap_frame(pipe.name, df.filter(fail).select(
                F.to_json(F.struct(*[df[c] for c in incoming]))
                 .alias("payload"),
                F.lit(f"{type(op).__name__}: native operation failed "
                      "(try_-compiled NULL result for non-null arguments)")
                 .alias("error")))
            return df.filter(~fail).select(*sel)
        return df.select(*sel)

    def _compile_ungroup(self, df: DataFrame, op: UnGroup) -> DataFrame:
        keys = list(op.key_fields.names)
        value_names = [n for n in op.declared_names if n not in keys]
        n = len(op.value_selectors)
        flat = []
        for group in op.value_selectors:
            if len(group) != len(value_names):
                raise PlannerError("UnGroup: selector arity != declared value arity")
            flat.extend(f"`{c}`" for c in group)
        stack_expr = (f"stack({n}, {', '.join(flat)}) as "
                      f"({', '.join(value_names)})")
        return df.select(*keys, F.expr(stack_expr))

    def _pandas_filter(self, df: DataFrame, op: PyFilter, arg_names: list[str],
                       trap_pipe: str | None = None) -> DataFrame:
        schema = df.schema
        fn = op.fn

        if trap_pipe is None:
            def _mapper(batches):
                for pdf in batches:
                    mask = fn(pdf[arg_names])
                    yield pdf[mask]

            return df.mapInPandas(_mapper, schema=schema)

        # trapped: rows where the predicate RAISES divert to the trap
        # channel (fast path per batch, row-wise isolation on failure)
        trap_schema = T.StructType(
            list(schema.fields) +
            [T.StructField("__error", T.StringType())])

        def _trap_mapper(batches):
            import pandas as pd
            for pdf in batches:
                try:
                    mask = fn(pdf[arg_names])
                    out = pdf[mask].copy()
                    out["__error"] = None
                    yield out
                    continue
                except Exception:
                    pass
                parts = []
                for i in range(len(pdf)):
                    row = pdf.iloc[i:i + 1]
                    try:
                        keep = bool(fn(row[arg_names]).iloc[0])
                        if keep:
                            r = row.copy()
                            r["__error"] = None
                            parts.append(r)
                    except Exception as ex:
                        r = row.copy()
                        r["__error"] = str(ex)
                        parts.append(r)
                if parts:
                    yield pd.concat(parts, ignore_index=True)

        # cache: the good branch (sink) and the trap branch (trap tap) both
        # read this frame — uncached, the Python mapper would re-execute
        # over the full input once per action (and a nondeterministic fn
        # could even disagree between the two runs); taps.read_trapped
        # caches for the same reason
        combined = df.mapInPandas(_trap_mapper, schema=trap_schema).cache()
        self.add_trap_frame(trap_pipe, (
            combined.filter(F.col("__error").isNotNull())
                    .select(F.to_json(F.struct(*[c for c in df.columns]))
                             .alias("payload"),
                            F.col("__error").alias("error"))))
        return combined.filter(F.col("__error").isNull()).drop("__error")

    def _pandas_function(self, df: DataFrame, pipe: Each, op: PyFunction,
                         arg_names: list[str], declared: list[str],
                         trapped: bool = False) -> DataFrame:
        incoming = df.columns
        out_names, srcs = resolve_output_fields(incoming, arg_names, declared,
                                                pipe.output_selector)
        in_schema = {f.name: f.dataType for f in df.schema.fields}
        res_types = {n: t for n, t in zip(declared, op.types)}
        fields = []
        for name, src in zip(out_names, srcs):
            if src.startswith("res:"):
                t = res_types[src[4:]]
                dt = t if isinstance(t, T.DataType) else T._parse_datatype_string(t)
                fields.append(T.StructField(name, dt))
            else:
                fields.append(T.StructField(name, in_schema[src[3:]]))
        out_schema = T.StructType(fields)
        results_only = pipe.output_selector is Fields.RESULTS
        fn = op.fn

        def _apply_batch(pdf):
            import pandas as pd
            res = fn(pdf[arg_names])
            res = res.rename(columns=dict(zip(res.columns, declared)))
            if results_only:
                return res[[n for n in out_names]]
            if len(res) != len(pdf):
                raise ValueError(
                    "PyFunction changed row count; use output_selector="
                    "Fields.RESULTS for generator-style functions")
            out = {}
            for name, src in zip(out_names, srcs):
                out[name] = (res[src[4:]].values if src.startswith("res:")
                             else pdf[src[3:]].values)
            return pd.DataFrame(out)

        if not trapped:
            def _mapper(batches):
                for pdf in batches:
                    yield _apply_batch(pdf)

            return df.mapInPandas(_mapper, schema=out_schema)

        # Trap channel (reference: per-branch failure capture to a Tap,
        # FlinkFlowProcess.java:169-190).  Fast path applies the function
        # per Arrow batch; on failure the batch is retried row-by-row so
        # only the offending rows are diverted, as (payload json, error)
        # rows.  One combined pass; the good/trap branches are filters over
        # it.
        trap_schema = T.StructType(
            list(out_schema.fields) +
            [T.StructField("__error", T.StringType()),
             T.StructField("__payload", T.StringType())])

        def _trap_mapper(batches):
            import pandas as pd
            for pdf in batches:
                try:
                    good = _apply_batch(pdf)
                    good["__error"] = None
                    good["__payload"] = None
                    yield good
                    continue
                except Exception:
                    pass
                goods, errors, payloads = [], [], []
                for i in range(len(pdf)):
                    row = pdf.iloc[i:i + 1]
                    try:
                        goods.append(_apply_batch(row))
                    except Exception as ex:
                        errors.append(str(ex))
                        payloads.append(row.to_json(orient="records"))
                out_parts = []
                if goods:
                    g = pd.concat(goods, ignore_index=True)
                    g["__error"] = None
                    g["__payload"] = None
                    out_parts.append(g)
                if errors:
                    e = pd.DataFrame({n: [None] * len(errors) for n in out_names})
                    e["__error"] = errors
                    e["__payload"] = payloads
                    out_parts.append(e)
                if out_parts:
                    yield pd.concat(out_parts, ignore_index=True)

        # cache: the good branch (sink) and the trap branch (trap tap) both
        # read this frame — uncached, the Python mapper would re-execute
        # over the full input once per action (and a nondeterministic fn
        # could even disagree between the two runs); taps.read_trapped
        # caches for the same reason
        combined = df.mapInPandas(_trap_mapper, schema=trap_schema).cache()
        self.add_trap_frame(pipe.name, (
            combined.filter(F.col("__error").isNotNull())
                    .select(F.col("__payload").alias("payload"),
                            F.col("__error").alias("error"))))
        return (combined.filter(F.col("__error").isNull())
                        .drop("__error", "__payload"))

    # -------------------------------------------------------------- GroupBy
    def _grouping_input(self, root: GroupBy | CoGroup | HashJoin):
        """(input_df, key_names, sort_names, descending) for an Every chain."""
        if isinstance(root, GroupBy):
            df = self._merge_inputs(root.previous)
            keys = list(root.group_fields.names)
            sorts = list(root.sort_fields.names)
            if root.comparators:
                # Custom field Comparators (reference
                # types/field/CustomFieldComparator.java:30): derive sortable
                # key expressions instead of binary comparators.
                sorts = [root.comparators.get(s, s) for s in sorts]
            return df, keys, sorts, root.reverse_order
        df, lineages = self._compile_cogroup(root)
        # Every after CoGroup aggregates over the cogroup KEY.  After an
        # outer link the first input's key columns are NULL for rows born in
        # later inputs, so materialize the coalesced key value under the
        # first input's key name (Cascading names the group by the first
        # input's grouping fields but its value is the cogroup key).
        keys = []
        for lin in lineages:
            if len(lin) > 1:
                df = df.withColumn(lin[0], F.coalesce(*[F.col(c) for c in lin]))
            keys.append(lin[0])
        return df, keys, [], False

    def _merge_inputs(self, pipes: Sequence[Pipe]) -> DataFrame:
        # GroupBy over merged branches: union-then-group
        # (prepareGroupByInput, FlinkFlowStep.java:477-496)
        dfs = [self._compile(p) for p in pipes]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _compile_groupby_alone(self, pipe: GroupBy) -> DataFrame:
        """GroupBy not followed by Every: the rows pass through grouped.

        With keys: co-partition + in-partition sort (the physical contract a
        downstream Buffer relies on — reference ``:498-571``).  Keyless with
        sort fields: GLOBAL sort; the reference pins dop=1
        (``translateGlobalGroupBy`` ``:573-600``) but Spark's range
        partitioning gives the same total order scalably, so we use orderBy.
        """
        df = self._merge_inputs(pipe.previous)
        keys = list(pipe.group_fields.names)
        sorts = list(pipe.sort_fields.names)
        if pipe.comparators:
            sorts = [pipe.comparators.get(s, s) for s in sorts]
        direction = F.desc if pipe.reverse_order else F.asc
        if not keys:
            if sorts:
                return df.orderBy(*[direction(F.expr(s)) for s in sorts])
            return df
        sort_cols = [F.asc(k) for k in keys] + [direction(F.expr(s)) for s in sorts]
        nparts = getattr(pipe, "num_partitions", None) or _python_stage_parts(df)
        return df.repartition(nparts, *[F.col(k) for k in keys]) \
                 .sortWithinPartitions(*sort_cols)

    def _compile_every_chain(self, tail: Every) -> DataFrame:
        # Collect the chain of Everys back to the grouping root — the same
        # (GroupBy|CoGroup)+Every* node shape the reference's planner cuts
        # (FlinkFlowStep.java:243-302).
        chain: list[Every] = []
        node: Pipe = tail
        while isinstance(node, Every):
            chain.append(node)
            node = node.previous[0]
        chain.reverse()
        if not isinstance(node, (GroupBy, CoGroup, HashJoin)):
            raise PlannerError("Every must trace back to GroupBy/CoGroup")
        for e in chain[:-1]:
            # Cascading applies each Every's selector sequentially; this
            # planner compiles the whole chain into ONE aggregation and
            # applies only the tail's selector — silently ignoring
            # intermediate non-ALL selectors would change columns, so reject
            # them loudly instead.
            if e.output_selector is not Fields.ALL:
                raise PlannerError(
                    "output selectors on intermediate Everys in a chain are "
                    "not supported; use Fields.ALL on intermediate Everys "
                    "and put the selector on the last Every")
        root = node
        df, keys, sorts, descending = self._grouping_input(root)

        buffers = [e for e in chain if isinstance(e.operation, Buffer)]
        if buffers:
            if len(chain) != 1:
                raise PlannerError("Buffer must be the only Every on a grouping "
                                   "(BufferAfterEveryAssert/EveryAfterBufferAssert)")
            return self._compile_buffer(chain[0], df, keys, sorts, descending,
                                        getattr(root, "num_partitions", None))

        incoming = df.columns
        agg_cols: list[Column] = []
        for e in chain:
            op = e.operation
            assert isinstance(op, Aggregator)
            if e.argument_selector is Fields.VALUES:
                arg_names = [c for c in incoming if c not in keys]
            elif e.argument_selector is Fields.GROUP:
                arg_names = list(keys)
            else:
                arg_names = resolve_argument_fields(incoming, e.argument_selector)
            arg_cols = [df[n] for n in arg_names]
            sort_cols = [F.expr(s) for s in sorts]
            if sorts and hasattr(op, "sorted_agg_column"):
                agg_cols.append(op.sorted_agg_column(arg_cols, sort_cols, descending))
            else:
                agg_cols.append(op.agg_column(arg_cols))

        if keys:
            # per-grouping DOP hint (reference setParallelism on reduce ops,
            # FlinkFlowStep.java:426): explicit repartition is AQE-exempt
            nparts = getattr(root, "num_partitions", None)
            if nparts:
                df = df.repartition(nparts, *[df[k] for k in keys])
            out = df.groupBy(*[df[k] for k in keys]).agg(*agg_cols)
        else:
            out = df.agg(*agg_cols)  # keyless/global aggregation (:573-600)

        sel = tail.output_selector
        if sel is Fields.ALL:
            return out
        out_names = list(sel.names)
        missing = [n for n in out_names if n not in out.columns]
        if missing:
            raise FieldsResolutionError(
                f"Every output selector {missing} not in {out.columns}")
        return out.select(*out_names)

    def _compile_buffer(self, every: Every, df: DataFrame, keys: list[str],
                        sorts: list[str], descending: bool,
                        num_partitions: int | None = None) -> DataFrame:
        op = every.operation
        direction = F.desc if descending else F.asc

        if isinstance(op, FirstNBuffer):
            # Native path: top-N per group via Window + row_number
            # (SURVEY.md §2.2 FirstNBuffer row) — no Python executes.
            order = ([direction(s) for s in sorts] or
                     [F.asc(k) for k in (keys or df.columns[:1])])
            w = Window.partitionBy(*keys).orderBy(*order) if keys else \
                Window.partitionBy(F.lit(1)).orderBy(*order)
            out = (df.withColumn("__rn", F.row_number().over(w))
                     .filter(F.col("__rn") <= op.n)
                     .drop("__rn"))
            sel = every.output_selector
            if sel is Fields.ALL:
                return out
            return out.select(*sel.names)

        if isinstance(op, PyBuffer):
            fields = []
            for n, t in zip(op.declared_names, op.types):
                dt = t if isinstance(t, T.DataType) else T._parse_datatype_string(t)
                fields.append(T.StructField(n, dt))
            schema = T.StructType(fields)
            fn = op.fn
            sort_keys = list(sorts)
            asc = not descending

            if not keys:
                # Keyless/global buffer: one group = all rows (documented
                # memory bound, like the reference's dop-1 global group,
                # FlinkFlowStep.java:573-600).  Sort keys may be
                # comparator-rewritten SQL expressions, which pandas
                # sort_values cannot evaluate — compute them as temp
                # columns Spark-side and sort on those.
                tmp = [f"__cfs_sort_{i}" for i in range(len(sort_keys))]
                prep = df
                for cn, s in zip(tmp, sort_keys):
                    prep = prep.withColumn(cn, F.expr(s))
                drop_cols = ["__g"] + tmp

                def _keyless(pdf):
                    if tmp:
                        pdf = pdf.sort_values(tmp, ascending=asc,
                                              kind="mergesort")
                    return fn(pdf.drop(columns=drop_cols, errors="ignore"))

                return prep.groupBy(F.lit(1).alias("__g")).applyInPandas(
                    _keyless, schema=schema)

            # Keyed buffer: repartition+sortWithinPartitions gives each
            # partition its groups contiguously and pre-sorted (the physical
            # contract of the reference's sorted group reduce,
            # GroupByReducer.java:102-131).  mapInPandas then walks groups
            # inside each Arrow batch, carrying the possibly-incomplete tail
            # group to the next batch — ONE Python/Arrow round-trip per
            # ~10k-row batch instead of one applyInPandas call per group
            # (10-20x faster for small groups; same results).
            key_cols = list(keys)
            order = [F.asc(k) for k in key_cols] + \
                    [(F.desc(F.expr(s)) if descending else F.asc(F.expr(s)))
                     for s in sort_keys]
            sorted_df = df.repartition(num_partitions or _python_stage_parts(df),
                                       *[F.col(k) for k in key_cols]) \
                          .sortWithinPartitions(*order)

            def _mapper(batches):
                import numpy as np
                import pandas as pd
                carry = None
                for pdf in batches:
                    if carry is not None:
                        pdf = pd.concat([carry, pdf], ignore_index=True)
                        carry = None
                    if len(pdf) == 0:
                        continue
                    eq = np.ones(len(pdf), dtype=bool)
                    for c in key_cols:
                        col = pdf[c]
                        last = col.iloc[-1]
                        if pd.isna(last):
                            eq &= col.isna().values
                        else:
                            eq &= (col == last).values
                    non_tail = np.nonzero(~eq)[0]
                    boundary = (non_tail[-1] + 1) if len(non_tail) else 0
                    head = pdf.iloc[:boundary]
                    carry = pdf.iloc[boundary:]
                    if len(head):
                        # rows arrive key-sorted: change-point slicing gives
                        # groups without pandas groupby's key
                        # materialization (the remaining per-group cost is
                        # the user fn itself)
                        nrow = len(head)
                        change = np.zeros(nrow, dtype=bool)
                        change[0] = True
                        for c in key_cols:
                            v = head[c].values
                            prev, cur = v[:-1], v[1:]
                            neq = ~((cur == prev) |
                                    (pd.isna(cur) & pd.isna(prev)))
                            change[1:] |= neq
                        starts = np.nonzero(change)[0]
                        ends = np.append(starts[1:], nrow)
                        outs = [fn(head.iloc[s:e]) for s, e in zip(starts, ends)]
                        outs = [o for o in outs if o is not None and len(o)]
                        if outs:
                            yield pd.concat(outs, ignore_index=True)
                if carry is not None and len(carry):
                    out = fn(carry)
                    if out is not None and len(out):
                        yield out

            return sorted_df.mapInPandas(_mapper, schema=schema)

        raise PlannerError(f"unsupported Buffer {type(op).__name__}")

    # -------------------------------------------------------------- joins
    def _compile_cogroup(self, pipe: CoGroup | HashJoin) -> tuple[DataFrame, list[list[str]]]:
        """Returns (joined_df, key_lineages).

        ``key_lineages`` holds, per key position, the renamed column name
        each input contributed (first input first).  The cogroup key value
        of a result row is ``coalesce`` over its lineage — after an outer
        link, rows born in later inputs carry NULL in earlier inputs' key
        columns, so both subsequent join links and any downstream grouping
        must key on the coalesced value (the reference threads exactly this
        accumulated key tuple through its n-ary full-outer cogroup cascade,
        FlinkFlowStep.java:706-763)."""
        inputs = [self._compile(p) for p in pipe.previous]
        n = len(inputs)
        arities = [len(d.columns) for d in inputs]

        semi_anti = isinstance(pipe.joiner, (SemiJoin, AntiJoin))
        if semi_anti and n != 2:
            raise PlannerError("Semi/Anti joins take exactly 2 inputs")

        # Resolve declared output names per input slice (Cascading requires
        # declaredFields on name collisions; same rule here).  Semi/anti
        # joins emit only the left input's columns, so the right side may
        # collide freely — but the join CONDITION still references both
        # sides, so the probe input's columns get unique temp names (the
        # natural CoGroup([L, R], [Fields('id'), Fields('id')],
        # joiner=SemiJoin()) would otherwise build the ambiguous
        # col('id') == col('id')).
        if semi_anti:
            slices = [list(inputs[0].columns),
                      [f"__cfs_r_{i}" for i in range(arities[1])]]
        elif pipe.declared_fields is not None:
            declared = list(pipe.declared_fields.names)
            if len(declared) != sum(arities):
                raise PlannerError(
                    f"declared_fields arity {len(declared)} != total input "
                    f"arity {sum(arities)}")
            slices, off = [], 0
            for a in arities:
                slices.append(declared[off:off + a])
                off += a
        else:
            slices = [list(d.columns) for d in inputs]
            flat = [c for s in slices for c in s]
            if len(set(flat)) != len(flat):
                raise PlannerError(
                    "CoGroup/HashJoin input field names collide; pass "
                    "declared_fields (Cascading requires declaredFields too)")
        if not semi_anti and len({c for s in slices for c in s}) != sum(arities):
            raise PlannerError("declared_fields must be unique")

        renamed = []
        key_names: list[list[str]] = []
        for df, sl, gf in zip(inputs, slices, pipe.group_fields):
            old = df.columns
            rn = df.toDF(*sl)
            renamed.append(rn)
            mapping = dict(zip(old, sl))
            try:
                key_names.append([mapping[k] for k in gf.names])
            except KeyError as e:
                raise PlannerError(f"join key {e} not in input fields {old}")

        joiner = pipe.joiner
        broadcast_rest = isinstance(pipe, HashJoin)

        # Custom comparators on join keys (TupleTypeInfo.java:79-126):
        # derive the comparable key per column, GroupBy-style.
        comp = getattr(pipe, "comparators", None) or {}

        def _keyed(col_name: str):
            e = comp.get(col_name)
            return F.expr(e) if e else F.col(col_name)

        if isinstance(joiner, BufferJoin):
            if comp:
                raise PlannerError(
                    "comparators are not supported on BufferJoin CoGroups")
            return (self._compile_bufferjoin(pipe, renamed, key_names, joiner),
                    [[k] for k in key_names[0]])

        keyless = all(len(k) == 0 for k in key_names)
        if keyless:
            # Cartesian (prepareInnerCrossInput :765-800 / crossWithTiny)
            out = renamed[0]
            for d in renamed[1:]:
                out = out.crossJoin(F.broadcast(d) if broadcast_rest else d)
            return out, []

        # Accumulate-then-emit (the reference's joiner model,
        # FlinkFlowStep.java:688-763 + TupleOuterJoiner.java:50-63): all
        # inputs co-group through a full-outer cascade keyed on the
        # coalesced accumulated key, then the joiner decides emission per
        # key as a presence predicate over the REQUIRED inputs —
        # Inner: all required; Left: input 1; Right: input n; Mixed: every
        # non-outer-flagged input; Outer: none.  For the required-set
        # shapes where a chained fold is provably equivalent (all / {first}
        # / {} / 2-way {last}) we emit the direct chain so Catalyst sees
        # plain inner/left/right joins with no filter; otherwise we chain
        # full-outers with constant presence markers and filter at the top
        # — Catalyst's outer-join elimination + predicate pushdown rewrite
        # the filtered full-outers back to inner/left/right joins, so the
        # physical plan matches the direct form.
        if semi_anti:
            required = None  # native left_semi/left_anti, no emission filter
        elif isinstance(joiner, MixedJoin):
            flags = joiner.outer_flags
            if len(flags) != n:
                raise PlannerError("MixedJoin flags arity != inputs")
            required = [i for i, outer in enumerate(flags) if not outer]
        elif isinstance(joiner, InnerJoin):
            required = list(range(n))
        elif isinstance(joiner, LeftJoin):
            required = [0]
        elif isinstance(joiner, RightJoin):
            required = [n - 1]
        elif isinstance(joiner, OuterJoin):
            required = []
        else:  # custom Joiner subclass carrying a plain `how`
            how = getattr(joiner, "how", None)
            try:
                required = {"inner": list(range(n)), "left": [0],
                            "right": [n - 1], "full": []}[how]
            except KeyError:
                raise PlannerError(
                    f"unsupported joiner {type(joiner).__name__}")

        if required is None:
            chain_how, need_markers = joiner.how, False
        elif required == list(range(n)):
            chain_how, need_markers = "inner", False
        elif not required:
            chain_how, need_markers = "full", False
        elif required == [0]:
            chain_how, need_markers = "left", False
        elif n == 2 and required == [1]:
            chain_how, need_markers = "right", False
        else:
            chain_how, need_markers = "full", True

        markers = [f"__cfs_present_{i}" for i in range(n)]
        if need_markers:
            # A constant marker, not key-IS-NOT-NULL: a row whose join key
            # is genuinely NULL never matches but must still survive when
            # its input is outer-preserved, exactly like SQL outer joins.
            renamed = [d.withColumn(m, F.lit(True))
                       for d, m in zip(renamed, markers)]

        out = renamed[0]
        lineages: list[list[str]] = [[kn] for kn in key_names[0]]
        for i in range(1, n):
            right = renamed[i]
            if broadcast_rest:
                right = F.broadcast(right)
            cond = None
            for lin, rk in zip(lineages, key_names[i]):
                # Key each link on COALESCE over the accumulated lineage so
                # a key absent from input 1 (NULL there after an outer link)
                # still co-groups inputs 2..n (FlinkFlowStep.java:706-763).
                lhs = (_keyed(lin[0]) if len(lin) == 1
                       else F.coalesce(*[_keyed(c) for c in lin]))
                c = lhs == _keyed(rk)
                cond = c if cond is None else (cond & c)
            out = out.join(right, on=cond, how=chain_how)
            # semi/anti output carries ONLY the left columns — appending
            # the probe side's key names would make downstream grouping
            # coalesce over columns that do not exist
            if chain_how not in ("left_semi", "left_anti"):
                for lin, rk in zip(lineages, key_names[i]):
                    lin.append(rk)
        if need_markers:
            pred = None
            for i in required:
                c = F.col(markers[i]).isNotNull()
                pred = c if pred is None else (pred & c)
            out = out.filter(pred).drop(*markers)
        return out, lineages

    def _compile_bufferjoin(self, pipe, renamed: list[DataFrame],
                            key_names: list[list[str]], joiner: BufferJoin) -> DataFrame:
        """BufferJoin — user logic over all co-grouped streams.

        2-way: ``cogroup().applyInPandas`` (SURVEY.md §2.1 #11).  n-way: the
        reference's tagged-union trick (:func:`_tagged_union`: tag rows with
        an input index, union, group, split).
        """
        fields = []
        for nm, t in zip(joiner.declared.names, joiner.types):
            dt = t if isinstance(t, T.DataType) else T._parse_datatype_string(t)
            fields.append(T.StructField(nm, dt))
        schema = T.StructType(fields)
        fn = joiner.fn

        if joiner.stream_left:
            return self._compile_bufferjoin_streamed(renamed, key_names, fn, schema)

        if len(renamed) == 2:
            def _apply(key, left_pdf, right_pdf):
                return fn(key, left_pdf, right_pdf)

            g1 = renamed[0].groupBy(*key_names[0])
            g2 = renamed[1].groupBy(*key_names[1])
            return g1.cogroup(g2).applyInPandas(_apply, schema=schema)

        # n-way tagged union
        unified, key_aliases, slices = _tagged_union(renamed, key_names)

        def _apply_n(key, pdf):
            groups = []
            for idx, sl in enumerate(slices):
                groups.append(pdf[pdf["__idx"] == idx][sl])
            return fn(key, *groups)

        return unified.groupBy(*key_aliases).applyInPandas(_apply_n, schema=schema)

    def _compile_bufferjoin_streamed(self, renamed, key_names, fn,
                                     schema) -> DataFrame:
        """Giant-group-safe BufferJoin: stream input 0, collect the rest.

        Tagged union sorted so each key's rhs rows arrive BEFORE its input-0
        rows; a group-carry ``mapInPandas`` then accumulates the (bounded)
        rhs collections per key and calls ``fn`` once per Arrow batch chunk
        of input-0 rows — input 0 is never materialized per key, so one hot
        key cannot OOM an executor (the reference's streamed-lhs +
        spilled-rhs plan, CoGroupBufferClosure.java:213-246,328-416).  The
        chunk size is the Arrow batch size
        (``spark.sql.execution.arrow.maxRecordsPerBatch``, default 10k —
        the same order as the reference's spill threshold)."""
        import pandas as pd

        n_in = len(renamed)
        unified, key_aliases, slices = _tagged_union(renamed, key_names)
        # co-partition by key; within a partition: key-major, rhs before lhs
        lhs_last = (F.col("__idx") == 0).cast("int")
        sorted_df = (unified.repartition(_python_stage_parts(unified),
                                         *[F.col(a) for a in key_aliases])
                     .sortWithinPartitions(*key_aliases, lhs_last, "__idx"))

        def _stream(batches):
            cur = None            # current key tuple
            rhs: dict[int, list] = {}
            lhs_called = False
            tmpl = None

            def rhs_frames():
                return [pd.concat(rhs[i], ignore_index=True) if rhs[i]
                        else tmpl[slices[i]].iloc[0:0]
                        for i in range(1, n_in)]

            def empty_lhs():
                return tmpl[slices[0]].iloc[0:0]

            for pdf in batches:
                if tmpl is None:
                    tmpl = pdf.iloc[0:0]
                for key, kpdf in pdf.groupby(key_aliases, sort=False,
                                             dropna=False):
                    key = key if isinstance(key, tuple) else (key,)
                    # NaN-safe group identity: null join keys surface as
                    # NaN/NaT here and NaN != NaN, so a null-key group
                    # spanning two Arrow batches would be split into two
                    # keys (discarding its rhs state). Normalize to None.
                    key = tuple(None if pd.isna(k) else k for k in key)
                    if cur is not None and key != cur:
                        if not lhs_called:
                            res = fn(cur, empty_lhs(), *rhs_frames())
                            if res is not None and len(res):
                                yield res
                        cur = None
                    if cur is None:
                        cur, rhs, lhs_called = key, {i: [] for i in range(1, n_in)}, False
                    for i in range(1, n_in):
                        part = kpdf[kpdf["__idx"] == i][slices[i]]
                        if len(part):
                            rhs[i].append(part)
                    lpart = kpdf[kpdf["__idx"] == 0][slices[0]]
                    if len(lpart):
                        res = fn(cur, lpart, *rhs_frames())
                        lhs_called = True
                        if res is not None and len(res):
                            yield res
            if cur is not None and not lhs_called:
                res = fn(cur, empty_lhs(), *rhs_frames())
                if res is not None and len(res):
                    yield res

        return sorted_df.mapInPandas(_stream, schema=schema)

    # -------------------------------------------------------------- misc
    def _compile_merge(self, pipe: Merge) -> DataFrame:
        dfs = [self._compile(p) for p in pipe.previous]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _compile_unique(self, pipe: Unique) -> DataFrame:
        df = self._compile(pipe.previous[0])
        if pipe.fields is Fields.ALL:
            return df.dropDuplicates()
        return df.dropDuplicates(list(pipe.fields.names))
