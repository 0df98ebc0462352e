"""Streaming operators: watermarks, event-time windows, stateful sessions.

All built on Structured Streaming primitives; the custom stateful operator
uses ``applyInPandasWithState`` — the Arrow-batched escape hatch for
semantics the built-in windows can't express (per SURVEY's custom-operator
ladder: compose built-ins first, pandas-with-state second)."""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Event-time columns must be TIMESTAMP; parquet written with the NTZ
    logical type arrives as TIMESTAMP_NTZ, which watermarks/windows reject.
    The session timezone is pinned to UTC (session.get_spark), so the cast
    is the identity on the wall clock."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound: rows older than max(event time) - delay are dropped
    from stateful operators; required before streaming window aggs."""
    return _ensure_event_time(df, ts_col).withWatermark(ts_col, delay)


def _agg_pairs(aggs: dict[str, str]):
    out = []
    for name, expr in aggs.items():
        out.append(F.expr(expr).alias(name))
    return out


def tumbling_window_agg(df: DataFrame, ts_col: str, window: str,
                        keys: Sequence[str], aggs: dict[str, str],
                        watermark: str | None = None) -> DataFrame:
    """Non-overlapping event-time windows: groupBy(window(ts), keys).agg."""
    df = _ensure_event_time(df, ts_col)
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    g = df.groupBy(F.window(ts_col, window), *keys)
    out = g.agg(*_agg_pairs(aggs))
    return out.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *keys, *aggs.keys())


def sliding_window_agg(df: DataFrame, ts_col: str, window: str, slide: str,
                       keys: Sequence[str], aggs: dict[str, str],
                       watermark: str | None = None) -> DataFrame:
    df = _ensure_event_time(df, ts_col)
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    g = df.groupBy(F.window(ts_col, window, slide), *keys)
    out = g.agg(*_agg_pairs(aggs))
    return out.select(F.col("window.start").alias("window_start"),
                      F.col("window.end").alias("window_end"),
                      *keys, *aggs.keys())


def session_window_agg(df: DataFrame, ts_col: str, gap: str,
                       keys: Sequence[str], aggs: dict[str, str],
                       watermark: str | None = None) -> DataFrame:
    """Dynamic-gap session windows (native session_window)."""
    df = _ensure_event_time(df, ts_col)
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    g = df.groupBy(F.session_window(ts_col, gap), *keys)
    out = g.agg(*_agg_pairs(aggs))
    return out.select(F.col("session_window.start").alias("session_start"),
                      F.col("session_window.end").alias("session_end"),
                      *keys, *aggs.keys())


def stateful_sessionize(df: DataFrame, key_col: str, ts_col: str,
                        gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful operator: per-key session accumulation with
    processing-time timeout via ``applyInPandasWithState``.

    Emits (key, session_events, session_start, session_end) when a session
    closes (timeout).  Demonstrates the custom-stateful-operator plumbing;
    state is a single (count, start_ts, last_ts) tuple per key."""
    out_schema = T.StructType([
        T.StructField("key", T.LongType()),
        T.StructField("session_events", T.LongType()),
        T.StructField("session_start", T.DoubleType()),
        T.StructField("session_end", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("count", T.LongType()),
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
    ])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        if state.hasTimedOut:
            (count, start_ts, last_ts) = state.get
            state.remove()
            yield pd.DataFrame({"key": [key[0]], "session_events": [count],
                                "session_start": [start_ts],
                                "session_end": [last_ts]})
            return
        count, start_ts, last_ts = (state.get if state.exists
                                    else (0, float("inf"), float("-inf")))
        for pdf in pdfs:
            ts = pdf[ts_col].astype("int64") / 1e9
            count += len(pdf)
            start_ts = min(start_ts, float(ts.min()))
            last_ts = max(last_ts, float(ts.max()))
        state.update((count, start_ts, last_ts))
        state.setTimeoutDuration(gap_seconds * 1000)
        return iter(())

    prepared = df.select(F.col(key_col).cast("long").alias("key"),
                         F.col(ts_col))
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def stream_session_transitions(df: DataFrame, key_col: str = "user_id",
                               ts_col: str = "ts",
                               id_col: str = "event_id",
                               type_col: str = "event_type",
                               gap_us: int = 1800 * 1_000_000) -> DataFrame:
    """Streaming within-session transition counting — the stateful twin
    of ``extensions.analytics.session_transitions``: per micro-batch it
    emits ``(key, from_type, to_type, n_trans)`` partial counts for
    every consecutive same-key event pair within the session gap,
    carrying each key's LAST (epoch-micros, type) in state so
    transitions that straddle a micro-batch boundary are counted
    exactly once.  Downstream aggregates the partials into the
    transition matrix (the emitted grain stays keyed, so the matrix
    rollup is one partial-agg groupBy at read time).

    Within a micro-batch events are processed in ``(ts_us,
    id-as-string)`` order, so a single-batch stream with
    naturally-sorting ids reproduces the batch operator's counts
    exactly (asserted in tests); across batches the order is arrival
    order — the standard streaming trade-off (use the batch operator
    for reprocessing).  State per key is ONE (long, string) tuple —
    bounded at any stream length; no timeout (an idle key simply
    fails the gap test on its next event)."""
    if gap_us < 1:
        raise ValueError("gap_us must be >= 1")
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
        T.StructField("n_trans", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_us", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        last_us, last_type = state.get if state.exists else (None, None)
        counts: dict = {}
        # applyInPandasWithState can split one key's micro-batch into
        # multiple Arrow chunks (~10k rows each): concatenate BEFORE the
        # single sort pass, or the (ts_us, id) processing order — and
        # with it the transition counts — becomes chunk-order dependent
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (pd.concat(chunks, ignore_index=True)
                 if len(chunks) > 1 else None)
        for pdf in ([batch] if batch is not None else chunks):
            pdf = pdf.sort_values(["__us", id_col])
            for us, tp in zip(pdf["__us"], pdf[type_col]):
                us = int(us)
                if (last_type is not None and tp is not None
                        and us - last_us <= gap_us):
                    counts[(last_type, tp)] = counts.get(
                        (last_type, tp), 0) + 1
                last_us, last_type = us, tp
        if last_us is not None:
            state.update((last_us, last_type))
        if not counts:
            return iter(())
        ks = sorted(counts)
        return iter([pd.DataFrame({
            "key": [key[0]] * len(ks),
            "from_type": [a for a, _ in ks],
            "to_type": [b for _, b in ks],
            "n_trans": [counts[k] for k in ks]})])

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias(id_col),
        F.col(type_col).cast("string").alias(type_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
    ).filter(F.col("key").isNotNull() & F.col("__us").isNotNull()
             & F.col(type_col).isNotNull())
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def stream_session_funnel(df: DataFrame, steps: list[str],
                          key_col: str = "user_id", ts_col: str = "ts",
                          id_col: str = "event_id",
                          type_col: str = "event_type",
                          gap_us: int = 1800 * 1_000_000) -> DataFrame:
    """Streaming within-session ordered funnel — the stateful twin of
    ``extensions.analytics.session_funnel``: per micro-batch it emits
    ``(key, step, step_name, n_new)`` partials — one count for each
    session that REACHED funnel step ``i`` this batch — carrying per
    key the last event time, a completed-step bitmask and the per-step
    first-completion times, so a session straddling micro-batch
    boundaries completes its prefix exactly once.  Downstream sums
    ``n_new`` per step for the funnel table (the emitted grain stays
    keyed, like ``stream_session_transitions``).

    Semantics match the batch operator: a new session starts when the
    key's inter-event gap exceeds ``gap_us`` (state resets); step 1 is
    the session's first matching event; step ``i`` needs a matching
    event STRICTLY after step ``i-1``'s completion time.  One event
    may complete several steps (e.g. repeated step names) — steps are
    evaluated in ascending order within the event, mirroring the batch
    operator's nested window chain.  A key's Arrow chunks are
    concatenated before the single ``(ts_us, id)`` sort pass (the
    chunk-order lesson); across batches the order is arrival order —
    the standard streaming trade.  State per key is one long + one
    bitmask + ``len(steps)`` longs: bounded at any stream length."""
    if not steps:
        raise ValueError("steps must be non-empty")
    if len(steps) > 62:
        raise ValueError("steps must fit a 62-bit mask")
    if gap_us < 1:
        raise ValueError("gap_us must be >= 1")
    k = len(steps)
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("step", T.LongType()),
        T.StructField("step_name", T.StringType()),
        T.StructField("n_new", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_us", T.LongType()),
        T.StructField("mask", T.LongType()),
        T.StructField("times", T.ArrayType(T.LongType(), False)),
    ])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        if state.exists:
            last_us, mask, times = state.get
            times = list(times)
        else:
            last_us, mask, times = None, 0, [0] * k
        counts = [0] * k
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (pd.concat(chunks, ignore_index=True)
                 if len(chunks) > 1 else None)
        for pdf in ([batch] if batch is not None else chunks):
            pdf = pdf.sort_values(["__us", id_col])
            for us, tp in zip(pdf["__us"], pdf[type_col]):
                us = int(us)
                if last_us is not None and us - last_us > gap_us:
                    mask, times = 0, [0] * k
                last_us = us
                if tp is None:
                    continue
                for i, s in enumerate(steps):
                    if tp != s or mask & (1 << i):
                        continue
                    if i == 0 or (mask & (1 << (i - 1))
                                  and us > times[i - 1]):
                        mask |= 1 << i
                        times[i] = us
                        counts[i] += 1
        if last_us is not None:
            state.update((last_us, mask, times))
        hit = [i for i in range(k) if counts[i]]
        if not hit:
            return iter(())
        return iter([pd.DataFrame({
            "key": [key[0]] * len(hit),
            "step": [i + 1 for i in hit],
            "step_name": [steps[i] for i in hit],
            "n_new": [counts[i] for i in hit]})])

    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias(id_col),
        F.col(type_col).cast("string").alias(type_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
    ).filter(F.col("key").isNotNull() & F.col("__us").isNotNull())
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def stream_exact_dedup(df: DataFrame, ts_col: str,
                       text_col: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: drop repeats of identical content arriving
    within the watermark horizon — the streaming twin of
    ``extensions.dedup.exact_dedup`` (same md5 fingerprint rule as
    ``extensions.text.fingerprint``).

    Uses ``dropDuplicatesWithinWatermark``, so the dedup STATE is evicted
    as the watermark advances: on a continuous 100 TB/day ingest the state
    store holds only one horizon's worth of fingerprints, where plain
    ``dropDuplicates`` on a stream would grow key state forever."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (_ensure_event_time(df, ts_col).withColumn("fp", F.md5(norm))
              .withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark(["fp"])
              .drop("fp"))  # schema parity with the batch twin


def stream_chunk_packer(df: DataFrame, context_len: int,
                        key_col: str = "lang", text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Streaming sequence packing — the stateful twin of
    ``extensions.packing.chunk_corpus``: documents arriving on a stream are
    laid end-to-end per key and cut into ``context_len``-token chunks, with
    the running token offset carried in state ACROSS micro-batches, so a
    continuous ingest packs into the same ever-growing chunk sequence a
    batch job would produce.

    Emits one row per document as it arrives:
    ``(key, doc_id, n_tokens, start_offset, first_chunk, last_chunk)``.
    Within a micro-batch, documents pack in the deterministic
    ``(md5(doc_id), doc_id)`` order — identical to ``chunk_corpus``'s
    global order, so a single-batch stream reproduces the batch result
    exactly (asserted in tests); across batches the order is arrival
    order, which is the only order a stream has.  State per key is one
    long (the running total): safe at any corpus size."""
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("first_chunk", T.LongType()),
        T.StructField("last_chunk", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("total", T.LongType())])

    def fn(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd
        total = state.get[0] if state.exists else 0
        # concatenate the Arrow chunk iterator BEFORE sorting: a micro-
        # batch larger than arrow.maxRecordsPerBatch arrives as several
        # chunks, and per-chunk sorting would silently turn the documented
        # md5 order into chunk-order greedy
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf["__h"] = pdf["doc_id"].map(
                lambda s: hashlib.md5(str(s).encode()).hexdigest())
            pdf = pdf.sort_values(["__h", "doc_id"])
            toks = pdf["n_tokens"].to_numpy()
            starts = total + toks.cumsum() - toks
            total = int(total + toks.sum())
            yield pd.DataFrame({
                "key": key[0],
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": toks,
                "start_offset": starts,
                "first_chunk": starts // context_len,
                "last_chunk": (starts + toks - 1) // context_len,
            })
        state.update((total,))

    from ..extensions.text import token_count
    prepared = (df.select(F.col(key_col).cast("string").alias("key"),
                          F.col(id_col).cast("string").alias("doc_id"),
                          token_count(F.col(text_col)).cast("long")
                           .alias("n_tokens"))
                  .filter(F.col("n_tokens") > 0))
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_token_quota(df: DataFrame, budgets: dict[str, int],
                       key_col: str = "lang", text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Streaming per-key token quota — the stateful twin of
    ``extensions.mixture.token_budget_mixture``: documents arriving on a
    stream are admitted while the key's RUNNING token total (carried in
    state across micro-batches) stays within that key's budget; once a
    key's budget is exhausted every later document is dropped for good.

    Emits admitted documents as ``(key, doc_id, n_tokens, running_total)``.
    Within a micro-batch, documents are considered in the deterministic
    ``(md5(doc_id), doc_id)`` order — so a single-batch stream admits
    exactly the batch operator's set (asserted in tests); across batches
    the order is arrival order.  Keys absent from ``budgets`` are dropped.
    State per key is one long: safe at any corpus size, and a continuous
    ingest can cut a target mixture without ever re-scanning history.
    Nuance: within one micro-batch an overshooting document also blocks
    the rest of that batch's md5 order (exact batch-operator parity);
    across batches only ADMITTED tokens advance the running total."""
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("running_total", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("total", T.LongType())])
    budgets = {str(k): int(v) for k, v in budgets.items()}

    def fn(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd
        budget = budgets.get(key[0])
        if budget is None:
            return iter(())
        total = state.get[0] if state.exists else 0
        # concat the Arrow chunk iterator BEFORE sorting (see
        # stream_chunk_packer): per-chunk sorting would break the
        # documented whole-micro-batch md5 admission order for any
        # micro-batch above arrow.maxRecordsPerBatch
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks and total < budget:
            pdf = pd.concat(chunks, ignore_index=True)
            # same seeded order key as mixture.token_budget_mixture, so a
            # single-batch stream admits exactly the batch operator's set
            pdf["__h"] = pdf["doc_id"].map(
                lambda s: hashlib.md5(f"mixture#{s}".encode()).hexdigest())
            pdf = pdf.sort_values(["__h", "doc_id"])
            cum = total + pdf["n_tokens"].to_numpy().cumsum()
            keep = cum <= budget
            if keep.any():
                kept = pdf[keep]
                yield pd.DataFrame({
                    "key": key[0],
                    "doc_id": kept["doc_id"].to_numpy(),
                    "n_tokens": kept["n_tokens"].to_numpy(),
                    "running_total": cum[keep],
                })
                total = int(cum[keep][-1])
        state.update((total,))

    from ..extensions.text import token_count
    toks = token_count(F.col(text_col))
    # drop null token counts (null text): one NaN would poison the whole
    # micro-batch's cumsum and silently reject every later document; the
    # batch twin's window sum skips nulls
    prepared = df.select(F.col(key_col).cast("string").alias("key"),
                         F.col(id_col).cast("string").alias("doc_id"),
                         toks.cast("long").alias("n_tokens")) \
                 .filter(F.col("n_tokens").isNotNull())
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_rolling_stats(df: DataFrame, key_col: str = "user_id",
                         ts_col: str = "ts", id_col: str = "event_id",
                         value_col: str = "value",
                         window_rows: int = 5) -> DataFrame:
    """Streaming per-key moving-frame statistics — the stateful twin of
    ``extensions.analytics.rolling_stats``: each arriving event gets the
    moving sum/min/max over the last ``window_rows`` events of its key
    (in integer cents, exact long arithmetic), the delta from the
    previous event, and the running event count, with the trailing frame
    carried in state across micro-batches.

    Emits ``(key, event_id, ts_us, value_cents, mov_sum_cents,
    mov_min_cents, mov_max_cents, mov_n, delta_cents, cum_n)``.  Within a
    micro-batch events are processed in ``(ts_us, event_id-as-string)``
    order; a single-batch stream whose id strings sort like their natural
    order (or with no timestamp ties) therefore reproduces the batch
    operator exactly (asserted in tests); across batches the order is
    arrival order — a late event is ranked when it ARRIVES, the standard
    streaming trade-off (use the batch operator for reprocessing).

    State per key is one bounded tuple: the running count plus the last
    ``window_rows - 1`` cents values — safe at any stream length.  NULL
    values ride through exactly as in the batch twin: they occupy frame
    slots (``mov_n`` counts rows), are skipped by sum/min/max, and make
    the adjacent deltas NULL.
    """
    if window_rows < 1:
        raise ValueError("window_rows must be >= 1")
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("mov_sum_cents", T.LongType()),
        T.StructField("mov_min_cents", T.LongType()),
        T.StructField("mov_max_cents", T.LongType()),
        T.StructField("mov_n", T.LongType()),
        T.StructField("delta_cents", T.LongType()),
        T.StructField("cum_n", T.LongType()),
    ])
    # tail: the last window_rows-1 cents (None for null values); tailmask
    # marks which tail slots hold a real value (an array<long> state
    # column round-trips None elements, but the mask keeps the encoding
    # explicit and cheap to validate)
    state_schema = T.StructType([
        T.StructField("cnt", T.LongType()),
        T.StructField("tail", T.ArrayType(T.LongType(), True)),
        T.StructField("tailmask", T.ArrayType(T.BooleanType(), False)),
        T.StructField("prev", T.LongType()),
    ])
    keep = max(window_rows - 1, 0)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            cnt, tail_vals, tail_mask, prev = state.get
            window = [v if m else None
                      for v, m in zip(tail_vals, tail_mask)]
        else:
            cnt, window, prev = 0, [], None
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) \
                    .sort_values(["ts_us", "event_id"])
            out = {c: [] for c in ("event_id", "ts_us", "value_cents",
                                   "mov_sum_cents", "mov_min_cents",
                                   "mov_max_cents", "mov_n", "delta_cents",
                                   "cum_n")}
            for r in pdf.itertuples():
                c = None if pd.isna(r.cents) else int(r.cents)
                frame = (window + [c])[-window_rows:]
                vals = [v for v in frame if v is not None]
                delta = (c - prev
                         if (cnt > 0 and prev is not None and c is not None)
                         else None)
                cnt += 1
                out["event_id"].append(r.event_id)
                out["ts_us"].append(int(r.ts_us))
                out["value_cents"].append(c)
                out["mov_sum_cents"].append(sum(vals) if vals else None)
                out["mov_min_cents"].append(min(vals) if vals else None)
                out["mov_max_cents"].append(max(vals) if vals else None)
                out["mov_n"].append(len(frame))
                out["delta_cents"].append(delta)
                out["cum_n"].append(cnt)
                window = (window + [c])[-keep:] if keep else []
                prev = c
            res = pd.DataFrame(out)
            res.insert(0, "key", key[0])
            yield res
        state.update((cnt, list(window),
                      [v is not None for v in window], prev))

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    prepared = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias("event_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        cents.alias("cents"))
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       on, left_ts: str, right_ts: str,
                       watermark: str = "1 hour",
                       time_bound: str = "interval 1 hour",
                       how: str = "inner") -> DataFrame:
    """Stream-stream join with watermarks + event-time range bound.

    Both sides buffer state; the watermark + the time-range predicate let
    Spark evict state (unbounded joins would grow forever).  ``on`` is a
    column name or list; the join condition adds
    ``right_ts BETWEEN left_ts - bound AND left_ts + bound``."""
    lw = _ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
    rw = _ensure_event_time(right, right_ts).withWatermark(right_ts, watermark)
    keys = [on] if isinstance(on, str) else list(on)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else (cond & c)
    # qualify the left timestamp via the side handle: a bare F.expr on the
    # joined schema is ambiguous whenever both streams carry that name
    bound = F.expr(f"{time_bound}")
    cond = cond & (rw[right_ts] >= lw[left_ts] - bound) \
                 & (rw[right_ts] <= lw[left_ts] + bound)
    return lw.join(rw, cond, how)


def stream_decontaminate(stream: DataFrame, benchmark: DataFrame,
                         n: int = 8, min_shared: int = 1,
                         text_col: str = "text",
                         bench_text_col: str | None = None,
                         bench_id_col: str | None = None) -> DataFrame:
    """Streaming benchmark decontamination: drop incoming documents that
    share >= ``min_shared`` distinct word ``n``-grams with any SINGLE
    benchmark document — the streaming twin of ``extensions.decontam
    .decontaminate`` with identical shingle AND grouping semantics (the
    batch op thresholds per (doc, bench_doc) pair, so pooling grams
    across the whole benchmark would over-drop for ``min_shared`` > 1;
    when ``bench_id_col`` is None every benchmark row counts as its own
    document, matching the batch default of ``bench_id_col=id_col`` only
    if ids are distinct — pass it explicitly when they are not).

    The benchmark gram -> bench-doc-ids table collects ONCE on the driver
    (eval sets are megabytes — the same boundedness argument as the batch
    op's broadcast join) and ships to executors as a Spark broadcast;
    each micro-batch row is then checked in one stateless Arrow pass.  No
    state store, no stream shuffle, any output mode — at 100 TB/day
    ingest this is a map over the stream, which is exactly what a
    contamination gate must be."""
    from ..extensions.dedup import _java_ws_tokens, _word_shingles

    bench_text_col = bench_text_col or text_col
    bid = (F.col(bench_id_col) if bench_id_col
           else F.monotonically_increasing_id())
    # materialize the bench id in its OWN projection BEFORE the explode:
    # in one select, monotonically_increasing_id() evaluates in the
    # Project above the Generate — once per exploded GRAM, which would
    # give every gram a unique "document" and make min_shared > 1
    # unreachable
    rows = (benchmark
            .select(bid.alias("__bid"), F.col(bench_text_col))
            .select("__bid",
                    F.explode(_word_shingles(bench_text_col, n))
                     .alias("__g"))
            .distinct().collect())
    grams: dict = {}
    for r in rows:
        grams.setdefault(r["__g"], []).append(r["__bid"])
    bc = stream.sparkSession.sparkContext.broadcast(grams)
    k = int(min_shared)

    @F.pandas_udf("boolean")
    def _clean(texts: pd.Series) -> pd.Series:
        bench = bc.value

        def ok(t):
            if t is None:
                return True
            toks = _java_ws_tokens(t)
            if len(toks) < n:
                return True
            seen = set()
            per_bench: dict = {}
            for i in range(len(toks) - n + 1):
                s = " ".join(toks[i:i + n])
                if s and s not in seen:
                    seen.add(s)
                    for b in bench.get(s, ()):
                        c = per_bench.get(b, 0) + 1
                        if c >= k:
                            return False
                        per_bench[b] = c
            return True
        return texts.map(ok)

    return stream.filter(_clean(F.col(text_col)))


def stream_domain_quota(df: DataFrame, max_docs: int,
                        domain_col: str = "source",
                        id_col: str = "doc_id",
                        seed: str = "quota") -> DataFrame:
    """Streaming per-domain document quota — the stateful twin of
    ``extensions.mixture.domain_quota``: documents arriving on a stream
    are admitted while the domain's RUNNING admitted count (one long of
    state per domain, carried across micro-batches) stays below
    ``max_docs``; afterwards the domain is capped for good.

    Emits ``(domain, doc_id, admitted_rank)`` with rank 1..max_docs per
    domain.  Within one micro-batch documents are considered in the same
    seeded ``(md5(seed#id), id)`` order as the batch operator — a
    single-batch stream admits exactly ``domain_quota``'s set (asserted
    in tests); across batches it is arrival order, the streaming analog
    of crawl-order dominance control.  State is one counter per domain:
    safe at any corpus size."""
    if max_docs <= 0:
        raise ValueError("max_docs must be positive")
    out_schema = T.StructType([
        T.StructField("domain", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("admitted_rank", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def fn(key, pdfs, state: GroupState):
        import hashlib
        n = state.get[0] if state.exists else 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks and n < max_docs:
            # whole-micro-batch order (concat before sort — the
            # stream_chunk_packer lesson): per-chunk sorting would break
            # the documented md5 admission order above Arrow chunk size
            pdf = pd.concat(chunks, ignore_index=True)
            pdf["__h"] = pdf["doc_id"].map(
                lambda s: hashlib.md5(f"{seed}#{s}".encode()).hexdigest())
            pdf = pdf.sort_values(["__h", "doc_id"]).head(max_docs - n)
            if len(pdf):
                yield pd.DataFrame({
                    "domain": key[0],
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "admitted_rank": n + 1 + pd.RangeIndex(len(pdf)),
                })
                n += len(pdf)
        state.update((n,))

    prepared = df.select(F.col(domain_col).cast("string").alias("domain"),
                         F.col(id_col).cast("string").alias("doc_id"))
    return (prepared.groupBy("domain")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_embedding_gate(stream: DataFrame, reference: DataFrame,
                          threshold: float = 0.95, planes: int = 12,
                          dim: int = 64, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Streaming embedding near-dup gate against a STATIC curated
    reference: an arriving vector is dropped iff some reference vector in
    its LSH bucket has cosine >= ``threshold``; survivors pass through
    unchanged.  The streaming counterpart of
    ``extensions.dedup.dedup_against`` for the embedding modality.

    Completely STATELESS: one md5-Rademacher band (the
    :func:`...similarity._md5_sign_planes` family, computed identically
    on both sides) keys a stream-static LEFT ANTI equi-join whose
    condition also applies the exact cosine check — no state store, no
    watermark, no stream shuffle beyond the join.  A single band table
    keeps the anti-join per-row exact (multi-table OR-semantics would
    need stateful vote counting); recall for cosine ~ 1 pairs is
    (1 - theta/pi)^planes — near 1 at the near-dup design point — and
    every bucket candidate is verified by exact cosine, so precision is
    exact.  At 100 TB the reference band table is precomputed once and
    reused across the whole ingest."""
    from ..extensions.similarity import (_md5_sign_planes, _sign_udf,
                                         cosine_expr)
    band = _sign_udf(_md5_sign_planes(1, planes, dim))
    ref = (reference.select(F.col(vec_col).alias("__rvec"),
                            band(F.col(vec_col)).getItem(0).alias("__rband")))
    s = stream.withColumn("__sband", band(F.col(vec_col)).getItem(0))
    cond = (F.col("__sband") == F.col("__rband")) & \
           (cosine_expr(F.col(vec_col), F.col("__rvec")) >= threshold)
    return s.join(ref, cond, "left_anti").drop("__sband")


def stream_curate(stream: DataFrame, benchmark: DataFrame,
                  budgets: dict[str, int],
                  *,
                  ts_col: str = "ts", text_col: str = "text",
                  id_col: str = "doc_id", lang_col: str = "lang",
                  url_col: str | None = None,
                  gopher_kwargs: dict | None = None,
                  blocklist_terms: list[str] | None = None,
                  decontam_n: int = 8,
                  dedup_watermark: str = "10 minutes") -> DataFrame:
    """Streaming curation pipeline — the continuous-ingest twin of
    ``extensions.curation.curate_corpus``, composed from the already-
    proven streaming stages:

    1. **clean + quality gates** (stateless map): Unicode-light
       normalization, Gopher rule conjunction, token blocklist — the
       exact batch expressions, fused into the stream's first projection;
    2. **dedup within the watermark horizon**: canonical-URL key when
       ``url_col`` is given, else the content fingerprint — via
       ``dropDuplicatesWithinWatermark``, so key state is evicted as the
       watermark advances (a continuous crawl can't hold every URL ever
       seen; the horizon is the recrawl window).  Unlike the batch twin's
       min-id rule, the survivor is the FIRST arrival — arrival order is
       the only order a stream has (same note as every stateful twin);
    3. **decontamination** (stateless broadcast map): benchmark grams
       collected once, checked per micro-batch row;
    4. **token quota** (stateful): per-``lang_col`` running totals
       carried across micro-batches; hand ``budgets`` because a stream
       has no corpus totals to derive temperature weights from.

    Emits ``stream_token_quota``'s schema: ``(key, doc_id, n_tokens,
    running_total)`` per admitted document, in arrival order.  Stages
    2-4 match their batch twins exactly on a single micro-batch
    (tested); across batches the stateful semantics take over.
    """
    from ..extensions.text import (blocklist_hits_expr, clean_text_expr,
                                   gopher_pass_expr)
    from ..extensions.urls import normalize_url_expr

    cleaned = stream.withColumn(text_col, clean_text_expr(
        F.coalesce(F.col(text_col), F.lit(""))))
    gate = gopher_pass_expr(F.col(text_col), **(gopher_kwargs or {}))
    if blocklist_terms:
        gate = gate & (blocklist_hits_expr(F.col(text_col),
                                           blocklist_terms) == 0)
    gated = cleaned.filter(gate)

    if url_col is not None:
        # NULL/empty URL = "no URL": per-document sentinel key exempts
        # the row from URL dedup (same rule as the batch twin) instead
        # of collapsing every no-URL doc onto one survivor per horizon
        norm = normalize_url_expr(F.col(url_col))
        key = (F.when(norm.isNull() | (norm == ""),
                      F.concat(F.lit("\x00nourl\x00"),
                               F.col(id_col).cast("string")))
                .otherwise(norm))
        deduped = (_ensure_event_time(gated, ts_col)
                   .withColumn("__cu", key)
                   .withWatermark(ts_col, dedup_watermark)
                   .dropDuplicatesWithinWatermark(["__cu"])
                   .drop("__cu"))
    else:
        deduped = stream_exact_dedup(gated, ts_col, text_col=text_col,
                                     watermark=dedup_watermark)

    decon = stream_decontaminate(deduped, benchmark, n=decontam_n,
                                 text_col=text_col)
    return stream_token_quota(decon, budgets, key_col=lang_col,
                              text_col=text_col, id_col=id_col)


def stream_pack_bins(df: DataFrame, capacity: int,
                     key_col: str = "lang", text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Streaming no-split sequence packing — the stateful twin of
    ``extensions.packing.pack_bins``: documents arriving on a stream are
    NEXT-FIT whole into fixed-``capacity`` token bins per key, with the
    open bin's (index, fill) carried in state ACROSS micro-batches; a
    document never splits across bins, and an over-``capacity`` document
    gets a bin of its own (the batch twin's overflow rule).

    Emits one row per document: ``(key, doc_id, n_tokens, bin,
    offset_in_bin)`` with per-key bin indices.  Within a micro-batch,
    documents pack in the deterministic ``(md5(doc_id), doc_id)`` order
    — the batch twin's in-bucket order, so a single-batch stream with
    one key reproduces the batch walk exactly (asserted in tests);
    across batches the order is arrival order, the only order a stream
    has.  State per key is two longs (open-bin index + fill): bounded at
    any corpus size."""
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin", T.LongType()),
        T.StructField("offset_in_bin", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("bin", T.LongType()),
                                 T.StructField("fill", T.LongType())])

    def fn(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd
        cur_bin, fill = state.get if state.exists else (0, 0)
        # concat the Arrow chunk iterator BEFORE sorting (see
        # stream_chunk_packer): per-chunk sorting would break the
        # documented whole-micro-batch md5 packing order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf["__h"] = pdf["doc_id"].map(
                lambda s: hashlib.md5(str(s).encode()).hexdigest())
            pdf = pdf.sort_values(["__h", "doc_id"])
            bins, offs = [], []
            for n in pdf["n_tokens"]:
                if fill > 0 and fill + n > capacity:
                    cur_bin += 1
                    fill = 0
                bins.append(cur_bin)
                offs.append(fill)
                fill += int(n)
            yield pd.DataFrame({"key": key[0],
                                "doc_id": pdf["doc_id"].to_numpy(),
                                "n_tokens": pdf["n_tokens"],
                                "bin": bins,
                                "offset_in_bin": offs})
        state.update((int(cur_bin), int(fill)))

    from ..extensions.text import token_count
    prepared = (df.select(F.col(key_col).cast("string").alias("key"),
                          F.col(id_col).cast("string").alias("doc_id"),
                          token_count(F.col(text_col)).cast("long")
                           .alias("n_tokens"))
                  .filter(F.col("n_tokens") > 0))
    return (prepared.groupBy("key")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_media_dedup(stream: DataFrame, ts_col: str = "ts",
                       payload_col: str = "payload",
                       id_col: str = "media_id",
                       watermark: str = "10 minutes",
                       grid: int = 8,
                       reference: DataFrame | None = None,
                       max_hamming: int = 4,
                       bands: int = 8) -> DataFrame:
    """Streaming perceptual image dedup — the streaming twin of
    ``extensions.multimodal.image_dups``, split the way a continuous
    ingest actually needs it:

    1. **Static-reference near-dup gate** (``reference`` given): an
       arriving image is dropped iff some reference image's dHash sits
       within ``max_hamming`` bits.  Spelled as ``bands`` chained
       stream-static LEFT ANTI equi-joins, one per ``nbits/bands``-wide
       sub-band, each verifying the full Hamming distance in its join
       condition — EXACT by the same pigeonhole argument as
       :func:`...dedup.hamming_pairs` (a pair within ``max_hamming``
       has at least one clean sub-band when ``bands > max_hamming``), and
       a chain of anti-joins drops a row matched by ANY band, so the
       union-of-matches semantics needs no state.  The reference sides
       are tiny (8-byte hashes) and broadcast; at 100 TB the curated
       hash table is computed once and reused for the whole ingest.
    2. **Horizon self-dedup**: ``dropDuplicatesWithinWatermark`` on the
       exact dHash — repeats of the same perceptual hash arriving within
       the watermark are dropped while the state store holds only one
       horizon of 8-byte hashes.  WITHIN-stream near-dup (Hamming > 0)
       banding would need cross-band vote state; that remains the batch
       twin's job, by design.

    The hash itself is :func:`...multimodal.dhash_bytes` — the identical
    spelling the batch family uses — applied via a stateless Arrow UDF,
    so batch and stream signatures can never drift.  Survivors pass
    through with their original columns plus ``dhash``."""
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming")
    nbits = grid * grid
    if nbits % bands:
        raise ValueError("bands must divide the hash width")
    width = nbits // bands
    mask = (1 << width) - 1

    from ..extensions.multimodal import dhash_bytes
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _dhash(payloads: pd.Series) -> pd.Series:
        return pd.Series(
            [dhash_bytes(bytes(p) if p is not None else None, grid)[0]
             for p in payloads])

    s = (_ensure_event_time(stream, ts_col)
         .withColumn("dhash", _dhash(F.col(payload_col))))

    if reference is not None:
        ref_hashes = (reference
                      .withColumn("__rhash", _dhash(F.col(payload_col)))
                      .select("__rhash"))

        def sub(col, b):
            return F.shiftright(col, width * b).bitwiseAND(F.lit(mask))

        ham = F.bit_count(F.col("dhash").bitwiseXOR(F.col("__rhash")))
        for b in range(bands):
            ref_b = (ref_hashes.select("__rhash",
                                       sub(F.col("__rhash"), b).alias("__rb"))
                     .dropDuplicates())
            cond = (sub(F.col("dhash"), b) == F.col("__rb")) & \
                   (ham <= max_hamming)
            s = s.join(F.broadcast(ref_b), cond, "left_anti")

    return (s.withWatermark(ts_col, watermark)
             .dropDuplicatesWithinWatermark(["dhash"]))


def stream_dsir_gate(stream: DataFrame, lr: list[int], c0: int,
                     min_logw_x1e6: int, buckets: int = 4096,
                     ngrams: int = 2, seed: str = "dsir",
                     text_col: str = "text",
                     score_col: str = "logw_x1e6") -> DataFrame:
    """Streaming DSIR admission gate: score each arriving document
    against a PRE-FITTED weight table (densified to ``(lr, c0)`` by
    :func:`...extensions.dsir.dsir_weight_array`) and keep rows with
    ``logw_x1e6 >= min_logw_x1e6`` — the streaming counterpart of
    ``dsir_select`` for a continuous ingest where "top n" becomes a
    threshold (fit the table and pick the cutoff on a batch sample,
    then gate the firehose).

    Completely STATELESS: the scorer is one codegen higher-order fold
    per row against the broadcast literal weight array
    (:func:`...extensions.dsir.dsir_score_expr`, bit-identical to the
    batch join path — parity pytest-pinned) — no state store, no
    watermark, no stream shuffle.  At 100 TB/day the table is fitted
    once per refresh and the gate is a pure map over the ingest."""
    from ..extensions.dsir import dsir_score_expr
    scored = stream.withColumn(
        score_col, dsir_score_expr(F.col(text_col), lr, c0,
                                   buckets=buckets, ngrams=ngrams,
                                   seed=seed))
    return scored.filter(F.col(score_col) >= int(min_logw_x1e6))


def stream_label_agreement(df: DataFrame, item_col: str = "item",
                           label_col: str = "label") -> DataFrame:
    """Streaming majority vote — the stateful twin of
    ``extensions.analytics.label_agreement``: per micro-batch it
    emits, for every item that received votes THIS batch, the item's
    UPDATED full scorecard ``(item, n_votes, n_labels, majority_label,
    majority_n, agreement_x1e6)`` over ALL votes seen so far — a
    changelog grain where the LATEST row per item is the answer (the
    online view of an annotation/LLM-judge stream: thresholds can gate
    on agreement as votes arrive instead of waiting for the batch
    job).

    Semantics match the batch operator at every prefix of the stream:
    NULL labels are excluded before counting, the majority tiebreak is
    (count DESC, label ASC).  Streaming caveats (the family's standard
    trades, documented like stream_session_funnel's): item and label
    ride as STRINGS (state schemas are fixed — the batch operator
    preserves types; label ASC is therefore string order here), and
    there is no min_votes knob (filter downstream on n_votes).  State
    per item is its distinct-label histogram — bounded by labels per
    item, not stream length."""
    out_schema = T.StructType([
        T.StructField("item", T.StringType()),
        T.StructField("n_votes", T.LongType()),
        T.StructField("n_labels", T.LongType()),
        T.StructField("majority_label", T.StringType()),
        T.StructField("majority_n", T.LongType()),
        T.StructField("agreement_x1e6", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("labels", T.ArrayType(T.StringType(), False)),
        T.StructField("counts", T.ArrayType(T.LongType(), False)),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            labels, counts = state.get
            hist = dict(zip(list(labels), list(counts)))
        else:
            hist = {}
        new = 0
        for pdf in pdfs:
            col = pdf[label_col].dropna()
            new += len(col)
            for lab, c in col.value_counts().items():
                hist[lab] = hist.get(lab, 0) + int(c)
        if not new or not hist:
            return iter(())
        labels = sorted(hist)      # deterministic state layout
        state.update((labels, [hist[lb] for lb in labels]))
        n = sum(hist.values())
        maj, mn = sorted(hist.items(), key=lambda t: (-t[1], t[0]))[0]
        return iter([pd.DataFrame({
            "item": [key[0]], "n_votes": [n],
            "n_labels": [len(hist)], "majority_label": [maj],
            "majority_n": [mn],
            "agreement_x1e6": [mn * 1_000_000 // n]})])

    prepared = df.select(
        F.col(item_col).cast("string").alias("item"),
        F.col(label_col).cast("string").alias(label_col),
    ).filter(F.col("item").isNotNull())
    return (prepared.groupBy("item")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.NoTimeout))


def stream_score_monitor(df: DataFrame, score_col: str,
                         label_col: str, ts_col: str = "ts",
                         window: str = "10 minutes",
                         watermark: str = "30 minutes",
                         group_col: str | None = None,
                         scale: int = 1_000_000) -> DataFrame:
    """Watermarked per-window quality-score drift monitor — the
    streaming face of ``extensions.analytics.calibration_summary``:
    for each event-time window (and group) it emits ``(window_start,
    window_end, group?, n, pos_rate_x, mean_score_x, brier_x)`` —
    the online "did this hour's crawl shift the classifier's scores
    or their accuracy" gate, built entirely from ONE streaming
    groupBy aggregate (bin-level ECE needs a second aggregation
    level, which Structured Streaming's append mode disallows — the
    documented trade; run the batch calibration_summary over the
    sink for the binned view).

    Integer-exact like the batch twin: scores quantize in-plan to
    ``round(score*scale)`` longs range-validated to [0, scale],
    labels validated 0/1, ``brier_x = sum((sq - l*scale)^2) DIV
    (n*scale)`` with DECIMAL(38,0) sums — a window's emitted row is
    bit-identical to the batch operator run over the same rows.
    Late data beyond ``watermark`` is dropped (the standard
    streaming trade)."""
    if int(scale) < 1:
        raise ValueError("stream_score_monitor: scale must be >= 1")
    df = _ensure_event_time(df, ts_col)
    df = df.withWatermark(ts_col, watermark)
    lab = F.col(label_col)
    ok = (F.when((lab == 0) | (lab == 1), lab.cast("long"))
          .otherwise(F.raise_error(F.lit(
              "stream_score_monitor: labels must be 0/1"))
              .cast("long")))
    sq0 = F.round(F.col(score_col).cast("double") * int(scale)) \
           .cast("long")
    sq = (F.when((sq0 >= 0) & (sq0 <= int(scale)), sq0)
          .otherwise(F.raise_error(F.lit(
              "stream_score_monitor: score must be a probability "
              "in [0, 1]")).cast("long")))
    g = [group_col] if group_col is not None else []
    d = df.select(F.col(ts_col), *g, sq.alias("__sq"),
                  ok.alias("__l"))
    agg = (d.groupBy(F.window(ts_col, window), *g)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__l").cast("long").alias("__p"),
                F.sum(F.col("__sq").cast("decimal(38,0)"))
                 .alias("__ss"),
                F.sum(((F.col("__sq") - F.col("__l") * int(scale))
                       * (F.col("__sq") - F.col("__l")
                          * int(scale))).cast("decimal(38,0)"))
                 .alias("__sq2")))
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"), *g, "n",
        F.expr(f"CAST(__p AS DECIMAL(38,0)) * {int(scale)} DIV n")
         .cast("long").alias("pos_rate_x"),
        F.expr("__ss DIV n").cast("long").alias("mean_score_x"),
        F.expr(f"__sq2 DIV (CAST(n AS DECIMAL(38,0)) * {int(scale)})")
         .cast("long").alias("brier_x"))


def stream_drift_monitor(df: DataFrame, reference: DataFrame,
                         key_col: str, ts_col: str = "ts",
                         window: str = "10 minutes",
                         watermark: str = "30 minutes",
                         group_col: str | None = None,
                         scale: int = 1_000_000) -> DataFrame:
    """Watermarked per-window categorical drift monitor against a
    STATIC trusted reference corpus — the streaming face of the
    batch drift family (:func:`~cascading_flink_spark.extensions.
    analytics.psi_drift` et al.): for each event-time window (and
    group) it emits ``(window_start, window_end, group?, n, n_oov,
    xent_x1e6)`` — the window's reference CROSS-ENTROPY (mean
    surprisal of this window's keys under the reference
    distribution, in 1e-6 nats) plus its out-of-vocabulary count.
    A drifting source mix raises xent smoothly; a novel key spikes
    n_oov first — the online "did this hour's crawl shift under
    us?" pager.

    Cross-entropy, not PSI/TV/JSD, because it is the drift score
    that needs NO per-window distribution: each event carries its
    own surprisal, so the whole monitor is ONE streaming groupBy
    aggregate (the two-sided scores need the window's totals before
    their per-key terms — a second aggregation level append mode
    disallows; run the batch psi_drift over the sink for those).

    Determinism recipe: the reference reduces to per-key quantized
    probabilities ``q = cnt * scale DIV total`` clamped to the
    1-quantum floor (the PSI epsilon), each carrying ``lnq_x =
    round(ln(q) * 1e6)`` (the DSIR ln recipe, computed ONCE on the
    static side); events broadcast-left-join the reference on the
    key, an absent key takes the floor's surprisal and counts in
    ``n_oov``; per-event surprisal ``round(ln(scale) * 1e6) -
    lnq_x`` is an exact long, and ``xent_x1e6 = sum DIV n`` is one
    truncating division — a window's row is bit-identical to the
    same arithmetic run in batch.  Late data beyond ``watermark``
    is dropped (the standard streaming trade).

    Scale shape: the reference frame is vocabulary-sized and static
    (broadcast once); the stream side is one map-side join + ONE
    windowed partial agg — state is |windows x groups| rows, never
    per-key."""
    import math as _math
    if int(scale) < 1_000_000:
        raise ValueError("stream_drift_monitor: scale must be >= 1e6 "
                         "(the OOV floor is 1/scale)")
    s = int(scale)
    ref = (reference.filter(F.col(key_col).isNotNull())
           .groupBy(F.col(key_col).alias("__k"))
           .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    tot = ref.agg(F.sum("__c").cast("long").alias("__t"))
    ref = (ref.crossJoin(F.broadcast(tot))
           .select("__k", F.expr(
               f"greatest(CAST(__c AS DECIMAL(38,0)) * {s} DIV __t, "
               "1)").cast("long").alias("__q"))
           .select("__k", F.expr(
               "CAST(round(ln(__q) * 1000000, 0) AS BIGINT)")
               .alias("__lnq")))
    ln_s = int(_math.floor(_math.log(s) * 1_000_000 + 0.5))
    df = _ensure_event_time(df, ts_col)
    df = df.withWatermark(ts_col, watermark)
    g = [group_col] if group_col is not None else []
    d = (df.select(F.col(ts_col), *g,
                   F.col(key_col).alias("__k"))
         .join(F.broadcast(ref), "__k", "left")
         .select(F.col(ts_col), *g,
                 F.col("__lnq").isNull().cast("long").alias("__oov"),
                 (F.lit(ln_s) - F.coalesce("__lnq", F.lit(0)))
                 .cast("long").alias("__sup")))
    agg = (d.groupBy(F.window(ts_col, window), *g)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__oov").cast("long").alias("n_oov"),
                F.sum(F.col("__sup").cast("decimal(38,0)"))
                 .alias("__ss")))
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"), *g, "n", "n_oov",
        F.expr("__ss DIV n").cast("long").alias("xent_x1e6"))


def stream_psi_monitor(df: DataFrame, reference: DataFrame,
                       key_col: str, ts_col: str = "ts",
                       window: str = "10 minutes",
                       watermark: str = "30 minutes",
                       group_col: str | None = None,
                       scale: int = 1_000_000,
                       max_keys: int = 256) -> DataFrame:
    """Watermarked per-window two-sample PSI against a static trusted
    reference snapshot (VERDICT r12 Next #7) — the streaming twin of
    :func:`~cascading_flink_spark.extensions.analytics.psi_drift`:
    for each event-time window (and group) it emits ``(window_start,
    window_end, group?, n, n_oov, n_keys, psi_x1e6)`` — the
    industry-standard "did this hour's source mix shift vs the
    known-good corpus" gate (PSI < 0.1 stable, 0.1-0.25 drifting,
    > 0.25 act), the two-sided score
    :func:`stream_drift_monitor`'s one-sided cross-entropy
    deliberately is not.

    How a two-sided score fits ONE streaming aggregate (append mode
    allows no second aggregation level): PSI's per-key terms need the
    window's per-key counts AND total — so the reference support is
    snapshotted at PLAN time (one driver pull BOUNDED by ``max_keys``,
    raising loudly past it: this monitor is for bounded categorical
    supports — language mix, source mix, event types — the case a
    production drift pager actually watches; mega-vocab PSI is the
    batch job's) and each reference key becomes ONE conditional-sum
    column in a single windowed groupBy.  The PSI fold over those
    |V| counts runs in the same SELECT.  Stream keys OUTSIDE the
    reference support pool into one OOV cell at the 1-quantum floor
    (batch psi_drift gives each novel key its own floored term —
    the documented streaming trade; ``n_oov`` spikes first anyway,
    and when the window's support is inside the reference support,
    which is the steady state a pager watches, the emitted
    ``psi_x1e6`` is BIT-IDENTICAL to batch psi_drift over the same
    rows — the parity pin).

    Determinism recipe (the psi_drift spelling, verbatim): reference
    counts are collected as exact longs but ``q = cnt * scale DIV
    total`` CLAMPED to 1 quantum and ``round(ln(q) * 1e6)`` are both
    computed IN-PLAN on literals — no Python transcendentals — and
    the window side's ``p = count * scale DIV n`` / ``ln`` terms use
    the identical expression shapes with DECIMAL(38,0) products, so
    every term is exact and nonnegative; ``psi_x1e6 = sum DIV scale``
    is one truncating division.  A reference key absent from the
    window clamps to the floor exactly as batch does (support is the
    reference vocabulary — every reference key has count >= 1 there).
    Late data beyond ``watermark`` is dropped (the standard trade).

    Scale shape: state is |windows x groups| rows of |V|+2 longs —
    never per-event; one map-side conditional-sum pass, no joins, no
    custom state.  The reference snapshot refreshes by rebuilding the
    query (it is a SNAPSHOT by design — a moving reference would make
    PSI self-referential)."""
    import math as _math
    if int(scale) < 1_000_000:
        raise ValueError("stream_psi_monitor: scale must be >= 1e6 "
                         "(the epsilon floor is 1/scale)")
    s = int(scale)
    refc = (reference.filter(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).cast("string").alias("__k"))
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            .orderBy("__k")
            .limit(int(max_keys) + 1)
            .collect())
    if len(refc) > int(max_keys):
        raise ValueError(
            f"stream_psi_monitor: reference support exceeds max_keys="
            f"{max_keys}; bounded categorical supports only — run the "
            "batch psi_drift for mega-vocab keys")
    if not refc:
        raise ValueError("stream_psi_monitor: reference is empty")
    vocab = [r["__k"] for r in refc]
    counts = {r["__k"]: r["__c"] for r in refc}
    total = sum(counts.values())

    df = _ensure_event_time(df, ts_col)
    df = df.withWatermark(ts_col, watermark)
    g = [group_col] if group_col is not None else []
    key = F.col(key_col).cast("string")
    # NULL keys drop their row — batch psi_drift parity (they count
    # into neither n, n_oov, nor any vocab cell; ADVICE r13).
    d = (df.select(F.col(ts_col), *g, key.alias("__k"))
         .filter(F.col("__k").isNotNull()))
    aggs = [F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((~F.col("__k").isin(vocab)).cast("long"))
             .cast("long").alias("n_oov")]
    for i, k in enumerate(vocab):
        aggs.append(F.sum((F.col("__k") == k).cast("long"))
                    .cast("long").alias(f"__c{i}"))
    agg = d.groupBy(F.window(ts_col, window), *g).agg(*aggs)

    def term(cnt: F.Column, q_expr: str) -> F.Column:
        # identical spelling to batch psi_drift: clamp, ln rounded
        # once to 1e-6, DECIMAL(38,0) product
        return F.expr(
            f"CAST(greatest(CAST({cnt} AS DECIMAL(38,0)) * {s} DIV n,"
            f" 1) - ({q_expr}) AS DECIMAL(38,0)) "
            f"* (CAST(round(ln(greatest(CAST({cnt} AS DECIMAL(38,0))"
            f" * {s} DIV n, 1)) * 1000000, 0) AS BIGINT) "
            f"- CAST(round(ln({q_expr}) * 1000000, 0) AS BIGINT))")

    terms = []
    for i, k in enumerate(vocab):
        # q in-plan on exact literal longs: cnt * s DIV total, clamped
        q_expr = (f"greatest(CAST({counts[k]} AS DECIMAL(38,0)) "
                  f"* {s} DIV {total}, 1)")
        terms.append(term(f"__c{i}", q_expr))
    # pooled OOV cell at the reference floor (1 quantum); zero OOV
    # makes p clamp to the floor too and the term vanish exactly
    terms.append(term("n_oov", "1"))
    psi_sum = terms[0]
    for t in terms[1:]:
        psi_sum = psi_sum + t
    n_keys = (F.lit(len(vocab)).cast("long")
              + (F.col("n_oov") > 0).cast("long"))
    staged = agg.withColumn("__psisum",
                            psi_sum.cast("decimal(38,0)"))
    return staged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"), *g, "n", "n_oov",
        n_keys.alias("n_keys"),
        F.expr(f"CAST(__psisum DIV {s} AS BIGINT)")
         .alias("psi_x1e6"))


def _grid_snapshot_agg(df: DataFrame, reference: DataFrame,
                       value_col: str, ts_col: str, window: str,
                       watermark: str, group_col: str | None, q,
                       max_keys: int, op: str, batch: str):
    """The bounded reference-grid snapshot shared by
    :func:`stream_ks_monitor` and :func:`stream_w1_monitor`: the
    reference's sorted distinct ``q``-quantized value grid with exact
    cumulative counts (one driver pull BOUNDED by ``max_keys``, raising
    loudly past it or on an empty reference), then ONE watermarked
    windowed aggregate over ``df`` of ``n``, ``n_nov`` (values off the
    grid) and one conditional-sum column ``__c<i> = sum(v <= t_i)`` per
    grid cut.  NULL values drop their row (batch parity).  ``op`` and
    ``batch`` name the monitor and its batch twin in the errors.
    Returns ``(agg, grid, cum, n_ref, group_cols)``."""
    grid_rows = (reference.filter(F.col(value_col).isNotNull())
                 .groupBy(q(F.col(value_col)).alias("__v"))
                 .agg(F.count(F.lit(1)).cast("long").alias("__c"))
                 .orderBy("__v")
                 .limit(int(max_keys) + 1)
                 .collect())
    if len(grid_rows) > int(max_keys):
        raise ValueError(
            f"{op}: reference support exceeds max_keys="
            f"{max_keys} distinct (quantized) values; raise quantize_x "
            f"coarsening or run the batch {batch} for "
            "high-cardinality scores")
    if not grid_rows:
        raise ValueError(f"{op}: reference is empty")
    grid = [r["__v"] for r in grid_rows]
    cum, running = [], 0
    for r in grid_rows:
        running += r["__c"]
        cum.append(running)
    n_ref = running

    df = _ensure_event_time(df, ts_col)
    df = df.withWatermark(ts_col, watermark)
    g = [group_col] if group_col is not None else []
    d = (df.select(F.col(ts_col), *g,
                   q(F.col(value_col)).alias("__v"))
         .filter(F.col("__v").isNotNull()))
    aggs = [F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((~F.col("__v").isin(grid)).cast("long"))
             .cast("long").alias("n_nov")]
    for i, t in enumerate(grid):
        aggs.append(F.sum((F.col("__v") <= F.lit(t)).cast("long"))
                    .cast("long").alias(f"__c{i}"))
    agg = d.groupBy(F.window(ts_col, window), *g).agg(*aggs)
    return agg, grid, cum, n_ref, g


def stream_ks_monitor(df: DataFrame, reference: DataFrame,
                      value_col: str, ts_col: str = "ts",
                      window: str = "10 minutes",
                      watermark: str = "30 minutes",
                      group_col: str | None = None,
                      quantize_x: int | None = None,
                      scale: int = 1_000_000,
                      max_keys: int = 256) -> DataFrame:
    """Watermarked per-window two-sample Kolmogorov-Smirnov monitor
    against a static trusted reference snapshot (VERDICT r13 Next #8)
    — the CONTINUOUS-score streaming twin completing the drift-monitor
    family next to the categorical :func:`stream_psi_monitor`: for
    each event-time window (and group) it emits ``(window_start,
    window_end, group?, n, n_nov, ks_x)`` — the online "did this
    hour's length/quality-score distribution shift vs the known-good
    corpus" pager, the batch face being
    :func:`~cascading_flink_spark.extensions.analytics.ks_statistic`.

    How a two-sided sup-distance fits ONE streaming aggregate (append
    mode allows no second aggregation level): the reference reduces
    at PLAN time to its sorted distinct (quantized) value GRID with
    exact cumulative counts — one driver pull BOUNDED by ``max_keys``,
    raising loudly past it (``quantize_x`` buckets raw scores in-plan
    first, the batch contract; a quality score quantized to 1e4 has
    at most 10001 cells, so pick ``max_keys``/``quantize_x``
    together) — and every grid cut becomes ONE conditional-sum column
    ``c_i = sum(v <= t_i)`` in a single windowed groupBy; the KS fold
    ``max_i |c_i * n_ref - r_i * n|`` runs as a ``greatest`` of |V|
    exact DECIMAL(38,0) terms in the same SELECT, ``ks_x`` one
    truncating DIV by ``n * n_ref`` — the ks_statistic spelling
    verbatim with side A = window, side B = reference.

    Exactness contract: the sup is evaluated on the REFERENCE grid.
    When the window's values all lie ON that grid (discrete counts,
    quantized scores — the steady state a pager watches) the merged
    value axis IS the grid and the emitted ``ks_x`` is BIT-IDENTICAL
    to batch ``ks_statistic`` over the same rows — the parity pin.  A
    window value BETWEEN grid points registers at the next cut up
    (its CDF contribution is exact there; only sup candidates at
    novel points are missed, making grid-KS a lower bound — the
    documented streaming trade), and ``n_nov`` counts novel values so
    the pager sees the support shift first, exactly like the psi
    monitor's ``n_oov``.  NULL values drop their row (batch parity).
    Late data beyond ``watermark`` is dropped (the standard trade).

    Scale shape: state is |windows x groups| rows of |V|+1 longs —
    never per-event; one map-side conditional-sum pass, no joins, no
    custom state.  The reference snapshot refreshes by rebuilding the
    query (a SNAPSHOT by design, as for the psi monitor)."""
    if int(scale) < 1:
        raise ValueError("stream_ks_monitor: scale must be >= 1")
    if quantize_x is not None and int(quantize_x) < 1:
        raise ValueError("stream_ks_monitor: quantize_x must be >= 1")
    s = int(scale)

    def _q(col):
        return (col if quantize_x is None
                else F.round(col.cast("double") * int(quantize_x))
                .cast("long"))

    agg, grid, cum, n_ref, g = _grid_snapshot_agg(
        df, reference, value_col, ts_col, window, watermark, group_col,
        _q, max_keys, "stream_ks_monitor", "ks_statistic")

    # the ks_statistic numerator spelling verbatim: side A = window
    # (cum count __ci, total n), side B = reference (literal cum r_i,
    # total n_ref); every term an exact DECIMAL(38,0)
    terms = [F.expr(f"abs(CAST(__c{i} AS DECIMAL(38,0)) * {n_ref} "
                    f"- CAST({cum[i]} AS DECIMAL(38,0)) * n)")
             for i in range(len(grid))]
    num = terms[0] if len(terms) == 1 else F.greatest(*terms)
    staged = agg.withColumn("__num", num.cast("decimal(38,0)"))
    return staged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"), *g, "n", "n_nov",
        F.expr(f"CAST(__num * {s} DIV (CAST(n AS DECIMAL(38,0)) "
               f"* {n_ref}) AS BIGINT)").alias("ks_x"))


def stream_w1_monitor(df: DataFrame, reference: DataFrame,
                      value_col: str, ts_col: str = "ts",
                      window: str = "10 minutes",
                      watermark: str = "30 minutes",
                      group_col: str | None = None,
                      quantize_x: int | None = None,
                      scale: int = 1_000_000,
                      max_keys: int = 256) -> DataFrame:
    """Watermarked per-window Wasserstein-1 (earth-mover) monitor
    against a static trusted reference snapshot — the magnitude-
    weighted twin of :func:`stream_ks_monitor` completing the
    continuous streaming pair exactly as the batch
    :func:`~cascading_flink_spark.extensions.analytics.
    wasserstein_distance` sits next to ``ks_statistic``: for each
    event-time window (and group) it emits ``(window_start,
    window_end, group?, n, n_nov, w1_x)``.  KS spikes on any sharp
    local CDF gap; W1 integrates the gap over value units, so a small
    uniform shift of the whole length/score distribution — invisible
    to a pager thresholding KS — accumulates here.

    Same bounded-snapshot recipe as the KS twin: the reference
    reduces at plan time to its sorted distinct (quantized) value
    grid with exact cumulative counts (driver pull bounded by
    ``max_keys``, loud past it), each cut becomes one conditional-sum
    column ``c_i = sum(v <= t_i)`` in a single windowed aggregate,
    and the W1 fold ``sum_i |c_i*n_ref - r_i*n| * (t_{i+1} - t_i)``
    runs in the same SELECT — the wasserstein_distance spelling
    verbatim (lead-gap weights are plan-time literals here),
    ``w1_x = sum * scale DIV (n * n_ref)`` one truncating division in
    quantized value units.  When the window's values all lie ON the
    grid the merged axis is the grid and the emitted ``w1_x`` is
    BIT-IDENTICAL to batch ``wasserstein_distance`` over the same
    rows (the parity pin); novel values register at the next cut up
    and count into ``n_nov``.  Values must be integer-valued
    (``quantize_x`` buckets raw doubles in-plan, the batch contract);
    NULL values drop their row; late data beyond ``watermark`` is
    dropped.

    Scale shape: state is |windows x groups| rows of |V|+1 longs —
    one map-side conditional-sum pass, no joins, no custom state; the
    snapshot refreshes by rebuilding the query."""
    if int(scale) < 1:
        raise ValueError("stream_w1_monitor: scale must be >= 1")
    if quantize_x is not None and int(quantize_x) < 1:
        raise ValueError("stream_w1_monitor: quantize_x must be >= 1")
    s = int(scale)

    def _q(col):
        return (col.cast("long") if quantize_x is None
                else F.round(col.cast("double") * int(quantize_x))
                .cast("long"))

    agg, grid, cum, n_ref, g = _grid_snapshot_agg(
        df, reference, value_col, ts_col, window, watermark, group_col,
        _q, max_keys, "stream_w1_monitor", "wasserstein_distance")

    # wasserstein_distance numerator verbatim: per-cut |cdf gap| *
    # lead-gap, gaps plan-time literals off the snapshot grid; the
    # last cut's lead is the end of both supports in the steady
    # state, contributing nothing (both cdfs are 1 there)
    terms = [F.expr(f"abs(CAST(__c{i} AS DECIMAL(38,0)) * {n_ref} "
                    f"- CAST({cum[i]} AS DECIMAL(38,0)) * n) "
                    f"* {grid[i + 1] - grid[i]}")
             for i in range(len(grid) - 1)]
    tot = F.lit(0).cast("decimal(38,0)") if not terms else terms[0]
    for t in terms[1:]:
        tot = tot + t
    staged = agg.withColumn("__sum", tot.cast("decimal(38,0)"))
    return staged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"), *g, "n", "n_nov",
        F.expr(f"CAST(__sum * {s} DIV (CAST(n AS DECIMAL(38,0)) "
               f"* {n_ref}) AS BIGINT)").alias("w1_x"))
