"""Streaming-native COUNT-axis windows via ``applyInPandasWithState``.

Batch mode emulates FSQL count windows with ``row_number`` (windows.py);
a streaming DataFrame forbids rank functions, so the streaming path keeps
per-key state instead — exactly the design SURVEY.md §2.9 calls for
("count-based window -> stateful op keeping a bounded deque").

Semantics (matching the batch emulation in windows.py):
  * ``[size N]``            — tumbling: each key emits one aggregated row
    per N arrived rows (window_no = 0, 1, ...).
  * ``[size N every M]``    — sliding: a trigger fires every M rows; each
    emission aggregates the last ``min(N, seen)`` rows (trigger = row
    count at the firing point).
  * ``partitioned on k``    — the group key; state and windows are per
    key, so the operator scales horizontally with key cardinality.  With
    no partition key all rows share one group — inherently sequential,
    same documented limitation as the batch path (a totally-ordered
    stream has a total order).

Aggregates supported: sum/count/min/max/avg — the complete aggregate
surface of the reference (flinkdsl/typer.scala_:276-282); avg derives
from sum/count.  State per (key, agg-col) is a bounded float buffer of
the last N values (a few KB at typical sizes), kept in the state store
across micro-batches.

Row order: within a micro-batch rows are processed in arrival order (or
by ``order_col`` when given — recommended, it pins determinism the same
way the batch emulation's row_number order does).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from ..errors import PlanError
from .windows import fresh_namer

_SUPPORTED = ("sum", "count", "min", "max", "avg")


def count_window_agg(sdf: DataFrame,
                     key_cols: list[str],
                     aggs: list[tuple[str, str, str]],
                     size: int,
                     every: Optional[int] = None,
                     order_col: Optional[object] = None) -> DataFrame:
    """Aggregate a streaming DataFrame over count-based windows.

    Parameters
    ----------
    sdf : streaming DataFrame
    key_cols : partition keys (``partitioned on``); [] = single global
        window sequence (sequential — see module docstring)
    aggs : list of ``(fn, col, alias)``, fn in sum/count/min/max/avg
    size : window extent in rows (``[size N]``)
    every : trigger period in rows (``every M``); None = tumbling
    order_col : intra-batch ordering column(s) (str or list of str) —
        recommended: event time plus a unique tiebreaker, which makes
        window contents fully deterministic

    Returns a streaming DataFrame (append output mode) with schema
    ``key_cols + [window_no] + [alias...]`` for tumbling windows, or
    ``key_cols + [trigger] + [alias...]`` for sliding (``every`` given)
    — ``trigger`` is the firing row count, matching the batch
    exploded-trigger emulation's column name and values
    (windows.py _explode_triggers).
    """
    for fn, _c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"count_window_agg supports {_SUPPORTED}, got {fn!r}")
    m = every if every is not None else size
    if m <= 0 or size <= 0:
        raise PlanError("window size/every must be positive")
    order_cols = ([order_col] if isinstance(order_col, str)
                  else list(order_col or []))

    agg_cols = [c for _f, c, _a in aggs]
    gk = fresh_namer(sdf.columns)("__gk")
    keyed = sdf if key_cols else sdf.withColumn(gk, _lit0())
    group_keys = key_cols if key_cols else [gk]

    sliding = every is not None
    win_name = "trigger" if sliding else "window_no"
    key_fields = [keyed.schema[k] for k in group_keys]
    out_schema = StructType(
        list(key_fields)
        + [StructField(win_name, LongType())]
        + [StructField(alias, DoubleType()) for _f, _c, alias in aggs])

    # state: rows seen + one bounded value-buffer per agg column, encoded
    # as a fixed-width struct (buffers as array<double>, nulls as NaN)
    state_schema = StructType(
        [StructField("seen", LongType())]
        + [StructField(f"buf{i}", _arr_double())
           for i in range(len(agg_cols))])

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            seen = row[0]
            bufs = [list(row[1 + i]) for i in range(len(agg_cols))]
        else:
            seen = 0
            bufs = [[] for _ in agg_cols]

        out_rows = []
        for pdf in pdf_iter:
            if order_cols and all(c in pdf.columns for c in order_cols):
                pdf = pdf.sort_values(order_cols, kind="mergesort")
            cols = [pdf[c].astype("float64").to_numpy() for c in agg_cols]
            for r in range(len(pdf)):
                seen += 1
                for b, arr in zip(bufs, cols):
                    b.append(float(arr[r]))
                    if len(b) > size:
                        del b[0]
                if seen % m == 0:
                    win_val = seen if sliding else seen // m - 1
                    out_rows.append(_emit(key, win_val, bufs, aggs))
        state.update(tuple([seen] + [list(b) for b in bufs]))
        if out_rows:
            yield pd.DataFrame(out_rows,
                               columns=[f.name for f in out_schema.fields])

    grouped = keyed.groupBy(*group_keys)
    out = grouped.applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return out.drop(gk) if not key_cols else out


def delta_window_agg(sdf: DataFrame,
                     key_cols: list[str],
                     aggs: list[tuple[str, str, str]],
                     size: float,
                     every: float,
                     delta_col: str) -> DataFrame:
    """Sliding DELTA-axis windows on a streaming DataFrame.

    ``[size N on col every M on col]``: a trigger fires at every multiple
    T of ``every`` on the (assumed per-key monotone non-decreasing)
    numeric column; each firing aggregates rows with col in (T-N, T] —
    the same window bounds as the batch exploded-trigger emulation
    (windows.py _explode_triggers).  Trigger T fires when the first row
    with col > T arrives, so — unlike batch end-of-data semantics — a
    trigger exactly at the maximum seen value stays open.  State per key
    is the bounded row buffer of the trailing ``size`` units plus the
    last fired trigger.

    Output schema: key_cols + [trigger] + aliases (append mode).
    """
    for fn, _c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"delta_window_agg supports {_SUPPORTED}, got {fn!r}")
    if size <= 0 or every <= 0:
        raise PlanError("window size/every must be positive")

    agg_cols = [c for _f, c, _a in aggs]
    gk = fresh_namer(sdf.columns)("__gk")
    keyed = sdf if key_cols else sdf.withColumn(gk, _lit0())
    group_keys = key_cols if key_cols else [gk]
    key_fields = [keyed.schema[k] for k in group_keys]
    out_schema = StructType(
        list(key_fields)
        + [StructField("trigger", DoubleType())]
        + [StructField(alias, DoubleType()) for _f, _c, alias in aggs])
    # state: last fired trigger, position buffer, one value buffer per agg
    state_schema = StructType(
        [StructField("last_t", DoubleType()),
         StructField("pos", _arr_double())]
        + [StructField(f"buf{i}", _arr_double())
           for i in range(len(agg_cols))])

    import math

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            last_t = row[0]
            pos = list(row[1])
            bufs = [list(row[2 + i]) for i in range(len(agg_cols))]
        else:
            last_t = None
            pos = []
            bufs = [[] for _ in agg_cols]

        out_rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(delta_col, kind="mergesort")
            cvals = pdf[delta_col].astype("float64").to_numpy()
            vcols = [pdf[c].astype("float64").to_numpy() for c in agg_cols]
            for r in range(len(pdf)):
                c = float(cvals[r])
                # fire every trigger T (multiple of `every`) with
                # last_t < T < c before admitting this row
                t = math.floor((c - 1e-12) / every) * every
                first = (math.floor(pos[0] / every) * every
                         if pos else t) - every
                start = last_t if last_t is not None else first
                nxt = math.floor(start / every) * every + every
                while nxt < c - 1e-12:
                    emitted = _emit_delta(key, nxt, pos, bufs, aggs, size)
                    if emitted is not None:   # skip row-less triggers
                        out_rows.append(emitted)
                    last_t = nxt
                    nxt += every
                pos.append(c)
                for b, arr in zip(bufs, vcols):
                    b.append(float(arr[r]))
                # prune: rows at col <= last_t - size serve no future
                # trigger (triggers only move forward)
                if last_t is not None:
                    cut = last_t - size
                    drop = 0
                    while drop < len(pos) and pos[drop] <= cut + 1e-12:
                        drop += 1
                    if drop:
                        del pos[:drop]
                        for b in bufs:
                            del b[:drop]
        state.update(tuple([last_t, list(pos)]
                           + [list(b) for b in bufs]))
        if out_rows:
            yield pd.DataFrame(out_rows,
                               columns=[f.name for f in out_schema.fields])

    grouped = keyed.groupBy(*group_keys)
    out = grouped.applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return out.drop(gk) if not key_cols else out


def _emit_delta(key, trigger, pos, bufs, aggs, size):
    import math
    row = list(key) + [float(trigger)]
    lo, hi = trigger - size, trigger
    idx = [i for i, p in enumerate(pos)
           if lo + 1e-12 < p <= hi + 1e-12]
    if not idx:
        # batch parity: a trigger with no co-resident rows produces no
        # output row (windows.py joins rows TO triggers)
        return None
    for (fn, _c, _a), buf in zip(aggs, bufs):
        vals = [buf[i] for i in idx if not math.isnan(buf[i])]
        if fn == "count":
            row.append(float(len(vals)))
        elif not vals:
            row.append(None)
        elif fn == "sum":
            row.append(float(sum(vals)))
        elif fn == "min":
            row.append(float(min(vals)))
        elif fn == "max":
            row.append(float(max(vals)))
        else:
            row.append(float(sum(vals)) / len(vals))
    return row


def _emit(key, win_val, bufs, aggs):
    import math
    row = list(key) + [win_val]
    for (fn, _c, _a), buf in zip(aggs, bufs):
        vals = [v for v in buf if not math.isnan(v)]
        if fn == "count":
            row.append(float(len(vals)))
        elif not vals:
            row.append(None)
        elif fn == "sum":
            row.append(float(sum(vals)))
        elif fn == "min":
            row.append(float(min(vals)))
        elif fn == "max":
            row.append(float(max(vals)))
        else:  # avg
            row.append(float(sum(vals)) / len(vals))
    return row


def _lit0():
    from pyspark.sql import functions as F
    return F.lit(0)


def _arr_double():
    from pyspark.sql.types import ArrayType
    return ArrayType(DoubleType())


def running_agg(sdf: DataFrame,
                key_cols: list[str],
                aggs: list[tuple[str, Optional[str], str]],
                order_cols: list[str],
                offsets: Optional[list[tuple]] = None,
                firsts: Optional[list[tuple]] = None,
                nths: Optional[list[tuple]] = None,
                ranks: Optional[list[tuple]] = None,
                lasts: Optional[list[tuple]] = None) -> DataFrame:
    """Per-ROW running aggregates over a keyed stream — the streaming
    form of the batch analytic ``agg(x) OVER (PARTITION BY key ORDER BY
    t ROWS UNBOUNDED PRECEDING..CURRENT ROW)``: every arriving row is
    emitted with the aggregate of all rows seen so far for its key.

    Parameters
    ----------
    aggs : ``(fn, col, alias)``; fn in sum/count/min/max/avg, col None
        means ``count(*)``.  Inputs must be numeric (DecimalType is
        rejected — Arrow round-trips it through Python objects, so
        cast to double first).
    offsets : ``(col, k, default, alias [, ignore_nulls])`` lag specs
        — the streaming
        form of ``lag(col, k, default) OVER (PARTITION BY key ORDER
        BY t)``: each row is emitted with the column value k rows
        earlier for its key, or ``default`` where no such row exists.
        ``k >= 0`` only (lag looks backward — a stream cannot look
        ahead); state per (key, spec) is the last k values, O(k)
        independent of stream length.  Any non-decimal atomic column
        type is allowed; output type is the input column's.  A
        nullable integral lag shares the running-sum per-value
        premise: values are exact below 2^53 (the Arrow float64
        transfer bound).  With ``ignore_nulls`` (r11) the tail keeps
        the last k NON-null values and each row is emitted with the
        k-th most recent non-null strictly before it — still O(k).
    firsts : ``(col, alias [, ignore_nulls])`` first_value specs —
        each row is emitted
        with its key's FIRST row's value (possibly NULL, the
        ignoreNulls=False default both engines share).  State per
        (key, spec) is one captured value plus a set-flag — O(1); the
        empty-vs-[NULL] array distinction is what separates "not yet
        seen" from "first value was NULL".  Same atomic-type rules as
        offsets.  With ``ignore_nulls`` (r11) the capture waits for
        the key's first NON-null value; rows before it emit NULL.
    nths : ``(col, n, alias [, ignore_nulls])`` nth_value specs
        (n >= 1) — each row is
        emitted with the value at its key's n-th row in order, or
        NULL while fewer than n rows have arrived (the batch
        ``nth_value(col, n)`` under the running ROWS frame).  State
        per (key, spec) is the first n values — O(n), stream-length
        independent; the buffer LENGTH (not nullness) marks how many
        rows are captured, so NULL values buffer exactly.  Same
        atomic-type rules as offsets.  With ``ignore_nulls`` (r11)
        the buffer keeps the first n NON-null values and a row sees
        the n-th once n non-nulls have arrived at or before it.
    lasts : ``(col, alias)`` IGNORE-NULLS last_value specs (r11) —
        each row is emitted with its key's most recent NON-null value
        at or before it (NULL until one arrives): the streaming
        ``last_value(col) IGNORE NULLS`` under the running ROWS frame
        (the RESPECT-NULLS form is the current row and compiles
        inline planner-side, no spec here).  State per (key, spec) is
        one captured value — O(1).
    ranks : ``(kind, alias)`` ranking specs, kind in ``rank`` /
        ``dense_rank`` (r11) — each row is emitted with its SQL rank
        over the rows seen so far for its key: peers (rows equal on
        every order column; NULL peers NULL, matching the batch
        window's ascending NULLS-FIRST grouping) share a rank, rank
        jumps past peer runs while dense_rank increments by one per
        distinct order key.  State per key is the LAST row's order-key
        values (one captured value per order column, shared across
        specs) plus one scalar per spec — O(1), stream-length
        independent: a peer run can only continue at the state
        boundary through the last row seen.  Output is long (cast to
        int planner-side for batch-dtype parity).  Order columns must
        be atomic and non-decimal when ranks are used (the captured
        last key round-trips through the Arrow state store).
    order_cols : intra-batch processing order (event time + a unique
        tiebreaker pins determinism); NULL order keys sort FIRST,
        matching Spark's ascending default in the batch window.
        Cross-batch order is arrival order — the same documented
        premise as the count windows above (a single-file availableNow
        source is one ordered batch).

    State per (key, agg) is O(1) scalars (non-null count + running
    sum/min/max) — no buffer at all, so state size is independent of
    stream length; a billion-row key costs the same bytes as a ten-row
    key.  Output: every input column (in input order) followed by one
    column per alias; append mode, one output row per input row.

    Output types follow the batch window's: count -> long, avg ->
    double, sum -> long for integral inputs else double, min/max ->
    the input type.  The per-batch computation is vectorized
    (numpy cumulative ops seeded with the carried-in state scalars):
    integral columns accumulate in int64 — with or without NULLs —
    so running totals keep JVM-long wraparound parity instead of
    drifting once past 2^53 (a nullable integral column itself
    arrives from Arrow as float64, so its individual VALUES are exact
    only below 2^53 — that per-value transfer bound is the one
    documented premise); double sums seed the cumsum with the
    carried-in state, so the addition order across micro-batches is
    (carry+x1)+x2+..., the same sequential order as the batch
    engine's and DuckDB's cumulative frame when the order key is
    unique.  Premise shared with every Arrow-batched path: a NULL in
    a double column arrives in pandas as NaN, so NaN values are
    treated as NULL (batch Spark would propagate a true NaN into the
    running sum — the distinction does not survive Arrow).
    """
    import numpy as np
    from pyspark.sql.types import (ArrayType, DecimalType, FractionalType,
                                   IntegralType, NumericType)

    # normalize the optional trailing ignore_nulls flag on each spec
    # kind (older callers pass the short tuples)
    offsets = [(o + (False,) if len(o) == 4 else o)
               for o in (offsets or [])]
    firsts = [(f + (False,) if len(f) == 2 else f)
              for f in (firsts or [])]
    nths = [(x + (False,) if len(x) == 3 else x) for x in (nths or [])]
    ranks = ranks or []
    lasts = lasts or []
    for fn, c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"running_agg supports {_SUPPORTED}, got {fn!r}")
        if c is None and fn != "count":
            raise PlanError(f"{fn}(*) is not valid")
    for kind, _a in ranks:
        if kind not in ("rank", "dense_rank"):
            raise PlanError(
                f"running_agg rank specs support rank/dense_rank, "
                f"got {kind!r}")
    if not aggs and not offsets and not firsts and not nths \
            and not ranks and not lasts:
        raise PlanError("running_agg needs at least one aggregate, "
                        "lag, first_value, last_value, nth_value, or "
                        "rank spec")
    if not order_cols:
        raise PlanError("running_agg requires an ordering column")
    missing = [c for c in order_cols if c not in sdf.columns]
    if missing:
        raise PlanError(
            f"running_agg order column(s) {missing} not found in "
            f"input columns {sdf.columns}")

    in_fields = list(sdf.schema.fields)
    by_name = {f.name: f for f in in_fields}
    integral: list[bool] = []
    for fn, c, _a in aggs:
        if c is None:
            integral.append(True)
            continue
        t = by_name[c].dataType
        if not isinstance(t, NumericType) or isinstance(t, DecimalType):
            raise PlanError(
                f"running {fn}({c}) needs a non-decimal numeric "
                f"column, got {t.simpleString()} (cast decimals to "
                f"double first)")
        # avg accumulates its numerator in float64 even for integral
        # inputs — batch Spark's Average keeps a DOUBLE sum buffer for
        # longs, so an int64 numerator would diverge from batch once
        # the running total passes 2^53 (round-10 ADVICE); sum keeps
        # the int64 path for JVM-long wraparound parity
        integral.append(isinstance(t, IntegralType) and fn != "avg")

    from pyspark.sql.types import (BooleanType, FractionalType, MapType,
                                   StringType)
    checked_offsets: list[tuple] = []
    for c, k, dflt, a, ign in offsets:
        if c not in by_name:
            raise PlanError(
                f"lag column {c!r} not found in input columns "
                f"{sdf.columns}")
        t = by_name[c].dataType
        if isinstance(t, DecimalType):
            raise PlanError(
                f"lag({c}) on a decimal column is not supported on "
                f"streams (cast to double first)")
        if isinstance(t, (ArrayType, MapType, StructType)):
            raise PlanError(
                f"lag({c}) needs an atomic column type, got "
                f"{t.simpleString()}")
        if not isinstance(k, int) or isinstance(k, bool) or k < 0:
            raise PlanError("lag offset must be an integer >= 0")
        # type-check the default at PLAN time: a mismatched literal
        # would otherwise die in the executor as an opaque Arrow
        # conversion error on the first micro-batch
        if dflt is not None:
            if isinstance(t, StringType):
                ok = isinstance(dflt, str)
            elif isinstance(t, BooleanType):
                ok = isinstance(dflt, bool)
            elif isinstance(t, IntegralType):
                ok = isinstance(dflt, int) and not isinstance(dflt, bool)
            elif isinstance(t, FractionalType):
                ok = isinstance(dflt, (int, float)) \
                    and not isinstance(dflt, bool)
                if ok:
                    dflt = float(dflt)
            else:
                ok = False        # date/timestamp/binary: NULL only
            if not ok:
                raise PlanError(
                    f"lag({c}) default {dflt!r} does not match the "
                    f"column type {t.simpleString()} (use a matching "
                    f"literal or omit the default)")
        checked_offsets.append((c, k, dflt, a, bool(ign)))
    offsets = checked_offsets
    def _check_value_col(c: str, what: str) -> None:
        if c not in by_name:
            raise PlanError(
                f"{what} column {c!r} not found in input columns "
                f"{sdf.columns}")
        t = by_name[c].dataType
        if isinstance(t, DecimalType):
            raise PlanError(
                f"{what}({c}) on a decimal column is not "
                f"supported on streams (cast to double first)")
        if isinstance(t, (ArrayType, MapType, StructType)):
            raise PlanError(
                f"{what}({c}) needs an atomic column type, got "
                f"{t.simpleString()}")

    for c, _a, _ig in firsts:
        _check_value_col(c, "first_value")
    for c, n, _a, _ig in nths:
        _check_value_col(c, "nth_value")
        if not isinstance(n, int) or isinstance(n, bool) or n < 1:
            raise PlanError("nth_value n must be an integer >= 1")
    for c, _a in lasts:
        _check_value_col(c, "last_value")
    if ranks:
        # the captured last order key lives in the Arrow state store —
        # same atomic/non-decimal rules as the lag tail
        for oc in order_cols:
            _check_value_col(oc, "rank/dense_rank ORDER BY")

    def _out_type(i):
        fn, c, _a = aggs[i]
        if fn == "count":
            return LongType()
        if fn == "avg":
            return DoubleType()
        if fn == "sum":
            return LongType() if integral[i] else DoubleType()
        return by_name[c].dataType                     # min/max
    out_schema = StructType(
        in_fields + [StructField(a, _out_type(i))
                     for i, (_f, _c, a) in enumerate(aggs)]
        + [StructField(a, by_name[c].dataType)
           for c, _k, _d, a, _ig in offsets]
        + [StructField(a, by_name[c].dataType) for c, a, _ig in firsts]
        + [StructField(a, by_name[c].dataType)
           for c, _n, a, _ig in nths]
        + [StructField(a, LongType()) for _k, a in ranks]
        + [StructField(a, by_name[c].dataType) for c, a in lasts])

    # state: rows seen + per-agg (non-null n, sum, min, max) scalars
    def _acc_type(i):
        return LongType() if integral[i] else DoubleType()
    state_fields = [StructField("seen", LongType())]
    for i in range(len(aggs)):
        state_fields += [StructField(f"n{i}", LongType()),
                         StructField(f"s{i}", _acc_type(i)),
                         StructField(f"mn{i}", _acc_type(i)),
                         StructField(f"mx{i}", _acc_type(i))]
    # lag state: the last k values per spec (O(k), stream-length
    # independent), typed as an array of the input column's type
    for j, (c, _k, _d, _a, _ig) in enumerate(offsets):
        state_fields.append(
            StructField(f"tl{j}", ArrayType(by_name[c].dataType)))
    # first_value state: one captured value per spec — the empty
    # array means "not yet seen", [NULL] means "first value was NULL"
    # (under IGNORE NULLS the capture waits for a non-null, so [NULL]
    # never occurs there)
    for j, (c, _a, _ig) in enumerate(firsts):
        state_fields.append(
            StructField(f"fv{j}", ArrayType(by_name[c].dataType)))
    # nth_value state: the first n values per spec (O(n)); the array
    # LENGTH marks how many rows are captured (NULL values buffer;
    # under IGNORE NULLS only non-nulls do)
    for j, (c, _n, _a, _ig) in enumerate(nths):
        state_fields.append(
            StructField(f"nv{j}", ArrayType(by_name[c].dataType)))
    # IGNORE-NULLS last_value state: the most recent non-null per
    # spec — empty array until one arrives
    for j, (c, _a) in enumerate(lasts):
        state_fields.append(
            StructField(f"lv{j}", ArrayType(by_name[c].dataType)))
    # rank state: one last-emitted value per spec, plus the LAST row's
    # order-key values (one single-element array per order column,
    # shared by every spec — empty array = no row seen yet, [NULL] =
    # last key was NULL; the first_value encoding)
    for j in range(len(ranks)):
        state_fields.append(StructField(f"rk{j}", LongType()))
    if ranks:
        for m, oc in enumerate(order_cols):
            state_fields.append(
                StructField(f"lk{m}", ArrayType(by_name[oc].dataType)))
    state_schema = StructType(state_fields)
    tail_base = 1 + 4 * len(aggs)
    first_base = tail_base + len(offsets)
    nth_base = first_base + len(firsts)
    last_base = nth_base + len(nths)
    rank_base = last_base + len(lasts)
    lk_base = rank_base + len(ranks)

    gk = fresh_namer(sdf.columns)("__gk")
    keyed = sdf if key_cols else sdf.withColumn(gk, _lit0())
    group_keys = key_cols if key_cols else [gk]
    agg_cols = [c for _f, c, _a in aggs]
    out_names = [f.name for f in out_schema.fields]

    def _obj_values(v: pd.Series, t) -> "object":
        """A pass-through input column as an object ndarray with None
        for NULL — the one representation Arrow converts back to the
        declared column type losslessly for every supported kind
        (float NaN and int-as-float would otherwise leak through)."""
        if isinstance(t, IntegralType):
            return pd.array(v, dtype="Int64").to_numpy(
                dtype=object, na_value=None)
        if isinstance(t, FractionalType):
            a = v.to_numpy(dtype="float64", copy=False)
            out = a.astype(object)
            out[np.isnan(a)] = None
            return out
        out = v.to_numpy(dtype=object, copy=True)
        na = pd.isna(out)
        if na.any():
            out[na] = None
        return out

    def _py(x):
        if x is None:
            return None
        if isinstance(x, np.generic):
            return x.item()
        if isinstance(x, pd.Timestamp):
            return x.to_pydatetime()
        return x

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            seen = row[0]
            accs = [list(row[1 + 4 * i: 5 + 4 * i])
                    for i in range(len(aggs))]
            tails = [list(row[tail_base + j] or ())
                     for j in range(len(offsets))]
            fvals = [list(row[first_base + j] or ())
                     for j in range(len(firsts))]
            nbufs = [list(row[nth_base + j] or ())
                     for j in range(len(nths))]
            lvals = [list(row[last_base + j] or ())
                     for j in range(len(lasts))]
            rvals = [row[rank_base + j] for j in range(len(ranks))]
            lastkey = ([list(row[lk_base + m] or ())
                        for m in range(len(order_cols))]
                       if ranks else [])
        else:
            seen = 0
            accs = [[0, None, None, None] for _ in aggs]
            tails = [[] for _ in offsets]
            fvals = [[] for _ in firsts]
            nbufs = [[] for _ in nths]
            lvals = [[] for _ in lasts]
            rvals = [0 for _ in ranks]
            lastkey = [[] for _ in order_cols] if ranks else []

        # a key's batch rows may arrive as several chunks; the sort
        # must be over ALL of them or chunk boundaries would corrupt
        # the processing order (count_window_agg's windows are
        # chunk-order-insensitive per emission; running values are not)
        chunks = list(pdf_iter)
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
            # NULLS FIRST: Spark's ascending default, which the
            # batch window this operator mirrors uses (order_cols
            # are validated against the input schema up front, so
            # the sort never silently degrades to arrival order)
            pdf = pdf.sort_values(order_cols, kind="mergesort",
                                  na_position="first")
            pdf = pdf.reset_index(drop=True)
            n_rows = len(pdf)
            res = pdf.copy()
            star = np.arange(1, n_rows + 1, dtype="int64") + seen
            cum_cache: dict = {}
            for i, (afn, c, _a) in enumerate(aggs):
                acc = accs[i]
                if c is None:                          # count(*)
                    res[aggs[i][2]] = star
                    continue
                key_c = (c, integral[i])
                if key_c in cum_cache:
                    nn, rs, rmn, rmx = cum_cache[key_c]
                else:
                    v = pdf[c]
                    mask = v.notna().to_numpy()
                    nn = mask.cumsum() + acc[0]
                    if integral[i] and v.dtype.kind == "i":
                        # non-null int64 end to end: exact, and
                        # overflow wraps exactly like the JVM long
                        # adds of the batch window
                        arr = v.to_numpy()
                        rs = arr.cumsum(dtype="int64") \
                            + np.int64(acc[1] or 0)
                        rmn = np.minimum.accumulate(
                            arr if acc[2] is None else
                            np.minimum(arr, np.int64(acc[2])))
                        rmx = np.maximum.accumulate(
                            arr if acc[3] is None else
                            np.maximum(arr, np.int64(acc[3])))
                    elif integral[i]:
                        # nullable integral: Arrow hands the column
                        # over as float64 with NaN nulls (each VALUE
                        # exact below 2^53 — the documented transfer
                        # bound), but the RUNNING totals accumulate
                        # in int64 so long sums keep JVM wraparound
                        # parity instead of losing precision once the
                        # total passes 2^53
                        arr = v.to_numpy(dtype="float64", copy=False)
                        nanmask = np.isnan(arr)
                        ints = np.where(nanmask, 0, arr).astype("int64")
                        rs = ints.cumsum(dtype="int64") \
                            + np.int64(acc[1] or 0)
                        # masked min/max: null rows contribute the
                        # identity, so they never move the running
                        # extreme; all-null prefixes are nulled by
                        # the nn==0 mask below
                        hi = np.int64(np.iinfo("int64").max)
                        lo = np.int64(np.iinfo("int64").min)
                        mn_in = np.where(nanmask, hi, ints)
                        if acc[2] is not None:
                            mn_in = np.minimum(mn_in, np.int64(acc[2]))
                        rmn = np.minimum.accumulate(mn_in)
                        mx_in = np.where(nanmask, lo, ints)
                        if acc[3] is not None:
                            mx_in = np.maximum(mx_in, np.int64(acc[3]))
                        rmx = np.maximum.accumulate(mx_in)
                    else:
                        # double path: NaN marks null.  x + 0.0 is
                        # bitwise x for every finite x, so
                        # substituting 0 for NULL keeps the cumsum
                        # identical to skipping nulls; seeding the
                        # cumsum with the carry makes the cross-batch
                        # addition order (carry+x1)+x2+... — the same
                        # sequence the batch cumulative frame
                        # evaluates; fmin/fmax ignore NaN
                        arr = v.to_numpy(dtype="float64", copy=False)
                        filled = np.where(np.isnan(arr), 0.0, arr)
                        rs = np.concatenate(
                            ([acc[1] or 0.0], filled)).cumsum()[1:]
                        seed2 = np.nan if acc[2] is None else acc[2]
                        seed3 = np.nan if acc[3] is None else acc[3]
                        rmn = np.fmin.accumulate(np.fmin(arr, seed2)) \
                            if not np.isnan(seed2) \
                            else np.fmin.accumulate(arr)
                        rmx = np.fmax.accumulate(np.fmax(arr, seed3)) \
                            if not np.isnan(seed3) \
                            else np.fmax.accumulate(arr)
                    cum_cache[key_c] = (nn, rs, rmn, rmx)
                empty = nn == 0                       # no value yet
                alias = aggs[i][2]

                def _nullable(a):
                    # int64 results must not upcast to float64 when
                    # the empty-prefix mask applies (precision + a
                    # NaN under a LongType field): use pandas'
                    # nullable Int64.  float64 NaN converts to an
                    # Arrow null (the shared NaN==NULL premise).
                    if a.dtype.kind == "i":
                        s = pd.array(a, dtype="Int64")
                        s[empty] = pd.NA
                        return s
                    return pd.Series(a).mask(empty, None)
                if afn == "count":
                    res[alias] = nn
                elif afn == "avg":
                    with np.errstate(invalid="ignore", divide="ignore"):
                        av = rs.astype("float64") / nn
                    res[alias] = _nullable(av)
                elif afn == "sum":
                    res[alias] = _nullable(rs)
                elif afn == "min":
                    res[alias] = _nullable(rmn)
                else:
                    res[alias] = _nullable(rmx)
                # carry the batch-final scalars forward
                acc[0] = int(nn[-1])
                if acc[0] > 0:
                    last = n_rows - 1
                    cast = (lambda x: int(x)) if integral[i] \
                        else (lambda x: float(x))
                    acc[1] = cast(rs[last])
                    acc[2] = None if (not integral[i]
                                      and np.isnan(rmn[last])) \
                        else cast(rmn[last])
                    acc[3] = None if (not integral[i]
                                      and np.isnan(rmx[last])) \
                        else cast(rmx[last])
            for j, (c, k, dflt, alias, ign) in enumerate(offsets):
                vals = _obj_values(pdf[c], by_name[c].dataType)
                if k == 0:                    # lag 0 is the value itself
                    res[alias] = pd.Series(vals, dtype=object)
                    continue
                tail = tails[j]
                if ign:
                    # IGNORE NULLS: the tail carries the last k
                    # NON-null values; row i's answer is the k-th most
                    # recent non-null strictly before it — index
                    # (len(tail) + #batch-non-nulls-before-i - k)
                    # into tail+batch-non-nulls, default when negative
                    m = np.array([v is not None for v in vals],
                                 dtype=bool)
                    nn = np.concatenate(
                        [np.array(tail, dtype=object), vals[m]])
                    c_excl = np.concatenate(
                        ([0], m.cumsum()[:-1])) + len(tail)
                    idx = c_excl - k
                    out = np.empty(n_rows, dtype=object)
                    out[:] = dflt
                    ok = idx >= 0
                    if ok.any():
                        out[ok] = nn[idx[ok]]
                    res[alias] = pd.Series(out, dtype=object)
                    tails[j] = [_py(x) for x in nn[max(0, len(nn) - k):]]
                    continue
                # global row g's lag-k lives at g-k: rows [seen-k,
                # seen-1] are the carried tail, earlier rows get the
                # default.  Prepending (default-pad + tail) — exactly
                # k cells — makes ext[i] the lag of batch row i.
                pad = np.empty(k - len(tail), dtype=object)
                pad[:] = dflt
                ext = np.concatenate(
                    [pad, np.array(tail, dtype=object), vals])
                res[alias] = pd.Series(ext[:n_rows], dtype=object)
                tails[j] = [_py(x) for x in ext[len(ext) - k:]]
            for j, (c, alias, ign) in enumerate(firsts):
                if ign and not fvals[j]:
                    # IGNORE NULLS: the capture waits for the key's
                    # first NON-null; rows before it (this batch's
                    # prefix — earlier batches already emitted NULL)
                    # see NULL
                    vals = _obj_values(pdf[c], by_name[c].dataType)
                    hit = next((i for i, v in enumerate(vals)
                                if v is not None), None)
                    out = np.empty(n_rows, dtype=object)
                    if hit is None:
                        out[:] = None
                    else:
                        fvals[j] = [_py(vals[hit])]
                        out[:hit] = None
                        out[hit:] = fvals[j][0]
                    res[alias] = pd.Series(out, dtype=object)
                    continue
                if not fvals[j]:
                    # capture the key's very first row's value —
                    # via the object conversion so NULL/ints survive
                    fvals[j] = [_py(
                        _obj_values(pdf[c].iloc[:1],
                                    by_name[c].dataType)[0])]
                res[alias] = pd.Series([fvals[j][0]] * n_rows,
                                       dtype=object)
            for j, (c, n, alias, ign) in enumerate(nths):
                buf = nbufs[j]
                if ign:
                    # IGNORE NULLS: buffer the first n NON-null
                    # values (buffer length = min(non-nulls seen, n),
                    # so it doubles as the carried non-null count); a
                    # row sees the n-th once n non-nulls have arrived
                    # at or before it
                    vals = _obj_values(pdf[c], by_name[c].dataType)
                    m = np.array([v is not None for v in vals],
                                 dtype=bool)
                    before = len(buf)
                    if before < n:
                        buf.extend(_py(x)
                                   for x in vals[m][:n - before])
                    c_incl = m.cumsum() + before
                    out = np.empty(n_rows, dtype=object)
                    out[:] = None
                    if len(buf) >= n:
                        out[c_incl >= n] = buf[n - 1]
                    res[alias] = pd.Series(out, dtype=object)
                    continue
                if len(buf) < n:
                    # slice BEFORE the object conversion: only the
                    # n - len(buf) leading values are needed, never
                    # the whole batch column (the first_value slicing
                    # rationale)
                    vals = _obj_values(
                        pdf[c].iloc[:n - len(buf)],
                        by_name[c].dataType)
                    buf.extend(_py(x) for x in vals)
                # local row i sits at global position seen + i + 1;
                # rows at or past position n see the captured value
                # (by then the buffer is complete — it filled from
                # this batch's own prefix), earlier rows see NULL
                out = np.empty(n_rows, dtype=object)
                k = min(n_rows, max(0, n - seen - 1))
                out[:k] = None
                out[k:] = buf[n - 1] if len(buf) >= n else None
                res[alias] = pd.Series(out, dtype=object)
            for j, (c, alias) in enumerate(lasts):
                # IGNORE-NULLS last_value: the most recent non-null at
                # or before each row — vectorized ffill over positions
                # of non-nulls, seeded with the carried capture
                vals = _obj_values(pdf[c], by_name[c].dataType)
                m = np.array([v is not None for v in vals], dtype=bool)
                pos = np.where(m, np.arange(n_rows), -1)
                last_pos = np.maximum.accumulate(pos)
                carry = lvals[j][0] if lvals[j] else None
                out = np.where(last_pos >= 0,
                               vals[np.maximum(last_pos, 0)], carry)
                res[alias] = pd.Series(out, dtype=object)
                if m.any():
                    lvals[j] = [_py(vals[last_pos[-1]])]
            if ranks:
                # isnew[i]: row i starts a new peer run — it differs
                # from row i-1 on ANY order column (NULL peers NULL,
                # matching the NULLS-FIRST sort above; a float NaN is
                # NA to pandas, the shared NaN==NULL premise)
                isnew = np.zeros(n_rows, dtype=bool)
                for oc in order_cols:
                    a = pdf[oc]
                    prev = a.shift()
                    eq = (a == prev) | (a.isna() & prev.isna())
                    d = (~eq).to_numpy(dtype=bool)
                    d[0] = False
                    isnew |= d
                if seen == 0:
                    isnew[0] = True
                else:
                    # row 0 continues the carried peer run only when
                    # it equals the LAST row's captured order key
                    same = True
                    for m, oc in enumerate(order_cols):
                        cur = _py(_obj_values(
                            pdf[oc].iloc[:1], by_name[oc].dataType)[0])
                        prv = lastkey[m][0] if lastkey[m] else None
                        if not ((cur is None and prv is None)
                                or (cur is not None and prv is not None
                                    and cur == prv)):
                            same = False
                            break
                    isnew[0] = not same
                newcum = isnew.cumsum()
                for j, (kind, alias) in enumerate(ranks):
                    if kind == "dense_rank":
                        # one increment per distinct order key; the
                        # carried scalar is the last emitted dense rank
                        vals = np.int64(rvals[j]) + newcum
                    else:
                        # rank = global position where a run starts,
                        # held flat across the run; positions only
                        # grow, so a running max over (position if
                        # new else 0 / the carried rank at row 0)
                        # reproduces SQL rank incrementally
                        cand = np.where(isnew, star, np.int64(0))
                        if not isnew[0]:
                            cand[0] = rvals[j]
                        vals = np.maximum.accumulate(cand)
                    res[alias] = vals
                    rvals[j] = int(vals[-1])
                lastkey = [
                    [_py(_obj_values(pdf[oc].iloc[n_rows - 1:],
                                     by_name[oc].dataType)[0])]
                    for oc in order_cols]
            seen += n_rows
            cols = [c for c in out_names if c in res.columns]
            yield res[cols]
        state.update(tuple(
            [seen] + [x for acc in accs for x in acc]
            + [tails[j] for j in range(len(offsets))]
            + [fvals[j] for j in range(len(firsts))]
            + [nbufs[j] for j in range(len(nths))]
            + [lvals[j] for j in range(len(lasts))]
            + [rvals[j] for j in range(len(ranks))]
            + (lastkey if ranks else [])))

    grouped = keyed.groupBy(*group_keys)
    out = grouped.applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return out.drop(gk) if not key_cols else out
