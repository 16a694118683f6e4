"""QueryPlan → DataFrame (batch execution).

Everything here is declarative DataFrame/SQL assembly — Catalyst does
predicate pushdown, column pruning, join selection (broadcast for dim
tables) and whole-stage codegen.  Pipeline order mirrors the reference
(``stream/processor_data.go:84-110, 383-493``):

    join-enrich → analytic eval → WHERE → window assign → aggregate
    → HAVING → DISTINCT → ORDER BY → LIMIT

Scale notes per operator are inline; the only non-Catalyst paths are
the global-window TRIGGER WHEN general predicate (pandas-segmented,
keyed) — counting windows and count-only triggers stay JVM-side.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..dialect import nodes as N
from ..dialect.planner import WINDOW_END_COL, WINDOW_START_COL
from ..dialect.render import render
from ..plans.plan import TIMEUNIT_SECONDS, AnalyticSpec, QueryPlan

_TS = "__event_time__"
_ROWID = "__row_id__"


class ExecError(ValueError):
    pass


def replace_ref_tokens(sql: str | None, mapping: dict[str, str]) -> str | None:
    """Whole-token textual replacement of expression references — the
    Spark analog of rewriteGroupColumnRefs / rewriteQualifiedRefs
    (stream/processor_field.go:222-264): HAVING and ORDER BY may
    reference group exprs (m.location, upper(x)) that post-aggregation
    DataFrames only carry under their materialized/output names."""
    import re

    if not sql or not mapping:
        return sql
    for old, new in sorted(mapping.items(), key=lambda kv: -len(kv[0])):
        sql = re.sub(rf"(?<![A-Za-z0-9_.]){re.escape(old)}(?![A-Za-z0-9_])",
                     new, sql)
    return sql


def counting_key_sqls(plan: "QueryPlan", columns) -> list[str]:
    """Group exprs that key a counting window's chunk sequence.

    Parity with the reference's flat row lookup (window/
    counting_window.go:330-356, and the injection contract at
    stream/processor_field.go:208-218): a group field keys the window
    iff it is a flat row field (source column) or a function expression
    (injected into the row under its own text before Window.Add).
    Qualified refs (m.location) and nested paths (a.b.c) miss the flat
    lookup, so those rows share one chunk sequence; the fired chunk is
    sub-grouped by the real values in the aggregator afterwards.

    The planner qualifies unqualified refs with the source alias in
    join queries (stream.deviceId) — those are flat stream fields and
    DO key the window.
    """
    import re

    src_prefix = (plan.source_alias or plan.source) + "."
    out = []
    for g in plan.group_sqls:
        base = g
        if g.startswith(src_prefix) and re.fullmatch(
                r"[A-Za-z_][A-Za-z0-9_]*", g[len(src_prefix):]):
            base = g[len(src_prefix):]
        if base in columns or "(" in base:
            out.append(g)
    return out


def _duration_to_spark(dur: str) -> str:
    """'5s' / '500ms' / '2m' / '1h' / '1d' → Spark interval string."""
    dur = dur.strip()
    units = [("ms", "milliseconds"), ("us", "microseconds"),
             ("s", "seconds"), ("m", "minutes"), ("h", "hours"), ("d", "days")]
    for suf, name in units:
        if dur.endswith(suf) and dur[: -len(suf)].isdigit():
            return f"{dur[:-len(suf)]} {name}"
    if dur.isdigit():  # bare number = seconds
        return f"{dur} seconds"
    raise ExecError(f"bad duration literal: {dur!r}")


def duration_to_seconds(dur: str) -> float:
    dur = dur.strip().lower()
    mult = {"ms": 0.001, "us": 0.000001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}
    words = {"millisecond": 0.001, "milliseconds": 0.001,
             "second": 1.0, "seconds": 1.0, "minute": 60.0, "minutes": 60.0,
             "hour": 3600.0, "hours": 3600.0, "day": 86400.0, "days": 86400.0}
    parts = dur.split()
    if len(parts) == 2 and parts[0].isdigit() and parts[1] in words:
        return int(parts[0]) * words[parts[1]]
    for suf, m in mult.items():
        if dur.endswith(suf) and dur[: -len(suf)].isdigit():
            return int(dur[: -len(suf)]) * m
    if dur.isdigit():
        return float(dur)
    raise ExecError(f"bad duration literal: {dur!r}")


# wall-clock arrival stamp for PROCESSING-TIME windows (reference: a
# time window with no TsProp and no ts-like field windows on wall
# clock, window/factory.go defaults; trigger_window_test.go) — the
# facade's emit path adds it when a windowed plan has no event time.
# MICROseconds: the emit path's monotone tiebreak must not drift the
# assignment timestamp ahead of wall clock at realistic emit rates
ARRIVAL_COL = "__arrival_us__"


def event_time_name(columns, plan: QueryPlan) -> str | None:
    """The column acting as event time (explicit WITH (TIMESTAMP=...),
    the ts/event_time/timestamp fallback, or the emit path's wall-clock
    arrival stamp)."""
    name = plan.event_time_col
    if name is None:
        for cand in ("ts", "event_time", "timestamp", ARRIVAL_COL):
            if cand in columns:
                name = cand
                break
    return name


# hidden fire-identity carrier columns: `__fire_0__`, `__fire_1__`, ...
# Dunder-named so a user output aliased 'window_start' (or a group-key
# name) can never collide with — or be mistaken for — the fire identity.
FIRE_COL_PREFIX = "__fire_"
_FIRE_RE = re.compile(r"__fire_\d+__\Z")


def fire_cols_in(columns) -> list[str]:
    """The hidden fire-identity carriers present, in carrier order."""
    return sorted((c for c in columns if _FIRE_RE.match(c)),
                  key=lambda c: int(c[len(FIRE_COL_PREFIX):-2]))


def per_window_topk(df: DataFrame, win_cols: list[str], exprs: list,
                    limit: int, drop_cols: list) -> DataFrame:
    """Top-K per window fire (partial WindowGroupLimit before the
    shuffle — no global sort), then rows ordered by window fire and
    the ORDER BY keys within each.  The fire identity is one or more
    columns: time windows fire one batch per window close across all
    keys (window_start); session windows fire per (group key, session)
    — window/session_window.go:396-425 collects one result per key —
    and counting/global windows fire per (chunk key, chunk).  Without
    an ORDER BY the reference's per-batch truncation order is its map
    iteration order (nondeterministic), so any deterministic in-window
    order is compliant — the visible outputs are used; non-orderable
    outputs (maps anywhere in the type) order by their JSON form, since
    Window.orderBy rejects them outright.  Shared by the batch executor
    and the streaming per-emission tail."""
    from pyspark.sql.window import Window

    def fallback_order(c: str, dt: str) -> Column:
        return F.to_json(F.col(c)) if "map<" in dt else F.col(c)

    order_exprs = exprs or [fallback_order(c, dt)
                            for c, dt in df.dtypes
                            if c not in win_cols and c not in drop_cols]
    w = Window.partitionBy(*win_cols).orderBy(*order_exprs)
    # one select + one filter, rank dropped with the carrier columns at
    # the end — every saved transformation skips an eager re-analysis
    # of the (deep) upstream plan (r13, guide §5); the row_number +
    # rank-filter pattern still compiles to WindowGroupLimit
    df = (df.select("*", F.row_number().over(w).alias("__rn__"))
          .where(F.col("__rn__") <= limit))
    if exprs:
        df = df.orderBy(*[F.col(c).asc() for c in win_cols], *exprs)
    return df.drop("__rn__", *[c for c in drop_cols if c in df.columns])


def _event_time_col(df: DataFrame, plan: QueryPlan) -> Column | None:
    """Resolve the event-time column per WITH (TIMESTAMP=..., TIMEUNIT=...).

    Long columns are converted per TIMEUNIT (reference default ms,
    window/factory.go:76-133); timestamp columns pass through.
    """
    name = event_time_name(df.columns, plan)
    if name is None:
        return None
    if name == ARRIVAL_COL:
        # wall-clock microseconds by construction — TIMEUNIT never
        # applies (it describes the user's event-time column)
        return F.timestamp_micros(F.col(name).cast("long"))
    dt = dict(df.dtypes).get(name)
    if dt is None:
        return None
    c = F.col(name)
    if dt in ("bigint", "int", "long"):
        # plan.timeunit is normalized at plan time to the reference's
        # case-sensitive set dd/hh/mi/ss/ms/ns, unknown → ms
        # (rsql/parser.go:1141-1162)
        unit = plan.timeunit if plan.timeunit in TIMEUNIT_SECONDS else "ms"
        if unit == "ms":
            return F.timestamp_millis(c.cast("long"))
        if unit == "ss":
            return F.timestamp_seconds(c.cast("long"))
        if unit == "ns":
            # EXACT division via decimal: epoch nanos (~1.7e18) exceed a
            # double's 2^53 exact range, so a double c/1000 wobbles by
            # ±1 µs and can flip the ordering of closely spaced events
            return F.timestamp_micros(
                (c.cast("decimal(38,0)") / F.lit(1000)).cast("long"))
        # dd/hh/mi: whole-second multiples (time.Minute / time.Hour /
        # 24*time.Hour, rsql/parser.go:1149-1154)
        return F.timestamp_seconds(
            c.cast("long") * F.lit(int(TIMEUNIT_SECONDS[unit])))
    if dt in ("timestamp", "timestamp_ntz", "date"):
        return c.cast("timestamp")
    if dt == "string":
        return F.to_timestamp(c)
    return c.cast("timestamp")


# ------------------------------------------------------------- analytics


def _contains_map(dt) -> bool:
    """True when a MapType occurs anywhere in the type tree (top-level
    map, array<map>, struct fields, nested map values) — every such
    type is non-orderable/non-comparable in Catalyst."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _canon_map_sql(expr: str, dt, depth: int = 0) -> str:
    """SQL-string twin of ``_canon_map_cmp``'s canonical form, kept
    LOSSLESS (no JSON step): every map anywhere in ``dt`` becomes its
    entry array sorted by key — ``map<K,V>`` →
    ``array<struct<key:K, value:canon(V)>>`` — so the result is
    equality-comparable by Catalyst and ``_uncanon_map_sql`` can
    rebuild the original value exactly.  Lambda variables are
    depth-suffixed: Spark scopes lambda parameters lexically, so
    nested levels must not shadow."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        x, a, b = f"__x{depth}__", f"__a{depth}__", f"__b{depth}__"
        inner = _canon_map_sql(f"{x}.value", dt.valueType, depth + 1)
        ent = (f"transform(map_entries({expr}), {x} -> "
               f"named_struct('key', {x}.key, 'value', {inner}))")
        return (f"array_sort({ent}, ({a}, {b}) -> "
                f"CASE WHEN {a}.key < {b}.key THEN -1 "
                f"WHEN {a}.key > {b}.key THEN 1 ELSE 0 END)")
    if isinstance(dt, ArrayType) and _contains_map(dt.elementType):
        x = f"__x{depth}__"
        inner = _canon_map_sql(x, dt.elementType, depth + 1)
        return f"transform({expr}, {x} -> {inner})"
    if isinstance(dt, StructType) and _contains_map(dt):
        parts = ", ".join(
            f"'{f.name}', "
            + _canon_map_sql(f"{expr}.`{f.name}`", f.dataType, depth + 1)
            for f in dt.fields)
        return f"named_struct({parts})"
    return expr


def _uncanon_map_sql(expr: str, dt, depth: int = 0) -> str:
    """Inverse of ``_canon_map_sql``: rebuild the original map-bearing
    value from its sorted-entry-array canonical form."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        x = f"__y{depth}__"
        inner = _uncanon_map_sql(f"{x}.value", dt.valueType, depth + 1)
        return (f"map_from_entries(transform({expr}, {x} -> "
                f"named_struct('key', {x}.key, 'value', {inner})))")
    if isinstance(dt, ArrayType) and _contains_map(dt.elementType):
        x = f"__y{depth}__"
        inner = _uncanon_map_sql(x, dt.elementType, depth + 1)
        return f"transform({expr}, {x} -> {inner})"
    if isinstance(dt, StructType) and _contains_map(dt):
        parts = ", ".join(
            f"'{f.name}', "
            + _uncanon_map_sql(f"{expr}.`{f.name}`", f.dataType, depth + 1)
            for f in dt.fields)
        return f"named_struct({parts})"
    return expr


def _canon_map_cmp(c: Column, dt) -> Column:
    """Order-insensitive canonical form of a map-bearing column for
    equality comparison: every map ANYWHERE in the type tree becomes
    its entry array sorted BY KEY (keys are unique, so a key-only
    comparator needs no value ordering; map values canonicalize
    recursively), then the whole value renders to JSON.  Spark's `<=>`
    rejects map types outright (INVALID_ORDERING_TYPE), while the
    reference compares rows with reflect.DeepEqual — maps included,
    nested or not (schema/schema.go:70-95 makes map a first-class
    value type)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def canon(col: Column, t) -> Column:
        if isinstance(t, MapType):
            ent = F.array_sort(
                F.map_entries(col),
                lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
                              .when(a["key"] > b["key"], F.lit(1))
                              .otherwise(F.lit(0)))
            if _contains_map(t.valueType):
                ent = F.transform(
                    ent, lambda e: F.struct(
                        e["key"].alias("key"),
                        canon(e["value"], t.valueType).alias("value")))
            return ent
        if isinstance(t, ArrayType) and _contains_map(t.elementType):
            return F.transform(col, lambda x: canon(x, t.elementType))
        if isinstance(t, StructType) and _contains_map(t):
            return F.struct(*[canon(col[f.name], f.dataType).alias(f.name)
                              for f in t.fields])
        return col

    return F.to_json(canon(c, dt))


def _analytic_column(spec: AnalyticSpec, order_cols: list[Column],
                     columns: list[str] | None = None,
                     prep=None, dtype_of=None) -> Column:
    """Batch realization of a stateful analytic call via Spark window
    functions (§2.6 mapping).  ``prep(col) -> name`` (when provided)
    materializes an intermediate column on the source DataFrame so
    multi-pass constructions can order a second window by a first
    window's result.  ``dtype_of(col) -> DataType`` (when provided)
    resolves an expression's type so map-typed values take the
    DeepEqual-parity comparison and non-orderable fallbacks.
    Streaming uses the stateful operator in ``streaming/stateful.py``;
    semantics here match the reference's state machine on an ordered
    replay.
    """

    f = spec.func
    name = f.name.lower()
    parts = [F.expr(p) for p in spec.partition_by] or [F.lit(1)]
    w = Window.partitionBy(*parts).orderBy(*order_cols)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    when_sql = spec.when_sql

    def arg(i: int, default=None) -> Column:
        if i < len(f.args):
            return F.expr(render(f.args[i]))
        return F.lit(default)

    def lit_arg(i: int, default=None):
        if i < len(f.args) and isinstance(f.args[i], N.Lit):
            return f.args[i].value
        return default

    def _dtype(c: Column):
        if dtype_of is None:
            return None
        try:
            return dtype_of(c)
        except Exception:
            return None  # unresolvable here (e.g. placeholder scope)

    def is_map(c: Column) -> bool:
        """Non-orderable/non-comparable: a map anywhere in the type."""
        dt = _dtype(c)
        return dt is not None and _contains_map(dt)

    def cmp_form(c: Column) -> Column:
        """The column itself, or its canonical form when equality on
        the raw type is unsupported (maps, incl. nested)."""
        dt = _dtype(c)
        if dt is not None and _contains_map(dt):
            return _canon_map_cmp(c, dt)
        return c

    # the change detectors' WHEN gate (a NULL gate is false): a
    # gated-out row moves no baseline and reports no change, like an
    # ignoreNull row with a NULL value
    gate = (None if when_sql is None
            else F.coalesce(F.expr(when_sql), F.lit(False)))

    def changed(c: Column, cc: Column, ignore_null: bool) -> Column:
        """Under ``gate``: whether ``cc`` (``c``'s comparison form)
        differs from its baseline, the value on the latest earlier row
        that moved it — a gated-in row, with a non-NULL value under
        ``ignore_null`` — or there is none.  The baseline is wrapped in
        a struct so a NULL baseline stays told apart from none."""
        store = gate & c.isNotNull() if ignore_null else gate
        base = F.last(F.when(store, F.struct(cc.alias("v"))),
                      ignorenulls=True).over(w_prev)
        chg = base.isNull() | ~base.getField("v").eqNullSafe(cc)
        return c.isNotNull() & chg if ignore_null else chg

    if name == "lag":
        if len(f.args) > 1 and not isinstance(f.args[1], N.Lit):
            # the streaming/sync kernel evaluates a per-row offset
            # expression (stateful.py ring cap grows to the max offset
            # seen); the batch window construction needs a CONSTANT
            # frame — refuse rather than silently coerce to 1
            raise ExecError("lag offset must be a literal in batch mode"
                            " — per-row offset expressions run on the "
                            "streaming/sync paths")
        n_lit = lit_arg(1, 1)
        n = 1 if n_lit is None else int(n_lit)
        if n <= 0:
            # reference validation: offset must be a positive integer
            # (functions_analytical.go:27-28) — the old `or 1` coercion
            # silently turned an explicit 0 into lag-by-1
            raise ExecError("lag offset must be a positive integer")
        # the default may be an EXPRESSION, not only a literal —
        # lag(ts, 1, ts, true) defaults to the CURRENT row's ts
        # (analytic_parity_test.go:168); arg() evaluates either form
        has_default = len(f.args) > 2
        default_col = arg(2) if has_default else None
        # 4th arg ignoreNull DEFAULTS TRUE: nil values never enter the
        # history (functions_analytical.go lagState, doc A3 semantics)
        ignore_null = bool(lit_arg(3, True))
        if when_sql is None:
            if not ignore_null:
                # default covers MISSING history only (lagState): a
                # null HISTORY value stays null — so gate on the
                # row count, not coalesce over the lagged value
                res = F.lag(arg(0), n).over(w)
                if not has_default:
                    return res
                enough = F.count(F.lit(1)).over(w_prev) >= n
                return F.when(enough, res).otherwise(default_col)
            if n == 1:
                # previous non-null value — O(1) incremental frame
                res = F.last(arg(0), ignorenulls=True).over(w_prev)
            elif prep is not None and not is_map(arg(0)):
                # n-th previous NON-NULL value, exact and linear: count(x)
                # increments only on non-null rows, so exactly one
                # non-null row exists per count value — a constant-offset
                # RANGE frame over the materialized count picks it out.
                # (Replaces an unbounded running collect_list, which is
                # O(rows²) memory/time per partition at scale.)
                x = arg(0)
                cnt_run = prep(F.count(x).over(w_run))
                w_nn = Window.partitionBy(*parts).orderBy(F.col(cnt_run))
                hit_nonnull = F.max(x).over(w_nn.rangeBetween(-n, -n))
                hit_null = F.max(x).over(w_nn.rangeBetween(-(n - 1), -(n - 1)))
                res = F.when(arg(0).isNotNull(), hit_nonnull).otherwise(hit_null)
            else:
                # window-emission rows (few per group): buffered history
                hist = F.collect_list(arg(0)).over(w_prev)
                res = F.when(F.size(hist) >= n, F.element_at(hist, -n))
            return F.coalesce(res, default_col) if has_default else res
        # lagState stores iff gate is true AND (ignoreNull=false OR the
        # value is non-null) — mirrored by the streaming kernel
        # (streaming/stateful.py _step_lag).  The stored value is
        # wrapped in a struct so a NULL stored under a true gate
        # (ignoreNull=false) stays distinguishable from "no history":
        # last/max/collect_list skip only the null STRUCTS of
        # non-storing rows, never a null payload.  Every row — gated or
        # not — reads the n-th most recent value stored by STRICTLY
        # PREVIOUS rows (the kernel reads buf[-n] before appending).
        store = F.expr(when_sql)
        if ignore_null:
            store = store & arg(0).isNotNull()
        stored = F.when(store, F.struct(arg(0).alias("v")))
        if n == 1:
            s = F.last(stored, ignorenulls=True).over(w_prev)
        elif prep is not None and not is_map(arg(0)):
            # n-th previous STORED value, exact and linear — the same
            # constant-offset RANGE frame over a materialized running
            # count the ungated n>1 path uses: count(stored) increments
            # only on storing rows, so exactly one storing row exists
            # per count value.
            cnt_run = prep(F.count(stored).over(w_run))
            w_nn = Window.partitionBy(*parts).orderBy(F.col(cnt_run))
            hit_store = F.max(stored).over(w_nn.rangeBetween(-n, -n))
            hit_skip = F.max(stored).over(w_nn.rangeBetween(-(n - 1),
                                                            -(n - 1)))
            s = F.when(stored.isNotNull(), hit_store).otherwise(hit_skip)
        else:
            # window-emission rows (few per group): buffered history —
            # collect_list drops the null structs of non-storing rows
            hist = F.collect_list(stored).over(w_prev)
            s = F.when(F.size(hist) >= n, F.element_at(hist, -n))
        res = s.getField("v")
        if not has_default:
            return res
        # default covers MISSING history only (lagState): a null value
        # stored under a true gate is returned as null, not default
        return F.when(s.isNull(), default_col).otherwise(res)

    if name == "latest":
        default = lit_arg(1, None)
        src = arg(0) if when_sql is None else F.when(F.expr(when_sql), arg(0))
        res = F.last(src, ignorenulls=True).over(w_run)
        return F.coalesce(res, F.lit(default)) if default is not None else res

    if name == "had_changed":
        # had_changed(ignoreNull, cols...) — true iff any watched column
        # changed vs its baseline; the first row is always a change;
        # ignoreNull+nil neither triggers nor overwrites the baseline
        # (functions_analytical.go:170-207 hadChangedState)
        ignore_null = bool(lit_arg(0, False))
        watched = f.args[1:] if len(f.args) > 1 else f.args[:1]
        cols: list[Column] = []
        for a in watched:
            if isinstance(a, N.Star) or (isinstance(a, N.Lit) and a.value == "*"):
                # had_changed(true, *): whole row by name
                # (hadChangedState.ApplyNamed, stream/analytic.go:155-156)
                if columns is None:
                    raise ExecError("had_changed(..., *) needs the row "
                                    "columns in scope")
                cols.extend(F.col(c) for c in columns
                            if not c.startswith("__"))
            else:
                cols.append(F.expr(render(a)))
        if gate is not None:
            # the first gated-in row is a change; so is any watched
            # column's against its own baseline
            out = F.count(F.when(gate, 1)).over(w_prev) == 0
            for c in cols:
                out = out | changed(c, cmp_form(c), ignore_null)
            return F.when(gate, out).otherwise(F.lit(False))
        out = F.row_number().over(w) == 1
        for c in cols:
            # map-typed watches compare via the canonical JSON form
            # (DeepEqual parity — `<=>` rejects map types)
            cc = cmp_form(c)
            if ignore_null:
                base = F.last(cc, ignorenulls=True).over(w_prev)
                out = out | (c.isNotNull() & ~base.eqNullSafe(cc))
            else:
                out = out | ~F.lag(cc).over(w).eqNullSafe(cc)
        return out

    if name == "changed_col":
        # changed_col(ignoreNull, expr): the NEW VALUE when it changed
        # vs the previous processed row, else NULL; the first row counts
        # as changed; ignoreNull=true skips null values without touching
        # state (functions/analytic_acc.go:125-154 changedColState)
        ignore_null = bool(lit_arg(0, False))
        val = arg(1)
        vc = cmp_form(val)  # compare canonically, return the raw value
        if gate is not None:
            return F.when(gate & changed(val, vc, ignore_null), val)
        if ignore_null:
            prev_eff = F.last(vc, ignorenulls=True).over(w_prev)
            return F.when(val.isNotNull() & ~prev_eff.eqNullSafe(vc), val)
        chg = (F.row_number().over(w) == 1) | \
            ~F.lag(vc).over(w).eqNullSafe(vc)
        return F.when(chg, val)

    if name == "__changed_value__":
        # changed_cols fan-out member: the value when it changed vs its
        # baseline (first occurrence counts as changed), else NULL;
        # ignoreNull+nil keeps the baseline (analytic_acc.go:168-185)
        c = arg(0)
        cc = cmp_form(c)
        if gate is not None:
            return F.when(gate & changed(c, cc, bool(lit_arg(1, False))), c)
        if bool(lit_arg(1, False)):
            base = F.last(cc, ignorenulls=True).over(w_prev)
            return F.when(c.isNotNull() & ~base.eqNullSafe(cc), c)
        prev = F.lag(cc).over(w)
        chg = (F.row_number().over(w) == 1) | ~prev.eqNullSafe(cc)
        return F.when(chg, c)

    if name in ("acc_sum", "acc_max", "acc_min", "acc_count", "acc_avg"):
        # acc_x(expr[, startCond, resetCond]) per functions/analytic_acc.go:
        # a reset row zeroes the state WITHOUT accumulating its own value
        # and clears the start latch; the latch re-arms on the next true
        # startCond within the new segment.  WHEN gating (OVER ... WHEN)
        # means the row does not touch state at all — including reset.
        # Delta vs the reference (SURVEY §7 NULL policy): zero/empty state
        # reads as SQL NULL, not 0.0.
        if name != "acc_count":
            # numeric-only accumulation (analytic_state.go:80-92
            # toFloat64Generic): a uniformly non-numeric column —
            # string, timestamp, bool — never accumulates, so the
            # whole-column result is NULL here, matching the kernel
            # and pyeval per-value skip (Spark types are uniform per
            # column, so per-value == per-column)
            from pyspark.sql.types import NullType, NumericType
            adt = _dtype(arg(0))
            if adt is not None and not isinstance(adt,
                                                  (NumericType, NullType)):
                return F.lit(None).cast("double")
        x = arg(0)
        if gate is not None:
            x = F.when(gate, x)
        seg = None
        if len(f.args) > 2:
            reset = F.expr(render(f.args[2]))
            if gate is not None:
                reset = reset & gate
            # segment id increments AT the reset row (current row included)
            seg = F.sum(F.when(reset, 1).otherwise(0)).over(w_run)
            x = F.when(reset, F.lit(None)).otherwise(x)
        wseg = (Window.partitionBy(*parts, seg) if seg is not None
                else Window.partitionBy(*parts)).orderBy(*order_cols) \
            .rowsBetween(Window.unboundedPreceding, 0)
        if len(f.args) > 1 and not isinstance(f.args[1], N.Lit):
            start_hit = F.expr(render(f.args[1]))
            if len(f.args) > 2:
                # the reset row returns early in the reference — it can
                # never arm the latch for its own segment
                start_hit = start_hit & ~F.expr(render(f.args[2]))
            if gate is not None:
                start_hit = start_hit & gate
            started = F.max(F.when(start_hit, 1).otherwise(0)).over(wseg)
            x = F.when(started == 1, x)
        agg = {"acc_sum": F.sum, "acc_max": F.max, "acc_min": F.min,
               "acc_count": F.count, "acc_avg": F.avg}[name]
        res = agg(x).over(wseg)
        if name == "acc_count":
            # empty state reads NULL like every other acc_* (the NULL
            # policy above; kernel returns None until first
            # accumulation) — count() alone would read 0.  The running
            # count is monotone, so count=0 ⇔ nothing accumulated yet.
            res = F.when(res > 0, res)
        return res

    raise ExecError(f"unsupported analytic function: {name}")


def _apply_custom_analytics(df: DataFrame, specs: list, plan: QueryPlan,
                            order_names: list[str],
                            keep: set | None = None) -> DataFrame:
    """Custom stateful analytics (register_analytic_function) in batch:
    one state object per spec per OVER(PARTITION BY ...) key, ``apply``
    called per row in event-time order — the Spark realization of the
    reference's per-partition ``AnalyticState`` machine
    (functions/analytic_state.go:11-37).  All specs sharing a PARTITION
    BY evaluate in ONE ``mapInPandas`` pass (one shuffle, one Python
    walk) through the streaming kernel's core
    (``streaming/stateful.py`` ``analytic_inputs`` +
    ``step_analytic_rows``): argument expressions and WHEN gates are
    pre-evaluated JVM-side, so only the state-machine steps run in
    Python (Arrow-batched)."""
    from pyspark.sql.types import StructField, StructType

    from ..streaming.stateful import (_clean, analytic_inputs,
                                      read_columns, step_analytic_rows)

    src_cols = set(df.columns)
    df, prep, _, clean = analytic_inputs(df, specs, plan)
    key_cols = prep[0]["keys"]
    hidden = [c for c in df.columns if c not in src_cols]
    out_schema = StructType(list(df.schema.fields) + [
        StructField(p["ph"], p["type"]) for p in prep])
    order = [n for n in order_names if n]
    out_names = [f.name for f in out_schema.fields]

    # Execution shape: repartition on the key + sortWithinPartitions
    # (key, event-time) + ONE mapInPandas walk.  Within a sorted
    # partition each key's rows are CONTIGUOUS and batches arrive in
    # order, so exactly one (current key, state) pair is live at a
    # time — carried across Arrow batches, replaced on key change.
    # That is O(1) resident state per task regardless of key
    # cardinality (a per-key dict would hold billions of dead state
    # machines at scale), and it makes Python invocations O(batches)
    # instead of O(keys) — the per-group overhead that kills
    # groupBy.applyInPandas at high key cardinality.  Key components
    # are normalized through _clean: Arrow hands NULL numeric keys to
    # pandas as float NaN, and NaN != NaN would otherwise split every
    # NULL-keyed row into its own "group".
    def walk(batches):
        prev_key = st = None
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            keys = zip(*(pdf[c].tolist() for c in key_cols)) if key_cols \
                else [()] * n
            states = []
            for k in keys:
                k = tuple(map(_clean, k))
                if st is None or k != prev_key:
                    st, prev_key = {}, k  # {ph: state} of the new key
                states.append(st)
            outs = step_analytic_rows(
                prep, read_columns([pdf], clean)[1], states)
            for ph, col in outs.items():
                pdf[ph] = col
            yield pdf[out_names]

    if keep is not None:
        # guide §4: mapInPandas ships (and Arrow-serializes) every
        # input column — Catalyst cannot prune through the opaque
        # stage.  Keep only engine plumbing (__*-prefixed: event time,
        # carriers, qref flats — all narrow), the walk's own keys, and
        # columns the rest of the plan references; wide untouched
        # payload columns stop crossing the Python boundary twice.
        need = [c for c in df.columns
                if c.startswith("__") or c in key_cols or c in keep]
        if len(need) < len(df.columns):
            df = df.select(*need)
            hidden = [c for c in hidden if c in need]
            phs = {p["ph"] for p in prep}
            out_schema = StructType(
                [f for f in out_schema.fields
                 if f.name in set(need) or f.name in phs])
            out_names = [f.name for f in out_schema.fields]

    sort_cols = key_cols + order
    part = (df.repartition(*[F.col(c) for c in key_cols]) if key_cols
            else df.coalesce(1))
    if sort_cols:
        part = part.sortWithinPartitions(*sort_cols)
    return part.mapInPandas(walk, out_schema).drop(*hidden)


# ------------------------------------------------------------- executor

# analytic function names whose nil output marks "no change" — the
# omit-empty family (changed_col and changed_cols fan-out members)
_CHANGE_FNS = ("changed_col", "__changed_value__")


def omit_empty_specs(plan, window_mode: bool) -> list | None:
    """The specs of the reference's omitEmpty row suppression
    (stream/stream.go:610-612, :698-703): when change detection fired
    nothing — all of them NULL — the row is dropped; None when the rule
    does not apply:

    - direct mode: only when the SELECT consists solely of BARE
      change-detection fields (any other selected field keeps the row,
      with the unchanged column rendered NULL);
    - window mode: whenever the query's analytic fields are all
      change-detection and none produced a value (``changedAny``) —
      other selected aggregates do not keep the row.

    Shared by the batch executor and emit_sync's in-process plan."""
    specs = [a for a in plan.analytics
             if a.window_output == window_mode] if window_mode else plan.analytics
    if not specs or any(a.func.name.lower() not in _CHANGE_FNS
                        for a in specs):
        return None
    if not window_mode:
        phs = {a.placeholder for a in specs}
        if any(o.star or o.sql not in phs for o in plan.outputs):
            return None
    return specs


def _omit_empty_filter(df: DataFrame, plan, window_mode: bool) -> DataFrame:
    """:func:`omit_empty_specs`'s row suppression as a filter."""
    specs = omit_empty_specs(plan, window_mode)
    if specs is None:
        return df
    cond = " OR ".join(f"`{a.placeholder}` IS NOT NULL" for a in specs)
    return df.filter(F.expr(cond))


class BatchExecutor:
    """Compile a QueryPlan against batch DataFrames."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame] | None = None):
        self.spark = spark
        self.tables = tables or {}

    def execute(self, plan: QueryPlan, source_df: DataFrame) -> DataFrame:
        # per-execution state: a reused executor must not carry the
        # previous plan's hidden ORDER BY placeholders into this plan's
        # distinct/order logic
        self._order_extras = []
        self._fire_cols = []
        if plan.mode == "cep":
            # processCEP order: JOIN enrichment precedes the NFA
            # (stream/processor_data.go:112-141)
            from ..cep.executor import execute_cep
            return execute_cep(self.spark, plan,
                               self._apply_joins(source_df, plan), self)
        df = source_df
        ts = _event_time_col(df, plan)
        if ts is not None:
            df = df.withColumn(_TS, ts)

        df = self._apply_joins(df, plan)
        from ..plans.plan import where_filters_first
        where_first = where_filters_first(plan)
        if where_first:
            df = df.filter(F.expr(plan.where_sql))
        df = self._apply_analytics(df, plan)
        if plan.where_sql and not where_first:
            df = df.filter(F.expr(plan.where_sql))

        if plan.mode == "window":
            df = self._apply_window_agg(df, plan)
        else:
            df = self._project_direct(df, plan)

        if plan.distinct:
            # dedupe on the VISIBLE output columns only: hidden ORDER BY
            # helper placeholders (kept alive by _apply_window_agg) would
            # otherwise make distinct groups out of identical result rows
            # (the reference serializes the result row — output fields —
            # stream/processor_data.go:496-515).  The hidden FIRE
            # identity is NOT a helper: DISTINCT applies per fire (the
            # emission unit), so identical rows from two fires must
            # both survive — it joins the dedup keys instead of being
            # min-elected across fires.
            fire = [c for c in getattr(self, "_fire_cols", [])
                    if c in df.columns]
            extras = [c for c in getattr(self, "_order_extras", [])
                      if c in df.columns and c not in fire]
            vis = [c for c in df.columns if c not in extras]
            if extras:
                # deterministic survivor: dropDuplicates(vis) keeps an
                # ARBITRARY row per visible group, so a hidden ORDER BY
                # placeholder that differs across duplicates would make
                # DISTINCT + ORDER BY nondeterministic — elect min() of
                # each helper instead (hash-agg, same shuffle shape)
                df = df.groupBy(*[F.col(c) for c in vis]).agg(
                    *[F.min(c).alias(c) for c in extras])
            else:
                df = df.dropDuplicates(vis)
        df = self._apply_order_limit(df, plan)
        return df

    # ------------------------------------------------------------- joins
    def _apply_joins(self, df: DataFrame, plan: QueryPlan) -> DataFrame:
        if not plan.joins:
            return df
        left = df.alias(plan.source_alias or plan.source)
        for j in plan.joins:
            t = self.tables.get(j.table)
            if t is None:
                raise ExecError(f"table {j.table!r} not registered")
            # dimension snapshots broadcast: no shuffle of the stream side —
            # the Spark analog of the reference's hash-lookup table
            # (stream/table_store.go:87-153)
            right = F.broadcast(t.alias(j.alias or j.table))
            if j.kind == "cross":
                left = left.crossJoin(right)
            else:
                left = left.join(right, on=F.expr(j.on_sql), how=j.kind)
        return left

    # --------------------------------------------------------- analytics
    def _apply_analytics(self, df: DataFrame, plan: QueryPlan) -> DataFrame:
        if not any(not a.window_output for a in plan.analytics):
            return df
        if all(a.placeholder in df.columns for a in plan.analytics
               if not a.window_output):
            # placeholders pre-computed upstream (the emit_sync O(1)
            # path evaluates the state machines outside Spark)
            return df
        if _TS not in df.columns:
            raise ExecError("analytic functions need an event-time column "
                            "(WITH (TIMESTAMP='...') or a 'ts' column)")
        order_names = [_TS]
        order_cols = [F.col(_TS)]
        for tiebreak in ("event_id", "id", "seq"):
            if tiebreak in df.columns:
                order_cols.append(F.col(tiebreak))
                order_names.append(tiebreak)
                break
        from ..functions import registry as _registry

        # custom stateful analytics run in ONE ordered applyInPandas pass
        # per distinct PARTITION BY (a pass per spec would shuffle and
        # loop the partition once per call)
        customs: dict[tuple, list] = {}
        for spec in plan.analytics:
            if not spec.window_output \
                    and _registry.custom_analytic(spec.func.name) is not None:
                customs.setdefault(tuple(spec.partition_by), []).append(spec)
        keep: set | None = None
        if customs and plan.mode == "direct" \
                and not any(o.star for o in plan.outputs):
            # conservative downstream-reference set for walk-stage
            # input pruning (guide §4): every SQL text the rest of the
            # direct path can evaluate, matched per column token,
            # case-insensitively.  False keeps only reduce pruning;
            # star outputs (unknowable width) disable it above.
            texts = [o.sql or "" for o in plan.outputs] \
                + [o.unnest_sql or "" for o in plan.outputs] \
                + [plan.where_sql or ""] \
                + [sql for sql, _ in (plan.order_by or [])]
            for spec in plan.analytics:
                texts += list(spec.partition_by) + [spec.when_sql or ""]
                texts += [render(a) for a in spec.func.args]
            blob = "\n".join(texts)
            keep = {c for c in df.columns
                    if re.search(r"(?<![A-Za-z0-9_])" + re.escape(c)
                                 + r"(?![A-Za-z0-9_])", blob,
                                 re.IGNORECASE)}
        for group in customs.values():
            df = _apply_custom_analytics(df, group, plan, order_names, keep)

        # the built-in specs land in a few BATCHED transformations
        # (preps, placeholders, drop) instead of two per spec: every
        # DataFrame op re-analyzes the plan eagerly on the driver, and
        # the old per-spec chain was the dominant build cost of the
        # analytic entries (profiled ~1.1 s for 8 specs).  Specs MAY
        # reference earlier specs' placeholders (a WHEN gate over a
        # nested analytic), so they batch by dependency LEVEL — each
        # level's placeholders become real columns before the next
        # level's expressions reference them (a same-projection
        # reference would be a lateral alias, unsupported in windows).
        specs = [s for s in plan.analytics
                 if not s.window_output
                 and _registry.custom_analytic(s.func.name) is None]
        ph_level: dict[str, int] = {}
        levels: dict[int, list] = {}
        for spec in specs:
            texts = [spec.when_sql or ""] + [render(a) for a in spec.func.args]
            deps = [m for t in texts
                    for m in re.findall(r"__analytic_\d+__", t)]
            lvl = 1 + max((ph_level.get(d, 0) for d in deps), default=0)
            ph_level[spec.placeholder] = lvl
            levels.setdefault(lvl, []).append(spec)

        for lvl in sorted(levels):
            base_df = df
            # star expansion sees data columns only — the event-time
            # column is ordering metadata, not part of the row map
            # (types.Row.Timestamp lives outside Data in the reference)
            ts_name = event_time_name(base_df.columns, plan)
            star_cols = [c for c in base_df.columns if c != ts_name]
            prep_cols: dict[str, Column] = {}
            place_cols: dict[str, Column] = {}

            def dtype_of(col, _base=base_df):
                # plain column references (the overwhelmingly common
                # case, incl. every had_changed(*) expansion) resolve
                # straight off the schema; computed expressions pay an
                # analysis-only probe (driver-side, no job)
                m = re.fullmatch(r"Column<'`?([^`']+)`?'>", str(col))
                if m and m.group(1) in _base.columns:
                    return _base.schema[m.group(1)].dataType
                return _base.select(col.alias("__dtype_probe__")) \
                    .schema["__dtype_probe__"].dataType

            for spec in levels[lvl]:
                def prep(col: Column, _spec=spec,
                         _acc=prep_cols) -> str:
                    name = (f"__prep_{_spec.placeholder.strip('_')}_"
                            f"{len(_acc)}__")
                    _acc[name] = col
                    return name

                place_cols[spec.placeholder] = _analytic_column(
                    spec, order_cols, columns=star_cols,
                    prep=prep, dtype_of=dtype_of)
            if prep_cols:
                df = df.withColumns(prep_cols)
            df = df.withColumns(place_cols)
            if prep_cols:
                df = df.drop(*prep_cols)
        return df

    # ----------------------------------------------------------- windows
    def _apply_window_agg(self, df: DataFrame, plan: QueryPlan) -> DataFrame:
        w = plan.window
        group_cols: list[Column] = []
        injected: dict[str, str] = {}  # group expr sql -> injected col name
        simple_keys: list[str] = []
        inject_cols: dict[str, Column] = {}
        for i, gsql in enumerate(plan.group_sqls):
            if gsql in df.columns:
                group_cols.append(F.expr(gsql))
                simple_keys.append(gsql)
            else:
                # EVERY non-top-level key injects — including dotted
                # paths (struct fields `meta.k`, join-qualified
                # `m.location`): passing `meta.k` through groupBy would
                # name the output column `k`, and the final projection's
                # raw-text `meta.k` reference then fails UNRESOLVED
                name = f"__gk_{i}__"
                inject_cols[name] = F.expr(gsql)
                injected[gsql] = name
                group_cols.append(F.col(name))
        if inject_cols:
            # one withColumns, not one withColumn per key: every
            # DataFrame transformation re-analyzes the whole plan
            # eagerly (driver latency, guide §5)
            df = df.withColumns(inject_cols)

        window_struct = None
        if w is None:
            pass  # plain relational aggregate (batch GROUP BY)
        elif w.kind in ("tumbling", "sliding", "session"):
            if _TS not in df.columns:
                raise ExecError(f"{w.kind} window requires an event-time column")
            if w.kind == "tumbling":
                window_struct = F.window(F.col(_TS), _duration_to_spark(w.size))
            elif w.kind == "sliding":
                window_struct = F.window(F.col(_TS), _duration_to_spark(w.size),
                                         _duration_to_spark(w.slide))
            else:
                window_struct = F.session_window(F.col(_TS), _duration_to_spark(w.gap))
            group_cols = [window_struct.alias("__window__")] + group_cols
        if w is not None and w.kind == "counting":
            # batch semantics: arrival-order chunks of N rows, keyed the
            # way the reference counting window keys rows — a FLAT lookup
            # of each group field (window/counting_window.go:330-356):
            # plain stream columns and injected function-expression keys
            # (stream/processor_field.go:208-218) resolve; qualified refs
            # (m.location) and nested paths miss and do NOT key the
            # window, so those rows share one chunk sequence.  The fired
            # chunk is then sub-grouped by the real group values in the
            # aggregator (groupBy below includes every group expr).
            # Shuffle+sort once per chunk key, then a plain hash
            # aggregate — scales as a single exchange.  The counting
            # window emits ONLY on the Nth row, so trailing partial
            # chunks stay pending and are dropped here.
            chunk_sqls = counting_key_sqls(plan, df.columns)
            df = self._chunk_rows(df, chunk_sqls, w.count)
            group_cols.append(F.col("__win_id__"))
        elif w is not None and w.kind == "global":
            n = self._count_trigger_n(w)
            if n is not None:
                # TRIGGER WHEN count(*) >= N ≡ counting-window chunks of N
                # (stays JVM-side, no pandas); the global window resolves
                # nested group keys (global_window.go:620-648 fieldpath),
                # so every group expr keys the chunk sequence.
                df = self._chunk_rows(df, list(plan.group_sqls), n)
                group_cols.append(F.col("__win_id__"))
            else:
                from ..operators.global_window import segment_by_trigger
                df = segment_by_trigger(df, plan, _TS)
                group_cols.append(F.col("__win_id__"))

        if any("`__arrival_order__`" in s.sql for s in plan.agg_specs):
            # first_value/last_value render to min_by/max_by over this
            # column: event time + tiebreak when available (deterministic
            # across shuffles).  Without an event-time column the result
            # would depend on physical partition layout — deterministic on
            # one parquet scan, arbitrary after any repartition — so we
            # refuse rather than silently bind to layout (the reference's
            # single-node intake order has no distributed equivalent).
            if _TS not in df.columns:
                raise ExecError(
                    "arrival-order aggregate (first_value/last_value/"
                    "collect/nth_value/deduplicate) needs an event-time "
                    "column: declare one with TIMESTAMP(col) or ensure "
                    f"'{_TS}' is in scope — without it the result would "
                    "depend on physical partition layout")
            tiebreak = next((c for c in ("event_id", "id", "seq")
                             if c in df.columns), None)
            order_col = (F.struct(F.col(_TS), F.col(tiebreak))
                         if tiebreak else F.col(_TS))
            df = df.withColumn("__arrival_order__", order_col)
        spec_sqls = [(s.placeholder, self._agg_sql(df, s))
                     for s in plan.agg_specs]
        extra_aggs = []
        if plan.uses_window_start or plan.uses_window_end:
            if window_struct is None and _TS in df.columns:
                extra_aggs = [F.min(_TS).alias("__ws_min__"),
                              F.max(_TS).alias("__ws_max__")]
        grouped = self._split_distinct_agg(df, plan, w, group_cols,
                                           injected, spec_sqls, extra_aggs)
        if grouped is None:
            aggs = [F.expr(s).alias(p) for p, s in spec_sqls] \
                or [F.count(F.lit(1)).alias("__cnt_dummy__")]
            grouped = df.groupBy(*group_cols).agg(*aggs, *extra_aggs)

        if window_struct is not None:
            grouped = grouped.withColumns({
                WINDOW_START_COL: F.col("__window__.start"),
                WINDOW_END_COL: F.col("__window__.end")})
        elif plan.uses_window_start or plan.uses_window_end:
            grouped = grouped.withColumnsRenamed(
                {"__ws_min__": WINDOW_START_COL,
                 "__ws_max__": WINDOW_END_COL})

        # window-output analytics: state across successive window
        # emissions (stream/processor_data.go:443-453) — evaluated over
        # the aggregated rows ordered by window, partitioned by the OVER
        # clause (default: the non-window group keys)
        win_specs = [a for a in plan.analytics if a.window_output]
        if win_specs:
            if WINDOW_START_COL in grouped.columns:
                order_cols = [F.col(WINDOW_START_COL)]
            elif "__win_id__" in grouped.columns:
                order_cols = [F.col("__win_id__")]
            else:
                raise ExecError("window-output analytics need a window "
                                "(they order by window emission)")
            default_parts = simple_keys + list(injected.values())
            def dtype_of_grouped(col):
                return grouped.select(col.alias("__dtype_probe__")) \
                    .schema["__dtype_probe__"].dataType

            for spec in win_specs:
                eff = spec if spec.partition_by else AnalyticSpec(
                    spec.placeholder, spec.func, default_parts,
                    spec.when_sql, True)
                grouped = grouped.withColumn(
                    spec.placeholder,
                    _analytic_column(eff, order_cols,
                                     dtype_of=dtype_of_grouped))
            grouped = _omit_empty_filter(grouped, plan, window_mode=True)

        if plan.having_sql:
            grouped = grouped.filter(
                F.expr(replace_ref_tokens(plan.having_sql, injected)))

        # final projection (post-aggregation expressions over placeholders)
        out_cols = []
        for out in plan.outputs:
            sql = out.sql
            if sql in injected:
                out_cols.append(F.col(injected[sql]).alias(out.name))
            else:
                out_cols.append(F.expr(sql).alias(out.name))
        # keep ORDER BY-referenced placeholders alive through projection
        extra = [s.placeholder for s in plan.agg_specs
                 if any(s.placeholder in osql for osql, _ in plan.order_by)]

        # ---- fire identity: the reference's sink-batch emission unit.
        # DISTINCT/ORDER BY/LIMIT apply PER FIRE (LIMIT caps each sink
        # batch AFTER the sort, processor_data.go:438-493), so the fire
        # identity must survive the projection — carried under hidden
        # dunder names so a user output aliased 'window_start' (or a
        # group-key name) can never collide with or be mistaken for it.
        key_names = [injected.get(g, g) for g in plan.group_sqls]
        fire_src: list[str] = []
        if w is not None and w.kind in ("tumbling", "sliding"):
            # the window trigger emits ALL keys' rows for a closed
            # window in one batch → identity = the window itself
            fire_src = [WINDOW_START_COL]
        elif w is not None and w.kind == "session":
            # each (composite group key, session) expires and emits its
            # OWN batch (window/session_window.go:396-425 collects one
            # result per key; sendResults emits each separately)
            fire_src = [WINDOW_START_COL] + key_names
        elif w is not None and w.kind == "counting":
            # fires when ONE chunk key's buffer reaches N: the fired
            # chunk (possibly sub-grouped by non-flat group values) is
            # one batch → identity = (chunk keys, chunk seq)
            fire_src = [injected.get(g, g) for g in chunk_sqls] \
                + ["__win_id__"]
        elif w is not None and w.kind == "global":
            # FIRE_AND_PURGE per key on trigger hit → (keys, segment)
            fire_src = key_names + ["__win_id__"]
        # plain GROUP BY aggregate / no window: the whole batch result
        # is one emission → global DISTINCT/ORDER BY/LIMIT (no carrier)

        self._fire_cols = []
        if (plan.order_by or plan.limit is not None or plan.distinct) \
                and fire_src:
            carriers: dict[str, Column] = {}
            for k, src in enumerate(fire_src):
                h = f"{FIRE_COL_PREFIX}{k}__"
                carriers[h] = grouped[src]
                extra.append(h)
                self._fire_cols.append(h)
            grouped = grouped.withColumns(carriers)
        self._order_extras = extra
        return grouped.select(*out_cols, *[F.col(e) for e in extra])

    _DISTINCT_AGG_RE = re.compile(r"\(\s*DISTINCT\b")
    _BUFFER_AGG_RE = re.compile(
        r"\b(?:collect_list|collect_set|percentile|array_agg|mode|"
        r"array_sort)\s*\(")

    @staticmethod
    def _split_distinct_agg(df: DataFrame, plan: QueryPlan, w,
                            group_cols: list, injected: dict,
                            spec_sqls: list, extra_aggs: list):
        """Exact-DISTINCT aggregates force Catalyst into a 3-level plan
        keyed first by (group keys, distinct column): EVERY other
        aggregate's partial buffer — including object buffers like
        collect_list/percentile, which hold the whole column — is then
        dragged through TWO exchanges and a per-(key,distinct) object
        merge (guide §2.3: shuffle fewer bytes).  When a plain GROUP BY
        mixes an exact DISTINCT with buffer-heavy aggregates, compute
        the two groups as separate aggregations over the same source
        and join on the group keys (null-safe — NULL is a group): the
        heavy buffers then cross ONE exchange already keyed by the
        group, and the distinct side is a cheap codegen hash aggregate.
        The join inputs are post-aggregation (one row per group), so
        AQE picks the join strategy from their real size.  Gated to
        analytics/join-free plans so only the scan+WHERE is read twice
        (columnar scan of the agg columns — cheap next to the buffer
        shuffle it removes).  Measured on agg_stats (sf0.1,
        interleaved): 1.80 s → 0.96 s, plan 2 Exchange → 1 on the
        buffer path.  Returns None when the rewrite does not apply."""
        if w is not None or plan.analytics or plan.joins:
            return None
        dist = [(p, s) for p, s in spec_sqls
                if BatchExecutor._DISTINCT_AGG_RE.search(s)]
        main = [(p, s) for p, s in spec_sqls
                if not BatchExecutor._DISTINCT_AGG_RE.search(s)]
        if not dist or not main or not any(
                BatchExecutor._BUFFER_AGG_RE.search(s) for _, s in main):
            return None
        gmain = df.groupBy(*group_cols).agg(
            *[F.expr(s).alias(p) for p, s in main], *extra_aggs)
        gdist = df.groupBy(*group_cols).agg(
            *[F.expr(s).alias(p) for p, s in dist])
        key_names = [injected.get(g, g) for g in plan.group_sqls]
        if not key_names:
            return gmain.crossJoin(gdist)  # both are single-row
        ren = {k: f"__dk_{i}__" for i, k in enumerate(key_names)}
        gdist = gdist.withColumnsRenamed(ren)
        cond = None
        for k, dk in ren.items():
            c = gmain[k].eqNullSafe(gdist[dk])
            cond = c if cond is None else (cond & c)
        return gmain.join(gdist, cond, "inner").drop(*ren.values())

    @staticmethod
    def _agg_sql(df: DataFrame, spec) -> str:
        """Type-aware touch-up of one rendered aggregate.
        ``deduplicate(map_column)`` (r12/r13, retires README delta row
        12 fully): Catalyst's ``array_distinct`` rejects map equality
        at ANY nesting depth, so a map-bearing argument canonicalizes
        through sorted entry arrays RECURSIVELY — every map anywhere
        in the type tree (top-level, nested map values, struct fields,
        array elements) becomes ``array_sort(map_entries(...))`` with
        a key-only comparator, giving an equality-comparable shape
        that maps back losslessly after the distinct.  The reference's
        incremental deduplicator hashes the Go value directly
        (functions_aggregation.go:1556-1578), so map dedup works on
        its every path; the kernel/pyeval paths here hash dicts the
        same way — this keeps the batch path in lockstep."""
        fn = getattr(spec, "func", None)
        if fn is None or fn.name.lower() != "deduplicate" or not fn.args:
            return spec.sql
        from ..dialect.render import Renderer
        from ..functions.registry import _ARRIVAL_LIST
        arg_sql = Renderer(agg_mode="forbid").render(fn.args[0])
        try:
            dt = df.select(F.expr(arg_sql)).schema[0].dataType
        except Exception:  # noqa: BLE001 — leave resolution to Catalyst
            return spec.sql
        if not _contains_map(dt):
            return spec.sql
        canon = _canon_map_sql(arg_sql, dt)
        uncanon = _uncanon_map_sql("__dm__", dt)
        return (f"transform(array_distinct({_ARRIVAL_LIST.format(canon)}),"
                f" __dm__ -> {uncanon})")

    def _chunk_rows(self, df: DataFrame, key_sqls: list[str],
                    n: int) -> DataFrame:
        """Arrival-order chunks of N rows per chunk key → ``__win_id__``,
        with trailing partial chunks (the never-fired remainder) dropped
        at row level: a chunk is full iff win_id < floor(key_total / N).

        The chunk key may be a subset of the aggregation group keys
        (counting-window flat-lookup parity); since it IS a subset, the
        downstream groupBy — which includes every group expr — can never
        collide win_ids across chunk-key partitions."""
        if _TS not in df.columns:
            # same typed refusal as arrival-order aggregates above:
            # ordering by monotonically_increasing_id() binds chunk
            # membership to physical partition layout — deterministic on
            # one parquet scan, arbitrary after any repartition
            raise ExecError(
                "counting/global-trigger window needs an event-time "
                "column: declare one with TIMESTAMP(col) or ensure "
                f"'{_TS}' is in scope — without it chunk membership "
                "would depend on physical partition layout")
        order = F.col(_TS)
        part = [F.expr(s) for s in key_sqls] or [F.lit(1)]
        rn = F.row_number().over(Window.partitionBy(*part).orderBy(order))
        total = F.count(F.lit(1)).over(Window.partitionBy(*part))
        # both window columns in ONE projection (r13): one eager
        # re-analysis instead of two, and both window functions land in
        # a single Window operator over the shared sort
        win_id = F.floor((rn - 1) / F.lit(n))
        df = df.select(
            "*", win_id.alias("__win_id__"),
            (win_id < F.floor(total / F.lit(n))).alias("__win_full__"))
        return df.filter(F.col("__win_full__")).drop("__win_full__")

    @staticmethod
    def _count_trigger_n(w) -> int | None:
        """TRIGGER WHEN count(*) >= N fast-path detection (count-only
        predicates reduce to counting-window chunking, staying JVM-side;
        general predicates go to the pandas segmenter)."""
        trig = w.trigger_when
        if not (isinstance(trig, N.Bin) and trig.op in (">=", ">")
                and isinstance(trig.left, N.Func)
                and trig.left.name.lower() == "count"
                and (not trig.left.args or isinstance(trig.left.args[0], N.Star))
                and isinstance(trig.right, N.Lit)):
            return None
        return int(trig.right.value) + (1 if trig.op == ">" else 0)

    # ------------------------------------------------------------ direct
    def _project_direct(self, df: DataFrame, plan: QueryPlan) -> DataFrame:
        df = _omit_empty_filter(df, plan, window_mode=False)
        hidden = {_TS, _ROWID} | {a.placeholder for a in plan.analytics} \
            | {"__win_id__", "__chunk_n__"}
        # flattened-qualified-ref carriers (__q_alias_col__) from a
        # lookup-enrichment or join-flatten stage are plumbing, not
        # user columns — SELECT * must not leak them
        qmap = (plan.options or {}).get("__qref_map__") or {}
        hidden |= {v for k, v in qmap.items() if k != "__src__"}
        out_cols: list[Column] = []
        unnest: tuple[str, str] | None = None
        for out in plan.outputs:
            if out.star:
                cols = [c for c in df.columns if c not in hidden]
                if out.star_qualifier:
                    out_cols.append(F.col(f"{out.star_qualifier}.*"))
                else:
                    out_cols.extend(F.col(c) for c in cols)
            elif out.unnest_sql is not None:
                unnest = (out.name, out.unnest_sql)
            else:
                out_cols.append(F.expr(out.sql).alias(out.name))
        if unnest is not None:
            name, arr_sql = unnest
            arr = F.expr(arr_sql)
            elem_type = df.select(arr.alias("__a__")).schema["__a__"].dataType
            from pyspark.sql.types import ArrayType, StructType
            # struct-array elements fan out to columns (reference unnest,
            # functions_multirow.go:15-191) — Spark inline(); scalars explode.
            if isinstance(elem_type, ArrayType) and isinstance(elem_type.elementType, StructType):
                out_cols.append(F.expr(f"inline({arr_sql})"))
            else:
                out_cols.append(F.explode(arr).alias(name))
        if not out_cols:
            raise ExecError("empty SELECT list")
        return df.select(*out_cols)

    # -------------------------------------------------------- order/limit
    def _apply_order_limit(self, df: DataFrame, plan: QueryPlan) -> DataFrame:
        extras = getattr(self, "_order_extras", [])
        # windowed plans: ORDER BY/LIMIT apply PER FIRE — the
        # reference's sink-emission unit (each window close / session
        # expiry / chunk fire is one batch; LIMIT truncates it AFTER
        # the sort, processor_data.go:438-493) — never globally
        fire = [c for c in getattr(self, "_fire_cols", [])
                if c in df.columns]
        exprs = []
        if plan.order_by:
            # Sort keys referencing projected expressions (m.location,
            # computed cols) rewrite to their output names.
            outmap = {o.sql: o.name for o in plan.outputs
                      if o.sql and o.name and o.sql != o.name}
            for sql, asc in plan.order_by:
                c = F.expr(replace_ref_tokens(sql, outmap))
                exprs.append(c.asc() if asc else c.desc())
        if fire and plan.limit is not None:
            return per_window_topk(df, fire, exprs, plan.limit,
                                   drop_cols=extras)
        if exprs:
            # ORDER BY + LIMIT compiles to TakeOrderedAndProject — a
            # top-K per partition + merge, no global sort at scale
            df = df.orderBy(*[F.col(c).asc() for c in fire] + exprs)
        if extras:
            df = df.drop(*[c for c in extras if c in df.columns])
        if plan.limit is not None:
            df = df.limit(plan.limit)
        return df
