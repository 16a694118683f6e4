"""CEP batch executor: MATCH_RECOGNIZE plan → DataFrame.

Rows shuffle by PARTITION BY keys (keyless input into one partition)
and sort by key then ORDER BY; one ``mapInPandas`` kernel walks the key
groups — the Spark analog of the reference's per-partition NFA
instances, ``stream/cep.go:32-48`` — the matcher emits measure rows, and
the outer SELECT projects them (``stream/stream.go:400-409``).

Scale: state is bounded per key exactly like the reference (whole-key
row buffers); keys parallelize across executors.  The streaming variant
(``streaming/stateful.py::cep_stream``) holds the tail buffer in
``applyInPandasWithState`` state and runs the same backtracking drive,
``Matcher.find_emittable``, that batch runs with end-of-input semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DataType, DoubleType,
                               IntegralType, LongType, MapType, StringType,
                               StructField, StructType, TimestampNTZType,
                               TimestampType)

from ..dialect import nodes as N
from ..dialect.render import render
from ..engine.batch import duration_to_seconds
from ..plans.plan import TIMEUNIT_PER_SECOND
from .engine import MatchShape, run_partition

# batch-kernel buffer flush threshold (rows): the pandas buffer drains at
# the next key boundary past this, bounding Python memory per task — the
# batch analog of the reference's run-row cap (cep/engine.go:17-23)
_TASK_CHUNK_ROWS = 65_536


class _LazyRows:
    """List-of-dicts façade over a pandas frame for the match kernel.

    The matcher and measure evaluator touch only bound/navigated rows
    (with vectorized DEFINEs, a tiny fraction of the partition), so the
    per-row dict — and even the per-COLUMN python-object conversion —
    is deferred until first touch and cached (guide §4: the eager
    ``to_dict("records")`` + NaN fix-up was O(rows × cols) Python work
    per task regardless of match count).  Supports ``len``, integer
    indexing and contiguous slicing — the full access surface of
    ``Matcher``/``MatchContext``.  Slices share the column cache and the
    absolute-index row cache with their parent.
    """

    __slots__ = ("_pdf", "_cols", "_rows", "_off", "_n")

    def __init__(self, pdf, off=0, n=None, cols=None, rows=None):
        self._pdf = pdf
        self._off = off
        self._n = len(pdf) - off if n is None else n
        self._cols = {} if cols is None else cols    # name -> list
        self._rows = {} if rows is None else rows    # abs index -> dict

    def __len__(self):
        return self._n

    def _column(self, name):
        vals = self._cols.get(name)
        if vals is None:
            import numpy as np

            col = self._pdf[name]
            vals = col.tolist()
            # NaN/NaT -> None: raw pandas NaN breaks SQL NULL semantics
            # in the interpreted evaluator (nan > 5 is False where SQL
            # says UNKNOWN; nan passes `is not None` and poisons
            # SUM/AVG measures)
            na = col.isna().to_numpy()
            if na.any():
                for j in np.flatnonzero(na).tolist():
                    vals[j] = None
            self._cols[name] = vals
        return vals

    def __getitem__(self, i):
        if isinstance(i, slice):
            lo, hi, step = i.indices(self._n)
            if step != 1:
                raise ValueError("_LazyRows supports contiguous slices only")
            return _LazyRows(self._pdf, self._off + lo, max(0, hi - lo),
                             self._cols, self._rows)
        if i < 0:
            i += self._n
        if not 0 <= i < self._n:
            raise IndexError(i)
        j = self._off + i
        r = self._rows.get(j)
        if r is None:
            r = {c: self._column(c)[j] for c in self._pdf.columns}
            self._rows[j] = r
        return r


def _descend_type(dt: DataType, segs: list) -> DataType:
    """Walk nested-path segments through a container DataType
    (render_col's try_element_at / dot-access chain)."""
    for p in segs:
        if isinstance(dt, MapType):
            dt = dt.valueType  # MapKey OR dotted key both index maps
        elif isinstance(dt, ArrayType) and isinstance(p, int):
            dt = dt.elementType
        elif isinstance(dt, StructType) and isinstance(p, str) \
                and p in dt.fieldNames():
            dt = dt[p].dataType
        else:
            return DoubleType()  # unknown shape: the legacy default
    return dt


def _measure_type(e: N.Expr, schema: dict[str, DataType]) -> DataType:
    if isinstance(e, N.Lit):
        if isinstance(e.value, bool):
            return BooleanType()
        if isinstance(e.value, int):
            return LongType()
        if isinstance(e.value, float):
            return DoubleType()
        return StringType()
    if isinstance(e, N.Col):
        segs = list(e.parts)
        str_pos = [i for i, p in enumerate(segs) if isinstance(p, str)]
        # symbol-qualified → the underlying column's type; navigation
        # segments AFTER the column (m.thresholds['hi'], a map-typed
        # lookup column) descend into the container type — the measure
        # VALUE is the element, not the container.  Positions, not
        # .index(): a qualifier named like the column (v.v) would
        # otherwise resolve to the first occurrence and mis-descend
        for i in ((str_pos[-1], str_pos[0]) if str_pos else ()):
            if segs[i] in schema:
                return _descend_type(schema[segs[i]], segs[i + 1:])
        return DoubleType()
    if isinstance(e, N.Func):
        name = e.name.lower()
        if name in ("__final__", "__running__"):
            return _measure_type(e.args[0], schema)
        if name in ("count", "match_number"):
            return LongType()
        if name == "classifier":
            return StringType()
        if name == "round" and e.args and isinstance(
                _measure_type(e.args[0], schema), IntegralType):
            return LongType()  # Spark's Round keeps an integral type
        if name in ("avg", "sum", "round", "sqrt", "power", "pow"):
            return DoubleType()
        if name in ("min", "max", "first", "last", "prev", "next", "coalesce") and e.args:
            return _measure_type(e.args[0], schema)
        if name in ("upper", "lower", "concat"):
            return StringType()
        if name == "length":
            return LongType()
        return DoubleType()
    if isinstance(e, N.Bin):
        if e.op in ("=", "!=", "<", "<=", ">", ">=", "AND", "OR"):
            return BooleanType()
        if e.op == "||":
            return StringType()
        lt, rt = _measure_type(e.left, schema), _measure_type(e.right, schema)
        if e.op == "/" or isinstance(lt, DoubleType) or isinstance(rt, DoubleType):
            return DoubleType()
        return LongType()
    if isinstance(e, (N.IsNull, N.InList, N.Between)):
        return BooleanType()
    if isinstance(e, N.Un):
        return BooleanType() if e.op == "NOT" else _measure_type(e.operand, schema)
    if isinstance(e, N.Case) and e.whens:
        return _measure_type(e.whens[0][1], schema)
    return StringType()


def _referenced_columns(spec: N.MatchSpec, columns: list[str]) -> set[str]:
    """Input columns the pattern/measures actually read — the kernel
    prunes to these (column pruning can't see through applyInPandas,
    so we do it explicitly; at scale this keeps wide rows out of the
    Arrow transfer and the per-row Python dicts)."""
    symbols = set(spec.defines) | set(spec.subsets)
    for sub in spec.subsets.values():
        symbols.update(sub)
    for p in _pattern_symbols(spec.pattern):
        symbols.add(p)
    refs: set[str] = set()

    def visit(e):
        for node in N.walk(e):
            if isinstance(node, N.Col):
                parts = [p for p in node.parts if isinstance(p, str)]
                if not parts:
                    continue
                if parts[0] in symbols and len(parts) > 1:
                    refs.add(parts[1])
                else:
                    refs.add(parts[0])

    for m in spec.measures:
        visit(m.expr)
    for cond in spec.defines.values():
        visit(cond)
    return {c for c in refs if c in set(columns)}


# DEFINE conditions built only from these nodes evaluate identically in
# Catalyst and in the Python evaluator (NULL → no-match), so they can be
# precomputed JVM-side as boolean columns — classification becomes an
# array lookup instead of a per-row interpreted AST walk.  Division /
# modulo / power stay out (ANSI-mode divide-by-zero errors vs the
# evaluator's NULL); navigation/aggregate functions are inherently
# row-context-dependent.
_VEC_BIN_OPS = {"=", "!=", "<", "<=", ">", ">=", "AND", "OR", "+", "-", "*"}
_VEC_FUNCS = {"abs", "round", "floor", "ceil", "ceiling", "sqrt",
              "upper", "lower", "length", "coalesce"}


def _vectorizable_define(cond: N.Expr, symbols: set[str]) -> bool:
    """True iff the DEFINE condition reads only the current row and maps
    1:1 onto Catalyst semantics."""
    for node in N.walk(cond):
        if isinstance(node, (N.Lit, N.IsNull, N.InList, N.Between,
                             N.Case, N.Un)):
            continue
        if isinstance(node, N.Col):
            root = node.parts[0]
            if isinstance(root, str) and root in symbols and len(node.parts) > 1:
                return False  # symbol-qualified ref → match-context-dependent
            continue
        if isinstance(node, N.Bin):
            if node.op not in _VEC_BIN_OPS:
                return False
            continue
        if isinstance(node, N.Func):
            if node.name.lower() not in _VEC_FUNCS:
                return False
            continue
        return False  # Star / unknown node
    return True


def _pattern_symbols(pat) -> list[str]:
    if pat is None:
        return []
    out = []
    for node in [pat]:
        if isinstance(node, N.PSym):
            out.append(node.name)
        elif isinstance(node, (N.PSeq, N.PAlt, N.PPermute)):
            for it in node.items:
                out.extend(_pattern_symbols(it))
        elif isinstance(node, N.PQuant):
            out.extend(_pattern_symbols(node.item))
    return out


def _flatten_join_refs_cep(df: DataFrame, plan, spec: N.MatchSpec):
    """Flatten table-qualified refs for the CEP kernels over a joined
    stream (processCEP enriches before the NFA,
    stream/processor_data.go:112-141).  The Python matcher evaluates
    rows as flat dicts, so while join aliases are alive: source-alias
    refs drop to bare names (the stream side wins the duplicate-name
    dedupe), table refs materialize as hidden flat columns.  Pattern
    symbols shadow join aliases (A.temp stays a symbol navigation)."""
    from dataclasses import replace as _drep

    src = plan.source_alias or plan.source
    quals = ({j.table for j in plan.joins}
             | {j.alias for j in plan.joins if j.alias})
    syms = set(_pattern_symbols(spec.pattern)) | set(spec.subsets)
    quals -= syms
    added: dict[str, str] = {}

    def xf(e):
        if isinstance(e, N.Col) and len(e.parts) == 2 \
                and all(isinstance(p, str) for p in e.parts):
            root, col = str(e.parts[0]), str(e.parts[1])
            if root in syms:
                return e
            if root == src:
                return N.Col((col,))
            if root in quals:
                name = added.setdefault(f"{root}.{col}", f"__q_{root}_{col}__")
                return N.Col((name,))
        return e

    spec = _drep(
        spec,
        partition_by=[N.transform(p, xf) for p in spec.partition_by],
        order_by=[N.transform(o, xf) for o in spec.order_by],
        measures=[_drep(m, expr=N.transform(m.expr, xf))
                  for m in spec.measures],
        defines={s: N.transform(c, xf) for s, c in spec.defines.items()},
    )
    for tok, name in added.items():
        df = df.withColumn(name, F.expr(tok))
    from ..streaming.stateful import _dedupe_columns
    return _dedupe_columns(df), spec


def build_cep_parts(df: DataFrame, plan) -> dict:
    """Shared MATCH_RECOGNIZE prep for the batch and streaming executors:
    WHERE pushdown, partition-key materialization, output schema, event
    time resolution."""
    spec: N.MatchSpec = plan.stmt.match
    if plan.where_sql:
        df = df.filter(F.expr(plan.where_sql))
    if plan.joins:
        df, spec = _flatten_join_refs_cep(df, plan, spec)

    part_sqls = [render(p) for p in spec.partition_by]
    order_sqls = [render(o) for o in spec.order_by]
    if not order_sqls:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY (event time first)")
    ts_col = order_sqls[0]

    in_schema = {f.name: f.dataType for f in df.schema.fields}
    if ts_col not in in_schema:
        raise ValueError(f"MATCH_RECOGNIZE ORDER BY column {ts_col!r} "
                         f"not found in input columns {sorted(in_schema)}")

    if spec.rows_per_match != "all":
        # ONE ROW PER MATCH exposes only measures — prune the kernel's
        # input to columns the pattern actually reads
        needed = _referenced_columns(spec, df.columns)
        needed.update(c for c in order_sqls if c in in_schema)
        needed.update(p for p in part_sqls if p in in_schema)
        keep = [c for c in df.columns if c in needed]
        if keep and len(keep) < len(df.columns):
            df = df.select(*keep)
            in_schema = {f.name: f.dataType for f in df.schema.fields}
    fields = []
    part_names = []
    for i, psql in enumerate(part_sqls):
        name = psql if psql in in_schema else f"__pk_{i}__"
        if psql not in in_schema:
            df = df.withColumn(name, F.expr(psql))
            in_schema[name] = df.schema[name].dataType
        part_names.append(name)
        fields.append(StructField(name, in_schema[name]))
    measure_aliases = {m.alias or f"m{j}" for j, m in enumerate(spec.measures)}
    if spec.rows_per_match == "all":
        # ALL ROWS PER MATCH: input columns + MEASURES (measures shadow)
        fields = [StructField(f.name, f.dataType) for f in df.schema.fields
                  if f.name not in measure_aliases]
    for j, m in enumerate(spec.measures):
        alias = m.alias or f"m{j}"
        fields.append(StructField(alias, _measure_type(m.expr, in_schema)))
    return {
        "spec": spec,
        "df": df,
        "out_schema": StructType(fields),
        "part_names": part_names,
        "ts_col": ts_col,
        "ts_is_time": isinstance(in_schema.get(ts_col),
                                 (TimestampType, TimestampNTZType)),
        "within": duration_to_seconds(spec.within) if spec.within else None,
        # numeric event-time columns carry plan.timeunit units
        # (reference default ms, window/factory.go:76-133) — WITHIN and
        # MAXOUTOFORDERNESS horizons must scale by the SAME factor the
        # pipeline's watermark uses, not assume ms. Units-per-second is
        # fractional for mi/hh/dd (rsql/parser.go:1149-1154), so keep
        # float math.
        "ts_ups": TIMEUNIT_PER_SECOND.get(plan.timeunit,
                                          TIMEUNIT_PER_SECOND["ms"]),
        # a declared MAXOUTOFORDERNESS signals event-time discipline:
        # NULL event-time rows drop on BOTH paths (the streaming
        # kernel's reorder horizon cannot order them; batch must agree
        # or a null-ts row would match here and never there)
        "drop_null_ts": any(k.upper() == "MAXOUTOFORDERNESS"
                            for k in plan.options),
        "measure_names": [m.alias or f"m{j}"
                          for j, m in enumerate(spec.measures)],
        "order_cols": [c for c in order_sqls if c in in_schema],
    }


def execute_cep(spark: SparkSession, plan, source_df: DataFrame, executor) -> DataFrame:
    parts = build_cep_parts(source_df, plan)
    spec = parts["spec"]
    df = parts["df"]
    out_schema = parts["out_schema"]
    part_names = parts["part_names"]
    ts_col = parts["ts_col"]
    ts_is_time = parts["ts_is_time"]
    within_s = parts["within"]
    ts_ups = parts["ts_ups"]
    drop_null_ts = parts["drop_null_ts"]
    measure_names = parts["measure_names"]
    order_cols = parts["order_cols"]
    all_rows = spec.rows_per_match == "all"
    # the per-query pattern analysis every key group's Matcher shares
    # (captured by the closure: plain objects, picklable)
    shape = MatchShape(spec)

    names = [f.name for f in out_schema.fields]

    # Current-row-only DEFINE predicates evaluate in Catalyst (codegen)
    # before the shuffle; the kernel reads them as boolean arrays.  The
    # drive loop additionally jumps over start positions where no first
    # pattern symbol holds (Matcher._start_candidates) — at 100 TB the
    # Python matcher then only runs at candidate rows, not every row.
    symbols = set(spec.defines) | set(spec.subsets)
    symbols.update(_pattern_symbols(spec.pattern))
    pre_cols: dict[str, str] = {}
    for i, (sym, cond) in enumerate(spec.defines.items()):
        if _vectorizable_define(cond, symbols):
            pre_cols[sym] = f"__cls_{i}__"
    if pre_cols:
        df = df.select("*", *[
            F.expr(render(spec.defines[sym])).alias(c)
            for sym, c in pre_cols.items()])

    def key_starts(pdf):
        """Row indices (row 0 excluded) where the partition key changes
        — rows arrive sorted by key, so these are the group boundaries
        (NaN-safe comparison).  Keyless input is one group."""
        import numpy as np

        change = np.zeros(len(pdf), dtype=bool)
        for c in part_names:
            col = pdf[c]
            same = col.eq(col.shift()) | (col.isna() & col.shift().isna())
            change |= ~same.to_numpy(dtype=bool)
        change[:1] = False
        return np.flatnonzero(change).tolist()

    def run_task(pdf):
        """One sorted task frame (groups contiguous) → measure-row dicts.

        Column work happens ONCE per task, vectorized — class arrays,
        event-time seconds, the row-dict materialization — and each key
        group is then a zero-copy slice.  Splitting per group with
        pandas instead (frame copy + per-group conversions) costs ~1 ms
        per key, which at ~1M tiny keys would dwarf the matcher itself.
        """
        import numpy as np

        if drop_null_ts and ts_col in pdf.columns:
            # declared MAXOUTOFORDERNESS: NULL event-time rows drop on
            # both paths (streaming's reorder horizon can't order them)
            pdf = pdf[pdf[ts_col].notna()].reset_index(drop=True)
        n = len(pdf)
        pre_full = None
        if pre_cols:
            # NULL classifies as False; na_value maps it without the
            # object-dtype downcast fillna(False) does (deprecated in
            # pandas 2.2)
            pre_full = {sym: pdf[c].to_numpy(dtype=bool, na_value=False)
                        for sym, c in pre_cols.items()}
            pdf = pdf.drop(columns=list(pre_cols.values()))
        if ts_is_time:
            ints = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
            nat = pdf[ts_col].isna().to_numpy()
            # object array of python floats (+ None at NaT): same values
            # the per-element list build produced, without the O(n)
            # python loop; slices below are zero-copy views
            ts_full = (ints / 1e9).astype(object)
            if nat.any():
                ts_full[nat] = None
            within = within_s
        else:
            ts_full = np.asarray(
                pdf[ts_col].tolist() if ts_col in pdf.columns else [None] * n,
                dtype=object)
            # numeric event time: scale per TIMEUNIT (default ms)
            within = within_s * ts_ups if within_s is not None else None
        # lazy row materialization: NaN→None fix-up and dict building
        # happen per TOUCHED row/column inside _LazyRows, not eagerly
        # over the whole partition
        rows = _LazyRows(pdf)

        starts = [0, *key_starts(pdf)] if n else []
        outs = []
        for lo, hi in zip(starts, starts[1:] + [n]):
            pre = ({sym: a[lo:hi] for sym, a in pre_full.items()}
                   if pre_full is not None else None)
            grows = rows[lo:hi]
            out = run_partition(shape, grows, ts_full[lo:hi], within,
                                pre_cls=pre)
            if not all_rows and out:
                head = {name: grows[0][name] for name in part_names}
                out = [{**head, **m} for m in out]
            outs.extend(out)
        return outs

    # One shuffle co-locates each key's rows; mapInPandas then walks MANY
    # keys per Python roundtrip (vs applyInPandas' call-per-key overhead
    # — at 1M tiny keys that's the difference between a few hundred
    # pandas invocations and a million).  The buffer flushes at key
    # boundaries once it exceeds _TASK_CHUNK_ROWS, so Python memory is
    # bounded by the chunk size (or the largest single key — whose rows
    # ARE the match domain), not the partition.  Keyless input is one
    # partition and one group.
    parted = (df.repartition(*[F.col(c) for c in part_names])
              if part_names else df.repartition(1))
    parted = parted.sortWithinPartitions(*part_names,
                                         *(order_cols or [ts_col]))

    def map_groups(batch_iter):
        import pandas as pd

        pending: list = []
        n_pending = 0
        for p in batch_iter:
            if not len(p):
                continue
            pending.append(p)
            n_pending += len(p)
            if not part_names or n_pending < _TASK_CHUNK_ROWS:
                continue  # keyless input never cuts: skip the re-concat
            pdf = pd.concat(pending, ignore_index=True)
            cut = key_starts(pdf)
            if cut:
                outs = run_task(pdf.iloc[:cut[-1]].reset_index(drop=True))
                if outs:
                    yield pd.DataFrame(outs, columns=names)
                pdf = pdf.iloc[cut[-1]:].reset_index(drop=True)
            pending = [pdf]
            n_pending = len(pdf)
        if n_pending:
            outs = run_task(pd.concat(pending, ignore_index=True))
            if outs:
                yield pd.DataFrame(outs, columns=names)

    matched = parted.mapInPandas(map_groups, schema=out_schema)

    # outer SELECT over measure rows
    out_cols = []
    for out in plan.outputs:
        if out.star:
            out_cols.extend(F.col(c) for c in matched.columns)
        else:
            out_cols.append(F.expr(out.sql).alias(out.name))
    result = matched.select(*out_cols)
    if plan.order_by:
        exprs = [F.expr(s).asc() if asc else F.expr(s).desc()
                 for s, asc in plan.order_by]
        result = result.orderBy(*exprs)
    if plan.limit is not None:
        result = result.limit(plan.limit)
    return result
