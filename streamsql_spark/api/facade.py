"""StreamSQL facade — the reference's public API surface on Spark.

Mirrors rulego/streamsql ``streamsql.go``: ``Execute`` / ``Emit`` /
``EmitSync`` / ``AddSink`` / ``RegisterTable`` / ``UpsertTable`` /
``TriggerWindow`` / ``ToChannel``-style pull / ``PrintTable`` / ``Stop``.

Two execution styles:

- **DataFrame path** (``query(df)``): apply the compiled plan to any
  batch or streaming DataFrame — the idiomatic Spark route and the one
  every production pipeline should use.
- **Row-emit harness** (``emit`` / ``emit_sync`` / ``trigger_window``):
  API-parity test harness backed by batch replays, matching the
  reference's deterministic test pattern (EmitSync + TriggerWindow,
  SURVEY §5).  Per-row Spark jobs are not a throughput path and are
  documented as such.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as _T

from ..dialect import nodes as N
from ..dialect.parser import parse
from ..dialect.pyeval import Fallback
from ..dialect.planner import PlanError, plan as make_plan
from ..engine.batch import BatchExecutor, ExecError
from ..functions.registry import register_function as _register_function


def _norm_value(v):
    """VariantVal (Spark 4 VARIANT, produced by from_json → parse_json)
    → plain Python containers, recursively — the reference's from_json
    delivers map/list/scalar values (functions_json.go:40-62), so the
    facade's dict rows must too."""
    if type(v).__name__ == "VariantVal":
        return v.toPython()
    if isinstance(v, dict):
        return {k: _norm_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm_value(x) for x in v]
    return v


def row_to_dict(r) -> dict:
    """Row → dict with engine-normalized values (shared by every
    delivery path: sync, buffered trigger, streaming sinks)."""
    return {k: _norm_value(v)
            for k, v in r.asDict(recursive=True).items()}


def _freeze_row(r) -> tuple:
    """Recursively hashable form of a result row, for the multiset diff
    that keeps repeated triggers from re-delivering replayed results.
    NaN is normalized so a recomputed NaN matches its prior delivery."""
    if isinstance(r, dict):
        return tuple(sorted((k, _freeze_row(v)) for k, v in r.items()))
    if isinstance(r, (list, tuple)):
        return tuple(_freeze_row(v) for v in r)
    if isinstance(r, float) and r != r:
        return "__nan__"
    if isinstance(r, (bytes, bytearray)):
        return bytes(r)
    return r


# sentinel: "this row can't take the templated sync fast path"
_NOT_APPLICABLE = object()

import datetime as _dt_mod  # noqa: E402 — hot-path: imported once


def _merged_type(types):
    """One type, StringType for 'indeterminate' (no non-null evidence),
    or None for a genuine disagreement."""
    if any(t is None for t in types):
        return None
    uniq = {t.simpleString(): t for t in types}
    if len(uniq) == 1:
        return next(iter(uniq.values()))
    return _T.StringType() if not uniq else None


def _value_type(v):
    """The Spark type inference gives a python value (containers of
    indeterminate element type widen to string); None when it has none."""
    if isinstance(v, bool):
        return _T.BooleanType()
    if isinstance(v, int):
        return _T.LongType()
    if isinstance(v, float):
        return _T.DoubleType()
    if isinstance(v, str):
        return _T.StringType()
    if isinstance(v, _dt_mod.datetime):
        return _T.TimestampType()
    if isinstance(v, _dt_mod.date):
        return _T.DateType()
    if isinstance(v, (bytes, bytearray)):
        return _T.BinaryType()
    if isinstance(v, dict):
        vt = _merged_type([_value_type(x) for x in v.values()
                           if x is not None])
        return None if vt is None else _T.MapType(_T.StringType(), vt)
    if isinstance(v, (list, tuple)):
        et = _merged_type([_value_type(x) for x in v if x is not None])
        return None if et is None else _T.ArrayType(et)
    return None


# the Spark types that return each scalar python type as itself
_HOLDS = {bool: _T.BooleanType, int: _T.IntegralType,
          float: (_T.DoubleType, _T.FloatType), str: _T.StringType}


def _fits(dt, v) -> bool:
    """Whether a column of Spark type ``dt`` returns ``v`` as itself (an
    int column an int, not a double one)."""
    cls = _HOLDS.get(type(v))
    return cls is None or isinstance(dt, cls)


# the bound emit_sync's counter cells and the ``_metrics`` entries they
# fold into
_CELL_METRICS = {"_in": "input", "_out": "output"}


class StreamSQL:
    """One SQL statement per instance (streamsql.go:141-143)."""

    #: emit-buffer overflow strategies (stream/strategy.go:28-33)
    OVERFLOW_STRATEGIES = ("drop", "block", "expand")

    def __init__(self, spark: SparkSession | None = None, schema=None,
                 max_buffer_rows: int = 100_000,
                 analytic_max_partitions: int | None = None,
                 overflow_strategy: str = "drop",
                 blocking_timeout: float | None = None,
                 cep_skip_anchor: str = "inclusive",
                 strict_schema: bool = False):
        if spark is None:
            from ..session import get_spark
            spark = get_spark()
        if overflow_strategy not in self.OVERFLOW_STRATEGIES:
            raise ValueError(
                f"unknown overflow_strategy {overflow_strategy!r}: "
                f"expected one of {self.OVERFLOW_STRATEGIES}")
        self.spark = spark
        if isinstance(schema, str):
            # DDL-string schemas ("a INT, b STRING") normalize to
            # StructType up front: downstream consumers (the arrival-
            # stamp widening in _rows_df, the validate-and-drop gate)
            # check .fields/.add and would silently skip a bare string
            from pyspark.sql.types import StructType
            try:
                schema = StructType.fromDDL(schema)
            except Exception:
                pass  # let createDataFrame surface its own parse error
        self.schema = schema
        # Schema.Strict (schema/schema.go:123-124): unknown keys in an
        # input row are a validation error, not a pass-through
        self.strict_schema = strict_schema
        self.max_buffer_rows = max_buffer_rows
        # emit overflow strategy (stream/strategy.go:57-233): "drop"
        # rejects the INCOMING row when full; "block" waits for a
        # consumer to free space (forever when blocking_timeout is
        # None/<=0, else up to the timeout then drops — the reference's
        # bounded-block contract); "expand" grows capacity and never
        # drops
        self.overflow_strategy = overflow_strategy
        self.blocking_timeout = blocking_timeout
        # AFTER MATCH SKIP TO FIRST/LAST anchor: "inclusive" =
        # SQL-standard/Flink re-anchor ON the target row (default);
        # "exclusive" = reference-parity resume at target row + 1
        # (cep/engine.go:600).  README "CEP AFTER MATCH SKIP semantics".
        if cep_skip_anchor not in ("inclusive", "exclusive"):
            raise ValueError(
                f"unknown cep_skip_anchor {cep_skip_anchor!r}: "
                "expected 'inclusive' or 'exclusive'")
        self.cep_skip_anchor = cep_skip_anchor
        import threading
        self._buffer_cond = threading.Condition()
        # LRU cap on per-partition analytic state in the sync path
        # (WithAnalyticMaxPartitions, analytic_runtime_test.go:94-131):
        # an evicted partition's state resets on its next event — the
        # bounded-memory trade for unbounded key spaces; None = keep all
        self.analytic_max_partitions = analytic_max_partitions
        self._plan = None
        self._stmt = None
        self._tables: dict[str, DataFrame] = {}
        self._table_rows: dict[str, list[dict]] = {}
        self._table_keys: dict[str, tuple] = {}
        self._table_sources: dict[str, object] = {}  # lookup-backed dims
        # per-source frozen-statement derivations, kept in lockstep with
        # _table_sources: (probe pairs, referenced cols) and the
        # worker-vs-driver routing decision (register_table_source)
        self._table_source_meta: dict[str, tuple] = {}
        self._table_source_route: dict[str, bool] = {}
        self._sinks: list[Callable[[list[dict]], None]] = []
        self._buffer: list[dict] = []
        self._history: list[dict] = []  # replay rows for cross-trigger state
        # direct/CEP results delivered by earlier triggers (the replay
        # recomputes them for state continuity; they must not re-deliver)
        self._delivered_replay: list[dict] = []
        self._results: list[list[dict]] = []
        self._stopped = False
        self._metrics = {"input": 0, "input_dropped": 0, "output": 0,
                         "output_dropped": 0, "schema_dropped": 0,
                         "stream_out_exact": 0}
        self._queries: list = []  # StreamingQueries started by start_stream
        # emit_sync's per-statement route (_bind_sync) and the per-event
        # analytic state both of its analytic routes step, keyed
        # (placeholder, partition key)
        self._sync_bound = False
        self._sync_py = None
        self._sync_counted = None  # the bound emit_sync whose cells count
        self._an_states: dict = {}

    # ------------------------------------------------------------ compile
    def execute(self, sql: str) -> "StreamSQL":
        if self._plan is not None or self._stmt is not None:
            raise RuntimeError("Execute may be called once per StreamSQL instance")
        self._stmt = parse(sql)
        if getattr(self._stmt, "match", None) is not None:
            self._stmt.match.skip_anchor = self.cep_skip_anchor
        # changed_cols(prefix, ignoreNull, "*"): the reference expands
        # the star over the EVENT's fields at runtime
        # (analytic_acc.go:195-205; test/e2e/analytic_parity_test.go:104
        # runs it without any schema).  Spark needs a fixed column set,
        # so the star binds to the declared schema now, or defers to
        # first data (query()'s df.columns / the first emitted event)
        self._star_pending = self._has_changed_cols_star(self._stmt)
        if self._star_pending:
            if self._stmt.window is not None or self._stmt.group_by:
                # windowed star: the reference evaluates windowed
                # analytics over the WINDOW RESULT row
                # (stream/processor_data.go:438-452), so the star
                # expands over the statement's own output fields +
                # group keys — known right now, schema or not (r12
                # retires README delta row 8)
                self._bind_changed_cols_star([])
                return self
            cols = self._schema_columns()
            if cols and not getattr(self._stmt, "joins", None):
                self._bind_changed_cols_star(cols)
                return self
            # Defer the bind to first data — only DIRECT statements
            # reach here (windowed ones bound above): joins present
            # (so table sources registered AFTER execute() contribute
            # schema columns — the reference's `*` is the event map
            # AFTER join enrichment, stream/join.go:41-46) or no
            # declared schema at all (the reference expands the star
            # per event at runtime, functions/analytic_acc.go:195-205).
            # No arrival-stamp priming needed: direct mode never
            # stamps (eligibility requires a window).
            return self
        self._plan = make_plan(self._stmt)
        self._prime_arrival_stamp()
        return self

    def _prime_arrival_stamp(self) -> None:
        """Cache the plan-level processing-time-window eligibility
        (fixed once the plan exists) so emit() pays one flag check.
        Every ELIGIBLE plan exists by the end of execute() — windowed
        star statements bind there (r12) and the remaining deferred-
        star paths are direct-mode, which never stamps — so rows are
        stamped from the very first emit."""
        import threading

        plan = self._plan
        self._arrival_eligible = (
            plan is not None and plan.mode == "window"
            and plan.window is not None and plan.event_time_col is None)
        if not hasattr(self, "_arrival_lock"):
            self._arrival_lock = threading.Lock()
            self._last_arrival_us = 0

    def _schema_columns(self) -> list | None:
        """Column names from the declared schema (normalized to
        StructType in __init__, DDL strings included)."""
        sch = self.schema
        if sch is None:
            return None
        if hasattr(sch, "fields"):
            return [f.name for f in sch.fields]
        # a str here means __init__'s fromDDL normalization already
        # failed on it — no columns to offer
        return None

    @staticmethod
    def _has_changed_cols_star(stmt) -> bool:
        for f in getattr(stmt, "fields", []) or []:
            e = f.expr
            if isinstance(e, N.Func) and e.name.lower() == "changed_cols" \
                    and any(isinstance(a, N.Lit) and a.value == "*"
                            for a in e.args[2:]):
                return True
        return False

    def _bind_changed_cols_star(self, refs) -> None:
        """Expand every changed_cols star over ``refs`` (column names
        or pre-built Col nodes) and compile the plan.  Column order =
        arrival order of the binding source (schema field order /
        df.columns / first-event key order) — deterministic per run,
        like the fixed-schema fan-out."""
        if self._stmt.window is not None or self._stmt.group_by:
            refs = self._window_star_refs()
        else:
            refs = [N.Col((r,)) if isinstance(r, str) else r for r in refs]
        for f in self._stmt.fields:
            e = f.expr
            if isinstance(e, N.Func) and e.name.lower() == "changed_cols":
                expanded = []
                for a in e.args[2:]:
                    if isinstance(a, N.Lit) and a.value == "*":
                        expanded.extend(refs)
                    else:
                        expanded.append(a)
                e.args = list(e.args[:2]) + expanded
        self._star_pending = False
        self._plan = make_plan(self._stmt)
        # the normal execute() path primes arrival stamping right after
        # make_plan — the star-bound path must too, or a star-bound
        # processing-time-window plan loses its monotone wall-clock
        # stamp in emit() (review find r11)
        self._prime_arrival_stamp()

    def _window_star_refs(self) -> list:
        """Windowed ``changed_cols`` star members.  The reference runs
        windowed analytics over the WINDOW RESULT row — after group-
        column projection and aggregation, before HAVING
        (stream/processor_data.go:438-452 projectGroupColumns →
        applyWindowAnalytic per result row) — so ``'*'`` expands over
        the result row's fields: the statement's other non-analytic
        output fields (watched by their output NAME, valued by their
        expression) plus unselected plain GROUP BY keys.  Sibling
        analytic outputs are excluded: AnalyticEngine.Evaluate builds
        a separate result map, so they are not yet in the row when the
        star expands (stream/analytic.go:117-123)."""
        import copy

        from ..dialect.planner import _default_name
        from ..functions import registry
        stmt = self._stmt
        members: list = []
        seen: set[str] = set()

        def has_analytic(e) -> bool:
            return any(isinstance(n, N.Func)
                       and (registry.is_analytic(n.name)
                            or n.name.lower() == "changed_cols")
                       for n in N.walk(e))

        for i, f in enumerate(stmt.fields):
            e = f.expr
            if isinstance(e, N.Star) or has_analytic(e):
                continue
            name = f.alias or _default_name(e, i)
            if name in seen:
                continue
            node = copy.deepcopy(e)
            node._fanout_name = name  # result-row key, not expr text
            members.append(node)
            seen.add(name)
        for g in stmt.group_by or []:
            if not isinstance(g, N.Col):
                continue  # window specs / expression keys: not row keys
            parts = g.parts
            name = ".".join(str(p) for p in
                            (parts[1:] if len(parts) > 1 else parts))
            if name in seen:
                continue
            members.append(copy.deepcopy(g))
            seen.add(name)
        if not members:
            raise PlanError(
                'changed_cols(..., "*") on a windowed statement watches '
                "the window result row, and this statement has no other "
                "output fields or group keys to watch — list columns "
                "explicitly or add fields")
        return members

    def _star_watch_refs(self, columns) -> list:
        """The reference's ``*`` is the EVENT MAP at analytic time —
        JOIN enrichment writes the matched table row's fields into it
        BEFORE analytics run (stream/join.go:41-46,
        stream/processor_data.go:94-141), so star-watched change
        detection sees enriched columns.  Expand over the stream
        columns plus every joined table's columns (ALIAS-QUALIFIED, so
        lookup-stage materialization and driver-probe NULL backfill
        both count them): schema() fields for registered table
        sources, the frame's columns for snapshot tables.  Stream
        names win a collision (join.go keeps stream fields top-level).
        A source with no usable schema() cannot be enumerated at bind
        time and contributes nothing — its columns are watchable only
        explicitly."""
        refs: list = [N.Col((c,)) for c in columns]
        seen = set(columns)
        for j in (getattr(self._stmt, "joins", None) or []):
            alias = j.alias or j.table
            extra: list[str] = []
            src = (self._table_sources or {}).get(j.table)
            if src is not None:
                from ..streaming.lookup import source_schema
                try:
                    extra = [f.name
                             for f in source_schema(src).fields]
                except Exception:
                    extra = []  # no usable schema(): not enumerable
            elif j.table in (self._tables or {}):
                extra = list(self._tables[j.table].columns)
            for c in extra:
                if c not in seen:
                    seen.add(c)
                    refs.append(N.Col((alias, c)))
        return refs

    def _maybe_bind_star(self, columns) -> None:
        # only DIRECT statements still defer (windowed stars bind at
        # execute(), r12), so the bind columns never carry internal
        # window-bookkeeping names
        if getattr(self, "_star_pending", False):
            base = self._schema_columns() or list(columns)
            self._bind_changed_cols_star(self._star_watch_refs(base))

    @property
    def plan(self):
        return self._plan

    def is_aggregation_query(self) -> bool:
        """IsAggregationQuery analog (streamsql.go) — True for
        window/aggregate mode, False for the direct path."""
        if getattr(self, "_star_pending", False):
            # a deferred star no longer implies direct mode: the r11
            # joins-deferral branch defers windowed statements too —
            # answer from the statement shape
            return self._stmt.window is not None \
                or bool(self._stmt.group_by)
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        return self._plan.mode == "window"

    # ------------------------------------------------------- table store
    def register_table(self, name: str, rows, *key_fields: str) -> None:
        """Register a dimension snapshot for stream-table JOIN
        (streamsql.go:503-515).  Accepts a DataFrame or list[dict]."""
        if isinstance(rows, DataFrame):
            self._tables[name] = rows
            return
        self._table_rows[name] = list(rows)
        self._table_keys[name] = key_fields or self._derive_join_keys(name)
        self._tables[name] = self.spark.createDataFrame(self._table_rows[name])

    def register_table_source(self, src) -> None:
        """Register a CUSTOM lookup-backed table source (file/DB/Redis/
        HTTP) — the reference's ``RegisterTableSource``
        (streamsql.go:517-525; ``stream/table_store.go:18-23``
        TableSource interface).  ``src`` provides:

        - ``name()`` (or a ``name`` attribute): the table name JOINed
          against;
        - ``lookup(key) -> (row, found)`` or ``row | None``: key is the
          bare key value for single-key joins, a list of values for
          composite keys;
        - optional ``init()`` / ``close()`` lifecycle hooks.

        Spark realization (scale path): a PICKLABLE source that
        declares ``schema()`` (StructType or DDL string) joins as a
        worker-side ``mapInPandas`` probe stage — ``lookup`` called
        once per DISTINCT key per Arrow batch ON THE EXECUTORS, no
        driver round-trip, on both the batch and streaming paths
        (streaming/lookup.py); ``init()`` re-runs once per worker
        process.  A source that cannot ship (unpicklable, or no
        schema) takes the batch-only driver-probe fallback: collect
        the stream side's distinct join keys (bounded by
        ``driver_probe_max_keys``), loop ``lookup`` per key, and
        broadcast-join the materialized rows.  A Lookup that RAISES is
        recovered per key on both paths (the reference's J2 ingest
        recover, test/e2e/j2_panic_recover_test.go): that key resolves
        as not-found and the query survives.  Must be called after
        execute()."""
        if self._stmt is None:
            raise RuntimeError(
                "execute(sql) must be called before register_table_source")
        name = src.name() if callable(getattr(src, "name", None)) \
            else getattr(src, "name")
        if not any(j.table == name for j in self._stmt.joins):
            # fail at REGISTRATION, not at the first query (the
            # streaming path would otherwise silently ignore the
            # source while the batch path errored per query)
            raise ExecError(
                f"table source {name!r} is not joined in the "
                "statement — the ON clause derives its probe keys")
        init = getattr(src, "init", None)
        if callable(init):
            init()
        self._table_sources[name] = src
        # the statement is frozen after execute(): derive the probe
        # pairs and referenced columns ONCE, not per query/emit
        self._table_source_meta[name] = (self._join_key_pairs(name),
                                         self._table_ref_cols(name))
        if not self._table_keys.get(name):
            self._table_keys[name] = self._derive_join_keys(name)
        # routing is a pure function of the frozen statement + source:
        # decide ONCE here (the cloudpickle probe can be MBs for a
        # dict-backed source — not a per-query cost)
        self._table_source_route[name] = self._worker_routable(name, src)

    def _join_key_pairs(self, name: str) -> list[tuple[str, str]]:
        """(stream-side expression SQL, table key field) pairs from the
        JOIN ON equalities against table ``name`` — the probe order
        matches ``_derive_join_keys`` (the reference's encodeKey field
        order, stream/table_store.go:28-96).  Shares the STRICT
        extractor with the streaming path: key pairs come only from
        conjunction equalities with one table-qualified side; OR/NOT
        raise (probing one arm would silently drop the other's
        matches), and non-key conjuncts pass through as residual —
        the batch join re-applies the FULL ON afterwards."""
        from ..dialect.render import render
        from ..streaming.lookup import equi_pairs
        pairs: list[tuple[str, str]] = []
        for j in self._stmt.joins:
            if j.table == name and j.on is not None:
                p, _residual = equi_pairs(j, allow_residual=True)
                pairs.extend((render(s), k) for s, k in p)
        return pairs

    # driver-probe fallback bound: the serial Lookup loop and the
    # collected key rows are sized by the stream side's DISTINCT key
    # cardinality — above this, fail typed instead of grinding the
    # driver (make the source picklable + schema()-declaring to route
    # it worker-side, or raise the cap explicitly)
    driver_probe_max_keys: int = 100_000

    def _worker_routable(self, name: str, src) -> bool:
        """True when a lookup source can ship to the workers: picklable
        AND schema()-declaring, with every referenced non-key column
        covered by the schema — the streaming path's contract
        (streaming/lookup.py).  Anything else takes the bounded
        driver-probe fallback."""
        # cloudpickle, not pickle: Spark ships stage closures with it,
        # and it serializes locally-defined classes by value where the
        # stdlib pickler refuses — the check must match what the
        # mapInPandas stage will actually do
        from pyspark import cloudpickle as pickle

        from ..streaming.lookup import source_schema
        try:
            sch = source_schema(src)
        except Exception:
            # ANY schema() failure — absent, raising, malformed DDL —
            # routes to the driver-probe fallback rather than failing
            # registration (the r9 driver path tolerated all of these)
            return False
        pairs, ref_cols = self._table_source_meta[name]
        if not pairs:
            return False
        declared = {f.name for f in sch.fields}
        key_fields = {k for _, k in pairs}
        if any(c not in declared and c not in key_fields
               for c in ref_cols):
            return False
        try:
            pickle.dumps(src)
        except Exception:
            return False
        return True

    def _probe_refs_tables(self, name: str, others: dict) -> bool:
        """True when table ``name``'s probe-key expressions (the
        stream-side of its ON equalities) reference any table in
        ``others`` (by alias or name) — a CHAINED lookup whose keys
        only exist after the other tables' enrichment."""
        return bool(self._probe_dep_tables(name, set(others)))

    def _probe_refs_quals(self, name: str, quals: set) -> bool:
        """True when table ``name``'s ON references a column under any
        ROOT qualifier in ``quals`` — qualifier-granular, unlike
        ``_probe_refs_tables``: a twice-joined table may have one
        alias consumed by the worker pre-join while the other stays a
        real join (r13)."""
        for j in self._stmt.joins:
            if j.table != name or j.on is None:
                continue
            for node in N.walk(j.on):
                if isinstance(node, N.Col) and len(node.parts) >= 2 \
                        and str(node.parts[0]) in quals:
                    return True
        return False

    def _lookup_tables_chained(self, source_df: DataFrame, plan,
                               sources: dict, all_tables: dict,
                               dep_w=frozenset(), qmap=None,
                               pre_df: DataFrame | None = None) -> None:
        """Materialize driver-probed lookup ``sources`` into
        ``all_tables``, resolving CHAINED probes in dependency ROUNDS
        (r11; previously a typed error): each round broadcast-joins
        the already-materialized dependency tables — other driver
        sources AND register_table snapshot tables — into the probe
        frame (the same join the executor will run) so the chained
        source's key expressions resolve, then driver-probes it;
        every round is bounded by ``driver_probe_max_keys``.

        ``dep_w``: sources whose keys read WORKER-enriched columns —
        they probe the post-enrichment ``source_df`` with ``qmap``
        rewriting those refs to their materialized flat names.
        ``pre_df``: the PRE-worker-enrichment frame; sources that need
        no worker column probe it instead, so key collection does not
        re-run the worker stage's mapInPandas lookups (one extra full
        pass per source otherwise).  Used by query() and by the
        per-event analytic path (where every source probes
        driver-style, one key per event)."""
        from pyspark.sql import functions as F
        if not sources:
            return
        snap = set(all_tables)  # snapshot/dim tables: available day one
        universe = set(sources) | snap
        # TRANSITIVE closure, in dependency (topological) order: a dep
        # table's OWN ON may reference a third table (stream→a→b→c),
        # so materializing c must join a BEFORE b into the probe frame
        # or b's condition fails to resolve (ADVICE r12 — depth ≥3
        # chains crashed with an AnalysisException before this)
        dclos = {n: self._probe_dep_closure(n, universe) for n in sources}
        if not any(dclos.values()) and not dep_w:
            all_tables.update(self._lookup_tables(
                pre_df if pre_df is not None else source_df, sources))
            return
        # dims consumed by the worker pre-join (r13): their columns
        # exist only as flats on the ENRICHED frame, so a dep table
        # whose ON reads them — by any consumed QUALIFIER — must
        # probe source_df, not pre_df
        prejq = set(plan.options.get("__prejoined_quals__") or ())
        pending = dict(sources)
        while pending:
            ready = {n: s for n, s in pending.items()
                     if set(dclos[n]) <= set(all_tables)}
            if not ready:
                raise ExecError(
                    f"lookup sources {sorted(pending)} form a "
                    "probe-key cycle — each one's ON references "
                    "another's columns, so no probe order exists. "
                    "Break the cycle or route a source worker-side "
                    "(picklable + schema()).")
            for n, s in ready.items():
                # a dependency table whose OWN join condition reads a
                # worker-enriched or pre-joined-flattened column
                # forces the enriched frame (its rewritten on_sql only
                # resolves there — r13 join-fuzz find, seed 1234)
                dep_needs_worker = any(
                    self._probe_refs_tables(d, self._worker_name_map())
                    or (prejq and self._probe_refs_quals(d, prejq))
                    for d in dclos[n]) if pre_df is not None else False
                use_pre = (pre_df is not None and n not in dep_w
                           and not dep_needs_worker)
                probe = (pre_df if use_pre else source_df).alias(
                    plan.source_alias or plan.source)
                for d in dclos[n]:
                    # EVERY join entry for the dep table: the same
                    # table may be joined under several aliases, and a
                    # chained key may reference any of them
                    for j in (r for r in plan.joins if r.table == d):
                        probe = probe.join(
                            F.broadcast(all_tables[d].alias(
                                j.alias or j.table)),
                            F.expr(j.on_sql),
                            j.kind if j.kind != "cross" else "inner")
                all_tables.update(self._lookup_tables(
                    probe, {n: s},
                    qref_map=qmap if n in dep_w else None,
                    probe_aliased=True))
                del pending[n]

    def _worker_name_map(self) -> dict:
        """Worker-routable source names (for _probe_refs_tables)."""
        return {n: s for n, s in self._table_sources.items()
                if self._table_source_route.get(n)}

    def _probe_dep_closure(self, name: str, universe) -> list[str]:
        """Transitive closure of ``_probe_dep_tables`` over
        ``universe``, in dependency (topological) order: every listed
        table's ON references only the stream side and tables EARLIER
        in the list, so joining them left-to-right into the probe
        frame always resolves.  A cycle inside the closure is left to
        the caller's readiness check (which reports it typed)."""
        order: list[str] = []
        done: set[str] = set()

        def visit(t: str, stack: frozenset) -> None:
            if t in done or t in stack:
                return
            for d in sorted(self._probe_dep_tables(
                    t, set(universe) - {t})):
                visit(d, stack | {t})
            done.add(t)
            order.append(t)

        for d in sorted(self._probe_dep_tables(
                name, set(universe) - {name})):
            visit(d, frozenset({name}))
        return order

    def _probe_dep_tables(self, name: str, others) -> set[str]:
        """TABLE NAMES among ``others`` that table ``name``'s ON
        references — the driver-probe dependency set (chained keys
        exist only after those tables' materialization)."""
        alias_to_table: dict[str, str] = {}
        for jj in self._stmt.joins:
            if jj.table in others:
                alias_to_table[jj.table] = jj.table
                if jj.alias:
                    alias_to_table[jj.alias] = jj.table
        deps: set[str] = set()
        for j in self._stmt.joins:
            if j.table != name or j.on is None:
                continue
            for node in N.walk(j.on):
                if isinstance(node, N.Col) and len(node.parts) >= 2 \
                        and str(node.parts[0]) in alias_to_table:
                    deps.add(alias_to_table[str(node.parts[0])])
        return deps

    def _split_lookup_sources(self):
        """(worker-routable, driver-fallback) partitions of the
        registered lookup sources (decision cached at registration).

        r13: a worker-routable source is DEMOTED to the driver rounds
        when its probe-key dependency closure contains (a) a
        driver-probed source's table — the dep only materializes in
        the rounds, AFTER worker enrichment would have run — or (b) a
        snapshot table while the plan carries a bare ``SELECT *`` /
        ``had_changed(*, '*')`` (the worker pre-join would flatten dim
        columns the star must surface under real names; the rounds +
        real joins preserve them).  The rounds handle any DAG, so
        batch/per-event keep working; the streaming path reports its
        existing typed no-driver-fallback error."""
        worker: dict[str, object] = {}
        driver: dict[str, object] = {}
        for name, src in self._table_sources.items():
            (worker if self._table_source_route.get(name)
             else driver)[name] = src
        if worker and (driver or self._tables):
            from ..streaming.lookup import plan_watches_bare_star
            universe = set(self._table_sources) | set(self._tables)
            star = self._plan is not None \
                and plan_watches_bare_star(self._plan)
            changed = True
            while changed:
                changed = False
                for n in list(worker):
                    clos = self._probe_dep_closure(n, universe)
                    if any(d in driver for d in clos) or \
                            (star and any(d in self._tables
                                          for d in clos)):
                        driver[n] = worker.pop(n)
                        changed = True
        return worker, driver

    def _lookup_tables(self, source_df: DataFrame,
                       sources: dict | None = None,
                       qref_map: dict | None = None,
                       probe_aliased: bool = False) -> dict[str, DataFrame]:
        """Materialize registered lookup sources against THIS batch's
        distinct join-key values (see register_table_source) — the
        DRIVER-PROBE fallback, bounded by ``driver_probe_max_keys``.
        The per-event sync path also lands here (one key per call).
        ``qref_map`` rewrites probe-key expressions that reference
        WORKER-enriched columns (chained sources probing the
        post-enrichment frame) to their flat hidden names.
        ``probe_aliased``: the caller already stream-aliased (and
        possibly dependency-joined) the frame — re-aliasing would
        erase the join-side qualifiers chained key expressions need."""
        from pyspark.sql import functions as F
        out: dict[str, DataFrame] = {}
        # the planner qualifies stream-side refs with the source
        # alias (stream.deviceId) — alias the probe frame to match
        probe = source_df if probe_aliased else source_df.alias(
            (self._plan.source_alias or self._plan.source)
            if self._plan is not None else "stream")
        rw = None
        if qref_map:
            from ..streaming.stateful import make_qref_rewriter
            quals = {t.split(".", 1)[0] for t in qref_map
                     if t != "__src__"}
            rw = make_qref_rewriter("", quals, dict(qref_map))
        cap = self.driver_probe_max_keys
        for name, src in (sources if sources is not None
                          else self._table_sources).items():
            pairs, ref_cols = self._table_source_meta[name]
            if rw is not None:
                pairs = [(rw(s), k) for s, k in pairs]
            if not pairs:
                raise ExecError(
                    f"lookup table source {name!r} needs an equality "
                    "JOIN ON condition to derive its probe keys")
            key_rows = (probe
                        .select(*[F.expr(s).alias(k) for s, k in pairs])
                        .distinct().limit(cap + 1).collect())
            if len(key_rows) > cap:
                raise ExecError(
                    f"lookup source {name!r}: stream side has more than "
                    f"driver_probe_max_keys={cap} distinct join keys — "
                    "the driver-probe fallback collects one row per key "
                    "and loops Lookup serially. Make the source picklable "
                    "and declare schema() to route it through the "
                    "worker-side probe stage, or raise "
                    "driver_probe_max_keys explicitly.")
            rows = []
            for kr in key_rows:
                kv = [kr[k] for _, k in pairs]
                arg = kv[0] if len(kv) == 1 else list(kv)
                try:
                    got = src.lookup(arg)
                except Exception:
                    continue  # J2 recover: this key resolves not-found
                row, found = got if isinstance(got, tuple) else \
                    (got, got is not None)
                if found:
                    # ({}, True) IS a hit: an existence-only source
                    # keeps the event with no extra columns
                    rows.append({**{k: kr[k] for _, k in pairs},
                                 **(row or {})})
            if rows:
                tdf = self._lookup_rows_df(src, rows, pairs, probe)
            else:
                # all keys missed: an empty relation with the key cols
                tdf = (probe
                       .select(*[F.expr(s).alias(k)
                                 for s, k in pairs]).limit(0))
            # plan-referenced table columns the lookups never returned
            # resolve as NULL — the reference's nil for a missing map
            # field (utils/fieldpath GetNestedField miss).  A column the
            # statement navigates NESTED (m.payload['k']) needs a TYPED
            # NULL: a void literal cannot be try_element_at-ed
            for c in ref_cols:
                if c not in tdf.columns:
                    cast = self._nested_backfill_cast(name, c)
                    lit = F.lit(None).cast(cast) if cast else F.lit(None)
                    tdf = tdf.withColumn(c, lit)
            out[name] = tdf
        return out

    def _nested_backfill_cast(self, name: str, col: str) -> str | None:
        """Spark type for NULL-backfilling table column ``col`` when the
        statement navigates it nested: bracket-key segments shape a
        map, index segments an array (matching render_col's
        try_element_at chain), built recursively from the first nested
        ref's path.  None for plain refs (untyped NULL suffices) and
        for struct-dot segments (a missing struct field cannot be
        faked — the declared schema() covers that case instead)."""
        aliases = {name}
        for j in self._stmt.joins:
            if j.table == name and j.alias:
                aliases.add(j.alias)

        def shape(parts) -> str | None:
            if not parts:
                return "string"
            p = parts[0]
            if isinstance(p, N.MapKey):
                inner = shape(parts[1:])
                return f"map<string,{inner}>" if inner else None
            if isinstance(p, int):
                inner = shape(parts[1:])
                return f"array<{inner}>" if inner else None
            return None  # struct dot access: not fakeable

        # SAME expression set as _table_ref_cols: a nested ref in
        # GROUP BY / ORDER BY / join-ON / MATCH clauses needs the typed
        # backfill just as much as one in the projection
        stmt = self._stmt
        exprs = [f.expr for f in stmt.fields] \
            + [stmt.where, stmt.having] \
            + [j.on for j in stmt.joins] \
            + list(stmt.group_by) \
            + [e for e, _ in stmt.order_by]
        if stmt.match is not None:
            exprs += [f.expr for f in stmt.match.measures] \
                + list(stmt.match.defines.values()) \
                + list(stmt.match.partition_by) \
                + list(stmt.match.order_by)
        # ADVICE r10: the statement may navigate the SAME missing
        # column at several depths (m.c['a'] and m.c['a']['b']) — the
        # deepest fakeable shape serves every shallower chain (its
        # try_element_at yields a typed NULL mid-branch), while a
        # too-shallow pick fails analysis on the deeper chain.  That
        # only holds when every chain is a segment-kind PREFIX of the
        # deepest; a map-key and an array-index at the same position
        # (m.c['a'] AND m.c[0]) cannot share one typed NULL — fail
        # typed instead of an unresolved AnalysisException mid-plan
        # (review find r11)
        def kinds(parts) -> str:
            # struct-dot counts as 'm': Catalyst resolves a field name
            # on a map column as GetMapValue, so a typed NULL map
            # serves a dot chain — only key-by-name vs index-by-int
            # genuinely conflict
            return "".join("a" if isinstance(p, int) else "m"
                           for p in parts)

        cands: list[tuple[str, str | None]] = []
        for e in exprs:
            if e is None:
                continue
            for node in N.walk(e):
                if isinstance(node, N.Col) and len(node.parts) > 2 \
                        and str(node.parts[0]) in aliases \
                        and node.parts[1] == col:
                    path = list(node.parts[2:])
                    cands.append((kinds(path), shape(path)))
        fakeable = [(k, s) for k, s in cands if s is not None]
        if not fakeable:
            return None
        longest, best = max(fakeable, key=lambda t: len(t[0]))
        for k, _ in cands:
            n = min(len(k), len(longest))
            if k[:n] != longest[:n]:
                raise ExecError(
                    f"lookup source {name!r}: column {col!r} is "
                    "navigated with conflicting shapes (map key vs "
                    "array index at the same position) and the source "
                    "never returned it — declare the column in "
                    "schema() so its real type resolves the paths")
        return best

    def _lookup_rows_df(self, src, rows: list[dict], pairs,
                        probe: DataFrame) -> DataFrame:
        """Materialize lookup hits, TYPED when the source declares
        schema(): inference crashes on an all-None column and on
        ragged row shapes, both legal in the reference's open rows
        (nil map values / per-key field sets).  Key columns type from
        the probe frame; undeclared non-key columns fall back to
        inference."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType
        sch = getattr(src, "schema", None)
        sch = sch() if callable(sch) else sch
        if isinstance(sch, str):
            try:
                sch = StructType.fromDDL(sch)
            except Exception:
                sch = None
        if not isinstance(sch, StructType):
            return self.spark.createDataFrame(rows)
        by_name = {f.name: f for f in sch.fields}
        key_fields = {f.name: f for f in probe.select(
            *[F.expr(s).alias(k) for s, k in pairs]).schema.fields}
        allcols: list[str] = []
        for r in rows:
            for k in r:
                if k not in allcols:
                    allcols.append(k)
        fields = []
        for c in allcols:
            f = by_name.get(c) or key_fields.get(c)
            if f is None:
                return self.spark.createDataFrame(rows)  # undeclared col
            fields.append(f)
        norm = [{c: r.get(c) for c in allcols} for r in rows]
        return self.spark.createDataFrame(norm, StructType(fields))

    def _table_ref_cols(self, name: str) -> list[str]:
        """Column names the statement references under table ``name``'s
        alias (m.location, meta.type, ...)."""
        cols: list[str] = []
        stmt = self._stmt
        aliases = {name}
        for j in stmt.joins:
            if j.table == name and j.alias:
                aliases.add(j.alias)
        exprs = [f.expr for f in stmt.fields] \
            + [stmt.where, stmt.having] \
            + [j.on for j in stmt.joins] \
            + list(stmt.group_by) \
            + [e for e, _ in stmt.order_by]
        if stmt.match is not None:
            # batch CEP over a lookup source: MEASURES/DEFINE/PARTITION
            # refs must NULL-backfill too, not crash unresolved
            exprs += [f.expr for f in stmt.match.measures] \
                + list(stmt.match.defines.values()) \
                + list(stmt.match.partition_by) \
                + list(stmt.match.order_by)
        for e in exprs:
            for node in N.walk(e):
                # >= 2 parts: a NESTED ref (m.payload['k'], 3-part Col)
                # still references table column parts[1] — missing it
                # breaks NULL-backfill and the worker-routability
                # schema-coverage check (review find r10)
                if isinstance(node, N.Col) and len(node.parts) >= 2 \
                        and isinstance(node.parts[1], str) \
                        and str(node.parts[0]) in aliases \
                        and str(node.parts[1]) not in cols:
                    cols.append(str(node.parts[1]))
        return cols

    def _derive_join_keys(self, name: str) -> tuple:
        """Auto-derive key fields from the JOIN ON equality condition
        (streamsql.go:506-513)."""
        if self._stmt is None:
            return ()
        keys = []
        for j in self._stmt.joins:
            if j.table == name and j.on is not None:
                for node in N.walk(j.on):
                    if isinstance(node, N.Bin) and node.op == "=":
                        for side in (node.left, node.right):
                            if isinstance(side, N.Col) and len(side.parts) == 2 \
                                    and str(side.parts[0]) in (j.alias, j.table):
                                keys.append(str(side.parts[1]))
        return tuple(keys)

    def _materialize_table_rows(self, name: str) -> None:
        """A table registered as a DataFrame has no row-level store; an
        incremental mutation first snapshots it driver-side (the
        reference table IS an in-memory keyed snapshot,
        stream/table_store.go:28-96, so dim-sized by contract) —
        without this, upsert would silently REPLACE the whole table
        with the single upserted row."""
        if name not in self._tables:
            return
        if name not in self._table_rows:
            self._table_rows[name] = [row_to_dict(r)
                                      for r in self._tables[name].collect()]
        # (re)derive join keys when none are known yet: a mutation BEFORE
        # execute() caches an empty tuple (no JOIN to derive from), and a
        # later upsert would then APPEND same-key rows instead of
        # replacing — once a statement exists, fill the gap
        if not self._table_keys.get(name):
            self._table_keys[name] = self._derive_join_keys(name)

    def upsert_table(self, name: str, row: dict) -> None:
        """Incremental dim-table upsert (stream/table_store.go:71-85)."""
        self._materialize_table_rows(name)
        rows = self._table_rows.setdefault(name, [])
        keys = self._table_keys.get(name, ())
        if keys:
            kv = tuple(row.get(k) for k in keys)
            rows[:] = [r for r in rows if tuple(r.get(k) for k in keys) != kv]
        rows.append(row)
        self._tables[name] = self.spark.createDataFrame(rows)

    def delete_table(self, name: str, key) -> None:
        """Delete the row whose key matches: accepts a dict row, a
        single key VALUE, or a list/tuple of key values in key-field
        order — the reference's MemoryTableSource.Delete contract
        (stream/table_store.go:77-107 encodeKey value-or-tuple)."""
        self._materialize_table_rows(name)
        rows = self._table_rows.get(name, [])
        keys = self._table_keys.get(name, ())
        if keys:
            if isinstance(key, dict):
                kv = tuple(key.get(k) for k in keys)
            elif isinstance(key, (list, tuple)):
                kv = tuple(key)
            else:
                kv = (key,)
            rows[:] = [r for r in rows if tuple(r.get(k) for k in keys) != kv]
            if rows:
                self._tables[name] = self.spark.createDataFrame(rows)
            elif name in self._tables:
                self._tables[name] = self._tables[name].limit(0)

    def sql(self, query: str,
            tables: dict[str, DataFrame] | None = None) -> DataFrame:
        """ANSI Spark SQL passthrough (SURVEY §2.10).

        The reference grammar has no UNION / INTERSECT / EXCEPT /
        subqueries (rsql/lexer.go:373-460, rsql/parser.go:149-253);
        Spark provides them natively, so anything beyond the StreamSQL
        dialect goes straight to Catalyst.  Registered dim tables and
        any ``tables`` passed here are visible as temp views.
        """
        for name, df in {**self._tables, **(tables or {})}.items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    # -------------------------------------------------------- DataFrame path
    def query(self, source_df: DataFrame, tables: dict[str, DataFrame] | None = None) -> DataFrame:
        """Apply the compiled plan to a DataFrame (batch or streaming-ready).

        This is the scale path: one declarative Catalyst plan, no
        driver-side loops.
        """
        self._maybe_bind_star(source_df.columns)
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        plan = self._plan
        all_tables = dict(self._tables)
        if self._table_sources:
            # the scale path: picklable schema()-declaring sources run
            # as the worker-side mapInPandas probe stage — cost
            # parallel across partitions, zero driver involvement; the
            # rest take the bounded driver-probe fallback
            worker, driver = self._split_lookup_sources()
            pre_df = source_df
            if worker:
                from ..streaming.lookup import apply_lookup_joins
                source_df, plan = apply_lookup_joins(
                    source_df, plan, worker, via="join",
                    tables=all_tables)
            # snapshot dims consumed by the worker pre-join are part
            # of the enriched frame now: the rounds must not try to
            # re-join them (their plan entries are gone), and a driver
            # source reading their columns — by any CONSUMED qualifier,
            # even when the table survives under another alias —
            # probes via the qref map
            for t in (plan.options.get("__prejoined__") or ()):
                all_tables.pop(t, None)
            prejq = set(plan.options.get("__prejoined_quals__") or ())
            dep_w = {n for n in driver
                     if (worker and self._probe_refs_tables(n, worker))
                     or (prejq and self._probe_refs_quals(n, prejq))}
            self._lookup_tables_chained(
                source_df, plan, driver, all_tables, dep_w=dep_w,
                qmap=plan.options.get("__qref_map__"),
                pre_df=pre_df if worker else None)
        if tables:
            all_tables.update(tables)
        return BatchExecutor(self.spark, all_tables).execute(plan, source_df)

    # -------------------------------------------------------- streaming path
    def query_stream(self, stream_df: DataFrame,
                     tables: dict[str, DataFrame] | None = None) -> DataFrame:
        """Apply the compiled plan to a streaming DataFrame (readStream).

        Returns the transformed streaming DataFrame; pair with
        ``writeStream`` or use :meth:`start_stream` for the full
        reference sink pipeline (ORDER BY/LIMIT per emission batch).
        """
        self._maybe_bind_star(stream_df.columns)
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        from ..streaming.executor import StreamingExecutor
        all_tables = dict(self._tables)
        if tables:
            all_tables.update(tables)
        return StreamingExecutor(
            self.spark, all_tables,
            lookup_sources=self._stream_lookup_sources()
        ).build(self._plan, stream_df)

    def _stream_lookup_sources(self) -> dict:
        """Lookup sources for the streaming path — which has no
        driver-probe fallback (a micro-batch pipeline cannot collect
        per-batch keys on the driver), so a source that registration
        already classified as not worker-routable fails HERE with a
        typed error instead of an opaque PicklingError at task
        serialization inside the running stream."""
        worker, driver = self._split_lookup_sources()
        if driver:
            raise ExecError(
                f"table source(s) {sorted(driver)} cannot ship to "
                "workers (unpicklable, no usable schema(), or probe "
                "keys depending on a driver-probed source / on a "
                "snapshot table under a bare SELECT *) — the "
                "streaming path has no driver-probe fallback. Make the "
                "source picklable and declare schema() (StructType or "
                "DDL string) covering its referenced columns.")
        return worker

    def start_stream(self, stream_df: DataFrame,
                     sink: Callable[[list[dict]], None] | None = None,
                     **kwargs):
        """readStream → plan → foreachBatch sink pipeline; returns the
        StreamingQuery (AddSink + Start analog, streamsql.go:406-424)."""
        self._maybe_bind_star(stream_df.columns)
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        from ..streaming.executor import StreamingExecutor
        ex = StreamingExecutor(self.spark, dict(self._tables),
                               lookup_sources=self._stream_lookup_sources())
        sinks = list(self._sinks)
        if sink is not None:
            sinks.append(sink)

        def fanout(rows: list[dict]) -> None:
            for s in sinks:
                s(rows)

        def count_out(n: int) -> None:
            # exact post-post-processing output count (delivered rows);
            # the distributed sink_path keeps observation-based counts
            self._metrics["stream_out_exact"] += n

        # no registered callbacks → skip the driver-side collect entirely
        # (relevant with sink_path=..., the distributed write path)
        collect_delivery = bool(sinks) and "sink_path" not in kwargs
        sq = ex.start(self._plan, stream_df,
                      sink=(fanout if sinks else None),
                      on_output=(count_out if collect_delivery else None),
                      **kwargs)
        self._queries.append(sq)
        return sq

    # ------------------------------------------------------- emit harness
    def _rows_df(self, rows: list[dict]) -> DataFrame:
        if self.schema is not None:
            schema = self.schema
            if rows and hasattr(schema, "add"):
                from ..engine.batch import ARRIVAL_COL
                if ARRIVAL_COL in rows[0] \
                        and ARRIVAL_COL not in schema.fieldNames():
                    # the emit path's processing-time arrival stamp is
                    # not part of the user's declared schema — widen a
                    # COPY so createDataFrame doesn't silently drop it
                    from pyspark.sql.types import LongType, StructType
                    schema = StructType(list(schema.fields)).add(
                        ARRIVAL_COL, LongType())
            return self.spark.createDataFrame(rows, schema=schema)
        try:
            df = self.spark.createDataFrame(rows)
        except Exception:
            # schemaless stream, all-NULL column(s) in this slice (e.g.
            # one per-event fallback row whose optional field is None):
            # inference fails, but an earlier slice already fixed the
            # column types — reuse them when the column set matches
            cached = getattr(self, "_inferred_schema", None)
            if cached is not None and rows \
                    and all(set(cached.fieldNames()) == set(r)
                            for r in rows):
                # EVERY row's key set must match — createDataFrame with
                # an explicit schema silently drops unknown keys, which
                # would turn the old loud inference failure into wrong
                # output
                return self.spark.createDataFrame(rows, schema=cached)
            # no usable cache (r10: the in-process path answers the
            # early events, so the first full-route event may be the
            # INDETERMINATE one — empty dict / all-None nested value):
            # type it leniently (indeterminates widen to string, the
            # reference's open-map nil semantics — a missing nested key
            # then reads as NULL, null_test.go) and keep the original
            # loud error when even that can't represent the row
            lenient = self._lenient_schema(rows)
            if lenient is not None:
                try:
                    return self.spark.createDataFrame(rows,
                                                      schema=lenient)
                except Exception:
                    pass
            raise
        self._inferred_schema = df.schema
        return df

    @staticmethod
    def _lenient_schema(rows: list[dict]):
        """Best-effort schema for rows plain inference rejects: scalar
        leaves type normally; a container whose element types are
        indeterminate (empty, or all-None) widens its VALUE type to
        string, so NULL reads propagate instead of crashing.  Returns
        None when rows disagree on keys or hold kinds this table can't
        express (schema verification then re-raises the original
        inference error for genuinely mixed containers)."""
        from pyspark.sql.types import StructField, StructType

        if not rows:
            return None
        keys = list(rows[0])
        if any(set(r) != set(keys) for r in rows[1:]):
            return None
        fields = []
        for k in keys:
            t = _merged_type([_value_type(r[k]) for r in rows
                              if r[k] is not None])
            if t is None:
                return None  # rows disagree on a field's kind
            fields.append(StructField(k, t))
        return StructType(fields)

    _SQL_TYPES = {"long": "BIGINT", "integer": "INT", "short": "SMALLINT",
                  "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
                  "string": "STRING", "boolean": "BOOLEAN",
                  "timestamp": "TIMESTAMP", "date": "DATE"}

    @staticmethod
    def _sql_literal(v, sqlt: str | None, name: str) -> str | None:
        """Encode field ``name``'s Python value as a Spark SQL literal
        (optionally CAST to ``sqlt``); None when not literal-encodable.
        An int past BIGINT raises a ValueError naming the field: no
        Spark type holds it, and its CAST would fail to parse."""
        import datetime as _dt
        import math

        if v is None:
            if sqlt is None or sqlt.lower() in ("void", "null"):
                # untyped NULL literal: PROPAGATES as SQL NULL through
                # arithmetic/comparisons instead of failing dataframe
                # schema inference (evaluator_semantics_test.go:15-51)
                return "NULL"
            return f"CAST(NULL AS {sqlt})"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            if not -(2 ** 63) <= v < 2 ** 63:
                raise ValueError(f"field {name!r} holds {v}, outside the "
                                 f"BIGINT range")
            return f"CAST({v} AS {sqlt or 'BIGINT'})"
        if isinstance(v, float):
            if math.isnan(v) or math.isinf(v):
                return f"CAST('{v}' AS {sqlt or 'DOUBLE'})"
            return f"CAST('{v!r}' AS {sqlt or 'DOUBLE'})"
        if isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "\\'")
            lit = f"'{esc}'"
            return (f"CAST({lit} AS {sqlt})"
                    if sqlt and sqlt.lower() != "string" else lit)
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        return None  # arrays/structs/bytes: take the slow path

    def _local_values_df(self, rows: list[dict],
                         fields: list[tuple[str, str | None]]) -> DataFrame | None:
        """DataFrame built as a VALUES literal — a genuine LocalRelation,
        so Catalyst's ConvertToLocalRelation folds the whole
        filter/projection pipeline at optimization time and collect()
        runs ZERO Spark jobs (LocalTableScan.executeCollect is
        driver-side).  This is the per-event sync hot path analog of the
        reference's in-process expression engine (streamsql.go:262-282)
        — scheduling a distributed job per event would be ~100x the
        latency.  ``fields`` is (name, sql_type_or_None) in output
        order; returns None when any value can't be encoded (the caller
        falls back to createDataFrame)."""
        if not rows or not fields:
            return None
        tuples = []
        for row in rows:
            lits = []
            for name, sqlt in fields:
                lit = self._sql_literal(row.get(name), sqlt, name)
                if lit is None:
                    return None
                lits.append(lit)
            tuples.append(f"({', '.join(lits)})")
        names = ", ".join(f"`{n}`" for n, _ in fields)
        return self.spark.sql(
            f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})")

    def _emit_sync_python(self, row: dict):
        """In-process Python evaluation of the plain direct path — the
        reference's per-event expression-engine latency class
        (micro-seconds, zero JVM round trips).  Compiled once from the
        typed AST for a strict subset with proven Spark semantics
        (dialect/pyeval.py); _NOT_APPLICABLE when the query shape or
        this event's value types fall outside it (the Spark paths
        remain the semantics oracle and take over)."""
        fn = self._direct_py()
        if fn is None or not row:
            return _NOT_APPLICABLE
        try:
            return fn(row)
        except Fallback:
            return _NOT_APPLICABLE

    def _direct_py(self):
        """The statement's compiled pyeval evaluator
        (``pyeval.compile_direct``), or None when the plain direct path
        is outside pyeval's subset."""
        cached = getattr(self, "_pyeval_ready", None)
        if cached is None:
            # the gate is a pure function of the compiled plan + the
            # declared schema — decide ONCE, not per event
            from ..dialect.pyeval import compile_direct, set_session_tz
            try:
                set_session_tz(self.spark.conf.get(
                    "spark.sql.session.timeZone"))
            except Exception:
                set_session_tz("")  # unresolvable tz: UTC-gated fns off
            plan = self._plan
            fn = None
            if not (plan.joins or plan.analytics or plan.distinct
                    or plan.order_by or plan.limit is not None
                    or not plan.outputs
                    or any(getattr(o, "unnest_sql", None) is not None
                           for o in plan.outputs)
                    # declared-schema path: typed CASTs belong to Spark
                    or self.schema is not None):
                fn = (compile_direct(self._stmt)
                      if self._stmt is not None else None)
            cached = self._pyeval_ready = (fn, Fallback)
        return cached[0]

    def _emit_sync_fast(self, row: dict):
        """One-shot templated evaluation of the plain direct path:
        ``SELECT <rendered outputs> FROM (VALUES <literals>) WHERE
        <rendered predicate>`` — the SAME rendered SQL strings the batch
        executor compiles, collapsed into a single query over a
        LocalRelation so the whole per-event round trip is one parse +
        fold, zero Spark jobs (streamsql.go:262-282 in-process direct
        path).  Returns _NOT_APPLICABLE when the plan needs executor
        machinery (joins/analytics/unnest/distinct/order/limit) or the
        row isn't literal-encodable; None when filtered out."""
        plan = self._plan
        if (plan.joins or plan.analytics or plan.distinct or plan.order_by
                or plan.limit is not None or not plan.outputs):
            return _NOT_APPLICABLE
        if not row:
            return _NOT_APPLICABLE
        if self.schema is not None and hasattr(self.schema, "fields"):
            fields = [(f.name, self._SQL_TYPES.get(f.dataType.typeName()))
                      for f in self.schema.fields]
            if set(n for n, _ in fields) != set(row) or \
                    any(t is None for _, t in fields):
                return _NOT_APPLICABLE
        else:
            fields = [(k, None) for k in sorted(row)]
        lits = []
        for name, sqlt in fields:
            lit = self._sql_literal(row[name], sqlt, name)
            if lit is None:
                return _NOT_APPLICABLE
            lits.append(lit)
        sel = []
        for o in plan.outputs:
            if getattr(o, "unnest_sql", None) is not None:
                return _NOT_APPLICABLE
            if o.star:
                if o.star_qualifier:
                    return _NOT_APPLICABLE
                sel.extend(f"`{n}`" for n, _ in fields)
            else:
                sel.append(f"({o.sql}) AS `{o.name}`")
        names = ", ".join(f"`{n}`" for n, _ in fields)
        sql = (f"SELECT {', '.join(sel)} FROM "
               f"(SELECT * FROM VALUES ({', '.join(lits)}) AS t({names}))")
        if plan.where_sql:
            sql += f" WHERE {plan.where_sql}"
        out = self.spark.sql(sql).collect()
        if not out:
            return None
        return row_to_dict(out[0])

    def _local_row_df(self, row: dict) -> DataFrame | None:
        """Single-event VALUES literal honoring the declared schema
        (or createDataFrame's sorted-key inference order)."""
        if not row:
            return None
        if self.schema is not None and hasattr(self.schema, "fields"):
            fields = [(f.name, self._SQL_TYPES.get(f.dataType.typeName()))
                      for f in self.schema.fields]
            if set(n for n, _ in fields) != set(row) or \
                    any(t is None for _, t in fields):
                return None
        else:
            # createDataFrame sorts dict keys — match it
            fields = [(k, None) for k in sorted(row)]
        return self._local_values_df([row], fields)

    def _schema_violation(self, row: dict) -> str | None:
        """Declared-schema validation (schema/schema.go:97-265): missing
        fields and type mismatches; None values pass (nullable).
        strict_schema additionally rejects unknown keys
        (schema/schema.go:123-124, 221-226 Strict mode)."""
        if self.schema is None or not hasattr(self.schema, "fields"):
            return None
        if self.strict_schema:
            declared = getattr(self, "_declared_names", None)
            if declared is None:
                declared = self._declared_names = \
                    {f.name for f in self.schema.fields}
            for k in row:
                if k not in declared:
                    return f"unknown field {k!r}"
        _OK = {"long": (int,), "integer": (int,), "short": (int,),
               "double": (int, float), "float": (int, float),
               "string": (str,), "boolean": (bool,)}
        for f in self.schema.fields:
            if f.name not in row:
                return f"missing field {f.name!r}"
            v = row[f.name]
            if v is None:
                continue
            ok = _OK.get(f.dataType.typeName())
            if ok is not None and not isinstance(v, ok):
                return f"field {f.name!r} expects {f.dataType.typeName()}"
            if ok == (int,) and isinstance(v, bool):
                return f"field {f.name!r} expects {f.dataType.typeName()}"
        return None

    def emit(self, row: dict) -> None:
        """Buffer a row (async path analog, streamsql.go:223-237);
        rows failing the declared schema are dropped
        (streamsql.go:227-235)."""
        if self._stopped:
            return
        if row is None:
            # nil event: counted and dropped, never a crash
            # (error_handling_test.go:249-258 "emit nil map")
            self._metrics["input"] += 1
            self._metrics["input_dropped"] += 1
            return
        self._metrics["input"] += 1
        if self._schema_violation(row) is not None:
            self._metrics["input_dropped"] += 1
            self._metrics["schema_dropped"] += 1
            return  # validate-and-drop
        row = self._stamp_arrival(row)
        if self.overflow_strategy == "block":
            # blocking strategy (strategy.go:66-97): the capacity check
            # and the append must share one lock on EVERY emit, not only
            # once the buffer is observed full — otherwise two producers
            # can both pass an unlocked len-check and push the buffer
            # past max_buffer_rows (the bounded-channel capacity
            # contract).  timeout <= 0 or None blocks until space or
            # shutdown, else drops after the bounded wait.
            if not self._block_append(row):
                if not self._stopped:
                    self._metrics["input_dropped"] += 1
            return
        if len(self._buffer) >= self.max_buffer_rows:
            if self.overflow_strategy == "expand":
                # expansion strategy: grow capacity, keep the row —
                # never blocks, never drops (strategy.go:118-160)
                self.max_buffer_rows = max(self.max_buffer_rows * 2, 1)
            else:
                # drop strategy: reject the INCOMING row
                # (strategy.go:190-216)
                self._metrics["input_dropped"] += 1
                return
        self._buffer.append(row)

    _TS_FALLBACK_KEYS = frozenset(("ts", "event_time", "timestamp"))

    def _stamp_arrival(self, row: dict) -> dict:
        """PROCESSING-TIME windows (reference: a window with no TsProp
        and no ts-like field runs on wall clock — window/factory.go
        defaults, trigger_window_test.go emits rows with no timestamp
        at all): stamp the arrival instant at EMIT time, strictly
        monotone UNDER A LOCK (concurrent producers are supported —
        see _block_append) so counting windows keep exact arrival
        order even within one clock tick.  MICROsecond resolution:
        the monotone tiebreak (+1 on ties) then only drifts the stamp
        ahead of wall clock above 1M events/s, so window assignment
        tracks real arrival time at any sustainable emit rate (a
        millisecond stamp drifted arbitrarily past 1k events/s and
        pushed rows into later processing-time windows than the
        reference's wall-clock assignment).  The stamp column is
        internal (never projected — window mode has explicit outputs).
        The plan-level eligibility is cached at execute() time; the
        per-event cost is one flag check + one key intersection."""
        if not getattr(self, "_arrival_eligible", False) \
                or (self._TS_FALLBACK_KEYS & row.keys()):
            return row
        import time as _t
        us = int(_t.time() * 1_000_000)
        with self._arrival_lock:
            if us <= self._last_arrival_us:
                us = self._last_arrival_us + 1
            self._last_arrival_us = us
        from ..engine.batch import ARRIVAL_COL
        return {**row, ARRIVAL_COL: us}

    def _block_append(self, row: dict) -> bool:
        """Wait until the emit buffer has room, then append WHILE STILL
        HOLDING the condition lock (check-and-claim is atomic across
        concurrent producers).  True = appended; False = timed out or
        stopped (caller counts the drop)."""
        import time as _time

        timeout = self.blocking_timeout
        deadline = (None if timeout is None or timeout <= 0
                    else _time.monotonic() + timeout)
        with self._buffer_cond:
            while (len(self._buffer) >= self.max_buffer_rows
                   and not self._stopped):
                if deadline is None:
                    self._buffer_cond.wait(0.05)
                else:
                    remaining = deadline - _time.monotonic()
                    if remaining <= 0:
                        return False
                    self._buffer_cond.wait(min(remaining, 0.05))
            if self._stopped:
                return False
            self._buffer.append(row)
            return True

    def emit_sync(self, row: dict) -> dict | None:
        """Synchronous direct-path execution (streamsql.go:262-282).

        Returns the projected row, or None when filtered out; a passing
        row is also delivered to the result channel and the sinks
        (:meth:`_deliver_sync`).  Analytic state persists across calls.
        The first event binds the statement's route
        (:meth:`_bind_sync`): when pyeval compiles the statement, this
        method is replaced on the instance by one generated function
        that counts, evaluates and delivers the event in one call, and
        hands an event it does not answer back to the routes below.
        """
        return self._emit_sync_routed(row)

    def _bind_sync(self):
        """Bind, once per statement, what emit_sync would otherwise
        decide per event.  With a compiled pyeval route (analytic or
        direct), ``_sync_py`` is that route's evaluator — ``row -> dict
        | None``, raising Fallback for an event the Spark route must
        answer — and the instance's ``emit_sync`` becomes one function
        the emitter writes around the evaluator's body, which:

        - hands a None or empty event to :meth:`_emit_sync_routed`
          (its typed error, its counting, the Spark routes);
        - counts ``input``, runs the BIGINT guard and the evaluation,
          and hands a Fallback event to :meth:`_emit_sync_spark`;
        - counts ``output``, offers the single-row batch to the bounded
          result channel (:meth:`_push_result`'s rule, inline) and calls
          the sinks registered at that moment.

        The ``input`` and ``output`` counts are closure cells of that
        function (``_in``, ``_out``), not ``_metrics`` entries:
        :meth:`_fold_sync_counters` adds them to ``_metrics``, and every
        stats reader and every unbind calls it.

        Returns that function, or None (the Spark routes answer every
        event through :meth:`_emit_sync_routed`).  Both compilers
        refuse a statement with a declared schema (its typed CASTs and
        its schema gate belong to Spark), so the bound function never
        skips a schema check.  :meth:`_disable_analytic_python` unbinds
        it."""
        self._sync_bound = True
        if self._plan.analytics:
            if not hasattr(self, "_an_py"):
                self._an_py = self._compile_analytic_python()
            self._sync_py = self._an_py
        else:
            self._sync_py = self._direct_py()
        run = self._sync_py
        if run is None:
            return None
        body = [
            "if not row:",
            "    return _routed(row)",
            "_in += 1",
            # the evaluator's body leaves a passing row in ``out``
            "try:", *("    " + ln for ln in run.body),
            "except Fallback:",
            "    return _spark(row)",
            "_out += 1",
            "_batch = [out]",
            "if len(_results) < _owner.max_buffer_rows:",
            "    _results.append(_batch)",
            "else:",
            "    _metrics[_DROPPED] += 1",
            "for _sink in _sinks:",
            "    _sink(_batch)"]
        # kept after an unbind: a call running at that moment may still
        # count into the cells, and the next fold collects it
        self._sync_counted = self.emit_sync = run.emitter.build(
            body, "out", "emit_sync", {
                "_routed": self._emit_sync_routed,
                "_spark": self._emit_sync_spark, "_metrics": self._metrics,
                "_results": self._results, "_sinks": self._sinks,
                "_owner": self, "_DROPPED": "output_dropped"},
            cells=tuple(_CELL_METRICS))
        return self.emit_sync

    def _fold_sync_counters(self) -> None:
        """Add the bound emit_sync's counter cells (:meth:`_bind_sync`)
        to ``_metrics`` and zero them."""
        fn = self._sync_counted
        if fn is None:
            return
        for name, cell in zip(fn.__code__.co_freevars, fn.__closure__):
            key = _CELL_METRICS.get(name)
            if key is not None and cell.cell_contents:
                self._metrics[key] += cell.cell_contents
                cell.cell_contents = 0

    def _emit_sync_routed(self, row: dict) -> dict | None:
        """emit_sync before the route is bound, on the Spark routes, or
        for an event the bound function does not take (None or
        empty)."""
        if getattr(self, "_star_pending", False):
            if row is None:
                raise ValueError("emit_sync expects a dict event, got None")
            self._maybe_bind_star(list(row.keys()))
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        if self._plan.mode != "direct":
            raise RuntimeError("EmitSync requires a direct (non-window) query")
        if row is None:
            # typed error, not a schema-inference crash
            # (error_handling_test.go:273-283 "EmitSync with nil data")
            raise ValueError("emit_sync expects a dict event, got None")
        if not self._sync_bound:
            bound = self._bind_sync()
            if bound is not None and row:
                return bound(row)
        self._metrics["input"] += 1
        viol = self._schema_violation(row)
        if viol is not None:
            self._metrics["input_dropped"] += 1
            # the sync path errors instead of dropping, but still counts
            # the row in SchemaDropped (streamsql.go:275-280)
            self._metrics["schema_dropped"] += 1
            raise ValueError(f"schema validation failed: {viol}")
        return self._emit_sync_spark(row)

    def _emit_sync_spark(self, row: dict) -> dict | None:
        """The Spark routes of an event pyeval does not answer (its
        ``input`` already counted): the analytic kernel core, else the
        templated VALUES evaluation, else a generic ``query()``."""
        if self._plan.analytics:
            return self._emit_sync_analytic_spark(row)
        fast = self._emit_sync_fast(row)
        if fast is not _NOT_APPLICABLE:
            if fast is None:
                return None
            return self._deliver_sync(fast)
        df = self._local_row_df(row)
        if df is None:
            df = self._rows_df([row])
        out = self.query(df).collect()
        if not out:
            return None
        return self._deliver_sync(row_to_dict(out[0]))

    def _touch_analytic_partition(self, ph: str, key: tuple) -> None:
        """LRU bookkeeping for ``analytic_max_partitions``: mark spec
        ``ph``'s partition ``key`` most-recent; when a NEW key pushes
        that spec's live set past the cap, evict its least-recent
        partition (the next event for it starts fresh —
        analytic_runtime_test.go:94-112).  The cap is PER SPEC: two
        analytics partitioned by different columns each keep up to
        ``cap`` partitions — a shared pool would let one spec's key
        churn evict another's live state."""
        cap = self.analytic_max_partitions
        if cap is None:
            return
        from collections import OrderedDict
        if not hasattr(self, "_an_lru"):
            self._an_lru: dict[str, OrderedDict] = {}
        lru = self._an_lru.setdefault(ph, OrderedDict())
        if key in lru:
            lru.move_to_end(key)
            return
        lru[key] = True
        while len(lru) > cap:
            old, _ = lru.popitem(last=False)
            self._an_states.pop((ph, old), None)

    def _compile_analytic_python(self):
        """One-time compilation of the analytic direct path into one
        function emitted by ``pyeval.Emitter``, ``row -> dict | None``:
        the SAME analytic steps (streaming/stateful.ANALYTIC_STEPS) over
        keys, WHEN gates and arguments written by the emitter — one key
        tuple per distinct PARTITION BY — then the projection with each
        analytic call read from the local its step returned
        (``Emitter.locals``).  Each spec steps its live ``_an_states``
        entry exactly once, with no copy: the store the Spark route
        steps too, so an event handed over keeps one continuous history.
        The function runs in three phases:

        1. Before any state moves, everything that can raise Fallback:
           the BIGINT guard, a WHERE that reads no analytic, and each
           spec's key, arguments and WHEN gate.  A Fallback here hands
           the event to the Spark route (:meth:`_emit_sync_analytic_spark`).
        2. The steps.  A WHEN that is an earlier spec's placeholder (a
           lifted ``WHEN had_changed(...)``) takes ``step_analytic_rows``'s
           raw ``bool()`` test, so nothing here raises Fallback.  A step
           that raises disables the route
           (:meth:`_disable_analytic_python`): the event goes to the
           Spark route when it was the first step, as no state has moved
           yet; otherwise the step's own exception propagates — the
           Spark route would raise it from the same step on the same
           values, and leave the same state.
        3. The outputs, a WHERE that reads an analytic (CDC mode: the
           state stays advanced when it rejects the row) and the
           omitEmpty rule, over the stepped locals.  A Fallback here
           hands the stepped values to :meth:`_project_analytic_pyeval`,
           the Spark route's projection, so no state steps twice.

        A ``changed_cols(...)`` field reads the ``__changed_value__``
        specs it fans out to.  Returns None when the statement falls
        outside the subset — the Spark route then answers every
        event."""
        from ..dialect import nodes as N
        from ..dialect import pyeval
        from ..dialect.planner import _default_name
        from ..engine.batch import omit_empty_specs
        from ..functions.registry import custom_analytic, is_analytic
        from ..plans.plan import where_filters_first
        from ..streaming.stateful import ANALYTIC_STEPS, analytic_step_for

        # every pyeval compile entry point must see the real session
        # zone BEFORE compiling: the _TZ_GATED gate and the _strict_ts
        # runtime tripwires key off it (the direct path sets it in
        # _direct_py; analytic plans never reach that code)
        try:
            pyeval.set_session_tz(self.spark.conf.get(
                "spark.sql.session.timeZone"))
        except Exception:
            pyeval.set_session_tz("")  # unresolvable tz: UTC-gated fns off

        plan = self._plan
        if (plan.joins or self.schema is not None or plan.distinct
                or plan.order_by or plan.limit is not None
                or self._stmt is None
                or any(s.window_output for s in plan.analytics)):
            return None
        # map analytic call sites to their placeholders by structural
        # repr (dataclass reprs are deterministic and recursive;
        # N.transform rebuilds every node, so object identity cannot
        # be used, and render() deliberately refuses analytic nodes)
        ph_by_repr: dict[str, str] = {}
        for s in plan.analytics:
            ph_by_repr.setdefault(repr(s.func), s.placeholder)
        phs = {s.placeholder for s in plan.analytics}
        bad = False

        def subst(node):
            nonlocal bad
            # analytics appear with OR without an OVER clause (the CDC
            # family is bare: changed_col(true, v)) — both substitute
            if isinstance(node, N.Func) and (node.over is not None
                                             or is_analytic(node.name)):
                ph = ph_by_repr.get(repr(node))
                if ph is None:
                    bad = True
                    return node
                return N.Col((ph,))
            return node

        def reads_ph(e) -> bool:
            # a key, argument or WHEN reading a stepped value cannot run
            # before the steps
            return any(pyeval.bare_name(x) in phs for x in N.walk(e))

        em = pyeval.Emitter()

        def expr(e):
            # a bare-column (or placeholder) value lands in the output,
            # or feeds a step, verbatim: container-typed analytics incl.
            name = pyeval.bare_name(e)
            return em.col(name, "row", raw=True) if name is not None \
                else em.expr(e)

        # each changed_cols member is one __changed_value__ spec, in plan
        # order, and one output the plan names
        fanout = iter([s.placeholder for s in plan.analytics
                       if s.func.name == "__changed_value__"])
        name_of = {o.sql: o.name for o in plan.outputs if not o.star}
        fields = []  # (output name, node with placeholders substituted)
        for i, f in enumerate(self._stmt.fields):
            if isinstance(f.expr, N.Star):
                return None  # star + analytics: Spark path
            if isinstance(f.expr, N.Func) \
                    and f.expr.name.lower() == "changed_cols":
                for _ in f.expr.args[2:]:
                    ph = next(fanout)
                    fields.append((name_of[ph], N.Col((ph,))))
                continue
            e2 = N.transform(f.expr, subst)
            if bad:
                return None
            fields.append((f.alias or _default_name(f.expr, i), e2))
        where_first = where_filters_first(plan)
        w = self._stmt.where
        if w is not None:
            # same bare-analytic WHERE semantics the planner applies
            # (analytic_parity_test.go:356-368): a bare value-typed
            # analytic predicate means "returned non-nil"
            bare_value = (isinstance(w, N.Func) and is_analytic(w.name)
                          and w.name.lower() != "had_changed")
            w = N.transform(w, subst)
            if bad:
                return None
            if bare_value:
                w = N.IsNull(operand=w, negated=True)

        em.define("_states", self._an_states)
        em.define("_disable", self._disable_analytic_python)
        em.define("_project", self._project_analytic_pyeval)
        if self.analytic_max_partitions is not None:
            em.define("_touch", self._touch_analytic_partition)
        reads = []  # phase 1: keys, gates, arguments
        if w is not None and where_first:
            # standard-SQL mode: the filter sees only raw columns; a
            # rejected row never touches state
            src = em.expr(w)
            if src is None:
                return None
            reads += em.reads()
            reads += [f"if {em.truth(w, src)} is not True:",
                      "    return None"]
        # one key tuple per distinct PARTITION BY, one gate per WHEN
        key_at: dict[str, str] = {}
        gate_at: dict[str, str] = {}
        slots, steps = [], []  # phase 2: each spec's live state, its step
        stepped: dict[str, str] = {}  # placeholder -> the local it steps
        for n, s in enumerate(plan.analytics):
            over = s.func.over
            by = over.partition_by if over else []
            key = key_at.get(repr(by))
            if key is None:
                parts = [None if reads_ph(p) else em.expr(p) for p in by]
                if None in parts:
                    return None
                key = key_at[repr(by)] = f"_k{len(key_at)}"
                reads += em.reads()
                reads.append(f"{key} = ({''.join(p + ', ' for p in parts)})")
            gate = "True"
            if over is not None and over.when is not None:
                # when_ast has nested analytic calls pre-lifted to
                # placeholder refs (planner); over.when still holds the
                # raw call, which pyeval can't evaluate
                wn = s.when_ast if s.when_ast is not None else over.when
                lifted = stepped.get(pyeval.bare_name(wn))
                if lifted is not None:
                    gate = f"bool({lifted})"
                elif reads_ph(wn):
                    return None
                elif repr(wn) in gate_at:  # (a changed_cols fan-out's)
                    gate = gate_at[repr(wn)]
                else:
                    src = em.expr(wn)
                    if src is None:
                        return None
                    gate = gate_at[repr(wn)] = f"_g{n}"
                    reads += em.reads()
                    reads.append(f"{gate} = {em.truth(wn, src)} is True")
            args = []
            arg_marks = []  # the steps' has_start probe shape
            for a in s.func.args:
                if isinstance(a, N.Star) or \
                        (isinstance(a, N.Lit) and a.value == "*"):
                    return None
                if isinstance(a, N.Lit):
                    args.append(em.const(a.value))
                    arg_marks.append(None)
                else:
                    args.append(None if reads_ph(a) else expr(a))
                    arg_marks.append("x")
            if None in args:
                return None
            name = s.func.name.lower()
            # a built-in name wins over a custom registration
            p = {"name": name, "ph": s.placeholder, "args": arg_marks,
                 "custom": None if name in ANALYTIC_STEPS
                 else custom_analytic(name)}
            if p["custom"] is None and name not in ANALYTIC_STEPS:
                return None  # renderer-special fns: Spark path
            ph = em.const(s.placeholder)
            reads += em.reads()
            # a new argument list per event: a custom state may keep it
            reads.append(f"_a{n} = [{', '.join(args)}]")
            # the Spark route's order: every spec's partition is touched
            # and its state created before the first step
            if self.analytic_max_partitions is not None:
                slots.append(f"_touch({ph}, {key})")
            slots += [f"if (_st{n} := _states.get(_s{n} := ({ph}, {key})))"
                      " is None:", f"    _st{n} = _states[_s{n}] = {{}}"]
            steps.append(f"_p{n} = {em.const(analytic_step_for(p))}"
                         f"({em.const(p)}, _st{n}, _a{n}, {gate})")
            stepped[s.placeholder] = f"_p{n}"
        # later reads of a placeholder (outputs, a CDC WHERE) read the
        # stepped value
        em.locals.update(stepped)
        outs = [(em.const(name), expr(e2)) for name, e2 in fields]
        if any(src is None for _, src in outs):
            return None
        project = ["out = {", *(f"    {k}: {v}," for k, v in outs), "}"]
        cdc = w is not None and not where_first
        if cdc:
            src = em.expr(w)
            if src is None:
                return None
            project = [*em.reads(), f"if {em.truth(w, src)} is not True:",
                       "    out = None", "else:",
                       *("    " + ln for ln in project)]
        else:
            project = em.reads() + project
        values = ", ".join(f"{em.const(ph)}: {local}"
                           for ph, local in stepped.items())
        on_spark = [f"if (out := _project(row, {{{values}}})) is None:",
                    "    return None"]

        def block(lines):
            return ["    " + ln for ln in lines]

        body = [*pyeval.BIGINT_GUARD,
                "try:", *block(reads),
                "except Fallback:", "    raise",
                "except Exception:", "    _disable()", "    raise Fallback()",
                *slots,
                "try:", *block(steps[:1]),
                "except Exception:", "    _disable()", "    raise Fallback()"]
        if len(steps) > 1:
            body += ["try:", *block(steps[1:]),
                     "except Exception:", "    _disable()", "    raise"]
        body += ["try:", *block(project),
                 "except Fallback:", *block(on_spark),
                 "except Exception:", "    _disable()", *block(on_spark)]
        if cdc:
            body += ["if out is None:", "    return None"]
        omit = omit_empty_specs(plan, False)
        if omit is not None:
            # reference omitEmpty (stream/stream.go:698-703): no change
            # detected, no row — the state advanced all the same
            body += ["if " + " and ".join(f"{stepped[s.placeholder]} is None"
                                          for s in omit) + ":",
                     "    return None"]
        # falls through with ``out`` a dict: the bound emit_sync
        # (_bind_sync) delivers it
        return em.build(body)

    def _disable_analytic_python(self) -> None:
        """After a step, or the emitted code, raised an exception other
        than Fallback (a custom state's or a kernel surprise): the Spark
        route answers this statement's events from now on — the bound
        emit_sync is unbound, its counter cells folded first, so the
        class's routed one takes over."""
        self._fold_sync_counters()
        self._an_py = self._sync_py = None
        self.__dict__.pop("emit_sync", None)

    def _emit_sync_analytic_spark(self, row: dict) -> dict | None:
        """Per-event analytic evaluation in O(1) state (the reference's
        streamTransform direct path, stream/analytic.go:125-234) when
        pyeval does not answer the event: the streaming kernel's core
        (``analytic_inputs`` + ``step_analytic_rows``) run locally —
        Spark evaluates the single row's keys, gates and arguments, the
        SAME steps advance the state kept per (placeholder,
        OVER(PARTITION BY ...) values) — then :meth:`_project_analytic`
        projects the stepped row."""
        from ..streaming.stateful import step_analytic_rows

        ex, df, where_first = self._analytic_frame(row)
        prep = self._analytic_prep(df)
        collected = (df.withColumns(self._an_inject) if self._an_inject
                     else df).collect()
        if not collected:
            # the join dropped the event (no dim match): it never
            # reaches the analytics — state untouched, no output
            # (processor order join → analytic,
            # stream/processor_data.go:84-110)
            return None

        # one state step per surviving (possibly join-fanned-out) row,
        # over the collected python values
        rows2 = [row_to_dict(r) for r in collected]
        states = []
        for d in rows2:
            st = {}
            for p in prep:
                key = tuple(d[c] for c in p["keys"])
                self._touch_analytic_partition(p["ph"], key)
                st[p["ph"]] = self._an_states.setdefault((p["ph"], key), {})
            states.append(st)
        outs = step_analytic_rows(
            prep, {c: [d[c] for d in rows2] for c in self._an_read}, states)
        for d in rows2:
            for c in self._an_inject:
                del d[c]
        out = self._project_analytic(ex, df, prep, where_first, rows2, outs)
        return None if out is None else self._deliver_sync(out)

    def _analytic_frame(self, row: dict):
        """The Spark route's frame for one event: the single row as a
        VALUES literal (or a created DataFrame), its lookup sources
        probed and its joins applied, alias-qualified refs flattened,
        and a WHERE that reads no analytic applied.  Returns
        ``(executor, frame, where_first)``."""
        from pyspark.sql import functions as F

        from ..plans.plan import where_filters_first
        from ..streaming.stateful import _dedupe_columns, flatten_join_refs

        src = self._local_row_df(row)
        if src is None:
            src = self._rows_df([row])
        all_tables = dict(self._tables)
        if self._table_sources:
            # per-event probe: the single row's key drives one Lookup —
            # exactly the reference's direct-path behavior; chained
            # sources resolve in the same dependency rounds as query()
            self._lookup_tables_chained(
                src, self._plan, dict(self._table_sources), all_tables)
        ex = BatchExecutor(self.spark, all_tables)
        df = ex._apply_joins(src, self._plan)
        if self._plan.joins:
            # alias-qualified refs don't survive the flat row rebuild —
            # materialize them as flat columns and rewrite the plan,
            # exactly as the streaming kernels do
            df, plan_flat = flatten_join_refs(df, self._plan)
            df = _dedupe_columns(df)
        else:
            plan_flat = self._plan
        if not hasattr(self, "_an_plan_flat"):
            self._an_plan_flat = plan_flat

        # WHERE vs analytics ordering (stream.go:659-671): a WHERE that
        # references no analytic placeholder filters BEFORE the state
        # step — a rejected row must not advance analytic state; the
        # projection then skips the (already-applied) filter
        where_first = where_filters_first(plan_flat)
        if where_first:
            df = df.filter(F.expr(plan_flat.where_sql))
        return ex, df, where_first

    def _analytic_prep(self, df: DataFrame) -> list:
        """``analytic_inputs``'s per-spec dicts for ``df``.  They are
        built against that frame's column set; undeclared-schema streams
        may widen or shrink the key set between events, so they are
        keyed on ``df.columns`` and rebuilt on change (analytic STATE
        persists across rebuilds — only the compiled expressions
        refresh), with the injected columns (``_an_inject``) and the
        columns the steps read (``_an_read``)."""
        from ..streaming.stateful import analytic_inputs

        prep_key = tuple(df.columns)
        if getattr(self, "_an_prep_key", None) != prep_key:
            _, self._an_prep, self._an_inject, clean = analytic_inputs(
                df, self._an_plan_flat.analytics, self._an_plan_flat)
            self._an_read = list(clean)
            self._an_prep_key = prep_key
        return self._an_prep

    def _project_analytic(self, ex, df, prep, where_first: bool,
                          rows: list[dict], outs: dict) -> dict | None:
        """The projection half of the analytic Spark route, shared with
        pyeval's (:meth:`_project_analytic_pyeval`): each of ``rows``
        (values of ``df``'s columns) takes its stepped value per
        placeholder from ``outs`` (placeholder -> value per row), the
        rows become a VALUES literal typed by ``df``'s schema plus each
        placeholder's type, and the statement's outputs, a WHERE that
        reads an analytic and the omitEmpty rule run over it.  Steps
        nothing.  Returns the last output row, or None when none
        passes."""
        from dataclasses import replace

        from pyspark.sql.types import StructField, StructType

        for i, d in enumerate(rows):
            for ph, vals in outs.items():
                d[ph] = vals[i]
        ph_fields = []
        for p in prep:
            dt = p["type"]
            if self.schema is None and p["custom"] is None:
                # a schemaless event types its columns itself: a value
                # stepped from earlier events may not fit this one's
                # (an int lag over a double-typed event, or a void one)
                bad = next((v for v in outs[p["ph"]] if not _fits(dt, v)),
                           None)
                if bad is not None:
                    dt = _value_type(bad)
            ph_fields.append(StructField(p["ph"], dt))
        schema2 = StructType(list(df.schema.fields) + ph_fields)
        # VALUES-literal rebuild keeps the whole sync hop foldable
        # (zero Spark jobs) whenever the row is scalar-encodable
        df2 = self._local_values_df(
            rows, [(f.name, f.dataType.simpleString()) for f in schema2.fields])
        if df2 is None:
            df2 = self.spark.createDataFrame(rows, schema2)
        plan2 = replace(self._an_plan_flat, joins=[],
                        where_sql=(None if where_first
                                   else self._an_plan_flat.where_sql))
        out = ex.execute(plan2, df2).collect()
        return row_to_dict(out[-1]) if out else None

    def _project_analytic_pyeval(self, row: dict, values: dict) -> dict | None:
        """:meth:`_project_analytic` for an event pyeval stepped and
        whose projection raised Fallback: ``values`` holds the stepped
        value per placeholder, so no state steps twice."""
        ex, df, where_first = self._analytic_frame(row)
        return self._project_analytic(
            ex, df, self._analytic_prep(df), where_first, [dict(row)],
            {ph: [v] for ph, v in values.items()})

    def _deliver_sync(self, row: dict) -> dict:
        """A Spark route's EmitSync result: counted in ``output``,
        offered to the result channel (:meth:`_push_result`) and passed
        to the registered sinks — one single-row batch per passing
        event (sink_test.go TestEmitSyncWithAddSink; streamsql.go:262-282
        routes sync results through the handler).  The bound pyeval
        emit_sync (:meth:`_bind_sync`) does the same inline."""
        batch = [row]
        self._metrics["output"] += 1
        self._push_result(batch)
        for sink in self._sinks:
            sink(batch)
        return row

    def _push_result(self, batch: list[dict]) -> None:
        """Offer one batch to the result channel, which holds at most
        ``max_buffer_rows`` batches: when full, the incoming batch is
        dropped and counted in ``output_dropped`` (the data channel's
        drop rule), and the caller is never blocked — its return value
        and the sinks still get every row."""
        if len(self._results) < self.max_buffer_rows:
            self._results.append(batch)
        else:
            self._metrics["output_dropped"] += 1

    def add_sink(self, fn: Callable[[list[dict]], None]) -> None:
        self._sinks.append(fn)

    # sync sinks run inline in the reference (ordering guarantee); the
    # batch harness delivers all sinks inline already
    add_sync_sink = add_sink

    def to_channel(self):
        """Pull-style iterator over result batches delivered so far
        (ToChannel analog, streamsql.go:483-488)."""
        return iter(self._results)

    def trigger_window(self) -> list[dict]:
        """Flush buffered rows through the full pipeline and deliver one
        result batch to sinks (streamsql.go:339-343 TriggerWindow).

        The trigger DRAINS: each emitted row is delivered at most once
        across repeated triggers, and a blocked 'block'-strategy
        producer wakes when the flush frees buffer space.

        - window mode: the fired windows' rows drop from the buffer,
          exactly the reference Trigger (tumbling_window.go:777-782
          "dropping the just-emitted window"); a late row emitted after
          the flush lands in a fresh window instance, as there.
        - direct/CEP mode: the reference processes per-event with
          CONTINUOUS analytic/NFA state (TriggerWindow is a no-op there
          — stream.Window is nil), so the flushed rows are retained as
          replay history: the next trigger recomputes over
          history+new for state continuity (lag/acc/match spans cross
          the trigger boundary) but delivers only the results the
          previous triggers haven't.  Replay history grows with total
          emitted rows — this is the TEST-HARNESS path; continuous
          direct/CEP execution at scale belongs on emit_sync (O(1)
          incremental state) or start_stream (Structured Streaming
          state store)."""
        if getattr(self, "_star_pending", False):
            if not self._buffer:
                return []  # nothing to bind the star to yet, nothing fired
            self._maybe_bind_star(list(self._buffer[0].keys()))
        if self._plan is None:
            raise RuntimeError("call execute(sql) first")
        # swap UNDER the lock: a 'block'-strategy producer holding
        # _buffer_cond may be mid append — an unlocked swap could let
        # its row land in the orphaned list, lost to both the new
        # buffer and every result batch
        with self._buffer_cond:
            if not self._buffer:
                return []
            new_rows, self._buffer = self._buffer, []
            self._buffer_cond.notify_all()  # flush freed space
        if self._plan.mode == "window":
            df = self._rows_df(new_rows)
            batch = [row_to_dict(r) for r in self.query(df).collect()]
        else:
            from collections import Counter
            replayed = self._history
            df = self._rows_df(replayed + new_rows)
            full = [row_to_dict(r) for r in self.query(df).collect()]
            seen = Counter(_freeze_row(r) for r in self._delivered_replay)
            batch = []
            for r in full:
                k = _freeze_row(r)
                if seen.get(k, 0) > 0:
                    seen[k] -= 1  # delivered by an earlier trigger
                else:
                    batch.append(r)
            # ACCUMULATE every delivery — resetting to just the last
            # recomputation would let a non-monotone plan (direct-mode
            # LIMIT picks different rows as the replay grows) deliver
            # the same row twice once it reappears in a later full set
            self._delivered_replay = self._delivered_replay + batch
            self._history = replayed + new_rows
        self._push_result(batch)
        self._metrics["output"] += len(batch)
        for sink in self._sinks:
            sink(batch)
        return batch

    def results(self) -> list[list[dict]]:
        """Pull-style result access (ToChannel analog, streamsql.go:483-488)."""
        return list(self._results)

    def print_table(self) -> None:
        """Console sink (streamsql.go:446-457)."""
        if self._buffer:
            self.query(self._rows_df(self._buffer)).show(truncate=False)

    def schema_dropped(self) -> int:
        """Rows dropped by the declared-schema gate on the async emit
        path (streamsql.go:285-288 SchemaDropped)."""
        return self._metrics["schema_dropped"]

    def is_cep_query(self) -> bool:
        """True when the compiled statement is a MATCH_RECOGNIZE query
        (streamsql.go:300-309 IsCEPQuery)."""
        return self._plan is not None and self._plan.mode == "cep"

    def get_stats(self) -> dict[str, int]:
        """Stream processing statistics (streamsql.go:345-351 GetStats,
        stream/manager_metrics.go:31-53): emit-harness counters merged
        with Structured Streaming progress (numInputRows per micro-batch
        from every start_stream query).  Channel/pool gauges map to
        their micro-batch analogs: the emit buffer and delivered result
        batches; backpressure channels don't exist on Spark (the engine
        paces sources via maxOffsetsPerTrigger), so retry/expand
        counters are structurally 0."""
        # Totals come from the incremental accumulator (a session-wide
        # listener + this synchronous drain, deduped by (runId, batchId)
        # high-water mark) — NOT from re-summing recentProgress, which
        # Spark caps at numRecentProgressUpdates (default 100) entries
        # and would silently undercount long-running streams.  Output:
        # driver-collect deliveries are counted exactly in the batch
        # handler (post DISTINCT/ORDER/LIMIT); the distributed sink_path
        # keeps the observation count, which is taken before the post
        # stage and can exceed rows actually written when the plan has a
        # post-stage LIMIT/DISTINCT.
        from ..streaming.progress import ingest, totals
        self._fold_sync_counters()
        stream_in = stream_out = 0
        for q in self._queries:
            for p in (q.recentProgress or []):
                ingest(p)
            t = totals(q.id)
            stream_in += t["in"]
            stream_out += t["out"]
        m = self._metrics
        stream_out += m["stream_out_exact"]
        return {
            "input_count": m["input"] + stream_in,
            "output_count": m["output"] + stream_out,
            "input_dropped_count": m["input_dropped"],
            "output_dropped_count": m["output_dropped"],
            "dropped_count": m["input_dropped"],
            "data_chan_len": len(self._buffer),
            "data_chan_cap": self.max_buffer_rows,
            "result_chan_len": len(self._results),
            "result_chan_cap": self.max_buffer_rows,
            "sink_pool_len": len(self._sinks),
            "sink_pool_cap": max(len(self._sinks), 1),
            "active_retries": 0,
            "expanding": 0,
        }

    def get_detailed_stats(self) -> dict:
        """Detailed performance statistics (streamsql.go:353-359,
        stream/manager_metrics.go GetDetailedStats + metrics.go:48-61
        AssessPerformanceLevel thresholds)."""
        basic = self.get_stats()
        inp = basic["input_count"]
        usage = 100.0 * basic["data_chan_len"] / basic["data_chan_cap"]
        drop_rate = 100.0 * basic["dropped_count"] / inp if inp else 0.0
        rates = [p["processedRowsPerSecond"]
                 for q in self._queries for p in (q.recentProgress or [])
                 if p.get("processedRowsPerSecond")]
        if drop_rate > 50:
            level = "critical"
        elif drop_rate > 20:
            level = "warning"
        elif usage > 90:
            level = "high_load"
        elif usage > 70:
            level = "moderate_load"
        else:
            level = "optimal"
        return {
            "basic_stats": basic,
            "data_chan_usage": round(usage, 2),
            "result_chan_usage": round(
                100.0 * basic["result_chan_len"] / basic["result_chan_cap"], 2),
            "sink_pool_usage": round(
                100.0 * basic["sink_pool_len"] / basic["sink_pool_cap"], 2),
            "process_rate": round(sum(rates) / len(rates), 2) if rates
            else float(basic["output_count"]),
            "drop_rate": round(drop_rate, 2),
            "performance_level": level,
        }

    def register_function(self, name: str, fn, return_type="string") -> None:
        """Custom scalar UDF (functions/registry.go:239-288)."""
        _register_function(self.spark, name, fn, return_type)

    def register_aggregate_function(self, name: str, fn,
                                    return_type="double") -> None:
        """Custom UDAF: fn(pandas.Series) -> scalar
        (functions/aggregator_interface.go:5-18)."""
        from ..functions.registry import register_aggregate_function
        register_aggregate_function(self.spark, name, fn, return_type)

    def register_analytic_function(self, name: str, state_factory,
                                   return_type="double") -> None:
        """Custom stateful analytic: state_factory() -> state with
        apply(args) -> value (+ optional reset()), one state per
        OVER(PARTITION BY ...) key — the reference's StatefulAnalytic /
        AnalyticState surface (functions/analytic_state.go:11-37).
        Works in batch, streaming, and EmitSync paths."""
        from ..functions.registry import register_analytic_function
        register_analytic_function(name, state_factory, return_type)

    def stop(self) -> None:
        if self._buffer and self._plan is not None and self._plan.mode == "window":
            self.trigger_window()
        self._stopped = True
        for src in self._table_sources.values():
            close = getattr(src, "close", None)
            if callable(close):
                try:
                    close()
                except Exception:
                    pass  # user Close bugs must not break shutdown
        self._table_sources.clear()
        self._table_source_meta.clear()
        self._table_source_route.clear()
        with self._buffer_cond:  # same lock discipline as the trigger swap
            self._buffer.clear()
            self._history.clear()
            self._delivered_replay = []
            self._buffer_cond.notify_all()  # release blocked emitters
