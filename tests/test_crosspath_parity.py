"""Cross-path differential harness for the stateful-analytic grid.

The dialect's analytics execute on FOUR paths:

1. **batch**  — ``engine/batch.py`` compiles each built-in call to
   Catalyst window functions over the full DataFrame (custom analytics
   run the shared kernel core of ``streaming/stateful.py``);
2. **stream** — ``streaming/stateful.py``'s analytic kernel, replayed
   through Structured Streaming micro-batches;
3. **pyeval** — the per-event ``emit_sync`` in-process path
   (``api/facade.py _compile_analytic_python`` — the same steps, but
   args/gates evaluated by ``dialect/pyeval``);
4. **emit Spark route** — ``emit_sync`` on a declared-schema engine,
   which skips pyeval: Spark evaluates each event's keys/gates/args and
   the shared kernel core steps them.

Both r6 defects lived exactly where only one path was audited (the
batch WHEN-gated ``lag`` ignored ``ignoreNull=false``; the CEP measure
``concat`` NULL-propagated).  This suite runs the full gated-analytic
argument grid — lag offset 1..3 × literal/expression default ×
ignoreNull × WHEN gate (incl. a NULL-valued gate) × partitioning —
plus a NULL-bearing BIGINT column and a custom analytic that reports
the Python types it was handed, over seeded random event streams WITH
NULLS through all four paths, and asserts identical outputs row-for-row,
value and type (an int never equals a float, a bool never an int).

Reference semantics: ``functions_analytical.go`` lagState /
hadChangedState / changedColState / accState; WHEN gating
``stream/analytic.go``.
"""

import random

import pytest
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from streamsql_spark.api.facade import StreamSQL
from streamsql_spark.streaming.harness import run_streaming_collect

EVT = StructType([
    StructField("deviceId", StringType()),
    StructField("temperature", DoubleType()),
    StructField("humidity", DoubleType()),
    StructField("ts", LongType()),
    StructField("status", StringType()),
])

# the full analytic argument grid, one aliased column per cell:
# lag offsets 1..3, literal + EXPRESSION defaults, both ignoreNull
# modes (incl. explicit true), latest with/without default, both
# had_changed ignoreNull modes + multi-column, changed_col both modes,
# every acc_* kind
ANALYTIC_GRID = [
    ("lag1", "lag(temperature)"),
    ("lag2", "lag(temperature, 2)"),
    ("lag3", "lag(temperature, 3)"),
    ("lag1d", "lag(temperature, 1, -1.0)"),
    ("lag2d", "lag(temperature, 2, -1.0)"),
    ("lag1de", "lag(temperature, 1, temperature)"),
    ("lag1nn", "lag(temperature, 1, -1.0, false)"),
    ("lag2nn", "lag(temperature, 2, -1.0, false)"),
    ("lag3nn", "lag(temperature, 3, -9.0, false)"),
    ("lag1in", "lag(temperature, 1, -1.0, true)"),
    ("lat", "latest(temperature)"),
    ("latd", "latest(temperature, -1.0)"),
    ("hc", "had_changed(true, status)"),
    ("hcn", "had_changed(false, temperature)"),
    ("hc2", "had_changed(true, temperature, status)"),
    ("cc", "changed_col(false, status)"),
    ("ccn", "changed_col(true, temperature)"),
    ("asum", "acc_sum(temperature)"),
    ("amax", "acc_max(temperature)"),
    ("amin", "acc_min(temperature)"),
    ("acnt", "acc_count(temperature)"),
    ("aavg", "acc_avg(temperature)"),
    # start/reset condition axis (acc_x(expr, startCond, resetCond)):
    # start latch arms on first true cond, reset zeroes WITHOUT
    # accumulating and re-arms the latch (analytic_acc.go:8-122)
    ("astart", "acc_sum(temperature, status = 'ok')"),
    ("asr", "acc_sum(temperature, status = 'ok', status = 'err')"),
    ("arst", "acc_count(temperature, true, status = 'err')"),
    # a NULL-bearing BIGINT column: integral results stay integral
    ("nlag", "lag(n)"),
    ("nlat", "latest(n)"),
    ("nmax", "acc_max(n)"),
    ("nsum", "acc_sum(n)"),
    # a custom analytic handed an int, a double and a boolean argument
    ("tn", "xp_typenames(n, temperature, status = 'ok')"),
]

# the grid's event schema: EVT plus the BIGINT column
EVT_N = StructType(EVT.fields + [StructField("n", LongType())])


@pytest.fixture(scope="module", autouse=True)
def _xp_typenames():
    from streamsql_spark.functions.examples import ArgTypesState
    from streamsql_spark.functions.registry import (
        _CUSTOM_ANALYTICS, register_analytic_function)

    register_analytic_function("xp_typenames", ArgTypesState, "string")
    yield
    _CUSTOM_ANALYTICS.pop("xp_typenames", None)

# gate axis: ungated, always-boolean gate, and a gate that is NULL on
# NULL temperature (three-valued logic: NULL gate must behave as false
# on every path)
GATES = {"nogate": "", "strgate": "WHEN status = 'ok'",
         "nullgate": "WHEN temperature > 10"}
PARTS = {"part": "PARTITION BY deviceId", "nopart": ""}


def _mk_sql(gate: str, part: str) -> str:
    over = " ".join(x for x in (part, gate) if x)
    over = f" OVER ({over})" if over else ""
    cols = ", ".join(f"{expr}{over} AS {alias}"
                     for alias, expr in ANALYTIC_GRID)
    return (f"SELECT deviceId, ts, {cols} FROM stream "
            "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")


def _mk_rows(seed: int, n: int = 36):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append({
            "deviceId": rng.choice(["d1", "d2", "d3"]),
            # nulls are the whole point: ignoreNull × gate × default
            "temperature": None if rng.random() < 0.25
            else float(rng.choice([5, 12, 12, 18, 25])),
            "humidity": 0.0,
            "ts": 1000 * (i + 1),
            "status": rng.choice(["ok", "ok", "warn", "err"]),
        })
    return rows, rng


def _with_bigint(rows, seed: int):
    """``rows`` with EVT_N's NULL-bearing BIGINT column ``n`` added."""
    rng = random.Random(seed)
    return [{**r, "n": None if rng.random() < 0.25
             else rng.choice([3, 7, 7, 40])} for r in rows]


def _norm(r: dict) -> dict:
    """Exact comparison form: each value tagged with its type."""
    return {k: (type(v).__name__, round(v, 6) if isinstance(v, float) else v)
            for k, v in r.items()}


def _keyed(rows):
    return {(r["deviceId"], r["ts"]): _norm(r) for r in rows}


def _run_batch(spark, sql, rows, schema=EVT):
    s = StreamSQL(spark)
    s.execute(sql)
    df = spark.createDataFrame(rows, schema=schema)
    return [r.asDict() for r in s.query(df).collect()]


def _run_stream(spark, sql, rows, rng, schema=EVT):
    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 7)
        batches.append(rows[i:i + k])
        i += k
    s = StreamSQL(spark)
    s.execute(sql)
    return run_streaming_collect(spark, s, batches, schema, tables=s._tables)


def _run_pyeval(spark, sql, rows):
    s = StreamSQL(spark)
    s.execute(sql)
    out = [s.emit_sync(dict(r)) for r in rows]
    # the in-process path must have ENGAGED (a silent permanent
    # fallback to the Spark route would make this test vacuous)
    assert getattr(s, "_an_py", None) is not None, \
        "pyeval analytic path fell back — grid no longer covered"
    return [o for o in out if o is not None]


def _run_emit_spark(spark, sql, rows, schema):
    """emit_sync on a declared-schema engine: the Spark route."""
    s = StreamSQL(spark, schema=schema)
    s.execute(sql)
    out = [s.emit_sync(dict(r)) for r in rows]
    assert s._an_py is None, "declared-schema emit_sync took pyeval"
    return [o for o in out if o is not None]


# slow tier (r14): one (part, gate) combo stays in the default run as
# the three-path analytic-parity representative; the remaining grid is
# opt-in (`-m slow`) after analytic-engine changes
@pytest.mark.parametrize("part,gate", [
    ("part", "nogate"),
    pytest.param("nopart", "strgate", marks=pytest.mark.slow),
    pytest.param("part", "nullgate", marks=pytest.mark.slow),
    pytest.param("part", "strgate", marks=pytest.mark.slow),
    pytest.param("nopart", "nogate", marks=pytest.mark.slow),
    pytest.param("nopart", "nullgate", marks=pytest.mark.slow),
])
def test_analytic_grid_three_path_parity(spark, gate, part):
    import zlib

    sql = _mk_sql(GATES[gate], PARTS[part])
    # crc32, not hash(): str hashing is salted per process, and an
    # unreproducible differential failure can't be bisected
    seed = zlib.crc32(f"{gate}|{part}".encode()) % 1000
    rows, rng = _mk_rows(seed)
    rows = _with_bigint(rows, seed)

    got_batch = _keyed(_run_batch(spark, sql, rows, schema=EVT_N))
    got_py = _keyed(_run_pyeval(spark, sql, rows))
    assert got_py == got_batch, f"pyeval vs batch diverged ({gate},{part})"

    got_emit = _keyed(_run_emit_spark(spark, sql, rows, EVT_N))
    assert got_emit == got_batch, \
        f"emit Spark route vs batch diverged ({gate},{part})"

    got_stream = _keyed(_run_stream(spark, sql, rows, rng, schema=EVT_N))
    assert got_stream == got_batch, \
        f"stream vs batch diverged ({gate},{part})"


def test_gated_lag_ignorenull_false_stores_null(spark):
    """The r6 defect, pinned directly: ``lag(x, 1, d, false) OVER
    (WHEN gate)`` must STORE a NULL x arriving under a true gate
    (lagState stores unconditionally when ignoreNull=false) — the next
    read returns NULL, not the skipped-over older value, and not the
    default (default covers MISSING history only)."""
    sql = ("SELECT deviceId, ts, "
           "lag(temperature, 1, -1.0, false) OVER (WHEN status = 'ok') "
           "AS prev FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceId": "d1", "temperature": 10.0, "humidity": 0.0,
         "ts": 1000, "status": "ok"},    # stores 10.0; reads default
        {"deviceId": "d1", "temperature": None, "humidity": 0.0,
         "ts": 2000, "status": "ok"},    # stores NULL; reads 10.0
        {"deviceId": "d1", "temperature": 30.0, "humidity": 0.0,
         "ts": 3000, "status": "ok"},    # reads the STORED NULL
        {"deviceId": "d1", "temperature": 40.0, "humidity": 0.0,
         "ts": 4000, "status": "err"},   # gated out: reads last = 30.0
        {"deviceId": "d1", "temperature": 50.0, "humidity": 0.0,
         "ts": 5000, "status": "ok"},    # reads 30.0 (40 never stored)
    ]
    want = {1000: -1.0, 2000: 10.0, 3000: None, 4000: 30.0, 5000: 30.0}
    got = {r["ts"]: r["prev"] for r in _run_batch(spark, sql, rows)}
    assert got == want
    s = StreamSQL(spark)
    s.execute(sql)
    got_py = {o["ts"]: o["prev"] for o in map(s.emit_sync, rows) if o}
    assert got_py == want


def test_gated_lag_offset2_matches_kernel(spark):
    """Gated lag with offset > 1 (newly supported in batch, r7): the
    count-frame construction must match the kernel's buf[-n] read."""
    sql = ("SELECT ts, lag(temperature, 2, -1.0) OVER (WHEN status='ok')"
           " AS p2 FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    temps = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    stats = ["ok", "err", "ok", "ok", "err", "ok"]
    rows = [{"deviceId": "d", "temperature": t, "humidity": 0.0,
             "ts": 1000 * (i + 1), "status": st}
            for i, (t, st) in enumerate(zip(temps, stats))]
    # stored sequence: 10 (ts1), 30 (ts3), 40 (ts4), 60 (ts6)
    want = {1000: -1.0, 2000: -1.0, 3000: -1.0,
            4000: 10.0, 5000: 30.0, 6000: 30.0}
    got = {r["ts"]: r["p2"] for r in _run_batch(spark, sql, rows)}
    assert got == want
    s = StreamSQL(spark)
    s.execute(sql)
    got_py = {o["ts"]: o["p2"] for o in map(s.emit_sync, rows) if o}
    assert got_py == want


# the change detectors under a WHEN gate: a gated-out row moves no
# baseline and reports no change (had_changed false, changed_col and the
# changed_cols members NULL), like an ignoreNull row with a NULL value.
# changed_cols fans out to one spec per member, which pyeval steps like
# any other spec
CDC_GATED = [
    ("hc", "had_changed(true, status)"),
    ("hcn", "had_changed(false, temperature)"),
    ("hc2", "had_changed(true, temperature, status)"),
    ("cc", "changed_col(false, status)"),
    ("ccn", "changed_col(true, temperature)"),
]
CDC_GATED_COLS = ["changed_cols('c_', false, status, temperature)",
                  "changed_cols('n_', true, temperature, status)"]


@pytest.mark.parametrize("gate", [
    "nullgate", pytest.param("strgate", marks=pytest.mark.slow)])
def test_gated_change_detectors_four_paths(spark, gate):
    import zlib

    over = f" OVER (PARTITION BY deviceId {GATES[gate]})"
    sql = ("SELECT deviceId, ts, "
           + ", ".join(f"{e}{over} AS {a}" for a, e in CDC_GATED)
           + " FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    sql_cols = ("SELECT deviceId, ts, "
                + ", ".join(f"{e}{over}" for e in CDC_GATED_COLS)
                + " FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    seed = zlib.crc32(f"cdc|{gate}".encode()) % 1000
    rows, rng = _mk_rows(seed, n=40)

    want = _keyed(_run_batch(spark, sql, rows))
    assert _keyed(_run_pyeval(spark, sql, rows)) == want
    assert _keyed(_run_emit_spark(spark, sql, rows, EVT)) == want
    assert _keyed(_run_stream(spark, sql, rows, rng)) == want

    want_cols = _keyed(_run_batch(spark, sql_cols, rows))
    s = StreamSQL(spark).execute(sql_cols)
    got = [s.emit_sync(dict(r)) for r in rows]
    assert "emit_sync" in vars(s) and s._an_py is not None  # pyeval bound
    assert _keyed(got) == want_cols
    assert _keyed(_run_emit_spark(spark, sql_cols, rows, EVT)) == want_cols
    assert _keyed(_run_stream(spark, sql_cols, rows, rng)) == want_cols

    # gated-out rows report no change; gated-in rows do report some
    gated_in = {(r["deviceId"], r["ts"]) for r in rows
                if (r["status"] == "ok" if gate == "strgate"
                    else r["temperature"] is not None
                    and r["temperature"] > 10)}
    for k, r in want.items():
        if k not in gated_in:
            assert [r[a][1] for a in ("hc", "hcn", "hc2", "cc", "ccn")] \
                == [False, False, False, None, None], k
            assert all(v[1] is None for c, v in want_cols[k].items()
                       if c.startswith(("c_", "n_"))), k
    assert any(want[k]["hc2"][1] for k in gated_in)
    assert any(want_cols[k]["c_temperature"][1] is not None
               for k in gated_in)


def test_lifted_when_gate_steps_per_partition_four_paths(spark):
    """A lifted ``WHEN had_changed(...)`` under PARTITION BY gates per
    partition (SURVEY §2.6) on all four paths: device b's status never
    changes after its first event, so its last row is gated out and
    reads b's own stored ts, not the default a global gate would give."""
    sql = ("SELECT deviceId, ts, lag(ts, 1, ts) OVER (PARTITION BY deviceId"
           " WHEN had_changed(true, status)) AS prev FROM stream "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"deviceId": d, "temperature": 1.0, "humidity": 0.0, "ts": ts,
             "status": st}
            for d, ts, st in (("a", 1, "x"), ("b", 2, "x"), ("a", 3, "y"),
                              ("b", 4, "x"))]
    want = _keyed(_run_batch(spark, sql, rows))
    assert {k: v["prev"][1] for k, v in want.items()} == \
        {("a", 1): 1, ("b", 2): 2, ("a", 3): 1, ("b", 4): 2}
    assert _keyed(_run_pyeval(spark, sql, rows)) == want
    assert _keyed(_run_emit_spark(spark, sql, rows, EVT)) == want
    assert _keyed(_run_stream(spark, sql, rows, random.Random(5))) == want


@pytest.mark.slow
def test_cdc_state_duration_idiom_three_paths(spark):
    """The lifted OVER (WHEN had_changed(...)) CDC idiom — an analytic
    call INSIDE the gate — must agree across batch / stream / pyeval."""
    sql = ("SELECT deviceId, ts, "
           "ts - lag(ts, 1, ts, true) OVER (WHEN had_changed(true, status)) "
           "AS dur FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows, rng = _mk_rows(seed=7, n=30)
    got_batch = _keyed(_run_batch(spark, sql, rows))
    got_py = _keyed(_run_pyeval(spark, sql, rows))
    assert got_py == got_batch
    got_stream = _keyed(_run_stream(spark, sql, rows, rng))
    assert got_stream == got_batch


# the per-event analytic plan's shapes in one statement: two distinct
# PARTITION BYs (one of them shared by two specs), an unpartitioned spec,
# a WHEN gate and a lifted WHEN had_changed(...) placeholder gate
PLAN_SQL = ("SELECT deviceId, status, ts, "
            "acc_sum(temperature) OVER (PARTITION BY deviceId) AS s_dev, "
            "lag(temperature) OVER (PARTITION BY status) AS lag_st, "
            "acc_max(temperature) OVER (PARTITION BY deviceId "
            "WHEN temperature > 10) AS mx_dev, "
            "acc_count(temperature) OVER () AS n_all, "
            "ts - lag(ts, 1, ts, true) OVER (WHEN had_changed(true, status)) "
            "AS dur FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")


def _emit_all(e, rows):
    return [e.emit_sync(dict(r)) for r in rows]


def test_analytic_plan_matches_query_and_spark_route(spark):
    """emit_sync's compiled analytic plan (one key per distinct
    PARTITION BY, arity-specialised arguments, the commit) answers every
    event in-process, equal to ``query()`` over the same events and,
    event by event and typed, to the Spark route."""
    rows, _ = _mk_rows(seed=11, n=36)
    py_e = StreamSQL(spark).execute(PLAN_SQL)
    got = _emit_all(py_e, rows)
    assert py_e._sync_py is not None and py_e._sync_py is py_e._an_py, \
        "the analytic plan was not bound"
    assert _keyed(o for o in got if o) == _keyed(_run_batch(spark, PLAN_SQL,
                                                            rows))
    sp_e = StreamSQL(spark).execute(PLAN_SQL)
    sp_e._an_py = None  # force the Spark route
    want = _emit_all(sp_e, rows)
    assert sp_e._sync_py is None
    assert [_norm(o) for o in got] == [_norm(o) for o in want]


def test_analytic_plan_cap_evicts_per_spec(spark):
    """With ``analytic_max_partitions=1`` the plan's commit keeps one
    partition per spec: the deviceId specs restart whenever the device
    changes, the status spec keeps its history, the unpartitioned ones
    never restart — as on the Spark route under the same cap."""
    rows = [{"deviceId": d, "temperature": t, "humidity": 0.0,
             "ts": 1000 * (i + 1), "status": "ok"}
            for i, (d, t) in enumerate([("d1", 11.0), ("d2", 12.0),
                                        ("d1", 13.0), ("d1", 14.0)])]
    py_e = StreamSQL(spark, analytic_max_partitions=1).execute(PLAN_SQL)
    got = _emit_all(py_e, rows)
    assert py_e._sync_py is not None
    assert [o["s_dev"] for o in got] == [11.0, 12.0, 13.0, 27.0]
    assert [o["lag_st"] for o in got] == [None, 11.0, 12.0, 13.0]
    assert [o["n_all"] for o in got] == [1, 2, 3, 4]
    assert all(len(lru) == 1 for lru in py_e._an_lru.values())
    sp_e = StreamSQL(spark, analytic_max_partitions=1).execute(PLAN_SQL)
    sp_e._an_py = None  # force the Spark route
    assert [_norm(o) for o in got] == \
        [_norm(o) for o in _emit_all(sp_e, rows)]


# ----------------------- windowed-aggregation batch/stream parity grid
# The analytic grid above covers §2.6; this covers §2.4×§2.5 — every
# aggregate family over every window kind, random null-bearing streams,
# batch trigger vs streaming replay.  String-shaped aggregates
# (merge_agg/collect/first/last/dedup) run over an INT column so float
# formatting (JVM vs Python str) can't masquerade as a kernel bug.
WINDOW_AGGS = [
    ("n", "count(*)"), ("cv", "count(temperature)"),
    ("s", "round(sum(temperature), 6)"),
    ("a", "round(avg(temperature), 6)"),
    ("lo", "min(temperature)"), ("hi", "max(temperature)"),
    ("sd", "round(stddev(temperature), 6)"),
    ("sds", "round(stddevs(temperature), 6)"),
    ("md", "median(temperature)"),
    ("pc", "percentile(0.5, temperature)"),
    ("fv", "first_value(reading)"), ("lv", "last_value(reading)"),
    ("cl", "collect(reading)"), ("dd", "deduplicate(reading)"),
    ("mg", "merge_agg(reading)"),
    # out-of-range argument edges (r7 review): n=0 / p>1 read NULL on
    # BOTH paths, never INVALID_INDEX_OF_ZERO / IndexError
    ("nth0", "nth_value(reading, 0)"), ("nth2", "nth_value(reading, 2)"),
    ("pchi", "percentile(1.5, temperature)"),
]

WEVT = StructType(EVT.fields + [
    StructField("reading", LongType()),
])


def _wagg_rows(seed: int, n: int = 40, pad_multiple: int | None = None):
    rng = random.Random(seed)
    rows, ts = [], 0
    for _ in range(n):
        ts += rng.randint(500, 3000)
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "temperature": None if rng.random() < 0.2
            else round(rng.uniform(-5, 40), 2),
            "humidity": 0.0,
            "ts": ts,
            "status": "ok",
            "reading": None if rng.random() < 0.2 else rng.randint(0, 5),
        })
    if pad_multiple:
        # counting windows only fire FULL windows in streaming, while
        # the batch manual trigger drains partials — pad each key to a
        # window-size multiple so the comparison is exact
        from collections import Counter
        counts = Counter(r["deviceId"] for r in rows)
        for k, c in counts.items():
            for _ in range((-c) % pad_multiple):
                ts += rng.randint(500, 3000)
                rows.append({"deviceId": k, "temperature": 1.0,
                             "humidity": 0.0, "ts": ts, "status": "ok",
                             "reading": 1})
    return rows


def _norm_wagg(r: dict):
    out = []
    for k in sorted(r):
        v = r[k]
        if isinstance(v, float):
            v = round(v, 6)
        elif isinstance(v, list):
            v = tuple(round(x, 6) if isinstance(x, float) else x
                      for x in v)
        out.append((k, v))
    return tuple(out)


# slow tier (r14): session+counting stay default (cheapest pair, both
# stateful kernels); tumbling/sliding stream-batch parity is separately
# default-covered by the out-of-order-delivery and lateness tests
@pytest.mark.parametrize("wspec,pad", [
    pytest.param("TumblingWindow('5s')", None, marks=pytest.mark.slow),
    pytest.param("SlidingWindow('10s', '5s')", None, marks=pytest.mark.slow),
    ("SessionWindow('3s')", None),
    ("CountingWindow(4)", 4),
])
def test_window_agg_stream_batch_parity_random(spark, wspec, pad):
    import zlib
    from collections import Counter

    seed = zlib.crc32(wspec.encode()) % 1000
    rows = _wagg_rows(seed, pad_multiple=pad)
    cols = ", ".join(f"{expr} AS {alias}" for alias, expr in WINDOW_AGGS)
    sql = (f"SELECT deviceId, {cols} FROM stream "
           f"GROUP BY deviceId, {wspec} "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")

    # batch: manual trigger drains every window
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch_out = Counter(_norm_wagg(r) for r in s.trigger_window())

    # streaming replay over random micro-batch splits; a far-future
    # flush row advances the watermark so every real window closes
    # (its own key is filtered back out) — counting windows need no
    # flush, the pad made every window full
    rng = random.Random(seed + 1)
    stream_rows = list(rows)
    if pad is None:
        stream_rows.append({"deviceId": "__flush__", "temperature": 1.0,
                            "humidity": 0.0,
                            "ts": rows[-1]["ts"] + 10_000_000,
                            "status": "ok", "reading": 1})
    batches, i = [], 0
    while i < len(stream_rows):
        k = rng.randint(1, 9)
        batches.append(stream_rows[i:i + k])
        i += k
    got = run_streaming_collect(
        spark, StreamSQL(spark).execute(sql), batches, WEVT, tables={})
    stream_out = Counter(_norm_wagg(r) for r in got
                         if dict(r).get("deviceId") != "__flush__")
    assert stream_out == batch_out, (
        f"{wspec}: batch-only={batch_out - stream_out} "
        f"stream-only={stream_out - batch_out}")


# ------------------------------------------ CEP batch/stream parity fuzz
CEP_PATTERNS = [
    ("A B+", "A AS temperature > 20, B AS temperature <= 20"),
    ("A{2}", "A AS temperature > 10"),
    ("A B", "A AS temperature > 25, B AS temperature < 15"),
    ("(A | B) C", "A AS temperature > 30, B AS temperature < 5, "
                  "C AS temperature >= 5 AND temperature <= 30"),
]


# slow tier (r14): pattern 0 stays default; the rest of the random-CEP
# parity sweep is opt-in alongside tests/cep_fuzz.py
@pytest.mark.parametrize("pat_idx", [0] + [
    pytest.param(i, marks=pytest.mark.slow)
    for i in range(1, len(CEP_PATTERNS))])
def test_cep_stream_batch_parity_random(spark, pat_idx):
    """Random event streams through the SAME pattern on the batch
    trigger (full-replay flush) and the incremental streaming matcher
    (random micro-batch splits + per-key define-failing closer rows to
    resolve pending matches) — the match sets must be identical.
    Completes the cross-path matrix: analytics and window aggregates
    have grids above; this is the CEP engine's."""
    import zlib
    from collections import Counter

    pattern, defines = CEP_PATTERNS[pat_idx]
    sql = f"""SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n,
                 FIRST(A.temperature) AS fa, LAST(A.temperature) AS la,
                 round(SUM(A.temperature), 6) AS sa
        ONE ROW PER MATCH
        PATTERN ({pattern})
        WITHIN '1h'
        DEFINE {defines}
    ) WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""

    seed = zlib.crc32(pattern.encode()) % 1000
    rng = random.Random(seed)
    rows = []
    for i in range(40):
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "temperature": None if rng.random() < 0.15
            else round(rng.uniform(-10, 40), 2),
            "humidity": 0.0, "ts": 1000 * (i + 1), "status": "ok",
        })
    # closer rows: NULL fails every DEFINE (UNKNOWN → no classify) in
    # both engines, and a non-classifiable row breaks contiguous
    # extension — resolving pending matches without joining any
    closers = [{"deviceId": k, "temperature": None, "humidity": 0.0,
                "ts": 1000 * (50 + j), "status": "ok"}
               for j, k in enumerate(["d1", "d2"])]

    def norm(out):
        return Counter(
            tuple((k, round(v, 6) if isinstance(v, float) else v)
                  for k, v in sorted(r.items())) for r in out)

    # batch flush over rows + the same closers, so the two paths see
    # the same event sequence (the closers match nothing themselves)
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows + closers:
        s.emit(dict(r))
    batch_out = norm(s.trigger_window())

    batches, i = [], 0
    stream_rows = rows + closers
    while i < len(stream_rows):
        k = rng.randint(1, 6)
        batches.append(stream_rows[i:i + k])
        i += k
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT, tables={})
    assert norm(got) == batch_out, f"pattern ({pattern}) diverged"


@pytest.mark.parametrize("pat_idx", [
    0, pytest.param(3, marks=pytest.mark.slow)])
def test_cep_stream_batch_parity_out_of_order(spark, pat_idx):
    """Same CEP parity contract with BOUNDED out-of-order delivery:
    rows are displaced up to 3 positions (3s) and the query declares
    MAXOUTOFORDERNESS='5s', so the streaming reorder buffer must
    restore event-time order exactly — the match multiset equals the
    batch full-replay's (whose executor sorts by ORDER BY ts)."""
    import zlib
    from collections import Counter

    pattern, defines = CEP_PATTERNS[pat_idx]
    sql = f"""SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n,
                 FIRST(A.temperature) AS fa,
                 round(SUM(A.temperature), 6) AS sa
        ONE ROW PER MATCH
        PATTERN ({pattern})
        WITHIN '1h'
        DEFINE {defines}
    ) WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='5s')"""

    seed = zlib.crc32(f"ooo|{pattern}".encode()) % 1000
    rng = random.Random(seed)
    rows = []
    for i in range(36):
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "temperature": None if rng.random() < 0.15
            else round(rng.uniform(-10, 40), 2),
            "humidity": 0.0, "ts": 1000 * (i + 1), "status": "ok",
        })
    # two closer waves: the first (NULL, fails every DEFINE) breaks
    # pending matches; the second only PUSHES the per-key watermark
    # past the first, which is otherwise held inside the declared
    # MAXOUTOFORDERNESS horizon — standard watermark semantics: a held
    # tail resolves only when newer data arrives
    closers = [{"deviceId": k, "temperature": None, "humidity": 0.0,
                "ts": ts0 * 1000 + j, "status": "ok"}
               for ts0 in (60, 100) for j, k in enumerate(["d1", "d2"])]
    # bounded shuffle: random adjacent-ish swaps, displacement <= 3
    shuffled = list(rows)
    for _ in range(25):
        i = rng.randrange(len(shuffled) - 1)
        j = min(i + rng.randint(1, 3), len(shuffled) - 1)
        if abs(shuffled[i]["ts"] - shuffled[j]["ts"]) <= 3000:
            shuffled[i], shuffled[j] = shuffled[j], shuffled[i]
    delivery = shuffled + closers

    def norm(out):
        return Counter(
            tuple((k, round(v, 6) if isinstance(v, float) else v)
                  for k, v in sorted(r.items())) for r in out)

    s = StreamSQL(spark)
    s.execute(sql)
    for r in delivery:
        s.emit(dict(r))
    batch_out = norm(s.trigger_window())

    batches, i = [], 0
    while i < len(delivery):
        k = rng.randint(1, 5)
        batches.append(delivery[i:i + k])
        i += k
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT, tables={})
    assert norm(got) == batch_out, f"OOO pattern ({pattern}) diverged"


# one event-time day expressed in each reference unit
# (rsql/parser.go:1149-1160) — whole days keep every unit integral
# (ns included: it takes the decimal-division micros path in
# _event_time_col, the one nontrivial conversion)
TIMEUNIT_DAY = {"ms": 86_400_000, "ss": 86_400, "mi": 1_440,
                "hh": 24, "dd": 1, "ns": 86_400_000_000_000}


@pytest.mark.parametrize("unit", sorted(TIMEUNIT_DAY))
def test_cep_timeunit_within_and_horizon(spark, unit):
    """TIMEUNIT scales numeric event time for WITHIN and the
    MAXOUTOFORDERNESS horizon on both paths.  r7 'What's wrong' #1:
    ``dd``/``hh``/``mi`` silently fell back to ms, putting event times
    off by 60,000x+ with no error; the WITHIN leg discriminates an ms
    misread in batch (a 50-day gap would wrongly match) and the
    horizon leg in streaming (a 24h horizon misread as ms would hold
    every match forever)."""
    mult = TIMEUNIT_DAY[unit]
    sql = f"""SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS ats
        ONE ROW PER MATCH
        PATTERN (A B)
        WITHIN '96h'
        DEFINE A AS temperature > 25, B AS temperature < 15
    ) WITH (TIMESTAMP='ts', TIMEUNIT='{unit}', MAXOUTOFORDERNESS='24h')"""

    def evt(day, temp):
        return {"deviceId": "d1", "temperature": temp, "humidity": 0.0,
                "ts": day * mult, "status": "ok"}

    rows = [
        evt(1, 30.0), evt(2, 10.0),   # 1-day gap: inside WITHIN '96h'
        evt(5, 31.0), evt(6, 9.0),    # second match
        # 50-day gap: must NOT match under WITHIN '96h' (4 days) — but
        # WOULD under an ms misread (50 units << 345.6M ms), so the
        # batch half discriminates the scaling bug for every unit
        evt(100, 32.0), evt(150, 8.0),
        # watermark pusher: the 24h (1-day) horizon clears all holds
        evt(300, None),
    ]
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = sorted(r["ats"] for r in s.trigger_window())
    assert batch == [1 * mult, 5 * mult]
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, [[r] for r in rows], EVT,
                                tables={})
    assert sorted(r["ats"] for r in got) == [1 * mult, 5 * mult]


def test_timeunit_unknown_units_default_to_ms():
    """The reference's TIMEUNIT switch is case-sensitive and accepts
    exactly dd/hh/mi/ss/ms/ns; anything else — including 's', 'us' and
    upper-cased forms — silently keeps the millisecond default
    (rsql/parser.go:1141-1162)."""
    from streamsql_spark.dialect.parser import parse
    from streamsql_spark.dialect.planner import plan

    def unit_of(tu):
        stmt = parse("SELECT deviceId FROM stream "
                     f"WITH (TIMESTAMP='ts', TIMEUNIT='{tu}')")
        return plan(stmt).timeunit

    for tu in ("dd", "hh", "mi", "ss", "ms", "ns"):
        assert unit_of(tu) == tu
    for tu in ("s", "us", "MI", "SS", "sec", "m"):
        assert unit_of(tu) == "ms", tu


# ------------------------------------------------- non-flat column types
# The r7 grid was flat doubles/strings; the pandas-ingestion trap class
# (chunk-dependent dtype coercion, ndarray cells from Arrow, pandas
# Timestamp leakage) lives exactly in array/timestamp columns flowing
# through analytic args and collect/deduplicate buffers.

from datetime import datetime

from pyspark.sql.types import ArrayType, MapType, TimestampType

EVT_RICH = StructType([
    StructField("deviceId", StringType()),
    StructField("tags", ArrayType(StringType())),
    StructField("nums", ArrayType(LongType())),
    StructField("updated", TimestampType()),
    StructField("ts", LongType()),
    StructField("status", StringType()),
])

RICH_GRID = [
    ("lagt", "lag(tags)"),
    ("lagt2", "lag(tags, 2, tags)"),
    ("latt", "latest(tags)"),
    ("hct", "had_changed(true, tags)"),
    ("cct", "changed_col(false, tags)"),
    ("lagn", "lag(nums)"),
    ("latn", "latest(nums)"),
    ("lagu", "lag(updated)"),
    ("latu", "latest(updated)"),
    ("hcu", "had_changed(true, updated)"),
]

_TAG_POOL = [None, [], ["a"], ["a", "b"], ["b"], ["c", "a"]]
_NUM_POOL = [None, [], [1], [1, 2], [7, 7, 7]]


def _mk_rich_rows(seed: int, n: int = 30):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        upd = None if rng.random() < 0.2 else \
            datetime(2024, 1, 1, rng.randrange(24), rng.randrange(60),
                     rng.randrange(60))  # whole seconds: JSON replay safe
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "tags": rng.choice(_TAG_POOL),
            "nums": rng.choice(_NUM_POOL),
            "updated": upd,
            "ts": 1000 * (i + 1),
            "status": rng.choice(["ok", "ok", "err"]),
        })
    return rows, rng


def _norm_rich(r: dict) -> dict:
    def n(v):
        if isinstance(v, list):
            return tuple(v)
        if isinstance(v, datetime):
            return v.isoformat()
        return v
    return {k: n(v) for k, v in r.items()}


def _keyed_rich(rows):
    return {(r["deviceId"], r["ts"]): _norm_rich(r) for r in rows}


@pytest.mark.parametrize("gate", ["nogate", "strgate"])
def test_analytic_rich_types_three_path_parity(spark, gate):
    """Array- and timestamp-typed columns through every analytic path:
    batch Catalyst windows, the streaming state kernel (Arrow hands
    array cells as np.ndarray — the generic scalar unwrap must not
    crash on size>1 or unwrap size-1), and pyeval."""
    import zlib

    over = " OVER (PARTITION BY deviceId" + \
        (" WHEN status = 'ok')" if gate == "strgate" else ")")
    cols = ", ".join(f"{expr}{over} AS {alias}"
                     for alias, expr in RICH_GRID)
    sql = (f"SELECT deviceId, ts, {cols} FROM stream "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    seed = zlib.crc32(f"rich|{gate}".encode()) % 1000
    rows, rng = _mk_rich_rows(seed)

    got_batch = _keyed_rich(_run_batch(spark, sql, rows, schema=EVT_RICH))
    got_py = _keyed_rich(_run_pyeval(spark, sql, rows))
    assert got_py == got_batch, f"pyeval vs batch diverged ({gate})"

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 5)
        batches.append(rows[i:i + k])
        i += k
    s = StreamSQL(spark)
    s.execute(sql)
    got_stream = _keyed_rich(
        run_streaming_collect(spark, s, batches, EVT_RICH, tables={}))
    assert got_stream == got_batch, f"stream vs batch diverged ({gate})"


def test_window_collect_dedup_rich_types_stream_parity(spark):
    """collect/deduplicate/first_value buffers carry arrays and
    timestamps across micro-batch splits without dtype drift (the
    chunk-coercion trap the int cleaners fixed in r7, now for
    non-scalar types): counting-window batch vs streaming replay."""
    sql = ("SELECT deviceId, collect(tags) AS ctags, "
           "deduplicate(updated) AS dupd, first_value(nums) AS fnums, "
           "last_value(updated) AS lupd "
           "FROM stream GROUP BY deviceId, CountingWindow(5) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows, rng = _mk_rich_rows(77, n=40)
    # alternate devices deterministically: 20 rows each = 4 COMPLETE
    # windows of 5 per key, so batch flush and streaming emission cover
    # the identical window set (no pending partial tail to reconcile)
    for i, r in enumerate(rows):
        r["deviceId"] = "d1" if i % 2 == 0 else "d2"

    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = sorted(
        tuple(map(str, _norm_rich(r).values())) for r in s.trigger_window())

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 7)
        batches.append(rows[i:i + k])
        i += k
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT_RICH, tables={})
    stream = sorted(
        tuple(map(str, _norm_rich(r).values())) for r in got)
    assert stream == batch, \
        "stream vs batch diverged on rich-typed agg buffers"


def test_cep_measures_rich_types_stream_parity(spark):
    """MATCH_RECOGNIZE measures returning ARRAY and TIMESTAMP values
    (FIRST(A.tags), LAST(B.updated)) through the incremental streaming
    matcher vs the batch full-replay: exercises measure out-schema
    inference for non-scalar types and the kernel row buffer's
    ndarray/Timestamp cleaning on the CEP path."""
    from collections import Counter

    sql = """SELECT deviceId, atags, bupd, n FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES FIRST(A.tags) AS atags, LAST(B.updated) AS bupd,
                 COUNT(*) AS n
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A+ B)
        DEFINE A AS status = 'ok', B AS status = 'err'
    ) WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""
    rows, rng = _mk_rich_rows(11, n=48)

    def norm(out):
        return Counter(tuple(sorted(_norm_rich(r).items())) for r in out)

    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = norm(s.trigger_window())
    assert sum(batch.values()) > 0, "fixture produced no matches"
    # at least one match must carry a non-null array measure, or the
    # test is vacuous for the rich types it exists to cover
    assert any(dict(k).get("atags") is not None for k in batch)

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 6)
        batches.append(rows[i:i + k])
        i += k
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT_RICH, tables={})
    assert norm(got) == batch, "CEP rich-measure stream/batch divergence"


def test_array_long_null_elements_split_invariant(spark):
    """r8 review find, pinned: the Arrow boundary float64-coerces an
    ENTIRE array<long> chunk when any element in it is NULL (so [5]
    arrives as [5.0] from a null-bearing micro-batch and [5] from a
    clean one, and a NULL element arrives as nan) — before the
    _clean_int_list restoration, repr-keyed deduplicate split 5 vs 5.0
    across micro-batch boundaries and emitting nan into array<bigint>
    killed the streaming query.  Batch flush and a deliberately
    null-splitting replay must agree exactly."""
    from collections import Counter

    sql = ("SELECT deviceId, collect(nums) AS cn, deduplicate(nums) AS dn, "
           "last_value(nums) AS ln FROM stream "
           "GROUP BY deviceId, CountingWindow(3) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")

    def evt(i, nums):
        return {"deviceId": "d1", "tags": ["t"], "nums": nums,
                "updated": datetime(2024, 1, 1), "ts": 1000 * (i + 1),
                "status": "ok"}

    rows = [evt(0, [5]), evt(1, [1, None]), evt(2, [5]),
            evt(3, [5]), evt(4, [2, 3]), evt(5, [1, None])]

    def norm(out):
        return Counter(str(sorted(_norm_rich(r).items())) for r in out)

    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = norm(s.trigger_window())
    assert sum(batch.values()) == 2

    # split so window 1 sees a null-bearing chunk and a clean chunk,
    # and window 2 gets its null-bearing row in a SEPARATE batch
    batches = [[rows[0]], [rows[1], rows[2]], [rows[3], rows[4]], [rows[5]]]
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT_RICH, tables={})
    assert norm(got) == batch, "array<long> buffers split across chunks"


def test_pyeval_fallback_continuity_on_rich_edge_values(spark):
    """r8 review finds, pinned: values OUTSIDE the per-event python
    whitelist (a null-element list; a tz-aware datetime) must fall
    back to the Spark route for THAT event with state continuity —
    not crash schemaless inference, not buffer a representation the
    other path wouldn't.  lag state must read across the path switch
    in both directions."""
    from datetime import timezone

    sql = ("SELECT deviceId, ts, lag(nums) OVER (PARTITION BY deviceId) "
           "AS p FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    s = StreamSQL(spark)
    s.execute(sql)
    r1 = s.emit_sync({"deviceId": "d1", "nums": [5], "ts": 1000})
    r2 = s.emit_sync({"deviceId": "d1", "nums": [1, None], "ts": 2000})
    r3 = s.emit_sync({"deviceId": "d1", "nums": [7], "ts": 3000})
    assert r1["p"] is None and r2["p"] == [5] and r3["p"] == [1, None]

    s2 = StreamSQL(spark)
    s2.execute("SELECT deviceId, ts, "
               "latest(u) OVER (PARTITION BY deviceId) AS lu FROM stream "
               "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    s2.emit_sync({"deviceId": "d1", "u": datetime(2024, 1, 1, 12),
                  "ts": 1000})
    # aware datetime: Spark route normalizes to session-naive — the
    # python path must NOT buffer the aware original instead
    b = s2.emit_sync({"deviceId": "d1",
                      "u": datetime(2024, 1, 1, 13, tzinfo=timezone.utc),
                      "ts": 2000})
    assert b["lu"].tzinfo is None
    c = s2.emit_sync({"deviceId": "d1", "u": None, "ts": 3000})
    assert c["lu"].tzinfo is None  # latest carries the naive buffered value


def test_analytic_struct_columns_stream_parity(spark):
    """Struct-typed columns through analytic args (the last of the
    verdict's arrays/structs/timestamps axis): Arrow hands struct
    cells to the kernel as dicts — lag/latest must buffer and emit
    them unchanged, and had_changed's equality must agree with
    Catalyst's struct equality.  Batch vs streaming replay (pyeval
    falls back by design: dicts are outside the per-event value
    whitelist)."""
    from pyspark.sql.types import StructType as ST

    schema = StructType([
        StructField("deviceId", StringType()),
        StructField("meta", ST([StructField("a", StringType()),
                                StructField("b", LongType())])),
        StructField("ts", LongType()),
    ])
    sql = ("SELECT deviceId, ts, lag(meta) OVER (PARTITION BY deviceId) "
           "AS pm, latest(meta) OVER (PARTITION BY deviceId) AS lm, "
           "had_changed(true, meta) OVER (PARTITION BY deviceId) AS hc "
           "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rng = random.Random(21)
    pool = [None, {"a": "x", "b": 1}, {"a": "x", "b": 2},
            {"a": "y", "b": 1}]
    rows = [{"deviceId": rng.choice(["d1", "d2"]),
             "meta": rng.choice(pool), "ts": 1000 * (i + 1)}
            for i in range(30)]

    def norm(out):
        def n(v):
            if hasattr(v, "asDict"):
                v = v.asDict()
            if isinstance(v, dict):
                return tuple(sorted(v.items()))
            return v
        return {(r["deviceId"], r["ts"]): {k: n(v) for k, v in r.items()}
                for r in out}

    got_batch = norm(_run_batch(spark, sql, rows, schema=schema))

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 5)
        batches.append(rows[i:i + k])
        i += k
    s = StreamSQL(spark)
    s.execute(sql)
    got_stream = norm(run_streaming_collect(spark, s, batches, schema,
                                            tables={}))
    assert got_stream == got_batch, "struct columns diverged batch/stream"


# --------------------------------------------- array<struct> (r10 axis)
# the canonical reference fixture carries sensors: array<struct>
# (test/e2e/nested_field_test.go / FIXTURES.md) — the deepest Arrow
# dtype-trap surface: struct cells arrive as dicts, array<struct> as
# ndarrays OF dicts, chunk-dependently.

EVT_AOS = StructType([
    StructField("deviceId", StringType()),
    StructField("sensor", StructType([
        StructField("id", StringType()),
        StructField("temp", DoubleType())])),
    StructField("sensors", ArrayType(StructType([
        StructField("id", StringType()),
        StructField("temp", DoubleType())]))),
    StructField("ts", LongType()),
    StructField("status", StringType()),
])

_SENSOR_POOL = [None, {"id": "s1", "temp": 1.5}, {"id": "s1", "temp": 2.5},
                {"id": "s2", "temp": 1.5}]
_SENSORS_POOL = [None, [],
                 [{"id": "s1", "temp": 1.5}],
                 [{"id": "s1", "temp": 1.5}, {"id": "s2", "temp": 9.0}],
                 [{"id": "s2", "temp": 9.0}]]


def _mk_aos_rows(seed: int, n: int = 32):
    rng = random.Random(seed)
    return [{"deviceId": rng.choice(["d1", "d2"]),
             "sensor": rng.choice(_SENSOR_POOL),
             "sensors": rng.choice(_SENSORS_POOL),
             "ts": 1000 * (i + 1),
             "status": rng.choice(["ok", "ok", "err"])}
            for i in range(n)], rng


def _norm_deep(v):
    """Rows/dicts/lists → hashable nested tuples (order-preserving for
    lists, key-sorted for dicts) so struct values from the JVM (Row)
    and the kernels (dict) compare equal."""
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_deep(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_deep(x) for x in v)
    if isinstance(v, datetime):
        return v.isoformat()
    return v


def _split_batches(rows, rng, hi=5):
    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, hi)
        batches.append(rows[i:i + k])
        i += k
    return batches


@pytest.mark.slow
def test_analytic_array_of_struct_stream_parity(spark):
    """array<struct> columns through the analytic kernels: Arrow hands
    the cell as an ndarray OF dicts — lag/latest must buffer and
    re-emit it unchanged across micro-batch splits, and had_changed's
    equality must agree with Catalyst's nested equality; a nested-path
    arg (sensor.temp) feeds acc_sum on both paths."""
    sql = ("SELECT deviceId, ts, "
           "lag(sensors) OVER (PARTITION BY deviceId) AS ps, "
           "latest(sensors) OVER (PARTITION BY deviceId) AS ls, "
           "had_changed(true, sensors) OVER (PARTITION BY deviceId) AS hc, "
           "round(acc_sum(sensor.temp) OVER (PARTITION BY deviceId), 4) "
           "    AS at FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows, rng = _mk_aos_rows(31)

    def norm(out):
        return {(r["deviceId"], r["ts"]):
                {k: _norm_deep(v) for k, v in r.items()} for r in out}

    got_batch = norm(_run_batch(spark, sql, rows, schema=EVT_AOS))
    s = StreamSQL(spark)
    s.execute(sql)
    got_stream = norm(run_streaming_collect(
        spark, s, _split_batches(rows, rng), EVT_AOS, tables={}))
    assert got_stream == got_batch, \
        "array<struct> analytics diverged batch/stream"


@pytest.mark.slow
def test_window_collect_array_of_struct_stream_parity(spark):
    """collect/deduplicate/first_value/last_value buffers carrying
    struct and array<struct> values across micro-batch splits: the
    buffered representation must restore to the declared Spark types
    chunk-independently (emit-batch flush vs replay)."""
    from collections import Counter

    sql = ("SELECT deviceId, collect(sensor) AS cs, "
           "deduplicate(sensors) AS ds, first_value(sensors) AS fs, "
           "last_value(sensor) AS lsr "
           "FROM stream GROUP BY deviceId, CountingWindow(4) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows, rng = _mk_aos_rows(47, n=32)
    # alternate devices deterministically: 16 rows each = 4 COMPLETE
    # windows of 4 per key (batch flush and replay cover the same set)
    for i, r in enumerate(rows):
        r["deviceId"] = "d1" if i % 2 == 0 else "d2"

    def norm(out):
        return Counter(
            tuple(sorted((k, _norm_deep(v)) for k, v in r.items()))
            for r in out)

    # schema declared on the emit leg too: schemaless dict inference
    # would type sensor as a MAP where the replay schema says STRUCT
    s = StreamSQL(spark, schema=EVT_AOS)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = norm(s.trigger_window())
    assert sum(batch.values()) == 8

    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = norm(run_streaming_collect(
        spark, s2, _split_batches(rows, rng, hi=7), EVT_AOS, tables={}))
    assert got == batch, "struct agg buffers diverged batch/stream"


@pytest.mark.slow
def test_cep_measures_array_of_struct_stream_parity(spark):
    """MATCH_RECOGNIZE measures returning struct and array<struct>
    (FIRST(A.sensors), LAST(B.sensor)): measure out-schema inference
    for nested types + the CEP row buffer's dict/ndarray cleaning,
    incremental streaming matcher vs batch full replay."""
    from collections import Counter

    sql = """SELECT deviceId, asens, bsens, n FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES FIRST(A.sensors) AS asens, LAST(B.sensor) AS bsens,
                 COUNT(*) AS n
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A+ B)
        DEFINE A AS status = 'ok', B AS status = 'err'
    ) WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""
    rows, rng = _mk_aos_rows(13, n=48)

    def norm(out):
        return Counter(
            tuple(sorted((k, _norm_deep(v)) for k, v in r.items()))
            for r in out)

    s = StreamSQL(spark, schema=EVT_AOS)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = norm(s.trigger_window())
    assert sum(batch.values()) > 0, "fixture produced no matches"
    assert any(dict(k).get("asens") is not None for k in batch), \
        "vacuous: no match carried a non-null array<struct> measure"

    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = norm(run_streaming_collect(
        spark, s2, _split_batches(rows, rng, hi=6), EVT_AOS, tables={}))
    assert got == batch, "CEP nested-measure stream/batch divergence"


@pytest.mark.parametrize("unit", sorted(TIMEUNIT_DAY))
def test_window_timeunit_batch_stream_parity(spark, unit):
    """TIMEUNIT scaling for the WINDOW path (the same `_event_time_col`
    conversion the CEP fuzz pins, but through tumbling-window
    assignment and the streaming watermark): day-granular numeric
    event times in each reference unit must land in the same 48h
    windows on both paths, with window_start() reporting the true
    wall-clock boundary."""
    mult = TIMEUNIT_DAY[unit]
    sql = ("SELECT deviceId, count(*) AS n, sum(temperature) AS s, "
           "unix_timestamp(window_start()) AS ws FROM stream "
           "GROUP BY deviceId, TumblingWindow('48h') "
           f"WITH (TIMESTAMP='ts', TIMEUNIT='{unit}')")

    def evt(day, temp):
        return {"deviceId": "d1", "temperature": temp, "humidity": 0.0,
                "ts": day * mult, "status": "ok"}

    # days 0,1 -> window 0; days 2,3 -> window 1; day 4 pushes the
    # watermark past both
    rows = [evt(0, 1.0), evt(1, 2.0), evt(2, 4.0), evt(3, 8.0),
            evt(4, 16.0)]
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = sorted((r["ws"], r["n"], r["s"]) for r in s.trigger_window())
    day_s = 86_400
    assert batch == [(0, 2, 3.0), (2 * day_s, 2, 12.0),
                     (4 * day_s, 1, 16.0)], (unit, batch)

    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, [[r] for r in rows], EVT,
                                tables={})
    # append mode: the last window (day 4) stays open at end of stream
    stream = sorted((r["ws"], r["n"], r["s"]) for r in got)
    assert stream == batch[:2], (unit, stream)


@pytest.mark.parametrize("wspec", [
    "TumblingWindow('5s')",
    pytest.param("SlidingWindow('10s', '5s')", marks=pytest.mark.slow),
    pytest.param("SessionWindow('3s')", marks=pytest.mark.slow),
])
def test_window_agg_out_of_order_delivery_parity(spark, wspec):
    """Window-aggregation analog of the CEP out-of-order fuzz: rows
    displaced up to 3 positions (<=3s) under MAXOUTOFORDERNESS='5s'
    must land in their true event-time windows — the batch path
    assigns windows by event time regardless of arrival order, so the
    streaming kernels' reorder/watermark handling must converge to the
    same multiset.  Order-INSENSITIVE aggregates only (arrival-order
    aggs like collect are, by reference semantics, arrival-dependent
    and not comparable under displaced delivery)."""
    import zlib
    from collections import Counter

    aggs = [("n", "count(*)"), ("cv", "count(temperature)"),
            ("s", "round(sum(temperature), 6)"),
            ("a", "round(avg(temperature), 6)"),
            ("lo", "min(temperature)"), ("hi", "max(temperature)"),
            ("md", "median(temperature)")]
    cols = ", ".join(f"{expr} AS {alias}" for alias, expr in aggs)
    sql = (f"SELECT deviceId, {cols}, "
           "unix_timestamp(window_start()) AS ws FROM stream "
           f"GROUP BY deviceId, {wspec} "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='5s')")

    seed = zlib.crc32(f"ooo|{wspec}".encode()) % 1000
    rows = _wagg_rows(seed)
    rng = random.Random(seed + 7)
    shuffled = list(rows)
    for _ in range(30):  # bounded displacement, like the CEP ooo fuzz
        i = rng.randrange(len(shuffled) - 1)
        j = min(i + rng.randint(1, 3), len(shuffled) - 1)
        if abs(shuffled[i]["ts"] - shuffled[j]["ts"]) <= 3000:
            shuffled[i], shuffled[j] = shuffled[j], shuffled[i]
    delivery = shuffled + [
        {"deviceId": "__flush__", "temperature": 1.0, "humidity": 0.0,
         "ts": max(r["ts"] for r in rows) + 10_000_000, "status": "ok",
         "reading": 1}]

    s = StreamSQL(spark)
    s.execute(sql)
    for r in delivery:
        s.emit(dict(r))
    batch_out = Counter(_norm_wagg(r) for r in s.trigger_window()
                        if r["deviceId"] != "__flush__")

    batches, i = [], 0
    while i < len(delivery):
        k = rng.randint(1, 6)
        batches.append(delivery[i:i + k])
        i += k
    got = run_streaming_collect(
        spark, StreamSQL(spark).execute(sql), batches, WEVT, tables={})
    stream_out = Counter(_norm_wagg(r) for r in got
                         if dict(r).get("deviceId") != "__flush__")
    assert stream_out == batch_out, (
        f"{wspec} OOO: batch-only={batch_out - stream_out} "
        f"stream-only={stream_out - batch_out}")


# ----------------------------------------------------------------- maps

EVT_MAP = StructType([
    StructField("deviceId", StringType()),
    StructField("attrs", MapType(StringType(), LongType())),
    StructField("ts", LongType()),
    StructField("status", StringType()),
])

# same CONTENT under different key orders must read as unchanged
# (reference DeepEqual; schema/schema.go:70-95 map is a first-class
# value type) — the Arrow boundary hands maps to kernels as (k, v)
# tuple lists whose naive equality is order-sensitive
_MAP_POOL = [None, {}, {"a": 1}, {"a": 1, "b": 2}, {"b": 2, "a": 1},
             {"b": 2}, {"c": 3, "a": 1}]

MAP_GRID = [
    ("lagm", "lag(attrs)"),
    ("lagm2", "lag(attrs, 2, attrs)"),
    ("latm", "latest(attrs)"),
    ("hcm", "had_changed(true, attrs)"),
    ("hcm0", "had_changed(false, attrs)"),
    ("ccm", "changed_col(false, attrs)"),
    ("ccm1", "changed_col(true, attrs)"),
]


def _mk_map_rows(seed: int, n: int = 30):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "attrs": rng.choice(_MAP_POOL),
            "ts": 1000 * (i + 1),
            "status": rng.choice(["ok", "ok", "err"]),
        })
    return rows, rng


def _norm_map(r: dict) -> dict:
    def n(v):
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        if isinstance(v, list):  # tolerate (k,v)-pair map encodings
            return tuple(sorted((k, x) for k, x in v))
        return v
    return {k: n(v) for k, v in r.items()}


def _keyed_map(rows):
    return {(r["deviceId"], r["ts"]): _norm_map(r) for r in rows}


# slow tier (r14): map-typed analytic parity is rig-scale (~2 min for
# the pair); map cells stay default-covered by the struct/rich-types
# parity tests and the engine unit tests
@pytest.mark.parametrize("gate", [
    pytest.param("nogate", marks=pytest.mark.slow),
    pytest.param("strgate", marks=pytest.mark.slow),
])
def test_analytic_map_types_three_path_parity(spark, gate):
    """map[string]any through every analytic path (r9, VERDICT item 4):
    batch Catalyst windows (canonical-JSON compare — `<=>` rejects map
    types), the streaming state kernel (dict-restored cells), and
    pyeval (dict equality).  Key-order variants of equal maps must
    read as UNCHANGED on all three paths."""
    import zlib

    over = " OVER (PARTITION BY deviceId" + \
        (" WHEN status = 'ok')" if gate == "strgate" else ")")
    cols = ", ".join(f"{expr}{over} AS {alias}"
                     for alias, expr in MAP_GRID)
    sql = (f"SELECT deviceId, ts, {cols} FROM stream "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    seed = zlib.crc32(f"map|{gate}".encode()) % 1000
    rows, rng = _mk_map_rows(seed)

    got_batch = _keyed_map(_run_batch(spark, sql, rows, schema=EVT_MAP))
    got_py = _keyed_map(_run_pyeval(spark, sql, rows))
    assert got_py == got_batch, f"pyeval vs batch diverged ({gate})"

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 5)
        batches.append(rows[i:i + k])
        i += k
    s = StreamSQL(spark)
    s.execute(sql)
    got_stream = _keyed_map(
        run_streaming_collect(spark, s, batches, EVT_MAP, tables={}))
    assert got_stream == got_batch, f"stream vs batch diverged ({gate})"


def test_window_collect_map_stream_parity(spark):
    """collect/first_value/last_value/deduplicate buffers carry MAP
    cells across micro-batch splits without the tuple-list/dict form
    diverging from the batch path: counting-window batch vs streaming
    replay.  deduplicate(map) on the BATCH path is r12 (README delta
    row 12 retired): sorted-entry canonicalization, so key-order
    variants of one map dedupe together exactly like the kernel's
    dict hashing."""
    sql = ("SELECT deviceId, collect(attrs) AS cm, "
           "first_value(attrs) AS fm, last_value(attrs) AS lm, "
           "deduplicate(attrs) AS dm "
           "FROM stream GROUP BY deviceId, CountingWindow(5) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows, rng = _mk_map_rows(88, n=40)
    for i, r in enumerate(rows):
        r["deviceId"] = "d1" if i % 2 == 0 else "d2"

    def norm_row(r):
        def n(v):
            if isinstance(v, dict):
                return tuple(sorted(v.items()))
            if isinstance(v, list):
                return tuple(n(x) if isinstance(x, (dict, list)) else x
                             for x in v)
            return v
        return tuple(sorted((k, n(v)) for k, v in r.items()))

    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    batch = sorted((repr(norm_row(r)) for r in s.trigger_window()))

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 7)
        batches.append(rows[i:i + k])
        i += k
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT_MAP, tables={})
    stream = sorted(repr(norm_row(dict(r))) for r in got)
    assert stream == batch


def test_cep_measures_map_column(spark):
    """MATCH_RECOGNIZE measures carrying a MAP column (A.attrs) keep
    dict content through the pandas matcher."""
    s = StreamSQL(spark)
    s.execute("""
        SELECT k, am, bm FROM stream MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES A.attrs AS am, B.attrs AS bm
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B) DEFINE A AS v > 80, B AS v < 20)
    """)
    data = [("k1", 90.0, {"m": 1}, 1000), ("k1", 10.0, {"n": 2}, 2000),
            ("k1", 50.0, None, 3000), ("k1", 85.0, {"b": 2, "a": 1}, 4000),
            ("k1", 5.0, {}, 5000)]
    for k, v, attrs, ts in data:
        s.emit({"k": k, "v": v, "attrs": attrs, "ts": ts})
    out = s.trigger_window()
    got = sorted((_norm_map(r)["am"], _norm_map(r)["bm"]) for r in out)
    # two matches: (90->10) measures {m:1}/{n:2}; (85->5) {a:1,b:2}/{}
    assert got == [((("a", 1), ("b", 2)), ()),
                   ((("m", 1),), (("n", 2),))]


EVT_NESTED_MAP = StructType([
    StructField("deviceId", StringType()),
    StructField("attrs", MapType(StringType(),
                                 MapType(StringType(), LongType()))),
    StructField("ts", LongType()),
])


def test_nested_map_change_detection_parity(spark):
    """Nested maps (map<string,map<string,long>>) compare
    order-insensitively at EVERY level on batch and pyeval (review
    find r9: the first canon pass sorted only the outer entries, so
    inner key-order variants read as changed on batch only)."""
    sql = ("SELECT deviceId, ts, had_changed(true, attrs) AS hc, "
           "lag(attrs) AS prev FROM stream "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceId": "d1", "attrs": {"m": {"x": 1, "y": 2}}, "ts": 1000},
        # same content, inner keys in a different insertion order
        {"deviceId": "d1", "attrs": {"m": {"y": 2, "x": 1}}, "ts": 2000},
        {"deviceId": "d1", "attrs": {"m": {"x": 9}}, "ts": 3000},
    ]
    got_batch = _keyed_map(_run_batch(spark, sql, rows,
                                      schema=EVT_NESTED_MAP))
    assert [got_batch[("d1", t)]["hc"] for t in (1000, 2000, 3000)] == \
        [True, False, True]
    got_py = {}
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        o = s.emit_sync(dict(r))
        got_py[(o["deviceId"], o["ts"])] = o
    assert [got_py[("d1", t)]["hc"] for t in (1000, 2000, 3000)] == \
        [True, False, True]
    # streaming kernel: the recursive _map_cleaner must restore nested
    # dicts from Arrow's (k,v)-tuple encoding at EVERY level
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got_stream = _keyed_map(run_streaming_collect(
        spark, s2, [rows[:1], rows[1:]], EVT_NESTED_MAP, tables={}))
    assert [got_stream[("d1", t)]["hc"] for t in (1000, 2000, 3000)] == \
        [True, False, True]
    assert got_stream == _keyed_map(_run_batch(
        spark, sql, rows, schema=EVT_NESTED_MAP))


def test_nested_map_dedup_parity(spark):
    """deduplicate over a NESTED map (map<string,map<string,long>>) on
    all three paths (r13, retires the README row-12 residual): the
    batch path canonicalizes maps at EVERY depth into sorted entry
    arrays before array_distinct and rebuilds the original shape
    losslessly, so inner key-order variants dedupe together exactly
    like the kernel's dict hashing (reference
    functions_aggregation.go:1556-1578 hashes the whole Go value)."""
    sql = ("SELECT deviceId, deduplicate(attrs) AS dm FROM stream "
           "GROUP BY deviceId, CountingWindow(4) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceId": "d1", "attrs": {"m": {"x": 1, "y": 2}}, "ts": 1000},
        # same content, inner keys in a different insertion order
        {"deviceId": "d1", "attrs": {"m": {"y": 2, "x": 1}}, "ts": 2000},
        {"deviceId": "d1", "attrs": {"m": {"x": 9}}, "ts": 3000},
        {"deviceId": "d1", "attrs": {"m": {"x": 1, "y": 2}}, "ts": 4000},
    ]

    def norm(out_rows):
        def n(v):
            if isinstance(v, dict):
                return tuple(sorted((k, n(x)) for k, x in v.items()))
            if isinstance(v, list):
                return tuple(n(x) for x in v)
            return v
        return sorted(repr((r["deviceId"], n(r["dm"]))) for r in
                      (dict(r) for r in out_rows))

    # batch (relational) path
    s = StreamSQL(spark)
    s.execute(sql)
    bdf = s.query(spark.createDataFrame(rows, EVT_NESTED_MAP))
    batch = norm(r.asDict() for r in bdf.collect())
    assert len(batch) == 1
    # two distinct values survive, arrival order, variants collapsed
    assert "({'m': {'x': 1, 'y': 2}}" not in batch[0]  # normalized repr
    # incremental emit + flush path
    s2 = StreamSQL(spark)
    s2.execute(sql)
    for r in rows:
        s2.emit(dict(r))
    flush = norm(s2.trigger_window())
    assert flush == batch
    # streaming kernel path
    s3 = StreamSQL(spark)
    s3.execute(sql)
    got = run_streaming_collect(spark, s3, [rows[:2], rows[2:]],
                                EVT_NESTED_MAP, tables={})
    assert norm(got) == batch
    # the deduped list really has 2 entries (4 in, 2 distinct)
    assert len(bdf.collect()[0]["dm"]) == 2


def test_map_output_per_fire_limit(spark):
    """LIMIT without ORDER BY on a windowed query whose visible output
    is map-typed (collect over maps): the per-fire top-K fallback
    order must not crash on the non-orderable column (review find r9 —
    Window.orderBy rejects maps; the fallback orders by JSON form)."""
    sql = ("SELECT deviceId, collect(attrs) AS cm FROM stream "
           "GROUP BY deviceId, CountingWindow(2) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') LIMIT 1")
    s = StreamSQL(spark)
    s.execute(sql)
    for i, (dev, a) in enumerate([("d1", {"a": 1}), ("d1", {"b": 2}),
                                  ("d2", {"c": 3}), ("d2", None)]):
        s.emit({"deviceId": dev, "attrs": a, "ts": 1000 * (i + 1)})
    out = s.trigger_window()
    # one full chunk per device = one fire each; LIMIT 1 keeps both
    assert sorted(r["deviceId"] for r in out) == ["d1", "d2"]


@pytest.mark.parametrize("wspec,limit_sql", [
    pytest.param("SessionWindow('5s')", "ORDER BY cnt DESC LIMIT 1",
                 marks=pytest.mark.slow),
    ("CountingWindow(4)", "LIMIT 1"),
    pytest.param("TumblingWindow('10s')", "ORDER BY cnt DESC, deviceId LIMIT 1",
                 marks=pytest.mark.slow),
])
def test_per_fire_limit_batch_stream_agreement(spark, wspec, limit_sql):
    """The per-fire LIMIT contract (r9) holds identically on the batch
    trigger path and the streaming replay: session/counting fires are
    per key (LIMIT 1 keeps each fire's row), tumbling fires span keys
    (LIMIT 1 keeps the per-window top-1)."""
    import zlib

    sql = (f"SELECT deviceId, count(*) AS cnt FROM stream "
           f"GROUP BY deviceId, {wspec} "
           f"WITH (TIMESTAMP='ts', TIMEUNIT='ms') {limit_sql}")
    rng = random.Random(zlib.crc32(wspec.encode()) % 1000)
    rows = []
    for i in range(24):
        rows.append({"deviceId": rng.choice(["d1", "d2", "d3"]),
                     "temperature": 0.0, "humidity": 0.0,
                     "status": "ok", "ts": 1000 * (i + 1)})
    # closer far in the future: fires every data window in append
    # mode; its OWN window never closes in streaming while the batch
    # trigger flushes it — excluded from the comparison on both sides
    closer = {"deviceId": "__closer__", "temperature": 0.0,
              "humidity": 0.0, "status": "ok", "ts": 10_000_000}

    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows + [closer]:
        s.emit(dict(r))
    batch = sorted((r["deviceId"], r["cnt"]) for r in s.trigger_window()
                   if r["deviceId"] != "__closer__")

    batches, i = [], 0
    while i < len(rows):
        k = rng.randint(1, 6)
        batches.append(rows[i:i + k])
        i += k
    batches.append([closer])
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, batches, EVT, tables={})
    stream = sorted((r["deviceId"], r["cnt"]) for r in got
                    if r["deviceId"] != "__closer__")
    assert stream == batch, f"{wspec}: batch={batch} stream={stream}"


WHERES = {
    # plain WHERE: filters BEFORE analytics — state sees only
    # survivors (stream.go:659-671)
    "plain": "WHERE temperature > 10 OR temperature IS NULL",
    # CDC WHERE: references an analytic — analytics step FIRST and
    # state advances on rejected rows
    # same OVER as the SELECT analytics: mixed partition keys are a
    # declared streaming limitation (one stateful kernel per query)
    "cdc": "WHERE lag(temperature, 1, -100.0) "
           "OVER (PARTITION BY deviceId) < temperature "
           "OR had_changed(true, status) OVER (PARTITION BY deviceId)",
}


@pytest.mark.parametrize("where", sorted(WHERES))
def test_where_ordering_three_path_parity(spark, where):
    """WHERE-clause axis of the differential grid (r9): the
    WHERE-vs-analytics ordering fork must agree across batch, pyeval,
    and the streaming kernel — for both the filter-first (plain) and
    analytics-first (CDC) modes, with NULLs in play."""
    import zlib

    sql = ("SELECT deviceId, ts, "
           "lag(temperature) OVER (PARTITION BY deviceId) AS prev, "
           "acc_count(temperature) OVER (PARTITION BY deviceId) AS n, "
           "latest(status) OVER (PARTITION BY deviceId) AS st "
           f"FROM stream {WHERES[where]} "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    seed = zlib.crc32(f"where|{where}".encode()) % 1000
    rows, rng = _mk_rows(seed)

    got_batch = _keyed(_run_batch(spark, sql, rows))
    got_py = _keyed(_run_pyeval(spark, sql, rows))
    assert got_py == got_batch, f"pyeval vs batch diverged ({where})"
    got_stream = _keyed(_run_stream(spark, sql, rows, rng))
    assert got_stream == got_batch, f"stream vs batch diverged ({where})"


def test_array_of_maps_change_detection_parity(spark):
    """Maps nested under ARRAYS compare order-insensitively on the
    streaming kernel too (review find r9: only top-level MapType
    columns were dict-restored; array<map> cells stayed Arrow tuple
    lists, diverging from batch canonicalization)."""
    schema = StructType([
        StructField("deviceId", StringType()),
        StructField("tags", ArrayType(MapType(StringType(), LongType()))),
        StructField("ts", LongType()),
    ])
    sql = ("SELECT deviceId, ts, "
           "had_changed(true, tags) OVER (PARTITION BY deviceId) AS hc "
           "FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceId": "d1", "tags": [{"a": 1, "b": 2}], "ts": 1000},
        # same content, different inner key order
        {"deviceId": "d1", "tags": [{"b": 2, "a": 1}], "ts": 2000},
        {"deviceId": "d1", "tags": [{"a": 9}], "ts": 3000},
    ]
    want = [True, False, True]

    got_batch = _keyed_map(_run_batch(spark, sql, rows, schema=schema))
    assert [got_batch[("d1", t)]["hc"] for t in (1000, 2000, 3000)] == want
    s = StreamSQL(spark)
    s.execute(sql)
    got_stream = _keyed_map(run_streaming_collect(
        spark, s, [rows[:1], rows[1:]], schema, tables={}))
    assert [got_stream[("d1", t)]["hc"]
            for t in (1000, 2000, 3000)] == want


# ---------------------------------------------------------------- lookup axis

def _mk_lookup_source():
    """Deterministic worker-routable dimension over deviceId: d3 is a
    MISS and d2's tier is NULL — exercising found/miss/null-column
    cells on both physical shapes."""

    class DimSource:
        def name(self):
            return "m"

        def schema(self):
            return "tier BIGINT, label STRING"

        def lookup(self, key):
            data = {"d1": {"tier": 1, "label": "plantA"},
                    "d2": {"tier": None, "label": "plantB"}}
            row = data.get(key)
            return row, row is not None

    return DimSource()


LOOKUP_GRID = {
    # direct INNER with an enriched projection
    "inner": ("SELECT deviceId, ts, m.label AS label, m.tier AS tier "
              "FROM stream JOIN m ON deviceId = m.deviceId"),
    # LEFT + residual ON conjunct (misses and residual-fails NULL-extend)
    "left_residual": ("SELECT deviceId, ts, m.label AS label "
                      "FROM stream LEFT JOIN m ON deviceId = m.deviceId "
                      "AND m.tier >= 1"),
    # stateful analytic reading an enriched column
    "analytic": ("SELECT deviceId, ts, lag(m.tier) "
                 "OVER (PARTITION BY deviceId) AS prev_tier FROM stream "
                 "JOIN m ON deviceId = m.deviceId "
                 "WITH (TIMESTAMP='ts', TIMEUNIT='ms')"),
    # windowed aggregate grouped by an enriched column (window_start
    # projected so the closer's own — never-fired-in-append-mode —
    # final window can be normalized out of the batch result)
    "window": ("SELECT m.label AS label, window_start() AS ws, "
               "count(*) AS cnt, round(sum(temperature), 6) AS total "
               "FROM stream JOIN m ON deviceId = m.deviceId "
               "GROUP BY m.label, TumblingWindow('1h') "
               "WITH (TIMESTAMP='ts', TIMEUNIT='ms')"),
    # MATCH_RECOGNIZE with enriched refs in PARTITION/MEASURES/DEFINE
    "cep": ("SELECT deviceId, ts, lbl FROM stream "
            "JOIN m ON deviceId = m.deviceId "
            "MATCH_RECOGNIZE ("
            "  PARTITION BY deviceId ORDER BY ts "
            "  MEASURES LAST(A.ts) AS ts, m.label AS lbl "
            "  ONE ROW PER MATCH PATTERN (A B) "
            "  DEFINE A AS temperature >= m.tier * 10, "
            "         B AS temperature < 10"
            ") WITH (TIMESTAMP='ts', TIMEUNIT='ms')"),
}


# slow tier (r14): the inner + left_residual cells stay default (both
# physical shapes of the lookup join); the analytic/window/cep stage
# combinations are opt-in
@pytest.mark.parametrize("kind", [
    "inner", "left_residual",
    pytest.param("analytic", marks=pytest.mark.slow),
    pytest.param("window", marks=pytest.mark.slow),
    pytest.param("cep", marks=pytest.mark.slow),
])
def test_lookup_join_batch_stream_parity_random(spark, kind):
    """The lookup join runs as TWO physical shapes — the batch
    distinct-keys-probe-join (_enrich_via_join) and the streaming
    full-frame mapInPandas stage — over the same Lookup contract; a
    drift between them is a wrong answer on one path.  Seeded random
    events (misses, NULL-tier hits, NULL temperatures) through five
    downstream shapes must agree batch vs replay."""
    import zlib

    sql = LOOKUP_GRID[kind]
    seed = zlib.crc32(f"lookup|{kind}".encode()) % 1000
    rows, rng = _mk_rows(seed)
    if kind == "window":
        # a closer far past the window fires it in append mode
        rows = rows + [{"deviceId": "d1", "temperature": 0.0,
                        "humidity": 0.0, "ts": 7_200_000,
                        "status": "ok"}]

    def run_batch():
        s = StreamSQL(spark)
        s.execute(sql)
        s.register_table_source(_mk_lookup_source())
        df = spark.createDataFrame(rows, schema=EVT)
        return [r.asDict() for r in s.query(df).collect()]

    def run_stream():
        batches, i = [], 0
        while i < len(rows):
            k = rng.randint(1, 7)
            batches.append(rows[i:i + k])
            i += k
        s = StreamSQL(spark)
        s.execute(sql)
        s.register_table_source(_mk_lookup_source())
        return run_streaming_collect(spark, s, batches, EVT)

    def norm(out):
        from collections import Counter
        import datetime as dtm
        closer = dtm.datetime(1970, 1, 1, 2)  # the 7_200_000 ms window
        return Counter(str(sorted(_norm(r).items())) for r in out
                       if r.get("ws") != closer)

    b = run_batch()
    assert b, f"empty batch result would make the {kind} cell vacuous"
    assert norm(run_stream()) == norm(b), \
        f"lookup {kind}: stream stage diverged from batch probe-join"

    if kind == "inner":
        # per-event sync slice: the direct path probes per event
        # through the driver materialization — same contract
        s = StreamSQL(spark)
        s.execute(sql)
        s.register_table_source(_mk_lookup_source())
        got = [o for r in rows[:8] for o in [s.emit_sync(dict(r))]
               if o is not None]
        want = [r for r in b if (r["deviceId"], r["ts"]) in
                {(x["deviceId"], x["ts"]) for x in rows[:8]}]
        assert norm(got) == norm(want), \
            "lookup inner: per-event sync diverged from batch"
