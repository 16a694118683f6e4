"""The emitted per-event evaluator: generated-source hygiene, tracebacks,
the typed answer for an int past BIGINT, and a differential smoke run.

``pyeval.Emitter`` writes each statement's evaluator as Python source.
Every value taken from the SQL text must enter that source as a named
constant, never as text, so a column name or literal holding quotes,
backslashes, newlines or code cannot change what the function does.
"""

from __future__ import annotations

import traceback

import pytest

from streamsql_spark.api.facade import StreamSQL

# identifiers and literals a generated source must never spell out
_NASTY_COLS = ['we"ird\'col', "back\\slash", "new\nline",
               '")\n__import__("os")#', "ünï"]


def _rows_of(spark, sql, events, schema):
    df = spark.createDataFrame(events, schema=schema)
    return [r.asDict() for r in StreamSQL(spark).execute(sql).query(df)
            .collect()]


def _sorted(rows):
    return sorted(rows, key=lambda r: repr(sorted(r.items())))


def _in_process(e, events, monkeypatch):
    """emit_sync over ``events`` with every Spark entry point failing."""
    from pyspark.sql import SparkSession

    def spark_tier(*a, **k):
        raise AssertionError("emit_sync left the in-process path")

    with monkeypatch.context() as m:
        m.setattr(StreamSQL, "query", spark_tier)
        m.setattr(SparkSession, "sql", spark_tier)
        return [r for r in (e.emit_sync(dict(ev)) for ev in events)
                if r is not None]


def _assert_clean(src: str, texts) -> None:
    for t in texts:
        assert t not in src, t
    # the emitter writes no string literal and no comment, in ASCII
    assert not set("'\"\\#`") & set(src), src
    assert src.isascii(), src


def test_generated_source_holds_no_sql_text(spark, monkeypatch):
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    a, b, c, d, u = _NASTY_COLS
    schema = StructType([StructField(a, DoubleType()),
                         StructField(b, DoubleType()),
                         StructField(c, StringType()),
                         StructField(d, StringType()),
                         StructField(u, StringType()),
                         StructField("ts", LongType())])
    lit1, lit2 = "it's \\ \"q\"\nx", '")\n__import__("os")#ü'
    direct = (
        f"SELECT `{a}` AS `{d}`, `{b}` * 1.8 + 32 AS `{c}`, "
        f"upper(`{c}`) AS `{u}`, "
        f"CASE WHEN `{d}` = '{lit1.replace(chr(39), chr(39) * 2)}' "
        f"THEN '{lit2}' WHEN `{a}` > 2 THEN 'ü' ELSE '{b}' END AS `{a}`, "
        f"round(`{b}` / 3.0, 2) AS `{b}` "
        f"FROM stream WHERE `{a}` > 1 OR `{u}` = '{lit2}'")
    analytic = (
        f"SELECT `{u}`, `{a}`, lag(`{a}`) OVER (PARTITION BY `{u}`) AS `{d}`, "
        f"round(acc_sum(`{b}`) OVER (PARTITION BY `{u}`), 4) AS `{c}`, "
        f"had_changed(true, `{d}`) OVER (PARTITION BY `{u}`) AS `{b}` "
        f"FROM stream")
    events = [{a: float(i % 5), b: i * 0.25, c: f"n{i % 3}\n",
               d: lit1 if i % 4 == 0 else lit2 if i % 4 == 1 else "z",
               u: "ü" if i % 2 else lit2, "ts": 1000 * i}
              for i in range(40)]
    for sql in (direct, analytic):
        e = StreamSQL(spark).execute(sql)
        got = _in_process(e, events, monkeypatch)
        assert e._sync_py is not None, sql
        assert _sorted(got) == _sorted(_rows_of(spark, sql, events, schema))
        _assert_clean(e._sync_py.source, _NASTY_COLS + [lit1, lit2])
        _assert_clean(vars(e)["emit_sync"].source, _NASTY_COLS + [lit1, lit2])


def test_traceback_shows_the_generated_line(spark):
    e = StreamSQL(spark).execute(
        "SELECT deviceId, temperature * 2 AS t FROM stream "
        "WHERE temperature > 1")
    assert e.emit_sync({"deviceId": "d", "temperature": 2.0}) == \
        {"deviceId": "d", "t": 4.0}
    run = e._sync_py
    assert run.source.startswith("def run(row):")
    with pytest.raises(AttributeError) as info:
        run(None)  # not a dict: fails on the generated scan line
    tb = "".join(traceback.format_tb(info.value.__traceback__))
    assert "for _v in row.values():" in tb, tb


def test_int_past_bigint_gets_one_typed_error(spark):
    """An event holding an int no BIGINT holds, read or not: both a
    direct and an analytic statement raise one ValueError naming the
    field, before any SQL reaches Spark, and the analytic state is the
    one the previous event left."""
    big = {"deviceId": "d1", "temperature": 1.0, "big": 2 ** 70}
    direct = StreamSQL(spark).execute(
        "SELECT deviceId, temperature FROM stream WHERE temperature > 0")
    with pytest.raises(ValueError, match="'big'.*BIGINT"):
        direct.emit_sync(dict(big))
    assert direct.emit_sync({"deviceId": "d1", "temperature": 2.0}) == \
        {"deviceId": "d1", "temperature": 2.0}

    sql = ("SELECT deviceId, lag(temperature) OVER (PARTITION BY deviceId)"
           " AS prev FROM stream")
    an = StreamSQL(spark).execute(sql)
    assert an.emit_sync({"deviceId": "d1", "temperature": 0.5}) == \
        {"deviceId": "d1", "prev": None}
    with pytest.raises(ValueError, match="'big'.*BIGINT"):
        an.emit_sync(dict(big))
    assert an._an_py is not None  # one event, not the statement
    assert an.emit_sync({"deviceId": "d1", "temperature": 3.0}) == \
        {"deviceId": "d1", "prev": 0.5}

    spark_route = StreamSQL(spark).execute(sql)
    spark_route._an_py = None
    spark_route.emit_sync({"deviceId": "d1", "temperature": 0.5})
    with pytest.raises(ValueError, match="'big'.*BIGINT"):
        spark_route.emit_sync(dict(big))
    assert spark_route.emit_sync({"deviceId": "d1", "temperature": 3.0}) \
        == {"deviceId": "d1", "prev": 0.5}


def test_pyeval_fuzz_smoke(spark):
    """One fixed seed of tests/pyeval_fuzz.py at the script's own budget
    (150 events per statement; ~22 s on 4 cores): every event the
    emitted code answers must equal the Spark path's answer."""
    from pyeval_fuzz import run_fuzz

    diverged = []
    n_py, n_fb, n_diff = run_fuzz(spark, 20260816, per_statement=150,
                                  report=lambda *a: diverged.append(a))
    assert n_diff == 0, diverged[:10]
    assert n_py > 1_000, (n_py, n_fb)


def test_pyeval_fuzz_analytic_smoke(spark):
    """A short run of tests/pyeval_fuzz.py's analytic leg (its script
    runs 8 statements x 40 events per seed): after every event the bound
    ``emit_sync`` answers and leaves ``_an_states`` as a twin forced onto
    the Spark route does."""
    from pyeval_fuzz import run_analytic_fuzz

    diverged = []
    n_py, n_fb, n_diff = run_analytic_fuzz(
        spark, 20260816, statements=4, per_statement=25,
        report=lambda *a: diverged.append(a))
    assert n_diff == 0, diverged[:5]
    assert n_py > 40, (n_py, n_fb)


def test_analytic_bool_placeholder_takes_no_slow_call(spark, monkeypatch):
    """The analytic gateway statement's bare columns and placeholders
    (str, float, None and ``had_changed``'s bool) all pass the emitted
    test: no event calls ``_raw_col_slow``, and the rows equal
    ``query()``'s."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    from streamsql_spark.dialect import pyeval

    calls = []
    slow = pyeval._raw_col_slow

    def counted(v):
        calls.append(v)
        return slow(v)

    monkeypatch.setitem(pyeval._EMIT_NS, "_raw_col_slow", counted)
    sql = """
        SELECT deviceId, temperature,
               lag(temperature) OVER (PARTITION BY deviceId) AS prev_t,
               round(acc_sum(temperature) OVER (PARTITION BY deviceId), 4) AS total,
               had_changed(true, status) OVER (PARTITION BY deviceId) AS st_changed
        FROM stream"""
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("temperature", DoubleType()),
                         StructField("status", StringType()),
                         StructField("ts", LongType())])
    events = [{"deviceId": f"d{i % 3}", "temperature": 20.0 + (i * 7) % 11,
               "status": ("ok", "warn", None)[(i // 2) % 3], "ts": 1000 * i}
              for i in range(60)]
    e = StreamSQL(spark).execute(sql)
    got = _in_process(e, events, monkeypatch)
    assert e._sync_py is not None
    assert "_raw_col_slow" in e._sync_py.source
    assert calls == []
    assert any(type(r["st_changed"]) is bool for r in got)
    assert _sorted(got) == _sorted(_rows_of(spark, sql, events, schema))


# ---- the bound call: one generated emit_sync per statement

_MIX_SQL = ("SELECT deviceId, temperature * 2 AS t FROM stream "
            "WHERE temperature > 21")


def _mix_events():
    """Passing, filtered, Fallback (a string temperature: pyeval does
    not compare it with a number) and past-BIGINT events."""
    evs = []
    for i in range(24):
        k = i % 6
        ev = {"deviceId": f"d{i % 3}", "temperature": 20.0 + i}
        if k == 1:
            ev["temperature"] = 5.0                  # filtered
        elif k == 3:
            ev["temperature"] = "30"                 # Fallback
        elif k == 5:
            ev["big"] = 2 ** 64 + i                  # past BIGINT
        evs.append(ev)
    return evs


def _drive(e, events):
    out = []
    for ev in events:
        try:
            out.append(e.emit_sync(dict(ev)))
        except ValueError as ex:
            out.append(("ValueError", "BIGINT" in str(ex)))
    return out


def test_bound_call_counts_and_delivers_as_the_spark_route(spark):
    """The bound function's answers, ``input``/``output`` counters and
    result channel equal those of a twin whose every event takes the
    Spark route, over passing, filtered, Fallback and past-BIGINT
    events (the last get the same typed ValueError)."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE
    from streamsql_spark.dialect.pyeval import Fallback

    events = _mix_events()
    e = StreamSQL(spark).execute(_MIX_SQL)
    got = _drive(e, events)
    assert "emit_sync" in vars(e), "the statement's emit_sync was not bound"
    # the mix really holds Fallback events the bound call handed on
    assert any(e._emit_sync_python(dict(ev)) is _NOT_APPLICABLE
               and "big" not in ev for ev in events)

    twin = StreamSQL(spark).execute(_MIX_SQL)
    twin._pyeval_ready = (None, Fallback)  # every event: the Spark route
    want = _drive(twin, events)
    assert "emit_sync" not in vars(twin)
    assert got == want
    assert ("ValueError", True) in got
    stats, twin_stats = e.get_stats(), twin.get_stats()
    for k in ("input_count", "output_count", "output_dropped_count",
              "result_chan_len"):
        assert stats[k] == twin_stats[k], k
    assert stats["input_count"] == len(events)
    assert e.results() == twin.results()
    assert [b for b in e.results()] == [[r] for r in got
                                        if isinstance(r, dict)]


def test_bound_call_sinks_none_event_and_empty_event(spark):
    """A sink added after the first event sees every later row; a None
    event still gets its typed error and an empty one the Spark route,
    both counted."""
    e = StreamSQL(spark).execute(_MIX_SQL)
    assert e.emit_sync({"deviceId": "a", "temperature": 30.0}) == \
        {"deviceId": "a", "t": 60.0}
    assert "emit_sync" in vars(e)
    seen = []
    e.add_sink(seen.extend)
    assert e.emit_sync({"deviceId": "b", "temperature": 5.0}) is None
    assert e.emit_sync({"deviceId": "c", "temperature": 40.0}) == \
        {"deviceId": "c", "t": 80.0}
    assert seen == [{"deviceId": "c", "t": 80.0}]
    with pytest.raises(ValueError, match="got None"):
        e.emit_sync(None)
    with pytest.raises(Exception):
        e.emit_sync({})  # no columns: the Spark route's own error
    assert e.get_stats()["input_count"] == 4  # None raises before counting
    assert len(e.results()) == 2


@pytest.mark.parametrize("route", ["bound", "spark"])
def test_result_channel_is_bounded(spark, route):
    """The result channel keeps at most ``max_buffer_rows`` batches: the
    incoming batch is dropped and counted, the caller and the sinks
    still get every row, and usage stops at 100%."""
    from streamsql_spark.dialect.pyeval import Fallback

    e = StreamSQL(spark, max_buffer_rows=5).execute(_MIX_SQL)
    if route == "spark":
        e._pyeval_ready = (None, Fallback)
    seen = []
    e.add_sink(seen.extend)
    outs = [e.emit_sync({"deviceId": "d", "temperature": 22.0 + i})
            for i in range(12)]
    assert all(o is not None for o in outs)
    assert ("emit_sync" in vars(e)) == (route == "bound")
    assert len(e.results()) == 5
    assert [b[0]["t"] for b in e.results()] == [44.0 + 2 * i
                                                for i in range(5)]
    stats = e.get_detailed_stats()
    assert stats["basic_stats"]["output_dropped_count"] == 7
    assert stats["basic_stats"]["output_count"] == 12
    assert stats["result_chan_usage"] == 100.0
    assert len(seen) == 12


class _LockedCount:
    """A custom analytic state no deepcopy can copy (it holds a lock)."""

    def __init__(self):
        import threading
        self.lock = threading.Lock()
        self.n = 0

    def apply(self, args):
        self.n += 1
        return float(self.n)


def test_uncopyable_custom_state_stays_on_pyeval(spark):
    """The analytic route steps each state once, in place, and never
    copies it: a custom analytic whose state no deepcopy can copy stays
    on the bound route, equal to a twin that took the Spark route from
    the start."""
    from streamsql_spark.functions.registry import (
        _CUSTOM_ANALYTICS, register_analytic_function)

    register_analytic_function("locked_count", _LockedCount, "double")
    try:
        sql = ("SELECT deviceId, locked_count(temperature) OVER "
               "(PARTITION BY deviceId) AS n, lag(temperature) OVER "
               "(PARTITION BY deviceId) AS prev FROM stream")
        events = [{"deviceId": f"d{i % 2}", "temperature": float(i)}
                  for i in range(8)]
        e = StreamSQL(spark).execute(sql)
        got = [e.emit_sync(dict(ev)) for ev in events]
        assert e._an_py is not None and "emit_sync" in vars(e)
        twin = StreamSQL(spark).execute(sql)
        twin._an_py = None  # the Spark route from the start
        want = [twin.emit_sync(dict(ev)) for ev in events]
        assert got == want
        assert [r["n"] for r in got] == [1.0, 1.0, 2.0, 2.0, 3.0, 3.0,
                                         4.0, 4.0]
        assert e.get_stats()["output_count"] == len(events)
    finally:
        _CUSTOM_ANALYTICS.pop("locked_count", None)


# ---- read-once

_TRANSFORM_SQL = """
    SELECT deviceId,
           round(temperature * 1.8 + 32, 2) AS temp_f,
           CASE WHEN temperature > 30 THEN 'HOT'
                WHEN temperature > 25 THEN 'WARM' ELSE 'OK' END AS level,
           upper(status) AS st,
           round(humidity / 100.0, 3) AS hum
    FROM stream"""


def test_transform_reads_each_column_once(spark):
    """The transform statement uses ``temperature`` three times and
    fetches it once."""
    e = StreamSQL(spark).execute(_TRANSFORM_SQL)
    ev = {"deviceId": "d", "temperature": 26.5, "humidity": 40.0,
          "status": "ok"}
    assert e.emit_sync(dict(ev)) == {"deviceId": "d", "temp_f": 79.7,
                                     "level": "WARM", "st": "OK",
                                     "hum": 0.4}
    run = e._sync_py
    for col in ("temperature", "deviceId", "humidity", "status"):
        # (the column's name, and an output's of the same spelling)
        names = [k for k, v in run.__globals__.items() if v == col]
        assert sum(run.source.count(f"row.get({n},") for n in names) \
            == 1, col
    assert vars(e)["emit_sync"].source.count("row.get(") == 4


def test_case_stays_lazy_after_read_once(spark):
    """A column read only by a later CASE branch is fetched ahead of the
    CASE, but its value is only tested there: an earlier branch that
    answers leaves it alone, as the Spark route does."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE

    sql = ("SELECT CASE WHEN a > 1 THEN 'x' WHEN b > 1 THEN 'y' "
           "ELSE 'z' END AS c FROM stream")
    e = StreamSQL(spark).execute(sql)
    # ``b`` a string: pyeval does not compare it with a number
    assert e._emit_sync_python({"a": 0.0, "b": "7"}) is _NOT_APPLICABLE
    for ev in ({"a": 5.0, "b": "7"}, {"a": 5.0, "b": [1, 2]}):
        got = e._emit_sync_python(dict(ev))
        assert got == {"c": "x"}, ev
    assert e._emit_sync_python({"a": 5.0, "b": "7"}) == \
        e._emit_sync_fast({"a": 5.0, "b": "7"})
    assert e.emit_sync({"a": 5.0, "b": "7"}) == {"c": "x"}
    assert "emit_sync" in vars(e)


def test_closure_nodes_read_stepped_placeholders(spark):
    """Stepped analytic values are locals of the generated function; a
    node compiled as a closure (IS NULL, BETWEEN) that reads one is
    handed the row with those locals added, in the outputs and in a
    CDC-mode WHERE, and answers as the Spark route does."""
    sql = ("SELECT deviceId, lag(t) OVER (PARTITION BY deviceId) IS NULL "
           "AS first, lag(t) OVER (PARTITION BY deviceId) BETWEEN 1 AND 2 "
           "AS mid FROM stream WHERE changed_col(true, t) OVER "
           "(PARTITION BY deviceId) IS NOT NULL")
    events = [{"deviceId": f"d{i % 2}", "t": float(i % 4)}
              for i in range(12)]
    e = StreamSQL(spark).execute(sql)
    got = [e.emit_sync(dict(ev)) for ev in events]
    assert e._an_py is not None and "{**row, " in e._an_py.source
    twin = StreamSQL(spark).execute(sql)
    twin._an_py = None
    assert got == [twin.emit_sync(dict(ev)) for ev in events]
    assert {r["mid"] for r in got if r} == {None, True, False}


# ---- step once: each spec steps its live state exactly once

def _routed_twin(spark, sql):
    """A twin whose every event takes the analytic Spark route."""
    twin = StreamSQL(spark).execute(sql)
    twin._an_py = None
    return twin


def _count_calls(e, name):
    """Count ``e``'s calls of method ``name`` (patched on the instance
    before the first event, so the bound function binds the wrapper)."""
    calls = []
    real = getattr(e, name)

    def counted(*args):
        calls.append(args)
        return real(*args)

    setattr(e, name, counted)
    return calls


def test_post_step_fallback_projects_through_spark(spark):
    """A projection that raises Fallback after the steps (pyeval's round
    hands a sum past 1e26 to Spark) goes to the Spark route's
    projection with pyeval's stepped values: the event answers like the
    forced Spark route, the whole Spark route is never taken, and the
    next events' ``lag`` and ``acc_sum`` equal ``query()``'s."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    sql = ("SELECT deviceId, ts, lag(n) OVER (PARTITION BY deviceId) AS prev,"
           " round(acc_sum(n) OVER (PARTITION BY deviceId), 2) AS total "
           "FROM stream")
    events = [{"deviceId": d, "n": n, "ts": i}
              for i, (d, n) in enumerate([("a", 1.5), ("b", 2.25),
                                          ("a", 1e27), ("a", 2.0),
                                          ("b", 0.5), ("a", -1e27),
                                          ("a", 4.125)])]
    e = StreamSQL(spark).execute(sql)
    whole = _count_calls(e, "_emit_sync_spark")
    projected = _count_calls(e, "_project_analytic_pyeval")
    got = [e.emit_sync(dict(ev)) for ev in events]
    assert "emit_sync" in vars(e) and whole == []
    assert len(projected) == 2  # the two events past 1e26
    twin = _routed_twin(spark, sql)
    assert got == [twin.emit_sync(dict(ev)) for ev in events]
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("n", DoubleType()),
                         StructField("ts", LongType())])
    want = sorted(_rows_of(spark, sql, events, schema), key=lambda r: r["ts"])
    assert got == want
    assert e._an_states == twin._an_states


class _Boom:
    """A custom analytic that raises on 13.0, before its state moves."""

    def __init__(self):
        self.seen = []

    def apply(self, args):
        if args[0] == 13.0:
            raise ZeroDivisionError("boom")
        self.seen.append(args[0])
        return float(len(self.seen))


def _states_norm(states):
    return {k: {sk: (vars(sv) if hasattr(sv, "__dict__") else sv)
                for sk, sv in v.items()} for k, v in states.items()}


@pytest.mark.parametrize("first", [False, True])
def test_raising_step_answers_like_the_spark_route(spark, first):
    """A custom step that raises: as the second spec, its own exception
    propagates (the first spec has stepped); as the first, the event goes
    to the Spark route, whose same step raises the same exception.  Both
    leave ``_an_states`` equal to the forced Spark route's, the route is
    disabled, and later events still agree."""
    from streamsql_spark.functions.registry import (
        _CUSTOM_ANALYTICS, register_analytic_function)

    register_analytic_function("boom_at_13", _Boom, "double")
    try:
        specs = ["lag(t) OVER (PARTITION BY deviceId) AS p",
                 "boom_at_13(t) OVER (PARTITION BY deviceId) AS b"]
        if first:
            specs.reverse()
        sql = f"SELECT deviceId, {', '.join(specs)} FROM stream"
        events = [{"deviceId": "d", "t": t} for t in (1.0, 2.0, 13.0, 4.0)]
        e, twin = StreamSQL(spark).execute(sql), _routed_twin(spark, sql)
        for ev in events[:2]:
            assert e.emit_sync(dict(ev)) == twin.emit_sync(dict(ev))
        assert "emit_sync" in vars(e)
        with pytest.raises(ZeroDivisionError):
            e.emit_sync(dict(events[2]))
        with pytest.raises(ZeroDivisionError):
            twin.emit_sync(dict(events[2]))
        assert "emit_sync" not in vars(e) and e._an_py is None
        assert _states_norm(e._an_states) == _states_norm(twin._an_states)
        assert e.emit_sync(dict(events[3])) == twin.emit_sync(dict(events[3]))
        assert _states_norm(e._an_states) == _states_norm(twin._an_states)
    finally:
        _CUSTOM_ANALYTICS.pop("boom_at_13", None)


def test_whitelist_covers_only_the_fields_read(spark):
    """A list holding None or a tz-aware datetime in a field the
    statement never reads stays on pyeval; the same value in a field it
    reads goes to the Spark route.  Every event answers like the forced
    Spark route.  (``y``, never read, is ``[None]`` throughout; a read
    ``[None]`` alone would type the Spark route's column from that
    event, as string, where a twin with earlier Spark-route events
    reuses their inferred type.)"""
    from datetime import datetime, timezone

    events = [{"deviceId": "d", "t": float(i), "y": [None],
               "x": [i, None] if i == 2 else [i],
               "u": datetime(2024, 1, 1, i,
                             tzinfo=timezone.utc if i == 3 else None)}
              for i in range(6)]
    for col, handed_on_at in (("t", []), ("x", [2]), ("u", [3])):
        sql = (f"SELECT deviceId, lag({col}) OVER (PARTITION BY deviceId)"
               f" AS p FROM stream")
        e = StreamSQL(spark).execute(sql)
        handed_on = _count_calls(e, "_emit_sync_spark")
        got = [e.emit_sync(dict(ev)) for ev in events]
        assert "emit_sync" in vars(e)
        assert [events.index(a[0]) for a in handed_on] == handed_on_at, col
        twin = _routed_twin(spark, sql)
        assert got == [twin.emit_sync(dict(ev)) for ev in events], col


def test_counter_cells_fold_across_bind_fallback_and_disable(spark):
    """The bound call's ``input``/``output`` cells, folded by every
    stats read and by the unbind, give the counts of the routed path
    after every event: bound, handed on (a datetime key), filtered by a
    CDC WHERE, and after a raising step disabled the route."""
    from datetime import datetime

    from streamsql_spark.functions.registry import (
        _CUSTOM_ANALYTICS, register_analytic_function)

    register_analytic_function("boom_at_13", _Boom, "double")
    try:
        sql = ("SELECT deviceId, boom_at_13(t) OVER (PARTITION BY deviceId)"
               " AS b FROM stream WHERE changed_col(true, t) OVER "
               "(PARTITION BY deviceId) IS NOT NULL")
        events = [{"deviceId": "d", "t": 1.0}, {"deviceId": "d", "t": 1.0},
                  {"deviceId": datetime(2024, 1, 1), "t": 2.0}, {"deviceId": "d", "t": 3.0},
                  {"deviceId": "d", "t": 13.0}, {"deviceId": "d", "t": 5.0}]
        e, twin = StreamSQL(spark).execute(sql), _routed_twin(spark, sql)
        keys = ("input_count", "output_count")
        for i, ev in enumerate(events):
            outs = []
            for x in (e, twin):
                try:
                    outs.append(x.emit_sync(dict(ev)))
                except ZeroDivisionError as ex:
                    outs.append(type(ex))
            assert outs[0] == outs[1], i
            if i == 0:
                assert "emit_sync" in vars(e)
            got, want = e.get_stats(), twin.get_stats()
            assert [got[k] for k in keys] == [want[k] for k in keys], i
        assert "emit_sync" not in vars(e)
        assert e._metrics["input"] == len(events)
        assert e.get_detailed_stats()["basic_stats"]["output_count"] == \
            twin.get_stats()["output_count"]
    finally:
        _CUSTOM_ANALYTICS.pop("boom_at_13", None)
