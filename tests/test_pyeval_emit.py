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
