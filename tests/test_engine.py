"""Batch-engine e2e tests porting the reference's test matrices
(test/e2e/: select, null, case, analytic_cdc, window_tumbling,
post_aggregation, join, function tests) onto the deterministic
emit + trigger_window / emit_sync harness (SURVEY §5 pattern).
"""

import math

import pytest
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from streamsql_spark.api.facade import StreamSQL


def run_query(spark, sql, rows, tables=None, schema=None):
    s = StreamSQL(spark, schema=schema)
    s.execute(sql)
    if tables:
        for name, t in tables.items():
            s.register_table(name, t)
    for r in rows:
        s.emit(r)
    return s.trigger_window()


# ------------------------------- CASE-in-aggregation (case_test.go)


def test_case_expression_in_aggregation(spark):
    # case_test.go:65-130 — CASE (searched AND simple forms) as the
    # aggregate argument
    sql = ("SELECT deviceId, COUNT(*) AS total_count, "
           "SUM(CASE WHEN temperature > 30 THEN 1 ELSE 0 END) AS hot_count, "
           "AVG(CASE status WHEN 'active' THEN temperature ELSE 0 END) "
           "AS avg_active_temp "
           "FROM stream GROUP BY deviceId, TumblingWindow('1h') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceId": "device1", "temperature": 35.0, "status": "active", "ts": 1000},
        {"deviceId": "device1", "temperature": 25.0, "status": "inactive", "ts": 1001},
        {"deviceId": "device1", "temperature": 32.0, "status": "active", "ts": 1002},
        {"deviceId": "device2", "temperature": 28.0, "status": "active", "ts": 1003},
        {"deviceId": "device2", "temperature": 22.0, "status": "inactive", "ts": 1004},
    ]
    out = {r["deviceId"]: r for r in run_query(spark, sql, rows)}
    assert out["device1"]["total_count"] == 3
    assert out["device1"]["hot_count"] == 2
    assert out["device1"]["avg_active_temp"] == pytest.approx((35 + 0 + 32) / 3)
    assert out["device2"]["hot_count"] == 0
    assert out["device2"]["avg_active_temp"] == pytest.approx(28 / 2)


def test_case_null_handling_in_aggregation(spark):
    # case_test.go:615-700 — NULL-returning CASE branches are ignored
    # by SUM/COUNT/AVG; an all-NULL group sums/avgs to NULL, counts 0
    sql = ("SELECT deviceType, "
           "SUM(CASE WHEN temperature > 30 THEN temperature ELSE NULL END) AS hi_sum, "
           "COUNT(CASE WHEN temperature > 30 THEN 1 ELSE NULL END) AS hi_cnt, "
           "AVG(CASE WHEN temperature > 30 THEN temperature ELSE NULL END) AS hi_avg, "
           "COUNT(*) AS total_count "
           "FROM stream GROUP BY deviceType, TumblingWindow('1h') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [
        {"deviceType": "sensor", "temperature": 35.0, "ts": 1000},
        {"deviceType": "sensor", "temperature": 25.0, "ts": 1001},
        {"deviceType": "sensor", "temperature": 32.0, "ts": 1002},
        {"deviceType": "monitor", "temperature": 28.0, "ts": 1003},
        {"deviceType": "monitor", "temperature": 33.0, "ts": 1004},
        {"deviceType": "cold", "temperature": 20.0, "ts": 1005},
        {"deviceType": "cold", "temperature": 25.0, "ts": 1006},
    ]
    out = {r["deviceType"]: r for r in run_query(spark, sql, rows)}
    assert out["sensor"]["hi_sum"] == 67.0 and out["sensor"]["hi_cnt"] == 2
    assert out["sensor"]["hi_avg"] == pytest.approx(33.5)
    assert out["sensor"]["total_count"] == 3
    assert out["monitor"]["hi_sum"] == 33.0 and out["monitor"]["hi_avg"] == 33.0
    # the all-NULL group: SUM/AVG NULL, COUNT 0, COUNT(*) still 2
    assert out["cold"]["hi_sum"] is None and out["cold"]["hi_avg"] is None
    assert out["cold"]["hi_cnt"] == 0 and out["cold"]["total_count"] == 2


def test_having_with_case_expression_values(spark):
    # case_test.go:754-817 — CASE-fed aggregate aliases usable in
    # HAVING (the reference only parse-checks; we pin the VALUES)
    sql = ("SELECT deviceId, COUNT(*) AS total_count, "
           "SUM(CASE WHEN temperature > 35 THEN 2 "
           "WHEN temperature > 25 THEN 1 ELSE 0 END) AS weighted_score "
           "FROM stream GROUP BY deviceId, TumblingWindow('1h') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') "
           "HAVING weighted_score > 3")
    rows = [{"deviceId": "hot", "temperature": t, "ts": 1000 + i}
            for i, t in enumerate([40.0, 40.0, 30.0])]  # 2+2+1 = 5
    rows += [{"deviceId": "mild", "temperature": t, "ts": 2000 + i}
             for i, t in enumerate([30.0, 30.0, 20.0])]  # 1+1+0 = 2
    out = run_query(spark, sql, rows)
    assert [r["deviceId"] for r in out] == ["hot"]
    assert out[0]["weighted_score"] == 5 and out[0]["total_count"] == 3


def test_post_agg_arithmetic_two_aggregates(spark):
    # window_aggregate_combo_test.go:59-84 — max(v)-min(v) arithmetic
    # over two aggregates in the projection
    sql = ("SELECT max(v) - min(v) AS rng, sum(v) AS total FROM stream "
           "GROUP BY TumblingWindow('1s') WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"ts": 1000, "v": 10.0}, {"ts": 1001, "v": 40.0},
            {"ts": 1002, "v": 25.0}, {"ts": 3000, "v": 1.0}]
    out = sorted(run_query(spark, sql, rows), key=lambda r: r["total"])
    assert out[1]["rng"] == 30.0 and out[1]["total"] == 75.0
    assert out[0]["rng"] == 0.0 and out[0]["total"] == 1.0


def test_arithmetic_around_analytic(spark):
    # analytic_parity_test.go:340-354 (B1) — expressions WRAPPING an
    # analytic: ts - lag(ts) and literal - lag(ts), per key
    d = [{"k": "d1", "ts": 1}, {"k": "d1", "ts": 2},
         {"k": "d1", "ts": 3}, {"k": "d2", "ts": 10}]
    out = run_query(spark, "SELECT ts - lag(ts) OVER (PARTITION BY k) AS d "
                           "FROM stream", d)
    assert [r["d"] for r in out] == [None, 1, 1, None]
    out = run_query(spark, "SELECT 100 - lag(ts) OVER (PARTITION BY k) AS d "
                           "FROM stream", d)
    assert [r["d"] for r in out] == [None, 99, 98, None]
    out = run_query(spark, "SELECT lag(ts) OVER (PARTITION BY k) AS p "
                           "FROM stream", d)
    assert [r["p"] for r in out] == [None, 1, 2, None]


def test_bare_analytic_in_where(spark):
    # analytic_parity_test.go:356-368 (B2) — a BARE value-typed
    # analytic as the WHERE predicate means "returned non-nil": a
    # change to 0 still selects; explicit > 0 keeps the old behavior;
    # had_changed (boolean) filters on its own value
    d = [{"temp": 5.0, "ts": 1}, {"temp": 5.0, "ts": 2},
         {"temp": 0.0, "ts": 3}, {"temp": 3.0, "ts": 4}]
    out = run_query(spark, "SELECT temp FROM stream "
                           "WHERE changed_col(true, temp)", d)
    assert [r["temp"] for r in out] == [5.0, 0.0, 3.0]
    out = run_query(spark, "SELECT temp FROM stream "
                           "WHERE changed_col(true, temp) > 0", d)
    assert [r["temp"] for r in out] == [5.0, 3.0]
    out = run_query(spark, "SELECT temp FROM stream "
                           "WHERE had_changed(true, temp)", d)
    assert [r["temp"] for r in out] == [5.0, 0.0, 3.0]
    # the per-event sync path agrees, event by event
    s = StreamSQL(spark)
    s.execute("SELECT temp FROM stream WHERE changed_col(true, temp)")
    got = [s.emit_sync({"temp": t, "ts": i})
           for i, t in enumerate([5.0, 5.0, 0.0, 3.0])]
    assert [g["temp"] if g else None for g in got] == [5.0, None, 0.0, 3.0]


def test_omit_empty_change_detection_suppression(spark):
    # stream/stream.go:610-612, :698-703 omitEmpty — change detection
    # that fired nothing drops the ROW: in direct mode only when the
    # SELECT is solely bare change-detection fields; in window mode
    # whenever the analytic fields are all change-detection
    # (analytic_parity_test.go:245-256 E4)
    demo = [{"temperature": float(t), "ts": i + 1}
            for i, t in enumerate((23, 23, 23, 25, 25, 25, 25, 25))]
    out = run_query(spark, 'SELECT changed_cols("t", true, avg(temperature)) '
                           "FROM stream GROUP BY CountingWindow(2) "
                           "WITH (TIMESTAMP='ts')", demo)
    assert sorted(r["tavg"] for r in out) == [23.0, 24.0, 25.0]

    d3 = [{"temp": 5.0, "ts": 1}, {"temp": 5.0, "ts": 2},
          {"temp": 3.0, "ts": 3}]
    out = run_query(spark, "SELECT changed_col(true, temp) AS c FROM stream",
                    [dict(r) for r in d3])
    assert [r["c"] for r in out] == [5.0, 3.0]  # unchanged row dropped
    # mixed select: row kept, unchanged column renders NULL (the
    # fixed-schema rendering of the reference's key omission)
    out = run_query(spark, "SELECT temp, changed_col(true, temp) AS c "
                           "FROM stream", [dict(r) for r in d3])
    assert [(r["temp"], r["c"]) for r in out] == \
        [(5.0, 5.0), (5.0, None), (3.0, 3.0)]
    # per-event sync path agrees (suppressed event returns None, state
    # still advances)
    s = StreamSQL(spark)
    s.execute("SELECT changed_col(true, temp) AS c FROM stream")
    got = [s.emit_sync({"temp": r["temp"], "ts": r["ts"]}) for r in d3]
    assert got == [{"c": 5.0}, None, {"c": 3.0}]


def test_windowed_analytic_qualified_group_key_arg(spark):
    # analytic_parity_test.go:385-398 (B4) — a QUALIFIED ref to a
    # group key (stream.k with GROUP BY k) strips its prefix and
    # resolves to the key value per window emission; a non-key raw
    # column still rejects with the typed error
    sql = ("SELECT changed_col(true, stream.k) AS c, k FROM stream "
           "GROUP BY k, CountingWindow(2) WITH (TIMESTAMP='ts')")
    rows = [{"k": "d1", "ts": 1}, {"k": "d1", "ts": 2},
            {"k": "d2", "ts": 3}, {"k": "d2", "ts": 4}]
    out = run_query(spark, sql, rows)
    assert sorted((r["c"], r["k"]) for r in out) == \
        [("d1", "d1"), ("d2", "d2")]
    for r in out:
        assert r["c"] == r["k"]

    from streamsql_spark.dialect.planner import PlanError
    s = StreamSQL(spark)
    with pytest.raises(PlanError, match="raw"):
        s.execute("SELECT changed_col(true, stream.v) AS c FROM stream "
                  "GROUP BY k, CountingWindow(2) WITH (TIMESTAMP='ts')")


def test_negative_number_literals_in_case(spark):
    # case_test.go:907-965 — negative literals in CASE predicates and
    # branch values (the reference's lexer regression); we pin VALUES
    for row, cat, adj in [({"deviceId": "s1", "temperature": -15.0}, "FREEZING", -1.0),
                          ({"deviceId": "s2", "temperature": -5.0}, "COLD", -1.0),
                          ({"deviceId": "s3", "temperature": 0.0}, "ZERO", -1.0),
                          ({"deviceId": "s4", "temperature": 10.0}, "POSITIVE", 10.0)]:
        s = StreamSQL(spark)
        s.execute(
            "SELECT deviceId, temperature, "
            "CASE WHEN temperature < -10.0 THEN 'FREEZING' "
            "WHEN temperature < 0 THEN 'COLD' "
            "WHEN temperature = 0 THEN 'ZERO' ELSE 'POSITIVE' END AS temp_category, "
            "CASE WHEN temperature > 0 THEN temperature ELSE -1.0 END AS adjusted_temp "
            "FROM stream")
        out = s.emit_sync(row)
        assert out["temp_category"] == cat and out["adjusted_temp"] == adj, row


def test_from_json_dynamic_parse(spark):
    # function_scenarios_test.go:241-249 — from_json(j) parses
    # arbitrary JSON to a real map/list/scalar value in the result dict
    # (functions_json.go:40-62; Spark 4 VARIANT + delivery conversion)
    s = StreamSQL(spark)
    s.execute("SELECT from_json(j) AS parsed FROM stream")
    out = s.emit_sync({"j": '{"x":5}'})
    assert isinstance(out["parsed"], dict) and out["parsed"]["x"] == 5
    # nested containers and scalars round-trip too
    s2 = StreamSQL(spark)
    s2.execute("SELECT from_json(j) AS p FROM stream")
    out2 = s2.emit_sync({"j": '{"a":[1,2,{"b":true}],"c":null}'})
    assert out2["p"] == {"a": [1, 2, {"b": True}], "c": None}
    s3 = StreamSQL(spark)
    s3.execute("SELECT from_json(j) AS p FROM stream")
    assert s3.emit_sync({"j": "[1,2,3]"})["p"] == [1, 2, 3]


def test_function_expression_arguments_emit_sync(spark):
    # function_expr_args_test.go:17-50 — multi-argument functions whose
    # arguments are arithmetic expressions must evaluate against the
    # row (the reference's silent-nil regression), on the per-event
    # sync path
    cases = [
        ("SELECT round(v/3, 2) AS r FROM stream", 25.0, 8.33),
        ("SELECT round(v*2, 2) AS r FROM stream", 25.0, 50.0),
        ("SELECT round(v+1, 2) AS r FROM stream", 25.0, 26.0),
        ("SELECT round(v-1, 2) AS r FROM stream", 25.0, 24.0),
        ("SELECT round(v, 2) AS r FROM stream", 25.0, 25.0),
        ("SELECT round((v+1), 2) AS r FROM stream", 25.0, 26.0),
        ("SELECT abs(v-30) AS a FROM stream", 25.0, 5.0),
        ("SELECT power(v, 2) AS p FROM stream", 3.0, 9.0),
    ]
    for sql, emit, want in cases:
        s = StreamSQL(spark)
        s.execute(sql)
        out = s.emit_sync({"v": emit})
        assert out is not None, sql
        (got,) = out.values()
        assert got == pytest.approx(want), (sql, got, want)


# ------------------------------------------------------------ direct mode

def test_select_arithmetic_case(spark):
    # doc_cases_test.go:29-41 temp conversion
    sql = ("SELECT deviceId, temperature * 1.8 + 32 AS temp_f, "
           "CASE WHEN temperature > 30 THEN 'hot' "
           "WHEN temperature > 20 THEN 'warm' ELSE 'cold' END AS level "
           "FROM stream WHERE temperature > 0")
    rows = [{"deviceId": "d1", "temperature": 35.0},
            {"deviceId": "d2", "temperature": 25.0},
            {"deviceId": "d3", "temperature": 10.0},
            {"deviceId": "d4", "temperature": -5.0}]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["deviceId"])
    assert [(r["deviceId"], round(r["temp_f"], 1), r["level"]) for r in out] == \
        [("d1", 95.0, "hot"), ("d2", 77.0, "warm"), ("d3", 50.0, "cold")]


def test_is_null_filters(spark):
    # null_test.go IS NULL / IS NOT NULL
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("value", DoubleType())])
    rows = [{"deviceId": "sensor1", "value": 25.5},
            {"deviceId": "sensor2", "value": None},
            {"deviceId": "sensor3", "value": 30.0},
            {"deviceId": "sensor4", "value": None}]
    out = run_query(spark, "SELECT deviceId, value FROM stream WHERE value IS NULL",
                    rows, schema=schema)
    assert sorted(r["deviceId"] for r in out) == ["sensor2", "sensor4"]
    out = run_query(spark,
                    "SELECT deviceId, value FROM stream WHERE value IS NOT NULL",
                    rows, schema=schema)
    assert sorted(r["deviceId"] for r in out) == ["sensor1", "sensor3"]


def test_like_predicates(spark):
    # like_test.go
    rows = [{"name": "temperature_01"}, {"name": "humidity_01"},
            {"name": "temp_probe"}, {"name": "pressure"}]
    out = run_query(spark, "SELECT name FROM stream WHERE name LIKE 'temp%'", rows)
    assert sorted(r["name"] for r in out) == ["temp_probe", "temperature_01"]
    out = run_query(spark, "SELECT name FROM stream WHERE name LIKE '%_01'", rows)
    assert sorted(r["name"] for r in out) == ["humidity_01", "temperature_01"]


def test_nested_struct_field_access(spark):
    # nested_field_test.go — dot paths over struct columns
    schema = StructType([
        StructField("deviceId", StringType()),
        StructField("device", StructType([
            StructField("info", StructType([
                StructField("name", StringType()),
                StructField("type", StringType()),
            ])),
        ])),
        StructField("temperature", DoubleType()),
    ])
    rows = [
        {"deviceId": "d1",
         "device": {"info": {"name": "probe-A", "type": "thermal"}},
         "temperature": 25.0},
        {"deviceId": "d2",
         "device": {"info": {"name": "probe-B", "type": "optical"}},
         "temperature": 30.0},
    ]
    sql = ("SELECT deviceId, device.info.name AS sensor_name, temperature "
           "FROM stream WHERE device.info.type = 'thermal'")
    out = run_query(spark, sql, rows, schema=schema)
    assert out == [{"deviceId": "d1", "sensor_name": "probe-A",
                    "temperature": 25.0}]


def test_date_format_pattern_with_literal_letters(spark):
    """go_format_to_java single-quotes literal letters ('T' in ISO-8601
    patterns); the renderer must escape those quotes into the SQL
    string literal or the statement is malformed (review r6 #1)."""
    import datetime

    from pyspark.sql.types import StructField, StructType, TimestampType
    schema = StructType([StructField("t", TimestampType())])
    rows = [{"t": datetime.datetime(2024, 3, 5, 7, 9, 11)}]
    out = run_query(spark, "SELECT date_format(t, 'YYYY-MM-DDTHH:MI:SS') "
                           "AS s FROM stream", rows, schema=schema)
    assert out == [{"s": "2024-03-05T07:09:11"}]


def test_distinct_aggregate_uses_dialect_name_mapping(spark):
    """stddev(DISTINCT v) must apply the dialect mapping (stddev ->
    stddev_pop) — emitting the name verbatim would silently compute
    stddev_samp (review r6 #2); arrival-order aggregates have no
    distinct form and refuse with a typed error."""
    rows = [{"k": "a", "v": 1.0}, {"k": "a", "v": 1.0},
            {"k": "a", "v": 3.0}, {"k": "a", "v": 5.0}]
    out = run_query(spark, "SELECT k, stddev(DISTINCT v) AS sd, "
                           "count(DISTINCT v) AS c FROM stream GROUP BY k",
                    rows)
    # pop-stddev over distinct {1,3,5}: sqrt(8/3); samp would be 2.0
    assert abs(out[0]["sd"] - (8.0 / 3.0) ** 0.5) < 1e-9
    assert out[0]["c"] == 3
    from streamsql_spark.dialect.planner import PlanError
    s = StreamSQL(spark)
    with pytest.raises(PlanError, match="DISTINCT"):
        s.execute("SELECT collect(DISTINCT v) AS c FROM stream GROUP BY k")


def test_scalar_function_arity_is_enforced(spark):
    """Surplus arguments must reject, not silently vanish: sum(price, 1)
    rendering as sum(price) would return plausible-but-wrong results
    for a typo'd query (review r6 #7)."""
    for sql in ("SELECT k, sum(v, 1) AS s FROM stream GROUP BY k",
                "SELECT mod(a) AS m FROM stream",
                "SELECT power(a, b, c) AS p FROM stream"):
        s = StreamSQL(spark)
        with pytest.raises(Exception, match="argument count|arguments"):
            s.execute(sql)
            s.emit({"k": "a", "v": 1.0, "a": 1, "b": 2, "c": 3})
            s.trigger_window()


def test_lexer_dangling_exponent_is_parse_error(spark):
    """'1e+' / '1e2e3' must fail as a typed parse error at lex/parse
    time, not a raw ValueError from float() (review r6 #8)."""
    from streamsql_spark.dialect.parser import ParseError, parse
    with pytest.raises(ParseError):
        parse("SELECT 1e+ FROM s")
    with pytest.raises(ParseError):
        parse("SELECT 1E- FROM s")
    # a second exponent is no longer swallowed into one malformed
    # NUMBER: '1e2e3' lexes as 1e2 + identifier e3 (an implicit alias)
    stmt = parse("SELECT 1e2e3 FROM s")
    assert stmt.fields[0].expr.value == 100.0
    assert stmt.fields[0].alias == "e3"
    stmt = parse("SELECT 1e+5 AS x, 1E-2 AS y, 2e3 AS z FROM s")
    vals = [f.expr.value for f in stmt.fields]
    assert vals == [1e5, 1e-2, 2e3]


def test_upsert_table_on_dataframe_registered_table(spark):
    """upsert/delete on a table registered as a DataFrame must
    materialize the snapshot first — before the fix the whole dim
    table was silently replaced by the single upserted row
    (review r6 #5)."""
    dim = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id long, name string")
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, d.name AS name FROM stream "
              "JOIN dim d ON deviceId = d.id")
    s.register_table("dim", dim)
    s.upsert_table("dim", {"id": 2, "name": "BETA"})
    s.upsert_table("dim", {"id": 3, "name": "gamma"})
    got = {(r["id"], r["name"]) for r in s._tables["dim"].collect()}
    assert got == {(1, "alpha"), (2, "BETA"), (3, "gamma")}
    s.delete_table("dim", {"id": 1})
    got = {(r["id"], r["name"]) for r in s._tables["dim"].collect()}
    assert got == {(2, "BETA"), (3, "gamma")}


def test_pyeval_round_int_positive_scale_stays_int(spark):
    """Spark's Round keeps the integral type for any scale
    (round(5, 2) -> 5, an int); the python path returned 5.0
    (review r6 #6)."""
    from streamsql_spark.dialect.pyeval import _round_to
    r = _round_to(2)(5)
    assert r == 5 and isinstance(r, int)
    assert _round_to(0)(5.4) == 5.0
    s = StreamSQL(spark)
    s.execute("SELECT round(n, 2) AS r FROM stream")
    out = s.emit_sync({"n": 7})
    assert out == {"r": 7} and isinstance(out["r"], int)


def test_bracket_path_negative_index_and_null_on_miss(spark):
    """Reference fieldpath array/map access parity (fieldpath.go:236-276):
    [-n] counts from the end, out-of-range indices and missing map keys
    yield NULL (the reference returns nil) — rendered as try_element_at
    because ANSI-mode Spark raises on both."""
    from pyspark.sql.types import (ArrayType, DoubleType, MapType,
                                   StringType, StructField, StructType)
    schema = StructType([
        StructField("name", StringType()),
        StructField("readings", ArrayType(DoubleType())),
        StructField("meta", MapType(StringType(), StringType())),
        StructField("sensors", ArrayType(StructType(
            [StructField("value", DoubleType())]))),
    ])
    rows = [{"name": "a", "readings": [1.0, 2.0, 3.0], "meta": {"k": "v"},
             "sensors": [{"value": 9.5}]},
            {"name": "b", "readings": [], "meta": {}, "sensors": []}]
    sql = ("SELECT name, readings[-1] AS last_r, readings[0] AS first_r, "
           "readings[7] AS oob, meta['k'] AS mk, meta['missing'] AS mm, "
           "sensors[0].value AS sv FROM stream")
    out = run_query(spark, sql, rows, schema=schema)
    out.sort(key=lambda r: r["name"])
    assert out[0] == {"name": "a", "last_r": 3.0, "first_r": 1.0,
                      "oob": None, "mk": "v", "mm": None, "sv": 9.5}
    assert out[1] == {"name": "b", "last_r": None, "first_r": None,
                      "oob": None, "mk": None, "mm": None, "sv": None}


def test_cast_as_type_syntax(spark):
    """ANSI CAST(expr AS TYPE) sugar — the reference keeps `AS` inside
    parens in the raw field text (rsql/parser.go:369) and evaluates via
    the two-arg cast (functions_conversion.go:22); used throughout its
    examples (examples/non-aggregation/main.go)."""
    sql = ("SELECT CAST(v AS STRING) AS s, CAST(t AS bigint) AS b, "
           "concat('x=', CAST(v * 2 AS STRING)) AS c FROM stream")
    out = run_query(spark, sql, [{"v": 3, "t": "42"}])
    assert out == [{"s": "3", "b": 42, "c": "x=6"}]


def test_unnest_explode(spark):
    # functions_multirow.go unnest fan-out
    sql = "SELECT deviceId, unnest(readings) AS r FROM stream"
    rows = [{"deviceId": "d1", "readings": [1.0, 2.0]},
            {"deviceId": "d2", "readings": [3.0]}]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["r"])
    assert [(r["deviceId"], r["r"]) for r in out] == \
        [("d1", 1.0), ("d1", 2.0), ("d2", 3.0)]


def test_distinct_order_limit(spark):
    sql = ("SELECT status FROM stream WHERE n > 0 "
           "ORDER BY status LIMIT 2")
    rows = [{"status": "c", "n": 1}, {"status": "a", "n": 2},
            {"status": "b", "n": 3}, {"status": "a", "n": 4}]
    out = run_query(spark, sql, rows)
    assert [r["status"] for r in out] == ["a", "a"]
    sql2 = "SELECT DISTINCT status FROM stream ORDER BY status LIMIT 2"
    out2 = run_query(spark, sql2, rows)
    assert [r["status"] for r in out2] == ["a", "b"]


def test_distinct_with_hidden_order_key_is_deterministic(spark):
    """ADVICE r5 + r8 emission-unit update: DISTINCT over the visible
    columns while ORDER BY references a hidden aggregate placeholder
    must be DETERMINISTIC across repeats (dropDuplicates keeps an
    arbitrary row per group).  Since r8, DISTINCT on a TIME-windowed
    query applies PER WINDOW FIRE — the reference's emission unit
    (processor_data.go:438-493) — so 'a' appearing in two windows
    yields TWO rows, ordered by window fire then the hidden max(n):
    w1 [a(5), b(6)], w2 [a(3), b(4)]."""
    sql = ("SELECT DISTINCT status FROM stream "
           "GROUP BY status, TumblingWindow('10s') WITH (TIMESTAMP='ts') "
           "ORDER BY max(n)")
    rows = [{"status": "a", "n": 5, "ts": 1000},
            {"status": "b", "n": 6, "ts": 2000},
            {"status": "a", "n": 3, "ts": 11000},
            {"status": "b", "n": 4, "ts": 12000}]
    for _ in range(3):  # nondeterminism shows up across repeats
        out = run_query(spark, sql, rows)
        assert [r["status"] for r in out] == ["a", "b", "a", "b"]
        assert all(set(r) == {"status"} for r in out)


def test_executor_order_extras_reset_between_plans(spark):
    """A reused BatchExecutor must not carry one plan's hidden ORDER BY
    placeholders into the next plan's distinct logic (ADVICE r5: stale
    _order_extras)."""
    from streamsql_spark.engine.batch import BatchExecutor

    s1 = StreamSQL(spark)
    s1.execute("SELECT status FROM stream "
               "GROUP BY status, TumblingWindow('10s') WITH (TIMESTAMP='ts') "
               "ORDER BY max(n)")
    ex = BatchExecutor(spark)
    df1 = spark.createDataFrame([("a", 1, 1000)], "status string, n int, ts long")
    ex.execute(s1.plan, df1)
    assert ex._order_extras  # plan 1 left helpers behind
    s2 = StreamSQL(spark)
    s2.execute("SELECT DISTINCT status FROM stream")
    out = ex.execute(s2.plan, df1.union(df1))
    assert ex._order_extras == []  # reset at entry — no stale carryover
    assert [r["status"] for r in out.collect()] == ["a"]


# -------------------------------------------------------------- emit_sync

def test_order_by_null_ordering(spark):
    # stream/sorter.go:60-75 compareOrderValues: nil is LEAST — first
    # under ASC, last under DESC; Spark's default null ordering matches
    sql_asc = "SELECT v FROM stream ORDER BY v"
    sql_desc = "SELECT v FROM stream ORDER BY v DESC"
    schema = StructType([StructField("v", DoubleType()),
                         StructField("ts", LongType())])
    rows = [{"v": 2.0, "ts": 1}, {"v": None, "ts": 2}, {"v": 1.0, "ts": 3}]
    got_asc = [r["v"] for r in run_query(spark, sql_asc, rows, schema=schema)]
    got_desc = [r["v"] for r in run_query(spark, sql_desc, rows, schema=schema)]
    assert got_asc == [None, 1.0, 2.0]
    assert got_desc == [2.0, 1.0, None]


def test_emit_sync_direct(spark):
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, temperature FROM stream WHERE temperature > 21")
    assert s.emit_sync({"deviceId": "d1", "temperature": 25.0}) == \
        {"deviceId": "d1", "temperature": 25.0}
    assert s.emit_sync({"deviceId": "d2", "temperature": 18.0}) is None


def test_emit_sync_lag_state(spark):
    # analytic_cdc_test.go TestAnalytic_LagInSelect
    s = StreamSQL(spark)
    s.execute("SELECT temperature, lag(temperature) AS prev FROM stream "
              "WITH (TIMESTAMP='ts')")
    r1 = s.emit_sync({"temperature": 23.0, "ts": 1})
    assert r1["prev"] is None
    r2 = s.emit_sync({"temperature": 25.0, "ts": 2})
    assert r2["prev"] == 23.0
    r3 = s.emit_sync({"temperature": 27.0, "ts": 3})
    assert r3["prev"] == 25.0


def test_emit_sync_lag_in_where_partitioned(spark):
    # analytic_cdc_test.go TestAnalytic_CDC_LagInWhere_PartitionBy
    s = StreamSQL(spark)
    s.execute("SELECT current, deviceId, ts FROM stream WHERE current > 300 "
              "AND lag(current) OVER (PARTITION BY deviceId) < 300 "
              "WITH (TIMESTAMP='ts')")
    inputs = [
        {"current": 300, "ts": 1, "deviceId": 1},
        {"current": 400, "ts": 2, "deviceId": 2},
        {"current": 200, "ts": 3, "deviceId": 1},
        {"current": 200, "ts": 4, "deviceId": 2},
        {"current": 500, "ts": 5, "deviceId": 1},
        {"current": 200, "ts": 6, "deviceId": 2},
        {"current": 400, "ts": 7, "deviceId": 1},
        {"current": 600, "ts": 8, "deviceId": 2},
    ]
    outs = [r for r in (s.emit_sync(i) for i in inputs) if r is not None]
    assert [(r["current"], r["deviceId"]) for r in outs] == [(500, 1), (600, 2)]


def test_emit_sync_had_changed_in_where(spark):
    # TestAnalytic_HadChangedInWhere: first row counts as changed
    s = StreamSQL(spark)
    s.execute("SELECT ts, temperature FROM stream "
              "WHERE had_changed(true, temperature) = true WITH (TIMESTAMP='ts')")
    inputs = [{"ts": 1, "temperature": 23}, {"ts": 2, "temperature": 23},
              {"ts": 3, "temperature": 25}, {"ts": 4, "temperature": 25},
              {"ts": 5, "temperature": 27}]
    outs = [r for r in (s.emit_sync(i) for i in inputs) if r is not None]
    assert [r["ts"] for r in outs] == [1, 3, 5]


def test_emit_sync_latest_ignores_null(spark):
    # TestAnalytic_Latest: nil does not update state
    schema = StructType([StructField("temperature", DoubleType()),
                         StructField("ts", LongType())])
    s = StreamSQL(spark, schema=schema)
    s.execute("SELECT latest(temperature) AS lt FROM stream WITH (TIMESTAMP='ts')")
    assert s.emit_sync({"temperature": 23.0, "ts": 1})["lt"] == 23.0
    assert s.emit_sync({"temperature": 25.0, "ts": 2})["lt"] == 25.0
    assert s.emit_sync({"temperature": None, "ts": 3})["lt"] == 25.0


def test_acc_sum_running(spark):
    sql = ("SELECT deviceId, ts, acc_sum(v) OVER (PARTITION BY deviceId) AS run "
           "FROM stream WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "a", "v": 1.0, "ts": 1},
            {"deviceId": "b", "v": 10.0, "ts": 2},
            {"deviceId": "a", "v": 2.0, "ts": 3},
            {"deviceId": "a", "v": 3.0, "ts": 4},
            {"deviceId": "b", "v": 20.0, "ts": 5}]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["ts"])
    assert [r["run"] for r in out] == [1.0, 10.0, 3.0, 6.0, 30.0]


# ----------------------------------------------------------- aggregation

def test_acc_sum_start_reset_gating(spark):
    # functions/analytic_acc.go accState.Apply truth table: startCond
    # latches accumulation; a reset row zeroes state WITHOUT adding its
    # own value and clears the latch, which re-arms on the next true
    # startCond.  (Zero/empty state reads as NULL here — documented
    # NULL-policy delta vs the reference's 0.0.)
    sql = ("SELECT deviceId, ts, "
           "acc_sum(v, status = 'go', status = 'reset') "
           "OVER (PARTITION BY deviceId) AS run FROM stream "
           "WITH (TIMESTAMP='ts')")
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("v", DoubleType()),
                         StructField("status", StringType()),
                         StructField("ts", LongType())])
    rows = [
        {"deviceId": "d", "v": 1.0, "status": "idle", "ts": 1},   # not started
        {"deviceId": "d", "v": 2.0, "status": "go", "ts": 2},     # latch + acc
        {"deviceId": "d", "v": 3.0, "status": "idle", "ts": 3},   # still acc
        {"deviceId": "d", "v": 9.0, "status": "reset", "ts": 4},  # zeroed, 9 NOT added
        {"deviceId": "d", "v": 4.0, "status": "idle", "ts": 5},   # latch cleared
        {"deviceId": "d", "v": 5.0, "status": "go", "ts": 6},     # re-latch
        {"deviceId": "d", "v": 6.0, "status": "idle", "ts": 7},
    ]
    out = run_query(spark, sql, rows, schema=schema)
    by_ts = {r["ts"]: r["run"] for r in out}
    assert by_ts == {1: None, 2: 2.0, 3: 5.0, 4: None, 5: None,
                     6: 5.0, 7: 11.0}


def test_tumbling_event_time_alignment(spark):
    # epoch-aligned slots (window/watermark.go:226-239)
    sql = ("SELECT deviceId, count(*) AS n, avg(t) AS avg_t, "
           "window_start() AS ws FROM stream "
           "GROUP BY deviceId, TumblingWindow('10s') WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d1", "t": 10.0, "ts": 1_000},
            {"deviceId": "d1", "t": 20.0, "ts": 9_000},
            {"deviceId": "d1", "t": 30.0, "ts": 11_000},
            {"deviceId": "d1", "t": 40.0, "ts": 21_000}]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["ws"])
    assert [(r["n"], r["avg_t"]) for r in out] == [(2, 15.0), (1, 30.0), (1, 40.0)]


def test_aggregates_skip_null(spark):
    # aggregator null policy (group_aggregator.go:311-314)
    schema = StructType([StructField("k", StringType()),
                         StructField("v", DoubleType()),
                         StructField("ts", LongType())])
    sql = ("SELECT k, sum(v) AS s, count(v) AS c, count(*) AS n, "
           "min(v) AS lo, max(v) AS hi "
           "FROM stream GROUP BY k, TumblingWindow('1h') WITH (TIMESTAMP='ts')")
    rows = [{"k": "a", "v": 1.0, "ts": 1000},
            {"k": "a", "v": None, "ts": 2000},
            {"k": "a", "v": 3.0, "ts": 3000}]
    out = run_query(spark, sql, rows, schema=schema)
    assert len(out) == 1
    r = out[0]
    assert (r["s"], r["c"], r["n"], r["lo"], r["hi"]) == (4.0, 2, 3, 1.0, 3.0)


def test_post_aggregation_expressions(spark):
    # post_aggregation.go: expressions over aggregate results
    sql = ("SELECT deviceId, round(avg(t), 1) AS a, "
           "max(t) - min(t) AS spread, "
           "last_value(t) - first_value(t) AS delta "
           "FROM stream GROUP BY deviceId, TumblingWindow('1h') "
           "WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "t": 10.0, "ts": 1000},
            {"deviceId": "d", "t": 17.0, "ts": 2000},
            {"deviceId": "d", "t": 14.0, "ts": 3000}]
    out = run_query(spark, sql, rows)
    assert out == [{"deviceId": "d", "a": 13.7, "spread": 7.0, "delta": 4.0}]


def test_having_hidden_aggregate(spark):
    # HAVING referencing an aggregate not in SELECT (rsql/ast.go:561-623)
    # reference clause order: GROUP BY → WITH → HAVING (rsql/parser.go)
    sql = ("SELECT deviceId, avg(t) AS a FROM stream "
           "GROUP BY deviceId, TumblingWindow('1h') "
           "WITH (TIMESTAMP='ts') HAVING count(*) >= 2")
    rows = [{"deviceId": "d1", "t": 10.0, "ts": 1000},
            {"deviceId": "d1", "t": 20.0, "ts": 2000},
            {"deviceId": "d2", "t": 99.0, "ts": 3000}]
    out = run_query(spark, sql, rows)
    assert len(out) == 1 and out[0]["deviceId"] == "d1" and out[0]["a"] == 15.0
    assert "count" not in str(out[0].keys())


def test_agg_without_window_defaults(spark):
    # aggregate with plain GROUP BY (no window) — batch relational agg
    sql = "SELECT k, sum(v) AS s FROM stream GROUP BY k"
    rows = [{"k": "a", "v": 1}, {"k": "b", "v": 2}, {"k": "a", "v": 3}]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["k"])
    assert [(r["k"], r["s"]) for r in out] == [("a", 4.0), ("b", 2.0)]


def test_counting_window_batch(spark):
    # window/counting_window.go: emit every N rows per key; drop partials
    sql = ("SELECT deviceId, sum(v) AS s FROM stream "
           "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "v": 1.0, "ts": 1},
            {"deviceId": "d", "v": 2.0, "ts": 2},
            {"deviceId": "d", "v": 3.0, "ts": 3},
            {"deviceId": "d", "v": 4.0, "ts": 4},
            {"deviceId": "d", "v": 5.0, "ts": 5}]
    out = run_query(spark, sql, rows)
    assert sorted(r["s"] for r in out) == [3.0, 7.0]  # (1+2), (3+4); 5 pending


def test_global_window_trigger_batch(spark):
    # window/global_window.go FIRE_AND_PURGE
    sql = ("SELECT deviceId, sum(v) AS total FROM stream "
           "GROUP BY deviceId GLOBAL WINDOW TRIGGER WHEN sum(v) >= 10 "
           "WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "v": 4.0, "ts": 1},
            {"deviceId": "d", "v": 5.0, "ts": 2},
            {"deviceId": "d", "v": 3.0, "ts": 3},   # 12 → fire
            {"deviceId": "d", "v": 11.0, "ts": 4},  # 11 → fire
            {"deviceId": "d", "v": 2.0, "ts": 5}]   # pending
    out = run_query(spark, sql, rows)
    assert sorted(r["total"] for r in out) == [11.0, 12.0]


def test_global_window_trigger_only_aggregate(spark):
    # the TRIGGER WHEN predicate may use running aggregates absent from
    # SELECT (window/global_window.go trigger-only aggregates) — max(v)
    # drives firing, only count(*) is projected
    sql = ("SELECT deviceId, count(*) AS n FROM stream "
           "GROUP BY deviceId GLOBAL WINDOW TRIGGER WHEN max(v) > 50 "
           "WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "v": 10.0, "ts": 1},
            {"deviceId": "d", "v": 60.0, "ts": 2},   # max > 50 → fire
            {"deviceId": "d", "v": 20.0, "ts": 3},
            {"deviceId": "d", "v": 55.0, "ts": 4},   # fire again (purged)
            {"deviceId": "d", "v": 5.0, "ts": 5}]    # pending, no emit
    out = run_query(spark, sql, rows)
    assert [r["n"] for r in out] == [2, 2]


def test_session_window_batch(spark):
    sql = ("SELECT deviceId, count(*) AS n FROM stream "
           "GROUP BY deviceId, SessionWindow('5s') WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "ts": 1_000},
            {"deviceId": "d", "ts": 3_000},
            {"deviceId": "d", "ts": 20_000},
            {"deviceId": "d", "ts": 22_000},
            {"deviceId": "d", "ts": 23_000}]
    out = run_query(spark, sql, rows)
    assert sorted(r["n"] for r in out) == [2, 3]


# ----------------------------------------------------------------- joins

def test_inner_join_enrichment(spark):
    # join_test.go: stream-table INNER JOIN drops unmatched
    sql = ("SELECT s.deviceId, s.t, m.location FROM stream s "
           "INNER JOIN meta m ON s.deviceId = m.deviceId")
    rows = [{"deviceId": "d1", "t": 20.0}, {"deviceId": "dX", "t": 30.0}]
    meta = [{"deviceId": "d1", "location": "hall"},
            {"deviceId": "d2", "location": "lab"}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    assert out == [{"deviceId": "d1", "t": 20.0, "location": "hall"}]


def test_left_join_null_columns(spark):
    # join.go:58-62: LEFT JOIN no-match → NULL columns
    sql = ("SELECT s.deviceId, m.location FROM stream s "
           "LEFT JOIN meta m ON s.deviceId = m.deviceId")
    rows = [{"deviceId": "d1"}, {"deviceId": "dX"}]
    meta = [{"deviceId": "d1", "location": "hall"}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    out.sort(key=lambda r: r["deviceId"])
    assert out == [{"deviceId": "d1", "location": "hall"},
                   {"deviceId": "dX", "location": None}]


def test_left_join_null_group_collapse(spark):
    # group_aggregator.go:14-22: NULL group keys collapse into one group
    sql = ("SELECT m.region AS region, count(*) AS n FROM stream s "
           "LEFT JOIN meta m ON s.deviceId = m.deviceId "
           "GROUP BY m.region, TumblingWindow('1h') WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d1", "ts": 1000}, {"deviceId": "dX", "ts": 2000},
            {"deviceId": "dY", "ts": 3000}]
    meta = [{"deviceId": "d1", "region": "east"}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    got = {r["region"]: r["n"] for r in out}
    assert got == {"east": 1, None: 2}


def test_join_counting_window_group_by_table_field(spark):
    # join_aggregation_test.go:16-51: GROUP BY a table column with a
    # counting window — the reference keys the window by FLAT row lookup
    # (window/counting_window.go:330-356), so the qualified m.location
    # does NOT key the chunk sequence: the window fires on 4 TOTAL rows
    # and the fired chunk sub-groups by location in the aggregator.
    sql = ("SELECT m.location, AVG(temp) AS avg_t FROM stream "
           "JOIN meta m ON deviceId = m.deviceId "
           "GROUP BY m.location, CountingWindow(4) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"deviceId": "d1", "temp": 30.0, "ts": 1000},
            {"deviceId": "d1", "temp": 40.0, "ts": 2000},
            {"deviceId": "d2", "temp": 20.0, "ts": 3000},
            {"deviceId": "d2", "temp": 60.0, "ts": 4000}]
    meta = [{"deviceId": "d1", "location": "plantA"},
            {"deviceId": "d2", "location": "plantB"}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    got = {r["location"]: r["avg_t"] for r in out}
    assert got == {"plantA": 35.0, "plantB": 40.0}


def test_join_left_counting_window_null_group(spark):
    # join_aggregation_test.go:55-97: LEFT JOIN no-match row aggregates
    # into the NULL group instead of being dropped; CountingWindow(2)
    # fires on 2 total rows (flat-lookup keying, as above).
    sql = ("SELECT m.location, AVG(temp) AS avg_t FROM stream "
           "LEFT JOIN meta m ON deviceId = m.deviceId "
           "GROUP BY m.location, CountingWindow(2) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"deviceId": "d1", "temp": 10.0, "ts": 1000},
            {"deviceId": "d9", "temp": 20.0, "ts": 2000}]
    meta = [{"deviceId": "d1", "location": "plantA"}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    got = {r["location"]: r["avg_t"] for r in out}
    assert got == {"plantA": 10.0, None: 20.0}


def test_counting_window_plain_key_still_per_key(spark):
    # plain stream columns DO key the counting window (flat lookup
    # hits): d1 completes a window of 2, d2's single row stays pending
    sql = ("SELECT deviceId, count(*) AS n FROM stream "
           "GROUP BY deviceId, CountingWindow(2) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"deviceId": "d1", "ts": 1000}, {"deviceId": "d1", "ts": 2000},
            {"deviceId": "d2", "ts": 3000}]
    out = run_query(spark, sql, rows)
    assert out == [{"deviceId": "d1", "n": 2}]


def test_counting_window_start_end_are_chunk_bounds(spark):
    # window/counting_window.go:312-327 createSlot: a counting window's
    # slot spans the chunk's first to Nth event timestamp (no alignment)
    sql = ("SELECT deviceId, count(*) AS n, window_start() AS ws, "
           "window_end() AS we FROM stream "
           "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    rows = [{"deviceId": "d1", "ts": 1000}, {"deviceId": "d1", "ts": 5000},
            {"deviceId": "d1", "ts": 9000}, {"deviceId": "d1", "ts": 12000}]
    out = run_query(spark, sql, rows)
    got = sorted((r["ws"].second, r["we"].second) for r in out)
    assert got == [(1, 5), (9, 12)]


def test_upsert_delete_table_between_events(spark):
    # table_store.go:71-85: UpsertTable replaces the row with the same
    # key (derived from JOIN ON) and takes effect for subsequent events;
    # Delete removes it (LEFT JOIN falls back to NULL columns).
    s = StreamSQL(spark)
    s.execute("SELECT s.deviceId, m.location AS loc FROM stream s "
              "LEFT JOIN meta m ON s.deviceId = m.deviceId")
    s.register_table("meta", [{"deviceId": "d1", "location": "hall"}])
    assert s.emit_sync({"deviceId": "d1"})["loc"] == "hall"
    assert s.emit_sync({"deviceId": "d2"})["loc"] is None
    s.upsert_table("meta", {"deviceId": "d2", "location": "lab"})
    assert s.emit_sync({"deviceId": "d2"})["loc"] == "lab"
    s.upsert_table("meta", {"deviceId": "d1", "location": "roof"})
    assert s.emit_sync({"deviceId": "d1"})["loc"] == "roof"  # replaced, not duplicated
    s.delete_table("meta", {"deviceId": "d1"})
    assert s.emit_sync({"deviceId": "d1"})["loc"] is None


def test_having_orderby_qualified_group_refs(spark):
    # rewriteGroupColumnRefs (stream/processor_field.go:240-264): HAVING
    # and ORDER BY may reference qualified group/projection exprs that
    # post-aggregation frames only carry under output names
    meta = [{"deviceId": "d1", "location": "A"},
            {"deviceId": "d2", "location": "B"}]
    rows = [{"deviceId": "d1", "temp": 1.0, "ts": 1},
            {"deviceId": "d1", "temp": 3.0, "ts": 2},
            {"deviceId": "d2", "temp": 9.0, "ts": 3},
            {"deviceId": "d2", "temp": 11.0, "ts": 4}]
    out = run_query(spark, ("SELECT m.location, avg(temp) AS a FROM stream "
                            "JOIN meta m ON deviceId = m.deviceId "
                            "GROUP BY m.location, CountingWindow(2) "
                            "HAVING m.location != 'B'"),
                    rows, tables={"meta": meta})
    assert out == [{"location": "A", "a": 2.0}]

    out = run_query(spark, ("SELECT s.deviceId, m.location FROM stream s "
                            "JOIN meta m ON s.deviceId = m.deviceId "
                            "ORDER BY m.location DESC"),
                    rows[:3], tables={"meta": meta})
    assert [r["location"] for r in out] == ["B", "A", "A"]


def test_join_composite_keys(spark):
    sql = ("SELECT s.a, s.b, m.v FROM stream s "
           "INNER JOIN meta m ON s.a = m.a AND s.b = m.b")
    rows = [{"a": 1, "b": "x"}, {"a": 1, "b": "y"}]
    meta = [{"a": 1, "b": "x", "v": 100}]
    out = run_query(spark, sql, rows, tables={"meta": meta})
    assert out == [{"a": 1, "b": "x", "v": 100}]


# ------------------------------------------------------- scalar functions

def test_scalar_function_mix(spark):
    sql = ("SELECT upper(name) AS u, length(name) AS l, "
           "concat(name, '!') AS c, round(sqrt(x), 3) AS sq, "
           "if_null(missing, 'dflt') AS d "
           "FROM stream")
    schema = StructType([StructField("name", StringType()),
                         StructField("x", DoubleType()),
                         StructField("missing", StringType())])
    rows = [{"name": "probe", "x": 2.0, "missing": None}]
    out = run_query(spark, sql, rows, schema=schema)
    assert out == [{"u": "PROBE", "l": 5, "c": "probe!", "sq": 1.414,
                    "d": "dflt"}]


def test_ansi_sql_passthrough_union_subquery(spark):
    # §2.10: set ops and subqueries are absent from the reference
    # grammar; the facade passes ANSI SQL straight to Catalyst with
    # registered dim tables visible as views
    s = StreamSQL(spark)
    s.register_table("t_a", [{"k": 1}, {"k": 2}])
    s.register_table("t_b", [{"k": 2}, {"k": 3}])
    union = s.sql("SELECT k FROM t_a UNION SELECT k FROM t_b ORDER BY k")
    assert [r["k"] for r in union.collect()] == [1, 2, 3]
    sub = s.sql("SELECT k FROM t_a WHERE k IN (SELECT k FROM t_b)")
    assert [r["k"] for r in sub.collect()] == [2]
    inter = s.sql("SELECT k FROM t_a INTERSECT SELECT k FROM t_b")
    assert [r["k"] for r in inter.collect()] == [2]


def test_scalar_passthrough_trig_bits_json(spark):
    # the registry passes same-name functions straight to Spark SQL —
    # pin the ones no other test exercises (builtin.go registrations:
    # functions_math.go acos/asin/cosh/sinh/tanh/log2, bitnot,
    # functions_datetime.go date_parse, functions_json.go to_json)
    sql = ("SELECT round(acos(h), 4) AS a_acos, round(asin(h), 4) AS a_asin, "
           "round(cosh(one), 4) AS a_cosh, round(sinh(one), 4) AS a_sinh, "
           "round(tanh(one), 4) AS a_tanh, log2(eight) AS a_log2, "
           "bitnot(five) AS a_bnot, "
           "hour(date_parse(dstr, 'YYYY-MM-DD HH:MI:SS')) AS a_hour, "
           "to_json(named_struct('k', five)) AS a_json "
           "FROM stream")
    schema = StructType([StructField("h", DoubleType()),
                         StructField("one", DoubleType()),
                         StructField("eight", DoubleType()),
                         StructField("five", LongType()),
                         StructField("dstr", StringType())])
    rows = [{"h": 0.5, "one": 1.0, "eight": 8.0, "five": 5,
             "dstr": "2024-03-05 10:20:30"}]
    out = run_query(spark, sql, rows, schema=schema)
    assert out == [{"a_acos": 1.0472, "a_asin": 0.5236, "a_cosh": 1.5431,
                    "a_sinh": 1.1752, "a_tanh": 0.7616, "a_log2": 3.0,
                    "a_bnot": -6, "a_hour": 10, "a_json": '{"k":5}'}]


def test_nested_struct_group_key(spark):
    """GROUP BY on a struct path (meta.k) must aggregate correctly:
    passing the dotted text through groupBy names the output column
    'k', and the final projection's raw 'meta.k' then failed
    UNRESOLVED_COLUMN — dotted keys now inject like expression keys
    (review r6 pass 2 #1)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    schema = StructType([
        StructField("meta", StructType([StructField("k", StringType())])),
        StructField("v", DoubleType()), StructField("ts", LongType())])
    rows = [{"meta": {"k": "a"}, "v": 1.0, "ts": 1000},
            {"meta": {"k": "a"}, "v": 2.0, "ts": 2000},
            {"meta": {"k": "b"}, "v": 5.0, "ts": 2500}]
    sql = ("SELECT meta.k AS kk, count(*) AS n, sum(v) AS s FROM stream "
           "GROUP BY meta.k, TumblingWindow('1h') WITH (TIMESTAMP='ts') "
           "HAVING sum(v) > 1")
    out = run_query(spark, sql, rows, schema=schema)
    out.sort(key=lambda r: r["kk"])
    assert out == [{"kk": "a", "n": 2, "s": 3.0},
                   {"kk": "b", "n": 1, "s": 5.0}]


def test_lag_zero_offset_rejected(spark):
    """Reference validation (functions_analytical.go:27-28): lag offset
    must be a positive integer — the old falsy-guard silently coerced
    an explicit 0 to lag-by-1 (review r6 pass 2 #4)."""
    from streamsql_spark.dialect.planner import PlanError
    for bad in ("SELECT lag(v, 0) AS p FROM stream",
                "SELECT lag(v, -2) AS p FROM stream"):
        s = StreamSQL(spark)
        with pytest.raises(PlanError, match="positive integer"):
            s.execute(bad)


def test_dayofweek_go_numbering_and_json_type_invalid(spark):
    """dayofweek follows Go's Weekday(): Sunday=0..Saturday=6
    (functions_datetime.go:742; Spark's builtin is Sunday=1), matching
    extract('weekday').  json_type returns 'invalid' for unparseable
    input (functions_json.go:176-178), not NULL."""
    rows = [{"d": "2024-03-03", "j": "not json"}]   # 2024-03-03 = Sunday
    out = run_query(spark, "SELECT dayofweek(d) AS wd, "
                           "extract('weekday', d) AS wd2, "
                           "json_type(j) AS jt, "
                           "json_type('\t[1]') AS ja FROM stream", rows)
    assert out == [{"wd": 0, "wd2": 0, "jt": "invalid", "ja": "array"}]


def test_split_literal_delimiter(spark):
    """Reference split is strings.Split — LITERAL delimiter
    (functions_string.go:408-418); Spark's regex split would explode
    'a.b.c' per-char on '.' and 'x|y|z' per-char on '|'.  Runtime
    delimiter expressions are Pattern.quote-wrapped."""
    out = run_query(spark, "SELECT split(s, '.') AS a, split(s, d) AS b, "
                           "array_join(split(p, '|'), '/') AS c FROM stream",
                    [{"s": "a.b.c", "d": ".", "p": "x|y|z"}])
    assert out == [{"a": ["a", "b", "c"], "b": ["a", "b", "c"],
                    "c": "x/y/z"}]


def test_concat_nil_skip_and_trim_whitespace(spark):
    """Reference string semantics (functions_string.go): concat() is
    ToStringE-and-join — a NULL arg contributes '' and numbers
    stringify (concat('a', NULL, 7) = 'a7'), unlike the || operator
    which keeps Spark's NULL-propagation; trim/ltrim/rtrim strip
    whitespace (space/tab/newline/CR), not just spaces."""
    schema = StructType([StructField("s", StringType()),
                         StructField("x", StringType()),
                         StructField("n", LongType()),
                         StructField("t", StringType())])
    rows = [{"s": "a", "x": None, "n": 7, "t": "\t hi \n"}]
    sql = ("SELECT concat(s, x, n) AS c, trim(t) AS tr, ltrim(t) AS lt, "
           "rtrim(t) AS rt, s || x AS op FROM stream")
    out = run_query(spark, sql, rows, schema=schema)
    assert out == [{"c": "a7", "tr": "hi", "lt": "hi \n",
                    "rt": "\t hi", "op": None}]
    # per-event python path agrees bit-for-bit
    s3 = StreamSQL(spark)
    s3.execute("SELECT concat(s, x, n) AS c, trim(t) AS tr FROM stream")
    assert s3.emit_sync({"s": "a", "x": None, "n": 7, "t": "\t hi \n"}) \
        == {"c": "a7", "tr": "hi"}


def test_to_json_any_value_and_expression_alias(spark):
    """Reference to_json is json.Marshal of ANY value
    (functions_json.go:26-33): scalars marshal ('\"plain\"', '42'),
    NULL -> 'null', arrays/maps to their JSON — Spark's bare to_json
    only takes struct/map/array, so the renderer wraps and strips.
    Also: 'expression' is the long-name alias of the expr() escape
    hatch (functions_expr.go)."""
    schema = StructType([StructField("s", StringType()),
                         StructField("n", LongType()),
                         StructField("x", LongType()),
                         StructField("d", DoubleType())])
    rows = [{"s": "plain", "n": 42, "x": None, "d": 1.5}]
    out = run_query(spark, "SELECT to_json(s) AS js, to_json(n) AS jn, "
                           "to_json(x) AS jx, to_json(d) AS jd, "
                           "expression('n * 2') AS e FROM stream",
                    rows, schema=schema)
    assert out == [{"js": '"plain"', "jn": "42", "jx": "null",
                    "jd": "1.5", "e": 84}]


def test_scalar_datetime_now_sign_sha512_merge(spark):
    # remaining reference builtins never executed elsewhere
    # (functions_math.go sign, functions_hash.go sha512,
    # functions_datetime.go now/current_date/current_time/from_unixtime,
    # functions_aggregation.go merge_agg)
    sql = ("SELECT sign(neg) AS sg, sha512(name) AS h, "
           "from_unixtime(epoch) AS ft, "
           "length(cast(now(), 'string')) > 18 AS has_now, "
           "cast(current_date(), 'string') AS cd, "
           "current_time() AS ct "
           "FROM stream")
    schema = StructType([StructField("name", StringType()),
                         StructField("neg", DoubleType()),
                         StructField("epoch", LongType())])
    rows = [{"name": "probe", "neg": -7.5, "epoch": 1700000000}]
    out = run_query(spark, sql, rows, schema=schema)
    r = out[0]
    assert r["sg"] == -1.0
    assert len(r["h"]) == 128 and r["h"] == __import__("hashlib").sha512(
        b"probe").hexdigest()
    assert r["ft"].startswith("2023-11-14")
    assert r["has_now"] is True
    assert len(r["cd"]) == 10 and r["cd"][4] == "-"
    assert len(r["ct"]) == 8 and r["ct"][2] == ":"

    agg_sql = ("SELECT deviceId, merge_agg(v) AS merged FROM stream "
               "GROUP BY deviceId, CountingWindow(3) WITH (TIMESTAMP='ts')")
    agg_schema = StructType([StructField("deviceId", StringType()),
                             StructField("v", LongType()),
                             StructField("ts", LongType())])
    agg_rows = [{"deviceId": "d", "v": i, "ts": i} for i in (1, 2, 3)]
    agg_out = run_query(spark, agg_sql, agg_rows, schema=agg_schema)
    assert sorted(agg_out[0]["merged"].split(",")) == ["1", "2", "3"]


def test_extra_aggregates_beyond_reference(spark):
    # Spark-native extensions registered beyond the reference surface
    # (§2.10 approximate/statistical aggregates — "free if needed")
    sql = ("SELECT count_if(v > 1) AS ci, bool_and(v > 0) AS ba, "
           "bool_or(v > 2) AS bo, round(corr(v, w), 4) AS cr, "
           "approx_count_distinct(v) AS acd "
           "FROM stream GROUP BY CountingWindow(4) WITH (TIMESTAMP='ts')")
    schema = StructType([StructField("v", DoubleType()),
                         StructField("w", DoubleType()),
                         StructField("ts", LongType())])
    rows = [{"v": float(i), "w": float(2 * i), "ts": i} for i in (1, 2, 3, 4)]
    out = run_query(spark, sql, rows, schema=schema)
    assert out == [{"ci": 3, "ba": True, "bo": True, "cr": 1.0, "acd": 4}]


def test_custom_function_registration(spark):
    # functions/registry.go:239-288 runtime registration
    s = StreamSQL(spark)
    s.register_function("double_it", lambda x: x * 2, "double")
    s.execute("SELECT double_it(v) AS dv FROM stream")
    s.emit({"v": 21.0})
    assert s.trigger_window() == [{"dv": 42.0}]


def test_len_polymorphic_strings_and_arrays(spark):
    # functions_string.go:46: length works on strings AND arrays
    # (function_advanced_test.go len(split(...)))
    s = StreamSQL(spark)
    s.execute("SELECT len(split(upper(device), 'SENSOR')) AS c, "
              "len(device) AS n FROM stream")
    out = s.emit_sync({"device": "sensor1"})
    assert out == {"c": 2, "n": 7}


def test_null_equality_comparisons(spark):
    # null_test.go TestNullComparisons: = nil / != nil / = null / != null
    # mean IS [NOT] NULL (the expr bridge rewrite), not SQL UNKNOWN
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("value", DoubleType())])
    rows = [{"deviceId": "s1", "value": 25.5}, {"deviceId": "s2", "value": None},
            {"deviceId": "s3", "value": 30.0}, {"deviceId": "s4", "value": None}]
    expect = {"value = nil": ["s2", "s4"], "value != nil": ["s1", "s3"],
              "value = null": ["s2", "s4"], "value != null": ["s1", "s3"],
              "value != nil AND value > 20": ["s1", "s3"]}
    for cond, ids in expect.items():
        s = StreamSQL(spark, schema=schema)
        s.execute(f"SELECT deviceId, value FROM stream WHERE {cond}")
        out = [r for r in (s.emit_sync(x) for x in rows) if r is not None]
        assert [r["deviceId"] for r in out] == ids, cond


def test_emit_sync_delivers_to_sinks(spark):
    # sink_test.go TestEmitSyncWithAddSink: every passing EmitSync row
    # also reaches registered sinks as a single-row batch
    s = StreamSQL(spark)
    s.execute("SELECT temperature, temperature * 1.8 + 32 AS f FROM stream "
              "WHERE temperature > 20")
    got = []
    s.add_sink(lambda rows: got.extend(rows))
    assert s.emit_sync({"temperature": 25.0}) is not None
    assert s.emit_sync({"temperature": 15.0}) is None   # filtered: no sink call
    assert s.emit_sync({"temperature": 30.0}) is not None
    assert [r["f"] for r in got] == [77.0, 86.0]
    assert len(s.results()) == 2  # one batch per passing event


def test_analytics_with_distinct_partitions(spark):
    # analytic_b_test.go: per-call OVER partitions may differ — each
    # analytic keeps its own per-partition state; the replay's arrival
    # index keeps emit_sync aligned when the specs re-sort the frame
    s = StreamSQL(spark)
    s.execute("SELECT lag(a) OVER (PARTITION BY k1) AS p1, "
              "lag(b) OVER (PARTITION BY k2) AS p2 FROM stream")
    outs = [s.emit_sync(r) for r in [
        {"k1": "x", "k2": "m", "a": 1.0, "b": 10.0, "ts": 1},
        {"k1": "x", "k2": "n", "a": 2.0, "b": 20.0, "ts": 2},
        {"k1": "y", "k2": "m", "a": 3.0, "b": 30.0, "ts": 3}]]
    assert outs == [{"p1": None, "p2": None},
                    {"p1": 1.0, "p2": None},
                    {"p1": None, "p2": 10.0}]


def test_changed_cols_ignore_null_keeps_baseline(spark):
    # analytic_acc.go:168-185: ignoreNull+nil skips the column entirely
    # (no emit, baseline kept) — 5, nil, 5, 7 → emit 5, then only 7
    schema = StructType([StructField("v", DoubleType()),
                         StructField("ts", LongType())])
    sql = 'SELECT changed_cols("c_", true, v) FROM stream'
    rows = [{"v": 5.0, "ts": 1}, {"v": None, "ts": 2},
            {"v": 5.0, "ts": 3}, {"v": 7.0, "ts": 4}]
    out = run_query(spark, sql, rows, schema=schema)
    # rows 2/3 emit nothing (nil skipped, baseline kept → 5 unchanged)
    # and the SELECT is solely change detection → omitEmpty drops them
    assert [r["c_v"] for r in out] == [5.0, 7.0]


def test_had_changed_star_whole_row(spark):
    # analytic_test.go:127-143: had_changed(true, *) compares the whole
    # row by column name — any column's change detects
    schema = StructType([StructField("a", LongType()),
                         StructField("b", LongType()),
                         StructField("ts", LongType())])
    # the ts column is ordering metadata (types.Row.Timestamp lives
    # outside the row map in the reference) — star does not watch it
    sql = "SELECT a, b FROM stream WHERE had_changed(true, *) == true"
    rows = [{"a": 1, "b": 2, "ts": 1}, {"a": 1, "b": 2, "ts": 2},
            {"a": 1, "b": 5, "ts": 3}, {"a": 1, "b": 5, "ts": 4}]
    out = run_query(spark, sql, rows, schema=schema)
    assert [(r["a"], r["b"]) for r in out] == [(1, 2), (1, 5)]


def test_had_changed_ignore_null_keeps_baseline(spark):
    # analytic_cdc_test.go:244-263 A2: ignoreNull+nil neither triggers a
    # change nor overwrites the baseline (23, nil, 23, 25 →
    # true, false, false, true)
    schema = StructType([StructField("temperature", DoubleType()),
                         StructField("ts", LongType())])
    sql = "SELECT had_changed(true, temperature) AS chg FROM stream"
    rows = [{"temperature": 23.0, "ts": 1}, {"temperature": None, "ts": 2},
            {"temperature": 23.0, "ts": 3}, {"temperature": 25.0, "ts": 4}]
    out = run_query(spark, sql, rows, schema=schema)
    assert [r["chg"] for r in out] == [True, False, False, True]


def test_lag_ignore_null_skips_history(spark):
    # analytic_cdc_test.go:266-281 A3: nil values never enter lag's
    # history (4th-arg ignoreNull defaults true); explicit false keeps
    # the SQL-standard null-including lag
    schema = StructType([StructField("value", DoubleType()),
                         StructField("ts", LongType())])
    rows = [{"value": 10.0, "ts": 1}, {"value": None, "ts": 2},
            {"value": 30.0, "ts": 3}]
    out = run_query(spark, "SELECT lag(value, 1, -1) AS lg FROM stream",
                    rows, schema=schema)
    assert [r["lg"] for r in out] == [-1.0, 10.0, 10.0]
    # ignoreNull=false: the stored nil IS the lagged value (the default
    # only covers missing history, lagState returns history[-offset])
    out = run_query(spark, "SELECT lag(value, 1, -1, false) AS lg FROM stream",
                    rows, schema=schema)
    assert [r["lg"] for r in out] == [-1.0, 10.0, None]


def test_changed_col_returns_new_value(spark):
    # analytic_cdc_test.go:161-174 + analytic_acc.go:125-154
    # changedColState: the NEW VALUE on change (first row counts as
    # changed), nil when unchanged
    sql = "SELECT changed_col(true, temperature) AS chg FROM stream"
    rows = [{"temperature": 23.0, "ts": 1}, {"temperature": 23.0, "ts": 2},
            {"temperature": 25.0, "ts": 3}]
    out = run_query(spark, sql, rows)
    # the unchanged row is omitEmpty-suppressed (SELECT is solely
    # change detection); the nil-when-unchanged rendering stays visible
    # in mixed selects (test_omit_empty_change_detection_suppression)
    assert [r["chg"] for r in out] == [23.0, 25.0]


def test_changed_col_composite_agg_arg(spark):
    # analytic_parity_test.go:370-382 B3: changed_col over avg(temp)+1 —
    # inner aggregate extracted, outer arithmetic kept; values not names
    sql = ("SELECT changed_col(true, avg(temp) + 1) AS c FROM stream "
           "GROUP BY CountingWindow(2)")
    rows = [{"temp": 23.0, "ts": 1}, {"temp": 25.0, "ts": 2},
            {"temp": 25.0, "ts": 3}, {"temp": 30.0, "ts": 4}]
    out = run_query(spark, sql, rows)
    assert sorted(r["c"] for r in out) == [25.0, 28.5]


def test_changed_cols_fanout(spark):
    # analytic_parity_test.go E2: multi-column fan-out with prefix;
    # fixed-schema rendering: unchanged → NULL (reference omits the key)
    sql = ('SELECT changed_cols("c_", true, temperature, humidity) '
           "FROM stream WITH (TIMESTAMP='ts')")
    rows = [{"ts": 1, "temperature": 23, "humidity": 88},
            {"ts": 2, "temperature": 23, "humidity": 88},
            {"ts": 3, "temperature": 23, "humidity": 88},
            {"ts": 4, "temperature": 25, "humidity": 88},
            {"ts": 5, "temperature": 25, "humidity": 90},
            {"ts": 6, "temperature": 25, "humidity": 91},
            {"ts": 7, "temperature": 25, "humidity": 91},
            {"ts": 8, "temperature": 25, "humidity": 91}]
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(r)
    out = s.trigger_window()
    changed = [(r["c_temperature"], r["c_humidity"]) for r in out
               if r["c_temperature"] is not None or r["c_humidity"] is not None]
    assert sorted(changed, key=lambda t: (t[0] is None, t)) == \
        [(23, 88), (25, None), (None, 90), (None, 91)]


def test_changed_cols_rejected_in_expression(spark):
    from streamsql_spark.dialect.parser import parse
    from streamsql_spark.dialect.planner import PlanError, plan as make_plan
    with pytest.raises(PlanError):
        make_plan(parse(
            'SELECT changed_cols("c_", true, temperature) + 1 AS x FROM stream'))


def test_expr_escape_hatch(spark):
    # functions_expr.go:16-100 — expr(str) evaluates a dialect expression;
    # inner functions use dialect semantics (log = base-10)
    s = StreamSQL(spark)
    s.execute("SELECT expr('temperature * 1.8 + 32') AS f, "
              "expr('log(temperature)') AS lg FROM stream")
    out = s.emit_sync({"temperature": 100.0})
    assert round(out["f"], 1) == 212.0
    assert round(out["lg"], 6) == 2.0


def test_expr_escape_requires_literal(spark):
    from streamsql_spark.dialect.parser import parse
    from streamsql_spark.dialect.planner import plan as make_plan
    from streamsql_spark.engine.batch import BatchExecutor, ExecError

    with pytest.raises(Exception):
        df = spark.createDataFrame([(1.0,)], "temperature double")
        s = StreamSQL(spark)
        s.execute("SELECT expr(temperature) AS x FROM stream")
        s.query(df).collect()


def test_custom_aggregate_function(spark):
    # functions/aggregator_interface.go:5-18 custom UDAF surface
    s = StreamSQL(spark)
    s.register_aggregate_function(
        "geo_mean", lambda v: float(v.prod() ** (1.0 / len(v))), "double")
    s.execute("SELECT k, geo_mean(v) AS g FROM stream GROUP BY k")
    for r in [{"k": "a", "v": 2.0}, {"k": "a", "v": 8.0}, {"k": "b", "v": 5.0}]:
        s.emit(r)
    out = s.trigger_window()
    out.sort(key=lambda r: r["k"])
    assert [(r["k"], round(r["g"], 6)) for r in out] == [("a", 4.0), ("b", 5.0)]


def test_window_output_analytics(spark):
    # analytic_combo_test.go: lag/had_changed over window-emission rows,
    # state persisting across windows (stream/processor_data.go:443-453)
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, avg(t) AS a, lag(avg(t)) AS prev_avg, "
              "had_changed(true, avg(t)) AS chg FROM stream "
              "GROUP BY deviceId, CountingWindow(2) WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "t": float(v), "ts": i}
            for i, v in enumerate([10, 20, 30, 40, 50, 60], 1)]
    for r in rows:
        s.emit(r)
    out = s.trigger_window()
    out.sort(key=lambda r: r["a"])
    assert [(r["a"], r["prev_avg"], r["chg"]) for r in out] == \
        [(15.0, None, True), (35.0, 15.0, True), (55.0, 35.0, True)]


def test_window_output_acc_sum(spark):
    # acc_sum over successive window aggregates
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, sum(t) AS st, acc_sum(sum(t)) AS cum "
              "FROM stream GROUP BY deviceId, CountingWindow(2) "
              "WITH (TIMESTAMP='ts')")
    rows = [{"deviceId": "d", "t": float(v), "ts": i}
            for i, v in enumerate([1, 2, 3, 4], 1)]
    for r in rows:
        s.emit(r)
    out = s.trigger_window()
    out.sort(key=lambda r: r["st"])
    assert [(r["st"], r["cum"]) for r in out] == [(3.0, 3.0), (7.0, 10.0)]


def test_changed_cols_over_window_aggregates(spark):
    # analytic_parity_test.go:546: changed_cols tracking avg and max
    s = StreamSQL(spark)
    s.execute('SELECT changed_cols("c_", true, avg(t), max(t)) FROM stream '
              "GROUP BY CountingWindow(2) WITH (TIMESTAMP='ts')")
    rows = [{"t": float(v), "ts": i}
            for i, v in enumerate([10, 20, 30, 20, 30, 20], 1)]
    for r in rows:
        s.emit(r)
    out = s.trigger_window()
    # window avgs/maxes: (15,20), (25,30), (25,30) — the third window
    # changes nothing → omitEmpty suppresses it (reference changedAny)
    assert len(out) == 2
    assert sorted((r["c_avg"], r["c_max"]) for r in out) == \
        [(15.0, 20.0), (25.0, 30.0)]


def test_schema_validation_gate(spark):
    # schema/schema.go: async drops bad rows, sync errors (streamsql.go:227)
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("t", DoubleType())])
    s = StreamSQL(spark, schema=schema)
    s.execute("SELECT deviceId, t FROM stream")
    s.emit({"deviceId": "d1", "t": 1.5})
    s.emit({"deviceId": "d2"})            # missing field → dropped
    s.emit({"deviceId": "d3", "t": "x"})  # wrong type → dropped
    out = s.trigger_window()
    assert [r["deviceId"] for r in out] == ["d1"]
    with pytest.raises(ValueError):
        s2 = StreamSQL(spark, schema=schema)
        s2.execute("SELECT deviceId FROM stream")
        s2.emit_sync({"deviceId": "d4"})  # sync mode errors


def test_robustness_edge_cases(spark):
    # error_handling_test.go robustness matrix: heterogeneous rows
    # (missing fields read as NULL), empty trigger, double-stop — none
    # may raise
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, temperature FROM stream WHERE temperature > 5")
    s.emit({"deviceId": "a", "temperature": 10.0})
    s.emit({"deviceId": "b"})                      # missing temperature
    s.emit({"temperature": 7.0})                   # missing deviceId
    out = s.trigger_window()
    assert [(r["deviceId"], r["temperature"]) for r in out] == \
        [("a", 10.0), (None, 7.0)]

    s2 = StreamSQL(spark)
    s2.execute("SELECT deviceId FROM stream")
    assert s2.trigger_window() == []
    s2.stop()
    s2.stop()  # idempotent


def test_api_surface_parity(spark):
    # IsAggregationQuery / AddSyncSink / ToChannel analogs
    s = StreamSQL(spark)
    s.execute("SELECT k, sum(v) AS s FROM stream GROUP BY k")
    assert s.is_aggregation_query() is True
    seen = []
    s.add_sync_sink(lambda rows: seen.append(len(rows)))
    s.emit({"k": "a", "v": 1})
    s.trigger_window()
    assert seen == [1]
    assert [len(b) for b in s.to_channel()] == [1]
    d = StreamSQL(spark)
    d.execute("SELECT k FROM stream")
    assert d.is_aggregation_query() is False


def test_lag_ignorenull_linear_at_scale(spark):
    """lag(x, n>1) with ignoreNull must not build an unbounded running
    buffer: 100k rows on ONE key (single window partition) finishes in
    seconds (the old running-collect_list construction was O(rows²) —
    minutes at this size), and the values are exact."""
    import time

    from pyspark.sql import functions as F

    n_rows = 100_000
    df = (spark.range(n_rows)
          .select(F.lit("k").alias("k"),
                  F.col("id").alias("event_id"),
                  F.timestamp_seconds(1700000000 + F.col("id")).alias("ts"),
                  # every 3rd value is null — exercises non-null tracking
                  F.when(F.col("id") % 3 != 0, F.col("id").cast("double"))
                   .alias("v")))
    s = StreamSQL(spark)
    s.execute("SELECT event_id, lag(v, 2) OVER (PARTITION BY k) AS prev2 "
              "FROM stream")
    t0 = time.monotonic()
    rows = s.query(df).collect()
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"lag ignoreNull path took {elapsed:.0f}s"
    got = {r["event_id"]: r["prev2"] for r in rows}
    # exact check against a rolling non-null history
    hist = []
    for i in range(n_rows):
        expect = hist[-2] if len(hist) >= 2 else None
        assert got[i] == expect, (i, got[i], expect)
        if i % 3 != 0:
            hist.append(float(i))


def test_get_stats_counters(spark):
    """GetStats/GetDetailedStats parity (streamsql.go:345-359,
    stream/manager_metrics.go): input/output/dropped counters over the
    emit harness, performance level thresholds from metrics.go:48-61."""
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("k", StringType()),
                         StructField("v", DoubleType())])
    s = StreamSQL(spark, schema=schema)
    s.execute("SELECT k, v * 2 AS v2 FROM stream WHERE v > 1")
    r = s.emit_sync({"k": "a", "v": 5.0})
    assert r["v2"] == 10.0
    assert s.emit_sync({"k": "a", "v": 0.5}) is None  # filtered, no output
    s.emit({"k": "bad_row"})                          # schema drop
    st = s.get_stats()
    assert st["input_count"] == 3
    assert st["output_count"] == 1
    assert st["input_dropped_count"] == 1
    assert st["dropped_count"] == 1
    det = s.get_detailed_stats()
    assert det["basic_stats"]["input_count"] == 3
    assert det["drop_rate"] == round(100.0 / 3, 2)
    assert det["performance_level"] == "warning"  # 33% drop rate > 20


def test_get_stats_streaming_progress(spark):
    """get_stats folds Structured Streaming progress (numInputRows) from
    start_stream queries into input_count, and sink deliveries into
    output_count."""
    from streamsql_spark.streaming.harness import StreamReplay
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, temperature FROM stream WHERE temperature > 0")
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    evt = StructType([StructField("deviceId", StringType()),
                      StructField("temperature", DoubleType()),
                      StructField("ts", LongType())])
    replay = StreamReplay(spark, evt)
    try:
        replay.add_batch([{"deviceId": "d1", "temperature": 1.0, "ts": 1},
                          {"deviceId": "d2", "temperature": -1.0, "ts": 2}])
        got = []
        s.add_sink(lambda rows: got.extend(rows))
        q = s.start_stream(replay.stream(), checkpoint=replay.checkpoint)
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        st = s.get_stats()
        assert st["input_count"] >= 2   # stream progress rows
        assert st["output_count"] == 1  # one row passed the filter
        assert len(got) == 1
    finally:
        replay.cleanup()


def test_emit_sync_analytic_o1_state(spark):
    """EmitSync analytics run on O(1) per-key state (the streaming
    kernel's step function), not a history replay: lag sequences stay
    exact across keys and no history buffer accumulates."""
    s = StreamSQL(spark)
    s.execute("SELECT k, v, lag(v) OVER (PARTITION BY k) AS prev, "
              "round(acc_sum(v) OVER (PARTITION BY k), 2) AS run "
              "FROM stream")
    seq = [("a", 1.0), ("b", 10.0), ("a", 2.0), ("b", 20.0), ("a", 3.0)]
    got = [s.emit_sync({"k": k, "v": v, "ts": 1000 + i})
           for i, (k, v) in enumerate(seq)]
    assert [(r["prev"], r["run"]) for r in got] == [
        (None, 1.0), (None, 10.0), (1.0, 3.0), (10.0, 30.0), (2.0, 6.0)]
    assert s._history == []  # no replay buffer


def test_schema_dropped_and_is_cep(spark):
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)
    schema = StructType([StructField("k", StringType()),
                         StructField("v", DoubleType())])
    s = StreamSQL(spark, schema=schema)
    s.execute("SELECT k FROM stream")
    s.emit({"k": "ok", "v": 1.0})
    s.emit({"k": "bad"})          # missing v
    s.emit({"k": 3, "v": 1.0})    # k type mismatch
    assert s.schema_dropped() == 2
    assert s.is_cep_query() is False
    c = StreamSQL(spark)
    c.execute("""
        SELECT a_id FROM stream MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES A.event_id AS a_id
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A) DEFINE A AS v > 0)
    """)
    assert c.is_cep_query() is True


def test_windowed_buffer_aggs_are_arrival_ordered(spark):
    """first_value/last_value/merge_agg inside a time window order by
    event time WITHIN each window (the arrival-order column combines
    with the window struct in the same groupBy)."""
    rows = [("d1", float(v), 1000 * i) for i, v in enumerate([5, 3, 9, 2, 8, 1])]
    df = spark.createDataFrame(rows, "k string, v double, ts_ms long")
    s = StreamSQL(spark)
    s.execute("SELECT k, first_value(v) AS fv, last_value(v) AS lv, "
              "merge_agg(v) AS seq FROM stream GROUP BY k, TumblingWindow('3s') "
              "WITH (TIMESTAMP='ts_ms', TIMEUNIT='ms')")
    got = sorted(((r["fv"], r["lv"], r["seq"])
                  for r in s.query(df).collect()))
    assert got == [(2.0, 1.0, "2.0,8.0,1.0"), (5.0, 9.0, "5.0,3.0,9.0")]


def test_multimodal_real_ppm_and_wav_decode(spark):
    """Codec-free formats decode for REAL in the multimodal kernel:
    a binary PPM yields pixel-luma features, a PCM WAV yields
    RMS/zero-crossing/FFT-band features; unknown payloads fall back to
    byte statistics with the same output shape."""
    import io
    import math
    import struct
    import wave

    from streamsql_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                      extract_features)

    # 2x2 P6 image: two black px, one mid-gray, one white
    ppm = b"P6\n2 2\n255\n" + bytes([0, 0, 0, 255, 255, 255,
                                     128, 128, 128, 0, 0, 0])
    # 8-sample 16-bit PCM WAV: alternating +/- square wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(struct.pack("<8h", *([16384, -16384] * 4)))
    wav = buf.getvalue()

    rows = [(1, "image", bytearray(ppm), ("image/x-portable-pixmap", len(ppm), "t")),
            (2, "audio", bytearray(wav), ("audio/wav", len(wav), "t")),
            (3, "image", bytearray(b"not media"), ("application/octet-stream", 9, "t"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(media).collect()}

    img = got[1]
    assert img["kind"] == "image/ppm"
    lumas = [0.0, 255.0, 128.0, 0.0]
    assert abs(img["byte_mean"] - sum(lumas) / 4) < 1e-4
    assert abs(sum(img["feature"]) - 1.0) < 1e-4
    assert img["feature"][0] == 0.5  # two black pixels in the lowest bin

    aud = got[2]
    assert aud["kind"] == "audio/wav"
    assert abs(aud["byte_mean"] - 0.5) < 1e-3        # RMS of +/-0.5 square
    assert abs(aud["byte_entropy"] - 1.0) < 1e-6     # alternates every sample
    # a period-2 square wave concentrates power at the Nyquist bin
    # (rfft bin 4 of 5 for 8 samples -> band index 4)
    assert aud["feature"][4] > 0.9

    other = got[3]
    assert other["kind"] == "image"  # untouched fallback
    assert other["n_bytes"] == 9 and len(other["feature"]) == 8


def test_multimodal_resize_and_frame_sample_real(spark):
    """resize_images really resizes P6 payloads (nearest neighbor,
    value-checked) and sample_frames really splits a concatenated-P6
    stream (the netpbm multi-image form ≡ codec-free raw video) into
    standalone frame payloads — neither is a metadata-only stub."""
    from streamsql_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                      decode_ppm,
                                                      encode_ppm,
                                                      resize_images,
                                                      sample_frames)

    # 4x4 image: quadrant colors — nearest-neighbor 2x2 = one px per
    # quadrant
    import numpy as np
    img = np.zeros((4, 4, 3), np.uint8)
    img[:2, :2] = (10, 10, 10)
    img[:2, 2:] = (20, 20, 20)
    img[2:, :2] = (30, 30, 30)
    img[2:, 2:] = (40, 40, 40)
    ppm = encode_ppm(img)
    rows = [(1, "image", bytearray(ppm),
             ("image/x-portable-pixmap", len(ppm), "t")),
            (2, "image", bytearray(b"JFIF..."),
             ("image/jpeg", 7, "t"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in resize_images(media, 2, 2).collect()}
    small = decode_ppm(bytes(got[1]["payload"]))
    assert small.shape == (2, 2, 3)
    assert [small[0, 0, 0], small[0, 1, 0],
            small[1, 0, 0], small[1, 1, 0]] == [10, 20, 30, 40]
    assert got[1]["resized"] is True
    assert got[1]["meta"]["source"].endswith("|resized:2x2")
    # codec payload passes through byte-identical (the seam owns it)
    assert bytes(got[2]["payload"]) == b"JFIF..." and got[2]["resized"] is False
    assert got[2]["meta"]["source"] == "t"

    # "video" = 5 concatenated P6 frames, distinguishable by pixel value
    frames = []
    for i in range(5):
        f = np.full((2, 3, 3), i * 10, np.uint8)
        frames.append(encode_ppm(f))
    vid = b"".join(frames)
    vmedia = spark.createDataFrame(
        [(7, "video", bytearray(vid), ("video/x-ppm-stream", len(vid), "t")),
         (8, "video", bytearray(b"mp4.."), ("video/mp4", 5, "t"))],
        MEDIA_SCHEMA)
    out = sorted((r["frame_index"], r["frame_w"], r["frame_h"],
                  decode_ppm(bytes(r["payload"]))[0, 0, 0])
                 for r in sample_frames(vmedia, every_n=2).collect())
    # frames 0, 2, 4 sampled; each re-emitted as a standalone 3x2 P6
    assert out == [(0, 3, 2, 0), (2, 3, 2, 20), (4, 3, 2, 40)]


def test_source_format_zoo(spark, tmp_path):
    """read_source / read_stream_source: the same dialect SQL runs over
    CSV, JSON, ORC, and parquet files (the reference's any-connector
    intake, SURVEY §2.1)."""
    from streamsql_spark.sources import read_source, read_stream_source

    df = spark.createDataFrame(
        [("d1", 25.0, 1000), ("d2", 5.0, 2000), ("d3", 30.0, 3000)],
        "deviceId string, temperature double, ts long")
    paths = {}
    for fmt in ("parquet", "csv", "json", "orc"):
        p = str(tmp_path / fmt)
        df.write.format(fmt).option("header", "true").save(p)
        paths[fmt] = p

    sql = ("SELECT deviceId, temperature * 2 AS t2 FROM stream "
           "WHERE temperature > 20")
    for fmt, p in paths.items():
        src = read_source(spark, p, fmt)
        s = StreamSQL(spark)
        s.execute(sql)
        got = sorted((r["deviceId"], r["t2"]) for r in s.query(src).collect())
        assert got == [("d1", 50.0), ("d3", 60.0)], fmt

    # streaming: same SQL over a JSON file stream
    s = StreamSQL(spark)
    s.execute(sql)
    stream = read_stream_source(spark, paths["json"], "json",
                                schema=df.schema, maxFilesPerTrigger=1)
    import uuid
    name = "srczoo_" + uuid.uuid4().hex[:8]
    q = (s.query_stream(stream).writeStream.format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["deviceId"], r["t2"])
                 for r in spark.table(name).collect())
    assert got == [("d1", 50.0), ("d3", 60.0)]

    # rate source builds (synthetic load generator)
    assert read_stream_source(spark, fmt="rate",
                              rowsPerSecond=5).isStreaming


def test_emit_sync_analytic_join_drop_returns_none(spark):
    """An INNER JOIN with no dim match drops the event before the
    analytics: EmitSync returns None and the per-key state is untouched
    (processor order join -> analytic, stream/processor_data.go:84-110)."""
    s = StreamSQL(spark)
    s.execute("SELECT s.k, s.v, m.tag AS tag, "
              "lag(s.v) OVER (PARTITION BY s.k) AS prev "
              "FROM stream AS s INNER JOIN m ON s.k = m.k")
    s.register_table("m", [{"k": "a", "tag": "t"}])
    r1 = s.emit_sync({"k": "a", "v": 1.0, "ts": 1})
    assert (r1["prev"], r1["tag"]) == (None, "t")
    # unmatched key: dropped, no crash, no state pollution
    assert s.emit_sync({"k": "zzz", "v": 99.0, "ts": 2}) is None
    r3 = s.emit_sync({"k": "a", "v": 2.0, "ts": 3})
    assert r3["prev"] == 1.0


def test_emit_sync_star_excludes_configured_event_time(spark):
    """had_changed(true, *) via EmitSync must exclude the CONFIGURED
    event-time column (WITH TIMESTAMP=...), matching the batch/streaming
    star expansion — otherwise the ever-changing timestamp makes every
    row read as changed."""
    s = StreamSQL(spark)
    s.execute("SELECT k, v, had_changed(true, *) OVER (PARTITION BY k) AS chg "
              "FROM stream WITH (TIMESTAMP='created_at')")
    r1 = s.emit_sync({"k": "a", "v": 1.0, "created_at": 1000})
    r2 = s.emit_sync({"k": "a", "v": 1.0, "created_at": 2000})  # only ts moved
    r3 = s.emit_sync({"k": "a", "v": 2.0, "created_at": 3000})
    assert (r1["chg"], r2["chg"], r3["chg"]) == (True, False, True)


def test_emit_sync_direct_runs_zero_spark_jobs(spark):
    """The non-analytic emit_sync path evaluates the compiled
    filter/projection via a VALUES-literal LocalRelation, which
    ConvertToLocalRelation folds at optimization time — collect() is
    driver-side, zero jobs scheduled (the reference's in-process direct
    path, streamsql.go:262-282).  Job count is observed through the
    status tracker."""
    s = StreamSQL(spark)
    s.execute("SELECT deviceId, temperature * 1.8 + 32 AS f, "
              "CASE WHEN temperature > 30 THEN 'hot' ELSE 'cold' END AS lvl "
              "FROM stream WHERE temperature > 21")
    s.emit_sync({"deviceId": "w", "temperature": 25.0})  # warm any lazy init

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    r = s.emit_sync({"deviceId": "d1", "temperature": 35.0})
    assert r == {"deviceId": "d1", "f": pytest.approx(95.0), "lvl": "hot"}
    assert s.emit_sync({"deviceId": "d2", "temperature": 18.0}) is None
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])
    assert after == before, f"emit_sync scheduled Spark jobs: {after - before}"


def test_emit_sync_local_literal_parity(spark):
    """The VALUES-literal fast path must produce byte-identical results
    to the createDataFrame slow path across types, including string
    escaping, NULLs (declared schema), bools, floats and timestamps."""
    s = StreamSQL(spark)
    s.execute("SELECT name, v * 2 AS v2, n + 1 AS n1, ok FROM stream "
              "WHERE v >= 0")
    tricky = [
        {"name": "it's a 'quote'", "v": 1.5, "n": 7, "ok": "y"},
        {"name": "back\\slash and \\' mix", "v": 0.1 + 0.2, "n": 0, "ok": "n"},
        {"name": "", "v": 1e-300, "n": -9223372036854775808, "ok": "z"},
    ]
    for row in tricky:
        fast = s.emit_sync(row)
        slow = s.query(s._rows_df([row])).collect()
        assert fast == slow[0].asDict(recursive=True), row


def test_emit_sync_null_with_declared_schema_fast_path(spark):
    schema = StructType([StructField("temperature", DoubleType()),
                         StructField("ts", LongType())])
    s = StreamSQL(spark, schema=schema)
    s.execute("SELECT temperature, ts FROM stream WHERE ts > 0")
    tracker = spark.sparkContext.statusTracker()
    s.emit_sync({"temperature": 1.0, "ts": 1})
    before = set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])
    r = s.emit_sync({"temperature": None, "ts": 5})
    assert r == {"temperature": None, "ts": 5}
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])
    assert after == before


def test_emit_sync_analytic_runs_zero_spark_jobs(spark):
    """With no joins, the analytic emit_sync path is fully foldable:
    both the expression pre-projection and the post-state rebuild are
    VALUES-literal LocalRelations, so per-event latency has no job
    scheduling in it (stream/analytic.go:125-234 in-process analog)."""
    s = StreamSQL(spark)
    s.execute("SELECT temperature, lag(temperature) AS prev FROM stream "
              "WITH (TIMESTAMP='ts')")
    s.emit_sync({"temperature": 23.0, "ts": 1})  # warm: builds the prep
    before = set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])
    r = s.emit_sync({"temperature": 25.0, "ts": 2})
    assert r["prev"] == 23.0
    after = set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])
    assert after == before, f"analytic emit_sync scheduled jobs: {after - before}"


def test_custom_analytic_null_partition_key_shares_one_state(spark):
    """NULL-keyed rows form ONE group (Arrow hands NULL numeric keys to
    pandas as NaN; NaN != NaN must not split them into per-row
    states), matching the groupBy semantics of the analytic window."""
    from streamsql_spark.api.facade import StreamSQL
    from streamsql_spark.functions.examples import PrevValueState
    from streamsql_spark.functions.registry import register_analytic_function

    register_analytic_function("nk_my_prev", PrevValueState, "double")
    s = StreamSQL(spark)
    s.execute("SELECT event_id, value, "
              "nk_my_prev(value) OVER (PARTITION BY user_id) AS prev "
              "FROM stream")
    df = spark.createDataFrame(
        [(1, None, 10.0, 1000), (2, None, 20.0, 2000),
         (3, 7, 30.0, 1500), (4, None, 40.0, 3000)],
        "event_id long, user_id int, value double, ts long"
    ).selectExpr("event_id", "user_id", "value", "timestamp_millis(ts) AS ts")
    got = {r["event_id"]: r["prev"] for r in s.query(df).collect()}
    # the three NULL-keyed rows chain one state in event-time order
    assert got == {1: None, 2: 10.0, 3: None, 4: 20.0}


def test_custom_analytic_walk_prunes_unreferenced_wide_columns(spark):
    """r13 (guide §4): on a direct star-free plan the custom-analytic
    mapInPandas stage must not ship columns nothing downstream reads —
    Catalyst cannot prune through the opaque stage, so the engine
    projects first.  Results are unchanged; the untouched wide column
    is absent from the walk's input, and a column the SELECT references
    still passes through."""
    import re as _re

    from streamsql_spark.api.facade import StreamSQL
    from streamsql_spark.functions.examples import PrevValueState
    from streamsql_spark.functions.registry import register_analytic_function

    register_analytic_function("wp_my_prev", PrevValueState, "double")
    s = StreamSQL(spark)
    s.execute("SELECT event_id, kept_col, "
              "wp_my_prev(value) OVER (PARTITION BY user_id) AS prev "
              "FROM stream")
    df = spark.createDataFrame(
        [(1, 5, 10.0, 1000, "k1", "x" * 64), (2, 5, 20.0, 2000, "k2", "y" * 64)],
        "event_id long, user_id int, value double, ts long, "
        "kept_col string, wide_unused string"
    ).selectExpr("event_id", "user_id", "value",
                 "timestamp_millis(ts) AS ts", "kept_col", "wide_unused")
    out = s.query(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    walk_args = _re.search(r"MapInPandas walk\(([^)]*)\)", plan).group(1)
    assert "wide_unused" not in walk_args
    assert "kept_col" in walk_args
    got = {r["event_id"]: (r["kept_col"], r["prev"]) for r in out.collect()}
    assert got == {1: ("k1", None), 2: ("k2", 10.0)}


def test_analytic_max_partitions_eviction_resets(spark):
    """Port of analytic_runtime_test.go:94-131 WithAnalyticMaxPartitions:
    with cap=2 the oldest partition's state is evicted and resets on
    return; with no cap every partition's state survives."""
    from streamsql_spark.api.facade import StreamSQL

    def emit(e, dev):
        return e.emit_sync({"deviceId": dev, "v": 1})["c"]

    capped = StreamSQL(spark, analytic_max_partitions=2)
    capped.execute("SELECT acc_count(v) OVER (PARTITION BY deviceId) AS c "
                   "FROM stream")
    assert emit(capped, "dev1") == 1
    assert emit(capped, "dev2") == 1
    assert emit(capped, "dev3") == 1          # cap=2 -> dev1 evicted
    assert emit(capped, "dev1") == 1          # reset, not 2

    unbounded = StreamSQL(spark)
    unbounded.execute("SELECT acc_count(v) OVER (PARTITION BY deviceId) AS c "
                      "FROM stream")
    assert emit(unbounded, "dev1") == 1
    assert emit(unbounded, "dev2") == 1
    assert emit(unbounded, "dev3") == 1
    assert emit(unbounded, "dev1") == 2       # state kept


def test_analytic_max_partitions_cap_is_per_spec(spark):
    """Two analytic specs partitioned by different columns must not
    share one LRU pool: each keeps up to cap partitions, and one
    spec's key churn cannot evict the other's live state."""
    from streamsql_spark.api.facade import StreamSQL

    e = StreamSQL(spark, analytic_max_partitions=1)
    e.execute("SELECT acc_count(a) OVER (PARTITION BY u) AS c1, "
              "acc_count(b) OVER (PARTITION BY d) AS c2 FROM stream")
    r1 = e.emit_sync({"u": "x", "d": "y", "a": 1, "b": 1})
    r2 = e.emit_sync({"u": "x", "d": "y", "a": 1, "b": 1})
    r3 = e.emit_sync({"u": "x", "d": "y", "a": 1, "b": 1})
    assert (r1["c1"], r1["c2"]) == (1, 1)
    assert (r2["c1"], r2["c2"]) == (2, 2)
    assert (r3["c1"], r3["c2"]) == (3, 3)


def test_nil_event_handling(spark):
    """error_handling_test.go:247-283: emit(None) is a counted no-op,
    emit_sync(None) is a typed error — neither crashes."""
    from streamsql_spark.api.facade import StreamSQL

    e = StreamSQL(spark)
    e.execute("SELECT id FROM stream")
    e.emit(None)
    stats = e.get_stats()
    assert stats["input_count"] == 1
    assert stats["input_dropped_count"] == 1
    with pytest.raises(ValueError, match="None"):
        e.emit_sync(None)
    # a None-valued field still flows through fine
    assert e.emit_sync({"id": None}) == {"id": None}


@pytest.mark.slow
def test_pyeval_differential_vs_spark_fast_path(spark):
    """The in-process Python evaluator must agree with the Spark fast
    path (the semantics oracle) on every event it does NOT fall back
    on — a seeded randomized sweep over the supported grammar."""
    import random

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    queries = [
        "SELECT t * 1.8 + 32 AS f, h FROM stream WHERE t > 20",
        "SELECT t, h, t * h / 100 AS x FROM stream WHERE t >= 10 AND h < 90",
        "SELECT coalesce(t, -1) AS ct, abs(t - 50) AS d FROM stream",
        "SELECT upper(s) AS u, length(s) AS n FROM stream WHERE s LIKE 'se%'",
        "SELECT CASE WHEN t > 30 THEN 'hot' WHEN t > 10 THEN 'warm' "
        "ELSE 'cold' END AS lvl FROM stream",
        "SELECT t FROM stream WHERE t BETWEEN 10 AND 30 OR s = 'keep'",
        "SELECT t % 7 AS m, -t AS neg, t ^ 2 AS sq FROM stream "
        "WHERE NOT (t < 0) AND t IN (5, 15, 25, 35)",
        "SELECT round(t / 3, 2) AS r, floor(t) AS fl, "
        "concat(s, '_', 'x') AS tag FROM stream WHERE s IS NOT NULL",
        "SELECT * FROM stream WHERE h != 50",
        "SELECT startswith(s, 'se') AS sw, trim(s) AS tr FROM stream",
        "SELECT ltrim(s) AS l, rtrim(s) AS r, reverse(s) AS rv, "
        "repeat(s, 2) AS rp FROM stream",
        "SELECT replace(s, 'e', '3') AS rep, lpad(s, 8, '*') AS lp, "
        "rpad(s, 8, '-') AS rp2 FROM stream",
        "SELECT substring(s, 1, 3) AS sub, indexof(s, 'e') AS ix, "
        "sign(t) AS sg FROM stream",
        "SELECT nullif(s, 'keep') AS nn, ifnull(t, -1) AS nv, "
        "greatest(t, h, 10) AS g, least(t, h) AS ls FROM stream",
        "SELECT if(t > 25, 'big', 'small') AS sz FROM stream",
        # trailing-newline LIKE: Python's $ matches before a final \n,
        # Spark's LIKE does not — exact end-of-string anchoring pinned
        "SELECT s FROM stream WHERE s LIKE '%or'",
        "SELECT s FROM stream WHERE s LIKE 'sens_r'",
        # provided-but-NULL substring length must null-propagate, not
        # fall back to the 2-arg suffix form
        "SELECT substring(s, 0, h) AS sub3 FROM stream",
        # 2^62-magnitude BIGINTs: in-range arithmetic must agree
        # exactly; out-of-range results are covered by
        # test_pyeval_int64_overflow_falls_back (ANSI Spark would raise)
        "SELECT b + h AS bh, b - 25 AS bm, -b AS nb FROM stream "
        "WHERE b IS NOT NULL",
        "SELECT b % 1000 AS bmod, abs(b) AS babs FROM stream",
        # r4 whitelist additions: hashes, mod/power, bit ops, aliases
        "SELECT md5(s) AS m5, sha256(s) AS s2, sha512(s) AS s5 "
        "FROM stream WHERE s IS NOT NULL",
        "SELECT mod(h, 7) AS m7, power(h, 2) AS pw, len(s) AS ln FROM stream",
        "SELECT bitand(h, 12) AS ba, bitor(h, 5) AS bo, "
        "bitxor(h, 255) AS bx, bitnot(h) AS bn FROM stream "
        "WHERE h IS NOT NULL",
        "SELECT is_null(s) AS inl, is_not_null(h) AS inn, "
        "if_null(h, -1) AS ifn, null_if(h, 50) AS nif FROM stream",
        # r5 whitelist addition: ANSI-exact cast subset (values kept in
        # never-raising ranges here; raise/overflow parity is pinned in
        # test_pyeval_cast_subset)
        "SELECT cast(t, 'bigint') AS cb, cast(t, 'double') AS cd "
        "FROM stream",
        "SELECT cast(h, 'string') AS hs, cast(h, 'boolean') AS hb, "
        "cast(t, 'int') AS ti FROM stream",
        # r5: trunc mirrors the rendered floor/ceil formula; dec2hex is
        # two's-complement 64-bit; case_when pairs WHEN/THEN + ELSE
        "SELECT trunc(t, 2) AS t2, trunc(t) AS t0, trunc(t, -1) AS tm "
        "FROM stream",
        "SELECT dec2hex(h) AS dh, dec2hex(t) AS dt FROM stream",
        "SELECT case_when(t > 25, 'hot', t > 0, 'warm', 'cold') AS cw "
        "FROM stream",
        # r5: type-check family (scalar rows: pure Python-type tests;
        # is_numeric's lenient string middle ground falls back)
        "SELECT is_numeric(t) AS nt, is_numeric(s) AS ns, "
        "is_string(s) AS ss, is_bool(t) AS bt, is_array(s) AS ar, "
        "is_object(h) AS ob FROM stream",
        # r6: concat nil-skip + int stringify; whitespace trim family;
        # round keeps the integral type for positive scales
        "SELECT concat(s, '_', h) AS cnh, concat(s, s) AS css FROM stream",
        "SELECT round(h, 2) AS rh2, round(h, 0) AS rh0, "
        "round(h, -1) AS rhm FROM stream WHERE h IS NOT NULL",
        # r10 whitelist additions: chr (ASCII window), json_valid,
        # from_unixtime, the strict-timestamp family, split
        "SELECT chr(h) AS ch FROM stream",
        "SELECT json_valid(j) AS jv FROM stream",
        "SELECT from_unixtime(h * 20000000) AS fu FROM stream "
        "WHERE h IS NOT NULL",
        "SELECT day(dt) AS dd, hour(dt) AS hh, dayofweek(dt) AS dw, "
        "month(dt) AS mo, year(dt) AS yr FROM stream",
        "SELECT date_add(dt, 1, 'month') AS da, to_seconds(dt) AS tsx "
        "FROM stream",
        "SELECT date_format(dt, 'YYYY/MM/DD HH:mi') AS df FROM stream",
        "SELECT len(split(s, 'e')) AS ns FROM stream",
    ]
    rng = random.Random(20260814)

    def event():
        t = rng.choice([None, rng.randint(-40, 60),
                        round(rng.uniform(-40.0, 60.0), 3)])
        h = rng.choice([None, rng.randint(0, 100)])
        s = rng.choice([None, "sensor", " se pad ", "keep", "", "Xy",
                        "12.5", " -7 ", "inf",
                        "sensor\n", "tudor", "se\n",
                        "\t tab lead", "tail \r\n", "\n\nse mid\t",
                        # r7: full unicode.IsSpace trim parity — trim()
                        # strips these, ltrim/rtrim (4-char set) don't
                        " em pad ", "　wide　",
                        " nb ", " og x"])
        b = rng.choice([None, 2 ** 62, -(2 ** 62),
                        2 ** 62 + rng.randint(0, 1000)])
        j = rng.choice([None, '{"a": 1}', '[1, 2, 3]', 'oops', '"str"',
                        '{"a": {"b": []}}', '{"x": 1, "x": 2}',
                        '  [true, null] ', '{'])
        dt = rng.choice([None, "2024-01-15 10:30:45", "2024-02-29",
                         "2023-02-29", "2024-12-31 23:59:59.123456",
                         "2024-01-31", "2024-6-01", "not-a-date"])
        return {"t": t, "h": h, "s": s, "b": b, "j": j, "dt": dt}

    n_py = n_fb = 0
    for sql in queries:
        e = StreamSQL(spark)
        e.execute(sql)
        for _ in range(40):
            row = event()
            py = e._emit_sync_python(dict(row))
            if py is _NOT_APPLICABLE:
                # fallback rows may be Spark-side ERRORS (ANSI cast of
                # 'not-a-date', invalid dates) — the oracle owns them;
                # error-parity edges are pinned in the fixed-case tests
                n_fb += 1
                continue
            sp = e._emit_sync_fast(dict(row))
            assert sp is not _NOT_APPLICABLE, (sql, row)
            n_py += 1

            def norm(d):
                # the Spark fast path can surface DECIMAL where the
                # dialect's dynamic typing (and the batch path) carry
                # doubles — numerically-equal values must compare equal
                import decimal
                out = {}
                for k, v in d.items():
                    if isinstance(v, decimal.Decimal):
                        v = float(v)
                    if isinstance(v, float):
                        v = round(v, 9)
                    out[k] = v
                return out
            assert py is not None or sp is None, (sql, row)
            assert sp is not None or py is None, (sql, row)
            if py is not None:
                assert norm(py) == norm(sp), (sql, row, py, sp)
    # the python path must actually cover the bulk of the grammar —
    # a silent always-fallback would make this test vacuous
    assert n_py > n_fb, (n_py, n_fb)


def test_pyeval_nested_paths_differential(spark):
    """r10 whitelist addition, differential-fuzzed: nested dot/bracket
    paths (a.b[0]['k']) on the in-process path vs the full Spark route
    (createDataFrame inference — the oracle for nested events, since
    the VALUES fast path can't encode containers).  The python path
    answers only recursively-homogeneous containers with every step
    present and a scalar leaf; everything else must FALL BACK, and the
    end-to-end answers must agree wherever the oracle answers."""
    import random

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
    from streamsql_spark.dialect.pyeval import Fallback

    queries = [
        "SELECT device.info.name AS n FROM stream "
        "WHERE device.info.type = 'temp'",
        "SELECT device.cnt + 1 AS c, device.info.name AS n FROM stream",
        "SELECT sensors[0].v AS v0, sensors[-1].v AS vl FROM stream",
        "SELECT m['k'] AS mk, upper(tags[1]) AS t1 FROM stream",
    ]
    rng = random.Random(20260815)

    def event():
        name = rng.choice(["d1", "d2", None])
        typ = rng.choice(["temp", "hum"])
        info = rng.choice([{"name": name, "type": typ},
                           {"type": typ},          # missing leaf
                           None])                  # null mid-path
        device = rng.choice([
            {"info": info, "cnt": rng.randint(0, 9)},  # MIXED: falls back
            {"cnt": rng.randint(0, 9)},
            {"info": info} if info is not None else {"info": {}},
        ])
        sensors = rng.choice([
            [{"v": 1.5}, {"v": 2.5}], [{"v": rng.random()}], [], None])
        return {"device": device, "sensors": sensors,
                "m": rng.choice([{"k": 7, "j": 9}, {"j": 1}, {}]),
                "tags": rng.choice([["a", "b"], ["x"], None])}

    n_py = n_fb = 0
    for sql in queries:
        e = StreamSQL(spark)
        e.execute(sql)
        twin = StreamSQL(spark)
        twin.execute(sql)
        twin._pyeval_ready = (None, Fallback)  # force the Spark route
        for _ in range(25):
            row = event()
            py = e._emit_sync_python(dict(row))
            if py is _NOT_APPLICABLE:
                n_fb += 1
                continue
            n_py += 1
            try:
                sp = twin.emit_sync(dict(row))
            except Exception:
                # oracle inference crash (e.g. a mixed container in an
                # UNREFERENCED field) — pyeval answering a clean
                # traversal there is the documented tolerated delta
                continue
            assert py == sp, (sql, row, py, sp)
    assert n_py >= 20, (n_py, n_fb)  # coverage: the fast path engages


def test_pyeval_json_extract_differential(spark):
    """r10 whitelist addition, differential-fuzzed: json_extract with
    a literal dot/index path and a STRING-or-null leaf vs the Spark
    get_json_object oracle; number/bool/container leaves, duplicate
    keys, and python-unparseable documents must fall back."""
    import random

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    docs = [
        '{"type": "alert", "tags": ["a", "b"], "meta": {"site": "x"}}',
        '{"type": null, "tags": []}',
        '{"meta": {"site": "y \\u00e9\\nz"}}',
        '{"type": 42}',                        # number leaf: fallback
        '{"type": true}',                      # bool leaf: fallback
        '{"type": {"x": 1}}',                  # container leaf: fallback
        '{"type": "a", "type": "b"}',          # duplicate key: fallback
        # ESCAPE-COLLIDED duplicate (the u-escaped first key parses
        # equal to "type"): a raw-text scan can't see it — parse-time
        # duplicate detection must fall back,
        # or pyeval's last-wins would diverge from Jackson's first-match
        '{"\\u0074ype": "q", "type": "r"}',
        'not json at all',                     # parse fail: oracle decides
        '{"tags": ["only"]}',
        None,
    ]
    queries = [
        "SELECT json_extract(payload, '$.type') AS tp FROM stream",
        "SELECT json_extract(payload, '$.tags[1]') AS tg FROM stream",
        "SELECT json_extract(payload, '$.meta.site') AS st FROM stream",
        "SELECT json_extract(payload, 'type') AS tp2 FROM stream",
    ]
    rng = random.Random(7)
    n_py = 0
    for sql in queries:
        e = StreamSQL(spark)
        e.execute(sql)
        for _ in range(20):
            row = {"payload": rng.choice(docs)}
            py = e._emit_sync_python(dict(row))
            sp = e._emit_sync_fast(dict(row))
            assert sp is not _NOT_APPLICABLE
            if py is _NOT_APPLICABLE:
                continue
            n_py += 1
            assert py == sp, (sql, row, py, sp)
    assert n_py >= 30, n_py


def test_pyeval_chr_json_valid_from_unixtime_differential(spark):
    """r10 whitelist additions, differential vs the Spark renderings:
    chr (NULL outside ASCII 0-127), json_valid (python-strict parse
    implies variant-valid; failures/NaN/huge numbers fall back), and
    from_unixtime (UTC epoch formatting; out-of-range years fall
    back).  Every in-process answer must equal the Spark path's."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    cases = [
        ("SELECT chr(c) AS x FROM stream", "c",
         [65, 0, 127, 128, 255, -1, None, True, 65.0]),
        ("SELECT json_valid(p) AS x FROM stream", "p",
         ['{"a": 1}', 'nope', '[1, 2]', '"s"', None, '5',
          '{"a": NaN}', '1e999', '  {"k": [true, null]} ', '{',
          '{"a": 1, "a": 2}', 9]),
        ("SELECT json_type(p) AS x FROM stream", "p",
         ['{"a": 1}', '[1, 2]', '"s"', 'null', ' true', 'false',
          '-2.5e3', '42', None, 'oops', '  [1] ', '{"a": 1, "a": 2}']),
        ("SELECT json_length(p) AS x FROM stream", "p",
         ['[1, 2, 3]', '[]', '{"a": 1, "b": {"c": 2}}', '{}', '"s"',
          '5', 'null', None, ' [1, [2, 3]] ', 'bad']),
        # from_json: int/string/bool/null/container and E-NOTATION
        # numbers mirror; decimal-notation floats arrive as variant
        # DECIMAL (measured) and >38-digit ints widen — fall back
        ("SELECT from_json(p) AS x FROM stream", "p",
         ['{"a": 1, "b": "x", "c": [true, null]}', '5', '"s"', 'null',
          '[1, 2]', '{"a": 1e3}', '{"a": 1.5e-2}', None,
          '{"a": 1.0}', '1.5', '{"big": 99999999999999999999}',
          '{"a": 1, "a": 2}', 'bad',
          # escape surface: a lone \ud800 surrogate comes back
          # '?'-replaced from the JVM (review find r10 — must fall
          # back); a valid pair combines identically on both sides
          '"\\ud800"', '{"\\udc00": 1}', '"\\ud83d\\ude00"',
          '"a\\u0041\\n"']),
        ("SELECT from_unixtime(t) AS x FROM stream", "t",
         [0, 1705312800, -1, -62135596800, 253402300800, None, 1.5]),
    ]
    n_py = 0
    for sql, col, vals in cases:
        e = StreamSQL(spark)
        e.execute(sql)
        for v in vals:
            row = {col: v, "pad": 1}
            py = e._emit_sync_python(dict(row))
            if py is _NOT_APPLICABLE:
                # fallback values may be Spark-side errors too (e.g. a
                # bool fed to chr's int formula) — the oracle owns them
                continue
            sp = e._emit_sync_fast(dict(row))
            assert sp is not _NOT_APPLICABLE
            n_py += 1
            assert py == sp, (sql, v, py, sp)
    assert n_py >= 16, n_py  # 17 of the fixtures take the fast path


def test_pyeval_datetime_family_differential(spark):
    """r10 whitelist: the strict-timestamp family (field extractors,
    extract, to_seconds, date_add/date_sub/date_diff, date_format/
    date_parse, split + len-over-array), differential-fuzzed against
    the Spark renderings over randomized timestamps including
    month-end clamps, leap days, sub-second fractions (to_seconds
    truncates toward ZERO — Java division, measured), negative spans,
    and out-of-shape strings (which must fall back)."""
    import random

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    rng = random.Random(11)

    def rand_ts():
        y = rng.randint(1969, 2030)
        mo = rng.randint(1, 12)
        d = rng.randint(1, [31, 29 if y % 4 == 0 else 28, 31, 30, 31, 30,
                            31, 31, 30, 31, 30, 31][mo - 1])
        if rng.random() < 0.3:
            return f"{y:04d}-{mo:02d}-{d:02d}"
        frac = f".{rng.randint(0, 999999):06d}" if rng.random() < 0.3 else ""
        return (f"{y:04d}-{mo:02d}-{d:02d} {rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}{frac}")

    edge = ["2024-01-31 05:00:00", "2024-02-29", "2023-02-28 23:59:59",
            "2024-03-31", "2024-12-31 23:59:59.999999",
            "1969-12-31 23:59:59.5", "1970-01-01 00:00:00",
            "2024-02-30", "2024-13-01", "not a date",
            "2024-01-15T10:00:00", None]
    queries = [
        "SELECT day(t) AS a, hour(t) AS b, dayofweek(t) AS c, "
        "dayofyear(t) AS d, month(t) AS e, year(t) AS f, minute(t) AS g,"
        " second(t) AS h FROM stream",
        "SELECT extract('weekday', t) AS a, extract('yearday', t) AS b, "
        "extract('hour', t) AS c FROM stream",
        "SELECT to_seconds(t) AS a FROM stream",
        "SELECT date_add(t, 1, 'month') AS a, date_add(t, -2, 'month') "
        "AS b, date_add(t, 13, 'month') AS c, date_add(t, 2, 'year') "
        "AS d, date_sub(t, 1, 'quarter') AS e FROM stream",
        "SELECT date_add(t, 7, 'day') AS a, date_add(t, -3, 'hour') AS "
        "b, date_add(t, 90, 'second') AS c, date_sub(t, 2, 'week') AS d"
        " FROM stream",
        "SELECT date_format(t, 'YYYY/MM/DD') AS a, date_format(t, "
        "'HH:mi:SS') AS b, date_format(t, 'YY-MM') AS c FROM stream",
    ]
    n_py = 0
    for sql in queries:
        e = StreamSQL(spark)
        e.execute(sql)
        for _ in range(12):
            row = {"t": rng.choice(edge) if rng.random() < 0.4
                   else rand_ts()}
            py = e._emit_sync_python(dict(row))
            if py is _NOT_APPLICABLE:
                continue
            sp = e._emit_sync_fast(dict(row))
            n_py += 1
            assert py == sp, (sql, row, py, sp)

    # pairwise: date_diff truncates toward zero on fractional spans
    e = StreamSQL(spark)
    e.execute("SELECT date_diff(a, b, 'day') AS x, "
              "date_diff(a, b, 'hour') AS y, "
              "date_diff(a, b, 'second') AS z FROM stream")
    for _ in range(15):
        row = {"a": rand_ts(), "b": rand_ts()}
        py = e._emit_sync_python(dict(row))
        if py is _NOT_APPLICABLE:
            continue
        sp = e._emit_sync_fast(dict(row))
        n_py += 1
        assert py == sp, (row, py, sp)

    # date_parse strict round trip + mismatch fallback
    e = StreamSQL(spark)
    e.execute("SELECT date_parse(t, 'YYYY-MM-DD HH:mi:SS') AS a "
              "FROM stream")
    py = e._emit_sync_python({"t": "2024-03-05 09:08:07"})
    sp = e._emit_sync_fast({"t": "2024-03-05 09:08:07"})
    assert py == sp
    assert e._emit_sync_python({"t": "2024/03/05"}) is _NOT_APPLICABLE

    # split keeps leading/trailing empties (strings.Split semantics);
    # len over an array-producing arg counts elements
    e = StreamSQL(spark)
    e.execute("SELECT split(s, '.') AS a, len(split(s, '.')) AS n "
              "FROM stream")
    for s in ["a.b.c", ".a.", "abc", "", "..", None]:
        py = e._emit_sync_python({"s": s})
        sp = e._emit_sync_fast({"s": s})
        assert py is not _NOT_APPLICABLE
        n_py += 1
        assert py == sp, (s, py, sp)

    assert n_py >= 60, n_py


def test_pyeval_format_and_regexp_substring_differential(spark):
    """r10 whitelist: format (Java Formatter %.df rounds HALF_UP on
    the SHORTEST decimal repr — 2.675 → '2.68' — and prints a NULL
    argument as 'null' truncated to the precision, both measured) and
    regexp_substring on the dialect-agnostic pattern subset (no
    backslash escapes / anchors / (?...) constructs)."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    def both(sql, row):
        e = StreamSQL(spark)
        e.execute(sql)
        py = e._emit_sync_python(dict(row))
        if py is _NOT_APPLICABLE:
            return py, None
        return py, e._emit_sync_fast(dict(row))

    n = 0
    for pat, vals in [
        ("0.00", [3.14159, 2.675, 0.125, 1.005, -0.0001, 0.0, -2.5,
                  1e15, 123, None, 2.665, 0.005, 99.995, -1.675]),
        ("0", [3.6, -3.6, 0.5, 2.5, None]),
        ("0.000000", [1.23456789, None]),
    ]:
        for v in vals:
            py, sp = both(f"SELECT format(x, '{pat}') AS f FROM stream",
                          {"x": v})
            assert py is not _NOT_APPLICABLE, (pat, v)
            n += 1
            assert py == sp, (pat, v, py, sp)
    # |v| >= 2^53 falls back (ADVICE r10): pre-JDK-19 Double.toString
    # emits NON-shortest digits there (measured: format_string('%.2f',
    # 2.1555643565556067e17) is '215556435655560672.00' on this JVM,
    # where shortest-repr HALF_UP would print '...670.00') — the fast
    # path must not answer where the JVM formats from different digits
    for v in (2.1555643565556067e17, 1.373428634809579e18, 1e25, 1e30,
              1.7e307, -9.334465534579821e17, float(2 ** 53)):
        e = StreamSQL(spark)
        e.execute("SELECT format(x, '0.00') AS f FROM stream")
        assert e._emit_sync_python({"x": v}) is _NOT_APPLICABLE, v
    # the boundary stays in-process: 2^53 - 1 is the largest exact int
    py, sp = both("SELECT format(x, '0.00') AS f FROM stream",
                  {"x": float(2 ** 53 - 1)})
    assert py is not _NOT_APPLICABLE and py == sp
    py, sp = both("SELECT format(x) AS f FROM stream", {"x": 42})
    assert py == sp == {"f": "42"}

    for patt, s in [("[0-9]+", "phone: 123-456"), ("[0-9]+", "none"),
                    ("(ab)+c?", "xxababcyy"), ("a|bb", "cbba"),
                    ("x{2,3}", "wxxxxz"),
                    ("[0-9]+", None), ("", "abc")]:
        py, sp = both(
            f"SELECT regexp_substring(s, '{patt}') AS r FROM stream",
            {"s": s})
        assert py is not _NOT_APPLICABLE, (patt, s)
        n += 1
        assert py == sp, (patt, s, py, sp)
    # excluded pattern constructs stay on the Spark path: backslash
    # classes, '.' (Java's line-terminator set excludes \r where
    # Python's only excludes \n), '&&' (Java class intersection),
    # '{,' (quantifier in Python, syntax error in Java)
    # ADVICE r10 additions: a '[' INSIDE a class is a nested-class
    # union in Java but a literal in Python ('[a[b]]' on 'a]' → 'a]'
    # vs Java's 'a'), a ']' as FIRST class member is a Python literal
    # but a Java PatternSyntaxException, and an unterminated class has
    # engine-specific recovery
    for bad in ("\\\\d+", "a.b", "[a&&b]", "a{,3}",
                "[a[b]]", "[]a]", "[abc"):
        e = StreamSQL(spark)
        e.execute(f"SELECT regexp_substring(s, '{bad}') AS r FROM stream")
        assert e._emit_sync_python({"s": "a1b"}) is _NOT_APPLICABLE, bad
    # plain classes (incl. a ']' OUTSIDE any class and '-' ranges)
    # still answer in-process
    for patt, s in [("[a-c]+]", "xbca]y"), ("a][b]", "xa]by"),
                    ("[a-]", "x-y")]:
        py, sp = both(
            f"SELECT regexp_substring(s, '{patt}') AS r FROM stream",
            {"s": s})
        assert py is not _NOT_APPLICABLE, (patt, s)
        assert py == sp, (patt, s, py, sp)

    # encode/decode: exactly-specified base64/hex; decode admits only
    # canonical input whose bytes are strict UTF-8
    for sql, s in [
        ("SELECT encode(s, 'base64') AS r FROM stream", "hello world"),
        ("SELECT encode(s, 'base64') AS r FROM stream", ""),
        ("SELECT encode(s, 'hex') AS r FROM stream", "AbC"),
        ("SELECT decode(s, 'base64') AS r FROM stream",
         "aGVsbG8gd29ybGQ="),
        ("SELECT decode(s, 'hex') AS r FROM stream", "416243"),
        ("SELECT encode(s, 'base64') AS r FROM stream", None),
    ]:
        py, sp = both(sql, {"s": s})
        assert py is not _NOT_APPLICABLE, (sql, s)
        n += 1
        assert py == sp, (sql, s, py, sp)
    # non-canonical/invalid decode input, the url format, and lone
    # surrogates (utf-8-unencodable) fall back instead of crashing
    for sql, s in [
        ("SELECT decode(s, 'base64') AS r FROM stream", "aGVsbG8"),
        ("SELECT decode(s, 'hex') AS r FROM stream", "ff"),
        ("SELECT encode(s, 'url') AS r FROM stream", "a b~c"),
        ("SELECT encode(s, 'hex') AS r FROM stream", "\ud800"),
    ]:
        e2 = StreamSQL(spark)
        e2.execute(sql)
        assert e2._emit_sync_python({"s": s}) is _NOT_APPLICABLE, (sql, s)
    # arity is the reference's exact (value, format) — typed plan error
    import pytest
    with pytest.raises(ValueError, match="argument count"):
        StreamSQL(spark).execute("SELECT encode(s) AS r FROM stream")
    assert n >= 30, n


def test_pyeval_array_functions_differential(spark):
    """r10 whitelist: the array family (contains/position/remove/
    distinct/union/intersect/except/length) over homogeneous scalar
    arrays, differential vs the FULL Spark route (the templated
    VALUES oracle declines array rows — the twin with pyeval disabled
    is the real fallback).  Pinned edges: empty arrays infer
    array<string> on the Spark route (measured: array_union([], [1])
    is an analysis error — class-indeterminate sides fall back);
    array_contains is three-valued (null element + miss → NULL);
    array_position is 1-based with 0 for a miss."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
    from streamsql_spark.dialect.pyeval import Fallback

    def both(sql, row):
        e = StreamSQL(spark)
        e.execute(sql)
        py = e._emit_sync_python(dict(row))
        if py is _NOT_APPLICABLE:
            return py, None
        t = StreamSQL(spark)
        t.execute(sql)
        t._pyeval_ready = (None, Fallback)  # twin: force the Spark route
        return py, t.emit_sync(dict(row))

    n_py = 0
    cases = [
        ("SELECT array_contains(t, 'b') AS a, array_contains(t, 'z') "
         "AS b FROM stream", {"t": ["a", "b"]}),
        ("SELECT array_contains(t, 'z') AS a FROM stream",
         {"t": ["a", None]}),
        ("SELECT array_contains(t, 2) AS a FROM stream", {"t": [1, 2]}),
        ("SELECT array_contains(t, 1.5) AS a FROM stream",
         {"t": [1.5, 2.5]}),
        ("SELECT array_position(t, 'b') AS a, array_position(t, 'z') "
         "AS b FROM stream", {"t": ["a", "b", "b"]}),
        ("SELECT array_position(t, 'z') AS a FROM stream",
         {"t": ["a", None]}),
        ("SELECT array_distinct(t) AS a FROM stream",
         {"t": ["b", "a", "b", None, "a", None]}),
        ("SELECT array_length(t) AS a FROM stream", {"t": [1, 2, 3]}),
        ("SELECT array_length(t) AS a FROM stream", {"t": None}),
        ("SELECT array_union(x, y) AS a, array_intersect(x, y) AS b, "
         "array_except(x, y) AS c FROM stream",
         {"x": [1, 2, 2, None], "y": [2, 3, None]}),
        ("SELECT array_union(x, y) AS a FROM stream",
         {"x": ["p"], "y": ["q", "p"]}),
        ("SELECT array_remove(t, 'b') AS a FROM stream",
         {"t": ["a", "b", None, "b"]}),
        ("SELECT array_remove(t, 2) AS a FROM stream",
         {"t": [1, 2, 3, 2]}),
    ]
    for sql, row in cases:
        py, sp = both(sql, row)
        assert py is not _NOT_APPLICABLE, (sql, row)
        n_py += 1
        assert py == sp, (sql, row, py, sp)
    assert n_py == len(cases)

    # class-indeterminate (empty) vs typed side: Spark route errors —
    # pyeval must NOT answer
    e = StreamSQL(spark)
    e.execute("SELECT array_union(x, y) AS a FROM stream")
    assert e._emit_sync_python({"x": [], "y": [1, 1]}) is _NOT_APPLICABLE
    # empty array + non-string probe: same class of analysis error
    e2 = StreamSQL(spark)
    e2.execute("SELECT array_contains(t, 5) AS a FROM stream")
    assert e2._emit_sync_python({"t": []}) is _NOT_APPLICABLE
    # nested arrays: single-event inference territory — Spark path
    e3 = StreamSQL(spark)
    e3.execute("SELECT array_distinct(t) AS a FROM stream")
    assert e3._emit_sync_python({"t": [[1], [1]]}) is _NOT_APPLICABLE


def test_pyeval_custom_scalar_udf_in_process(spark):
    """A runtime-registered scalar UDF answers on the per-event python
    path by calling the SAME callable in-process (the reference's
    custom functions run in-process, functions/registry.go:239-288) —
    guarded by the exact result-type contract: an exact-type result
    matches the Spark path bit-for-bit; a coercion-needing result
    (int for a DOUBLE declaration — the pickled UDF path NULLs it) or
    a raising UDF re-routes to the Spark path."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    def square(x):
        return None if x is None else float(x) * float(x)

    def mask(s):
        return None if s is None else s[:3] + "****"

    def str_len(s):
        return None if s is None else len(s)

    def badtype(x):
        return 4  # int for a double declaration: converter-dependent

    def boom(x):
        raise ValueError("user bug")

    regs = [("zz_square", square, "double"), ("zz_mask", mask, "string"),
            ("zz_len", str_len, "bigint"),
            ("zz_badtype", badtype, "double"), ("zz_boom", boom, "double")]

    def run(sql, row):
        e = StreamSQL(spark)
        e.execute(sql)
        for name, fn, rt in regs:
            e.register_function(name, fn, rt)
        return (e._emit_sync_python(dict(row)),
                e._emit_sync_fast(dict(row)))

    py, sp = run("SELECT zz_square(v) AS s, zz_mask(p) AS m, "
                 "zz_len(p) AS n FROM stream WHERE zz_square(v) > 4",
                 {"v": 3.0, "p": "5551234"})
    assert py == sp == {"s": 9.0, "m": "555****", "n": 7}
    py, sp = run("SELECT zz_square(v) AS s FROM stream",
                 {"v": None})
    assert py == sp == {"s": None}
    # non-exact result type: python path must NOT answer (the Spark
    # pickle path NULLs the value — converter-dependent)
    py, sp = run("SELECT zz_badtype(v) AS s FROM stream", {"v": 1.0})
    assert py is _NOT_APPLICABLE and sp == {"s": None}
    # raising UDF: python path hands the event to the Spark path,
    # which owns error surfacing
    e = StreamSQL(spark)
    e.execute("SELECT zz_boom(v) AS s FROM stream")
    for name, fn, rt in regs:
        e.register_function(name, fn, rt)
    assert e._emit_sync_python({"v": 1.0}) is _NOT_APPLICABLE
    # container argument: handoff representation is UDF-mode-dependent
    e2 = StreamSQL(spark)
    e2.execute("SELECT zz_len(tags) AS n FROM stream")
    for name, fn, rt in regs:
        e2.register_function(name, fn, rt)
    assert e2._emit_sync_python({"tags": ["a", "b"]}) is _NOT_APPLICABLE


def test_pyeval_time_family_clock_and_tz_gate(spark):
    """now()/current_date()/current_time()/unix_timestamp() answer
    in-process under a UTC session (type-exact, clock within
    tolerance — they are NONDETERMINISTIC, so value-identity with a
    Spark evaluation at another instant is not the bar); a non-UTC
    session tz disables them (JVM/Python tzdata agreement is
    unverifiable)."""
    import datetime

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
    from streamsql_spark.dialect import pyeval

    e = StreamSQL(spark)
    e.execute("SELECT now() AS t, current_date() AS d, "
              "current_time() AS c, unix_timestamp() AS u FROM stream")
    py = e._emit_sync_python({"v": 1})
    sp = e._emit_sync_fast({"v": 1})
    assert py is not _NOT_APPLICABLE
    assert isinstance(py["t"], datetime.datetime)
    assert isinstance(py["d"], datetime.date)
    assert isinstance(py["c"], str) and len(py["c"]) == 8
    assert isinstance(py["u"], int)
    assert abs((py["t"] - sp["t"]).total_seconds()) < 60
    assert abs(py["u"] - sp["u"]) < 60

    try:
        pyeval.set_session_tz("America/New_York")
        e2 = StreamSQL(spark)
        e2.execute("SELECT now() AS t FROM stream")
        # compile directly: _emit_sync_python would re-read the real
        # session tz and undo the override.  Non-UTC at COMPILE time
        # refuses outright (a statement compiled under one facade must
        # not start answering because another facade later set the
        # process-wide tz back to UTC)
        from streamsql_spark.dialect.pyeval import compile_direct
        assert compile_direct(e2._stmt) is None
        # the runtime gate remains as a tripwire for the reverse flip:
        # compiled under UTC, the tz global then changes
        pyeval.set_session_tz("UTC")
        fn = compile_direct(e2._stmt)
        assert fn is not None
        pyeval.set_session_tz("America/New_York")
        import pytest
        with pytest.raises(pyeval.Fallback):
            fn({"v": 1})
    finally:
        pyeval.set_session_tz(
            spark.conf.get("spark.sql.session.timeZone"))


def test_pyeval_int64_overflow_falls_back(spark):
    """Python's arbitrary-precision ints must not silently exceed
    BIGINT range on the in-process path: Spark (ANSI) raises on
    overflow, so pyeval must hand the event back to the Spark path
    rather than answer 2^63 (ADVICE r3 / VERDICT r3 #3)."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
    from streamsql_spark.dialect.pyeval import _ARITH, Fallback, _i64

    big = 2 ** 62
    e = StreamSQL(spark)
    e.execute("SELECT a + b AS s FROM stream")
    assert e._emit_sync_python({"a": big, "b": big}) is _NOT_APPLICABLE
    # in-range big ints still take the python path, exactly
    assert e._emit_sync_python({"a": big, "b": 5}) == {"s": big + 5}

    for op, a, b in [("+", big, big), ("-", -big, big + 1),
                     ("*", big, 2), ("*", 2 ** 32, 2 ** 32)]:
        import pytest as _pytest
        with _pytest.raises(Fallback):
            _ARITH[op](a, b)
    # boundary values are legal BIGINTs
    assert _ARITH["+"](2 ** 63 - 2, 1) == 2 ** 63 - 1
    assert _ARITH["-"](-(2 ** 63) + 1, 1) == -(2 ** 63)
    assert _i64(2 ** 63 - 1) == 2 ** 63 - 1
    # an out-of-range OPERAND (e.g. an event field already past int64,
    # which Spark would have rejected at ingest) also falls back
    import pytest as _pytest
    with _pytest.raises(Fallback):
        _ARITH["+"](2 ** 63, 1)


def test_pyeval_bigint_guard_on_huge_int_inputs(spark):
    """ADVICE r5: raw Python ints beyond ±2^63 must Fallback in EVERY
    python-path entry point — the Spark oracle encodes such values as
    CAST(v AS BIGINT) literals, which RAISE, so any python-path answer
    would break the byte-identical-or-Fallback contract.  Guards:
    column admission (col()), is_numeric, and the string/double/bool
    casters (the arithmetic _num path was already covered)."""
    import pytest as _pytest

    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
    from streamsql_spark.dialect.pyeval import (
        Fallback, _cast_bool, _cast_double, _cast_string, _fn_is_numeric)

    huge = 2 ** 63
    for fn in (_fn_is_numeric, _cast_string, _cast_double, _cast_bool):
        with _pytest.raises(Fallback):
            fn(huge)
        with _pytest.raises(Fallback):
            fn(-huge - 1)
    # boundary values are legal BIGINTs and still answer in-process
    assert _fn_is_numeric(huge - 1) is True
    assert _cast_string(-huge) == str(-huge)
    assert _cast_double(huge - 1) == float(huge - 1)
    assert _cast_bool(huge - 1) is True
    # column admission: an event field already past int64 re-routes the
    # whole event, even through functions with no numeric semantics
    e = StreamSQL(spark)
    e.execute("SELECT is_numeric(a) AS n FROM stream")
    assert e._emit_sync_python({"a": huge}) is _NOT_APPLICABLE
    assert e._emit_sync_python({"a": huge - 1}) == {"n": True}


def test_pyeval_bitops_match_spark_twos_complement(spark):
    """Bit ops on negative ints must reproduce Java's int64
    two's-complement results exactly — pinned against Spark itself on
    literal queries (the differential fuzz only generates h >= 0)."""
    from streamsql_spark.dialect.pyeval import _FNS, _fn_bit

    cases = [("bitand", -7, 12), ("bitor", -7, 12), ("bitxor", -7, 12),
             ("bitand", -(2 ** 62), 255), ("bitxor", 2 ** 62, -1)]
    for name, a, b in cases:
        op = {"bitand": "&", "bitor": "|", "bitxor": "^"}[name]
        want = spark.sql(f"SELECT CAST({a} AS BIGINT) {op} "
                         f"CAST({b} AS BIGINT) AS r").collect()[0]["r"]
        assert _FNS[name](a, b) == want, (name, a, b)
    for a in (-5, 0, 2 ** 62, -(2 ** 63)):
        want = spark.sql(f"SELECT ~CAST({a} AS BIGINT) AS r").collect()[0]["r"]
        assert _FNS["bitnot"](a) == want, a
    # hash parity on a non-ascii string (utf8 byte-level agreement)
    for fn, sql in (("md5", "md5"), ("sha256", "sha2"),):
        arg = "'héllo✓'" if sql == "md5" else "'héllo✓', 256"
        want = spark.sql(f"SELECT {sql}({arg}) AS r").collect()[0]["r"]
        assert _FNS[fn]("héllo✓") == want, fn
    # fractional operand: Spark rejects at analysis — pyeval must
    # Fallback (route to the Spark path), never compute
    import pytest as _pytest
    from streamsql_spark.dialect.pyeval import Fallback
    with _pytest.raises(Fallback):
        _fn_bit("&", 1.5, 2)


def test_pyeval_latency_is_in_process(spark):
    """The compiled python path must evaluate well above the per-event
    Spark round-trip rate (~100/s) — i.e. genuinely in-process."""
    import time

    from streamsql_spark.api.facade import StreamSQL

    e = StreamSQL(spark)
    e.execute("SELECT t * 2 AS d FROM stream WHERE t > 0")
    e.emit_sync({"t": 1.0})
    t0 = time.perf_counter()
    for i in range(2000):
        e.emit_sync({"t": float(i % 50)})
    rate = 2000 / (time.perf_counter() - t0)
    assert rate > 5000, f"{rate:.0f} events/s — python path not engaged?"


@pytest.mark.slow
def _typed(row):
    """An emit_sync result with every value tagged by its type."""
    return None if row is None else \
        {k: (type(v).__name__, v) for k, v in row.items()}


def test_pyeval_analytic_differential_vs_spark_route(spark):
    """The in-process analytic path must produce the same per-event
    outputs AND the same state evolution as the Spark route: two
    engines consume identical event sequences, one with the python
    route disabled."""
    import random

    from streamsql_spark.api.facade import StreamSQL

    queries = [
        "SELECT k, v, lag(v) OVER (PARTITION BY k) AS prev FROM stream",
        "SELECT k, acc_sum(v) OVER (PARTITION BY k) AS s, "
        "acc_count(v) OVER (PARTITION BY k) AS c FROM stream",
        "SELECT latest(v) OVER (PARTITION BY k) AS lv, "
        "acc_max(v) OVER (PARTITION BY k) AS mx FROM stream WHERE v != 13",
        "SELECT k, had_changed(true, k) OVER (PARTITION BY g) AS ch "
        "FROM stream",
        "SELECT acc_sum(v) OVER (PARTITION BY k WHEN v > 10) AS gated "
        "FROM stream",
        "SELECT v - lag(v, 2, 0.0) OVER (PARTITION BY k) AS d2 FROM stream",
        # r4: omitEmpty suppression (solely change-detection select) and
        # analytic-referencing WHERE predicates must agree per event
        "SELECT changed_col(true, v) AS c FROM stream",
        "SELECT k, v FROM stream WHERE changed_col(true, v)",
        "SELECT k, v FROM stream WHERE had_changed(true, v)",
        "SELECT v FROM stream WHERE changed_col(true, v) > 10",
    ]
    rng = random.Random(7)
    for sql in queries:
        py_e = StreamSQL(spark)
        py_e.execute(sql)
        sp_e = StreamSQL(spark)
        sp_e.execute(sql)
        sp_e._an_py = None  # force the Spark route
        assert py_e._compile_analytic_python() is not None, sql
        for i in range(25):
            row = {"k": rng.choice(["a", "b"]),
                   "g": rng.choice(["x", "y"]),
                   "v": rng.choice([None, float(rng.randint(0, 30)),
                                    rng.randint(0, 30)])}
            got = py_e.emit_sync(dict(row))
            want = sp_e.emit_sync(dict(row))
            # value AND type: 5 == 5.0 would hide an int the Spark route
            # widened to a double
            assert _typed(got) == _typed(want), (sql, i, row, got, want)


def test_pyeval_analytic_latency_is_in_process(spark):
    import time

    from streamsql_spark.api.facade import StreamSQL

    e = StreamSQL(spark)
    e.execute("SELECT acc_sum(v) OVER (PARTITION BY k) AS s FROM stream")
    e.emit_sync({"k": "x", "v": 1.0})
    t0 = time.perf_counter()
    for i in range(2000):
        e.emit_sync({"k": "x", "v": float(i)})
    rate = 2000 / (time.perf_counter() - t0)
    assert rate > 5000, f"{rate:.0f} events/s — python analytic path off?"


def test_gateway_statements_stay_in_process(spark, monkeypatch):
    """The per_event benchmark's three gateway statements (filter,
    transform, analytic) answer every one of 2,000 telemetry events
    in-process: no call reaches ``StreamSQL.query`` or
    ``SparkSession.sql``, and the compiled python paths stay compiled.
    A dispatch bug that silently downgrades them to the Spark tier
    fails here, not only as a slower benchmark."""
    import os

    from pyspark.sql import SparkSession

    bench = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench")
    monkeypatch.syspath_prepend(bench)
    import datagen
    from per_event import STATEMENTS

    events = datagen.telemetry(5, 2000)
    engines = {name: StreamSQL(spark).execute(sql)
               for name, sql in STATEMENTS.items()}

    def spark_tier(*a, **k):
        raise AssertionError("emit_sync left the in-process path")

    monkeypatch.setattr(StreamSQL, "query", spark_tier)
    monkeypatch.setattr(SparkSession, "sql", spark_tier)
    for name, e in engines.items():
        outs = [e.emit_sync(ev) for ev in events]
        assert any(o is not None for o in outs), name
        if e._plan.analytics:
            assert e._an_py is not None, name
        else:
            assert e._pyeval_ready[0] is not None, name


# values every cell of the operator grid draws from: NULL, booleans,
# BIGINT edges and one past them, doubles past BIGINT, DECIMAL's 28
# digits and most of the double range, non-finite doubles, strings
_GRID_VALUES = [None, True, False, 0, 1, -1, 2 ** 63 - 1, -(2 ** 63 - 1),
                2 ** 63, -(2 ** 63), 2 ** 53 + 1, 1.5, 2.0 ** 53, 2.0 ** 63,
                float("nan"), float("inf"), float("-inf"), 1e19, -1e19,
                1e27, -1e27, 1e300, -1e300, "a", "b"]
_GRID_OPS = ["+", "-", "*", "/", "%", "^", "=", "==", "!=", "<>", "<", "<=",
             ">", ">="]


def _grid_literal(v) -> str | None:
    """SQL text of ``v`` as a literal; None when it has none (NaN and
    the infinities exist only as column values)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, float) and not math.isfinite(v):
        return None
    return repr(v)


def _grid_same(py, sp) -> bool:
    """One output value of the python path vs the Spark fast path:
    numbers compare by value, exactly (a python float equals a Spark
    DECIMAL only at the same exact value), NaN equals NaN as in Spark,
    and booleans and strings compare only to their own type."""
    if py is None or sp is None:
        return py is sp
    if isinstance(py, (bool, str)) or isinstance(sp, (bool, str)):
        return type(py) is type(sp) and py == sp
    if isinstance(py, float) and isinstance(sp, float) \
            and math.isnan(py) and math.isnan(sp):
        return True
    return py == sp


def test_pyeval_operator_grid_vs_spark_fast_path(spark):
    """Every cell of a seeded operator x placement x value grid either
    falls back or equals the Spark fast path (the semantics oracle):
    each arithmetic and comparison operator with the literal on the
    left, on the right, and column-column, plus literal-branch and
    mixed-branch CASE, round with a literal scale, and floor/ceil —
    over NULL, booleans, BIGINT edges, doubles past BIGINT and past
    DECIMAL's 28 digits, NaN/infinities and strings."""
    import random

    from streamsql_spark.api.facade import _NOT_APPLICABLE

    rng = random.Random(20261017)
    cells = []  # (sql, [events])
    col_events = [{"x": v} for v in _GRID_VALUES]
    for op in _GRID_OPS:
        pairs = [{"x": a, "y": b} for a in _GRID_VALUES for b in _GRID_VALUES]
        cells.append((f"SELECT x {op} y AS r FROM stream",
                      rng.sample(pairs, 60)))
        for v in _GRID_VALUES:
            lit = _grid_literal(v)
            if lit is None:
                continue
            cells.append((f"SELECT x {op} {lit} AS r FROM stream",
                          rng.sample(col_events, 8)))
            cells.append((f"SELECT {lit} {op} x AS r FROM stream",
                          rng.sample(col_events, 8)))
    for expr in [
            "CASE WHEN x > 0 THEN 'pos' WHEN x < 0 THEN 'neg' ELSE 'zero' END",
            "CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN 2.5 END",
            "CASE WHEN x > 0 THEN 1 ELSE 'neg' END",
            "CASE x WHEN 1 THEN 'one' WHEN 1.5 THEN 'x1.5' ELSE 'other' END",
            "CASE WHEN x > 0 THEN x ELSE 0 END",
            "CASE WHEN x = 'a' THEN x ELSE 'z' END",
            "round(x, 2)", "round(x, 0)", "round(x, -1)", "round(x)",
            "floor(x)", "ceil(x)", "ceiling(x)",
            # every value against a DECIMAL literal (exact in Spark) and
            # against ints past 2^53 (rounded to DOUBLE beside a float)
            "x + 1.5", "x - 1.5", "x * 1.5", "1.5 * x", "x / 1.5",
            "x = 9007199254740993", "x < 9007199254740993",
            "greatest(x, 0.5)"]:
        cells.append((f"SELECT {expr} AS r FROM stream", col_events))
    pairs = [{"x": a, "y": b} for a in _GRID_VALUES for b in _GRID_VALUES]
    for expr in ["CASE WHEN x > y THEN x ELSE y END", "x IN (1, 1.5, y)"]:
        cells.append((f"SELECT {expr} AS r FROM stream",
                      rng.sample(pairs, 80)))

    n_py = 0
    bad = []
    for sql, events in cells:
        e = StreamSQL(spark)
        e.execute(sql)
        for row in events:
            py = e._emit_sync_python(dict(row))
            if py is _NOT_APPLICABLE:
                continue
            n_py += 1
            try:
                sp = e._emit_sync_fast(dict(row))
            except Exception as ex:  # the oracle raises: py must not answer
                bad.append((sql, row, py, type(ex).__name__))
                continue
            assert sp is not _NOT_APPLICABLE, (sql, row)
            if (py is None) != (sp is None) or (
                    py is not None and not _grid_same(py["r"], sp["r"])):
                bad.append((sql, row, py, sp))
    assert not bad, bad[:20]
    assert n_py > 500, n_py  # the python path must answer most numeric cells


def test_pyeval_round_past_decimal_context_falls_back(spark, monkeypatch):
    """round(x, d) of |x| >~ 1e26 overflows the Decimal quantizer's
    28-digit context: that event takes the Spark path — on the direct
    path instead of raising out of emit_sync, and on the analytic path
    without switching the whole query to the Spark route."""
    from pyspark.sql import SparkSession

    e = StreamSQL(spark)
    e.execute("SELECT round(x, 2) AS f FROM stream")
    assert e.emit_sync({"x": 1e27}) == {"f": 1e27}
    assert e.emit_sync({"x": 2.345}) == {"f": 2.35}

    a = StreamSQL(spark)
    a.execute("SELECT deviceId, round(acc_sum(temperature) OVER "
              "(PARTITION BY deviceId), 4) AS total FROM stream")
    assert a.emit_sync({"deviceId": "d1", "temperature": 1e27}) == \
        {"deviceId": "d1", "total": 1e27}
    assert a._an_py is not None

    def spark_tier(*args, **kwargs):
        raise AssertionError("emit_sync left the in-process path")

    monkeypatch.setattr(SparkSession, "sql", spark_tier)
    assert a.emit_sync({"deviceId": "d2", "temperature": 1.23456}) == \
        {"deviceId": "d2", "total": 1.2346}


def test_pyeval_edge_values_fall_back_not_crash(spark):
    """Non-finite values, 0^negative, large-int modulo, mixed-type
    branches, and LIKE escapes must either match the Spark path or
    fall back to it — never crash or silently diverge."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL

    # 0 ^ -1 (Spark: Infinity) and inf inputs: no crash
    e = StreamSQL(spark)
    e.execute("SELECT t ^ -1 AS inv, floor(t) AS fl FROM stream")
    r = e.emit_sync({"t": 2.0})
    assert r["inv"] == 0.5 and r["fl"] == 2
    assert e.emit_sync({"t": 0}) is not None          # falls back, no crash
    assert e.emit_sync({"t": float("inf")}) is not None

    # exact big-int modulo (fmod would lose precision past 2^53)
    e2 = StreamSQL(spark)
    e2.execute("SELECT id % 7 AS m FROM stream")
    assert e2.emit_sync({"id": 2 ** 60 + 1})["m"] == (2 ** 60 + 1) % 7

    # NaN comparison: Spark says NaN = NaN — python path must not
    # silently filter the row with IEEE semantics
    e3 = StreamSQL(spark)
    e3.execute("SELECT t FROM stream WHERE t = t")
    r3 = e3.emit_sync({"t": float("nan")})
    assert r3 is not None and math.isnan(r3["t"])

    # mixed-type coalesce branches: Spark coerces to string
    e4 = StreamSQL(spark)
    e4.execute("SELECT coalesce(t, s) AS c FROM stream")
    assert e4.emit_sync({"t": 5, "s": "x"})["c"] in (5, "5")
    got = e4.emit_sync({"t": None, "s": "x"})["c"]
    assert got == "x"

    # LIKE with an escape sequence defers to Spark's semantics: the
    # python path must refuse to compile it (whatever the engine's
    # escape behavior, both routes must agree)
    e5 = StreamSQL(spark)
    e5.execute("SELECT s FROM stream WHERE s LIKE '100\\\\%'")
    assert e5._emit_sync_python({"s": "100%"}) is _NOT_APPLICABLE
    sp = StreamSQL(spark)
    sp.execute("SELECT s FROM stream WHERE s LIKE '100\\\\%'")
    assert e5.emit_sync({"s": "100%"}) == sp._emit_sync_fast({"s": "100%"})


def test_emit_overflow_strategy_drop(spark):
    """Default "drop": a full buffer rejects the INCOMING row and
    counts it (stream/strategy.go:190-216) — earlier rows survive."""
    s = StreamSQL(spark, max_buffer_rows=3)
    s.execute("SELECT v FROM stream")
    for v in range(5):
        s.emit({"v": v})
    assert [r["v"] for r in s._buffer] == [0, 1, 2]
    assert s.get_stats()["input_dropped_count"] == 2
    assert s.get_stats()["input_count"] == 5


def test_emit_overflow_strategy_expand(spark):
    """"expand": capacity grows on overflow — nothing blocks, nothing
    drops (stream/strategy.go:118-160)."""
    s = StreamSQL(spark, max_buffer_rows=2, overflow_strategy="expand")
    s.execute("SELECT v FROM stream")
    for v in range(7):
        s.emit({"v": v})
    assert [r["v"] for r in s._buffer] == list(range(7))
    assert s.get_stats()["input_dropped_count"] == 0
    assert s.max_buffer_rows >= 7

    with pytest.raises(ValueError, match="overflow_strategy"):
        StreamSQL(spark, overflow_strategy="jettison")


def test_emit_overflow_strategy_block_timeout_drops(spark):
    """"block" with a bounded timeout: the producer waits up to the
    timeout for space, then drops the incoming row — a slow consumer
    cannot hang the producer (strategy.go:66-97)."""
    import time

    s = StreamSQL(spark, max_buffer_rows=2, overflow_strategy="block",
                  blocking_timeout=0.2)
    s.execute("SELECT v FROM stream")
    s.emit({"v": 0})
    s.emit({"v": 1})
    t0 = time.monotonic()
    s.emit({"v": 2})
    waited = time.monotonic() - t0
    assert 0.15 <= waited < 2.0
    assert [r["v"] for r in s._buffer] == [0, 1]
    assert s.get_stats()["input_dropped_count"] == 1


def test_emit_overflow_strategy_block_releases_on_stop(spark):
    """"block" with no timeout parks the producer until shutdown (the
    reference blocks on the channel until done) — stop() from another
    thread must release it without appending."""
    import threading

    s = StreamSQL(spark, max_buffer_rows=1, overflow_strategy="block")
    s.execute("SELECT v FROM stream")
    s.emit({"v": 0})
    release = threading.Timer(0.3, s.stop)
    release.start()
    s.emit({"v": 1})  # parks until stop() fires
    release.join()
    assert s._buffer == [] and s._stopped
    assert s.get_stats()["input_dropped_count"] == 0


def test_trigger_window_drains_window_mode(spark):
    """Reference Trigger semantics (tumbling_window.go:777-782): the
    fired window's rows DROP from the buffer — a second trigger after
    new emits aggregates only the new rows (fresh window instance),
    never re-delivering the first batch's contribution."""
    s = StreamSQL(spark)
    s.execute("SELECT k, sum(v) AS s FROM stream GROUP BY k")
    s.emit({"k": "a", "v": 1.0})
    assert s.trigger_window() == [{"k": "a", "s": 1.0}]
    s.emit({"k": "a", "v": 2.0})
    assert s.trigger_window() == [{"k": "a", "s": 2.0}]  # not 3.0
    assert s.get_stats()["output_count"] == 2
    assert [len(b) for b in s.to_channel()] == [1, 1]


def test_trigger_direct_mode_delivers_once_with_state_continuity(spark):
    """Direct-mode repeated triggers: each emitted row's result delivers
    exactly once, while analytic state (lag) crosses the trigger
    boundary — the reference processes per-event with continuous state
    and no re-delivery (TriggerWindow is a window-mode no-op there)."""
    s = StreamSQL(spark)
    s.execute("SELECT v, lag(v) AS p FROM stream")
    s.emit({"v": 1.0, "ts": 1})
    assert s.trigger_window() == [{"v": 1.0, "p": None}]
    s.emit({"v": 2.0, "ts": 2})
    # lag sees the pre-trigger row (continuity), r1 not re-delivered
    assert s.trigger_window() == [{"v": 2.0, "p": 1.0}]


def test_lag_over_when_nested_analytic_cdc(spark):
    """CDC state-duration idiom: `lag(ts,1,ts,true) OVER (WHEN
    had_changed(true, statusCode))` — an analytic call INSIDE another's
    OVER WHEN gate (test/e2e/analytic_cdc_test.go:238,
    analytic_parity_test.go:160-174).  The planner lifts the inner
    analytic into its own spec; batch and per-event paths must agree:
    duration 0 on the first row (default = current ts), held baseline
    across unchanged rows, reset on each status-code change."""
    sql = ("SELECT ts, lag(Status) AS prevStatus, "
           "ts - lag(ts, 1, ts, true) "
           "OVER (WHEN had_changed(true, statusCode)) AS duration "
           "FROM stream")
    rows = [{"ts": 1, "Status": "A", "statusCode": 100},
            {"ts": 5, "Status": "A", "statusCode": 100},
            {"ts": 8, "Status": "B", "statusCode": 200},
            {"ts": 12, "Status": "B", "statusCode": 300}]
    expected = [(1, None, 0), (5, "A", 4), (8, "A", 7), (12, "B", 4)]
    out = run_query(spark, sql, rows)
    out.sort(key=lambda r: r["ts"])
    assert [(r["ts"], r["prevStatus"], r["duration"]) for r in out] \
        == expected
    s = StreamSQL(spark)
    s.execute(sql)
    got = [s.emit_sync(dict(r)) for r in rows]
    assert [(r["ts"], r["prevStatus"], r["duration"]) for r in got] \
        == expected
    # the simple CDC shape parses standalone too (analytic_cdc A1)
    s2 = StreamSQL(spark)
    s2.execute("SELECT lag(status) OVER (WHEN had_changed(true, status)) "
               "AS prev_status FROM stream")
    assert s2.emit_sync({"status": 1}) == {"prev_status": None}
    assert s2.emit_sync({"status": 1}) == {"prev_status": 1}
    assert s2.emit_sync({"status": 2}) == {"prev_status": 1}


def test_trigger_direct_limit_never_redelivers(spark):
    """Non-monotone direct plan (LIMIT): a row delivered by an earlier
    trigger must never deliver again even if a later replay's LIMIT
    picks it again (review r6 pass 3 #2 — delivered-set accumulation)."""
    s = StreamSQL(spark)
    s.execute("SELECT v FROM stream LIMIT 2")
    for v in (1.0, 2.0, 3.0):
        s.emit({"v": v})
    batches = [s.trigger_window()]
    s.emit({"v": 4.0})
    batches.append(s.trigger_window())
    s.emit({"v": 5.0})
    batches.append(s.trigger_window())
    flat = [r["v"] for b in batches for r in b]
    assert len(flat) == len(set(flat)), f"duplicate delivery: {flat}"


def test_lag_non_integer_offset_rejected(spark):
    """functions_analytical.go:23-26: a non-integer offset errors —
    int() truncation would silently run lag(v, 1.5) as lag-by-1."""
    from streamsql_spark.dialect.planner import PlanError
    s = StreamSQL(spark)
    with pytest.raises(PlanError, match="positive integer"):
        s.execute("SELECT lag(v, 1.5) AS p FROM stream")


def test_upsert_before_execute_then_join(spark):
    """Mutating a dim table BEFORE execute() must not pin an empty
    join-key tuple: keys re-derive once the statement exists, so later
    upserts REPLACE by key instead of appending duplicates (review r6
    pass 3 #7)."""
    s = StreamSQL(spark)
    s.register_table("dim", [{"id": 1, "name": "alpha"}])
    s.upsert_table("dim", {"id": 2, "name": "beta"})   # pre-execute
    s.execute("SELECT deviceId, d.name AS name FROM stream "
              "JOIN dim d ON deviceId = d.id")
    s.upsert_table("dim", {"id": 2, "name": "BETA"})   # must replace
    got = {(r["id"], r["name"]) for r in s._tables["dim"].collect()}
    assert got == {(1, "alpha"), (2, "BETA")}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_trigger_interleaving_equals_single_replay(spark, seed):
    """Invariant: for a direct-mode analytic query, ANY interleaving of
    emits and triggers delivers — across all batches combined — exactly
    the rows one full emit-then-single-trigger replay yields, in order.
    (State crosses trigger boundaries; results never duplicate.)"""
    import random
    rng = random.Random(seed)
    rows = [{"k": "ab"[i % 2], "v": float(rng.randint(0, 9)), "ts": i}
            for i in range(24)]
    sql = ("SELECT k, v, ts, lag(v) OVER (PARTITION BY k) AS p, "
           "acc_sum(v) OVER (PARTITION BY k) AS a FROM stream "
           "WHERE v != 7")
    ref = StreamSQL(spark)
    ref.execute(sql)
    for r in rows:
        ref.emit(r)
    expected = ref.trigger_window()
    s = StreamSQL(spark)
    s.execute(sql)
    got: list[dict] = []
    for r in rows:
        s.emit(r)
        if rng.random() < 0.25:
            got.extend(s.trigger_window())
    got.extend(s.trigger_window())
    # row order across partitions is not a batch-path contract — ts is
    # the deterministic identity key
    key = lambda r: r["ts"]  # noqa: E731
    assert sorted(got, key=key) == sorted(expected, key=key)


def test_trigger_window_wakes_blocked_producer(spark):
    """A 'block'-strategy producer parked on a full buffer must wake
    when trigger_window flushes (the flush frees capacity — the
    bounded-channel consumer side)."""
    import threading

    s = StreamSQL(spark, max_buffer_rows=1, overflow_strategy="block")
    s.execute("SELECT v FROM stream")
    s.emit({"v": 0})
    flusher = threading.Timer(0.3, s.trigger_window)
    flusher.start()
    s.emit({"v": 1})  # parks until the flush frees the slot
    flusher.join()
    assert [r["v"] for r in s._buffer] == [1]
    assert s.get_stats()["input_dropped_count"] == 0


def test_emit_overflow_strategy_block_capacity_under_contention(spark):
    """"block" is a bounded channel: the capacity check and the append
    share one lock on EVERY emit, so concurrent producers can never
    push the buffer past max_buffer_rows — the race the unlocked
    len-check had (both producers pass the check, both append)."""
    import threading

    cap = 4
    s = StreamSQL(spark, max_buffer_rows=cap, overflow_strategy="block",
                  blocking_timeout=0.05)
    s.execute("SELECT v FROM stream")
    peak = 0
    peak_lock = threading.Lock()
    start = threading.Barrier(8)

    def producer(base):
        nonlocal peak
        start.wait()
        for i in range(40):
            s.emit({"v": base * 1000 + i})
            n = len(s._buffer)
            with peak_lock:
                peak = max(peak, n)

    threads = [threading.Thread(target=producer, args=(t,))
               for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert peak <= cap, f"buffer reached {peak} > capacity {cap}"
    assert len(s._buffer) == cap
    stats = s.get_stats()
    assert stats["input_count"] == 8 * 40
    assert stats["input_dropped_count"] == 8 * 40 - cap


def test_pyeval_cast_subset(spark):
    """r5 whitelist: ANSI-exact cast subset on the in-process path —
    values agree with the Spark fast path bit-for-bit; malformed /
    overflowing inputs make the python path refuse (Fallback) so the
    Spark route raises exactly as ANSI demands, never a silently
    different answer."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE

    good = [
        ("int", -12.7, -12), ("bigint", 9.5, 9), ("int", " 42 ", 42),
        ("int", True, 1), ("double", "1e3", 1000.0),
        ("double", " -2.5 ", -2.5), ("double", " +0008 ", 8.0),
        ("string", 123, "123"), ("string", True, "true"),
        ("bool", "YES", True), ("bool", " t ", True),
        ("boolean", 0, False), ("int64", 2 ** 62, 2 ** 62),
        ("double", 2 ** 62, float(2 ** 62)),
    ]
    for ty, v, want in good:
        e = StreamSQL(spark)
        e.execute(f"SELECT cast(v, '{ty}') AS c FROM stream")
        py = e._emit_sync_python({"v": v})
        sp = e._emit_sync_fast({"v": v})
        assert py is not _NOT_APPLICABLE, (ty, v)
        assert py["c"] == want, (ty, v, py)
        assert py["c"] == sp["c"] and type(py["c"]) is type(sp["c"]), \
            (ty, v, py, sp)

    # outside the proven subset: python path refuses, Spark raises
    # (ANSI).  '١٢٣' (Arabic-Indic digits) is the nasty one: Python's
    # int() ACCEPTS it — without re.ASCII in the cast regexes the
    # python path would answer 123 where Spark raises
    for ty, v in [("int", "12.5"), ("int", 2 ** 40), ("int", "abc"),
                  ("boolean", "maybe"), ("double", "abc"),
                  ("bigint", "9" * 25), ("int", "١٢٣"),
                  ("double", "١٢")]:
        e = StreamSQL(spark)
        e.execute(f"SELECT cast(v, '{ty}') AS c FROM stream")
        assert e._emit_sync_python({"v": v}) is _NOT_APPLICABLE, (ty, v)
        with pytest.raises(Exception):
            e.emit_sync({"v": v})

    # float formatting is JVM-specific: python path must refuse and let
    # Spark produce the canonical Double.toString form
    e = StreamSQL(spark)
    e.execute("SELECT cast(v, 'string') AS c FROM stream")
    assert e._emit_sync_python({"v": 1e16}) is _NOT_APPLICABLE
    assert e.emit_sync({"v": 1e16})["c"] == "1.0E16"

    # 'Infinity' IS a valid ANSI double spelling (→ inf) — the python
    # path refuses (non-finite results stay Spark-side) and the Spark
    # route answers
    e = StreamSQL(spark)
    e.execute("SELECT cast(v, 'double') AS c FROM stream")
    assert e._emit_sync_python({"v": "Infinity"}) is _NOT_APPLICABLE
    assert e.emit_sync({"v": "Infinity"})["c"] == float("inf")


def test_pyeval_hex_trunc_casewhen(spark):
    """r5 whitelist: hex2dec (proven 1-15-hex-digit shape), dec2hex
    (two's-complement 64-bit), trunc (rendered-formula mirror), and the
    case_when function form — python path answers and agrees with the
    Spark fast path."""
    from streamsql_spark.api.facade import _NOT_APPLICABLE

    cases = [
        ("SELECT hex2dec(v) AS c FROM stream", {"v": "1f"}, 31),
        ("SELECT hex2dec(v) AS c FROM stream", {"v": "FF"}, 255),
        ("SELECT hex2dec(v) AS c FROM stream", {"v": 123}, 291),
        ("SELECT dec2hex(v) AS c FROM stream", {"v": 255}, "ff"),
        ("SELECT dec2hex(v) AS c FROM stream", {"v": -1},
         "ffffffffffffffff"),
        ("SELECT dec2hex(v) AS c FROM stream", {"v": 0}, "0"),
        ("SELECT trunc(v, 1) AS c FROM stream", {"v": -12.77}, -12.7),
        ("SELECT trunc(v) AS c FROM stream", {"v": 9.99}, 9.0),
        ("SELECT trunc(v, -1) AS c FROM stream", {"v": 127.0}, 120.0),
        ("SELECT case_when(v > 5, 'big', v > 0, 'small', 'neg') AS c "
         "FROM stream", {"v": 3}, "small"),
        ("SELECT case_when(v > 5, 'big', v > 0, 'small', 'neg') AS c "
         "FROM stream", {"v": None}, "neg"),
    ]
    for sql, row, want in cases:
        e = StreamSQL(spark)
        e.execute(sql)
        py = e._emit_sync_python(dict(row))
        sp = e._emit_sync_fast(dict(row))
        assert py is not _NOT_APPLICABLE, (sql, row)
        assert py["c"] == want, (sql, row, py)
        assert py["c"] == sp["c"], (sql, row, py, sp)

    # outside the proven hex shape: python refuses, Spark (conv
    # leniency / unsigned wrap) stays the oracle
    e = StreamSQL(spark)
    e.execute("SELECT hex2dec(v) AS c FROM stream")
    assert e._emit_sync_python({"v": "zz9"}) is _NOT_APPLICABLE
    assert e._emit_sync_python({"v": "f" * 16}) is _NOT_APPLICABLE


def test_emit_overflow_block_capacity_atomic(spark):
    """Two producers parked on a full "block" buffer + ONE freed slot:
    exactly one may claim it — the check-and-append is atomic under the
    condition lock (the bounded-channel capacity contract)."""
    import threading
    import time

    s = StreamSQL(spark, max_buffer_rows=2, overflow_strategy="block",
                  blocking_timeout=10)
    s.execute("SELECT v FROM stream")
    s.emit({"v": 0})
    s.emit({"v": 1})
    done = []
    ts = [threading.Thread(target=lambda v=v: (s.emit({"v": v}),
                                               done.append(v)))
          for v in (2, 3)]
    for t in ts:
        t.start()
    time.sleep(0.2)
    with s._buffer_cond:
        s._buffer.pop(0)  # consumer frees exactly one slot
        s._buffer_cond.notify_all()
    time.sleep(0.4)
    assert len(s._buffer) == 2, s._buffer   # never over capacity
    assert len(done) == 1
    with s._buffer_cond:
        s._buffer.pop(0)
        s._buffer_cond.notify_all()
    for t in ts:
        t.join()
    assert len(done) == 2 and len(s._buffer) == 2


# ------------------------------------ r7 grammar conformance additions
def test_postfix_window_after_from(spark):
    """Window function directly after the FROM source, no GROUP BY —
    reference grammar (rsql/parser.go:978 parseGroupBy window tokens,
    parser_test.go SelectWithTumblingWindow expectError:false).
    Numeric params are seconds (rsql/ast.go:1339 convertToDuration)."""
    sql = ("SELECT count(*) AS n FROM stream TumblingWindow(10) "
           "WITH (TIMESTAMP='ts')")
    rows = [{"ts": 1_000}, {"ts": 9_000}, {"ts": 11_000}]
    out = run_query(spark, sql, rows)
    assert sorted(r["n"] for r in out) == [1, 2]


def test_postfix_window_invalid_duration_rejected(spark):
    """'mi' is not a duration unit — the reference's ToDurationE fails
    the same statement at Execute (rsql/ast.go:1345)."""
    from streamsql_spark.dialect.parser import ParseError
    s = StreamSQL(spark)
    with pytest.raises((ParseError, ValueError)):
        s.execute("SELECT COUNT(*) FROM events TUMBLINGWINDOW(5, 'mi')")


def test_deduplicate_extra_args_ignored(spark):
    """deduplicate arity is (1, unbounded) in the reference
    (functions_aggregation.go:1556 NewBaseFunction ... 1, -1); the
    aggregator's Add() consumes only the first per-row value, so
    deduplicate(temperature, true) == deduplicate(temperature)
    (docs/FUNCTIONS_USAGE_GUIDE.md usage)."""
    sql = ("SELECT k, deduplicate(v, true) AS u FROM stream "
           "GROUP BY k, TumblingWindow('1h') WITH (TIMESTAMP='ts')")
    rows = [{"k": "a", "v": 1, "ts": 1000}, {"k": "a", "v": 2, "ts": 2000},
            {"k": "a", "v": 1, "ts": 3000}]
    out = run_query(spark, sql, rows)
    assert out[0]["u"] == [1, 2]


def test_changed_cols_star_binds_at_first_data(spark):
    """changed_cols(prefix, ignoreNull, "*") without a declared schema:
    the reference expands the star over the event's fields at runtime
    (test/e2e/analytic_parity_test.go:104 E3, runs schema-less); here
    the star binds to the first data seen — df.columns on the batch
    path, the first event's keys on the sync path.  Fixed-schema
    rendering: unchanged columns are NULL (vs absent in the reference's
    dynamic map output)."""
    demo = [{"ts": i + 1, "temperature": t, "humidity": h}
            for i, (t, h) in enumerate(
                [(23, 88), (23, 88), (23, 88), (25, 88),
                 (25, 90), (25, 91), (25, 91), (25, 91)])]
    want = [  # analytic_parity_test.go E3 (non-null cells)
        {"c_ts": 1, "c_temperature": 23, "c_humidity": 88},
        {"c_ts": 2}, {"c_ts": 3}, {"c_ts": 4, "c_temperature": 25},
        {"c_ts": 5, "c_humidity": 90}, {"c_ts": 6, "c_humidity": 91},
        {"c_ts": 7}, {"c_ts": 8},
    ]

    def nonnull(rows):
        return [{k: v for k, v in r.items() if v is not None}
                for r in rows]

    sql = 'SELECT changed_cols("c_", false, "*") FROM stream'
    # per-event sync path: star binds to the first event's keys
    s = StreamSQL(spark)
    s.execute(sql)
    got_sync = [s.emit_sync(dict(r)) for r in demo]
    assert nonnull(got_sync) == want
    # batch path: star binds to df.columns
    s2 = StreamSQL(spark)
    s2.execute(sql)
    df = spark.createDataFrame(demo, "ts long, temperature long, humidity long")
    got_batch = [r.asDict() for r in s2.query(df).collect()]
    got_batch.sort(key=lambda r: (r["c_ts"] is None, r["c_ts"]))
    # batch replay has no per-event order key beyond ts; compare sets
    assert nonnull(got_batch) == want
    # emit + trigger path: star binds to the first buffered row
    s3 = StreamSQL(spark)
    s3.execute(sql)
    for r in demo:
        s3.emit(dict(r))
    got_trig = s3.trigger_window()
    got_trig.sort(key=lambda r: (r.get("c_ts") is None, r.get("c_ts", 0)))
    assert nonnull(got_trig) == want


def test_changed_cols_star_windowed_watches_result_row(spark):
    """r12 retires README delta row 8: changed_cols star on a WINDOWED
    statement binds at execute() — with or WITHOUT a declared schema —
    and watches the WINDOW RESULT row: the reference evaluates
    windowed analytics over the aggregated result row after group-
    column projection (stream/processor_data.go:438-452
    projectGroupColumns → applyWindowAnalytic), so '*' expands over
    the statement's other output fields and group keys, NOT the input
    schema.  A fire where nothing changed is dropped entirely
    (changedAny gate, kept-rows filter there)."""
    sql = ("SELECT max(t) AS mx, changed_cols('c_', true, '*') "
           "FROM stream GROUP BY d, CountingWindow(2) "
           "WITH (TIMESTAMP='ts')")
    rows = [{"d": "a", "t": float(v), "ts": i}
            for i, v in enumerate([10, 20, 30, 20, 30, 20], 1)]
    # per-key windows of 2: max = 20, 30, 30 → first fire watches
    # (mx, d) both new; second changes mx only; third changes nothing
    # → suppressed by the changedAny gate
    want = [{"mx": 20.0, "c_mx": 20.0, "c_d": "a"},
            {"mx": 30.0, "c_mx": 30.0, "c_d": None}]
    for schema in (None, "d string, t double, ts long"):
        s = StreamSQL(spark, schema=schema)
        s.execute(sql)
        assert not s._star_pending  # binds at execute(), schema or not
        for r in rows:
            s.emit(dict(r))
        out = s.trigger_window()
        out.sort(key=lambda r: r["mx"])
        assert out == want, (schema, out)
    # batch query() path agrees (streaming rejects windowed analytics
    # typed — pre-existing kernel limitation, not star-specific;
    # emit_sync is direct-only by design)
    s2 = StreamSQL(spark)
    s2.execute(sql)
    df = spark.createDataFrame(rows, "d string, t double, ts long")
    out2 = sorted((r.asDict() for r in s2.query(df).collect()),
                  key=lambda r: r["mx"])
    assert out2 == want


def test_changed_cols_star_windowed_no_watchable_fields(spark):
    """A windowed star with NOTHING else in the result row (no other
    fields, no plain group keys) has nothing to watch — typed
    PlanError, not a confusing arg-count error."""
    from streamsql_spark.dialect.planner import PlanError
    s = StreamSQL(spark)
    with pytest.raises(PlanError, match="no other output fields"):
        s.execute("SELECT changed_cols('c_', true, '*') FROM stream "
                  "GROUP BY CountingWindow(2)")


def test_changed_cols_duplicate_fanout_name_rejected(spark):
    """Order-independent duplicate guard (ADVICE r12): a BARE member
    colliding with an earlier stripped-qualifier member
    (stream.region then region) has no dotted-name fallback — typed
    PlanError instead of two identical output names silently dropping
    a column in dict sinks."""
    from streamsql_spark.dialect.planner import PlanError
    s = StreamSQL(spark)
    with pytest.raises(PlanError, match="more than one watched column"):
        s.execute("SELECT changed_cols('c_', true, stream.region, "
                  "region) FROM stream")
    # truly order-independent (review r12): a PLAIN field planned
    # AFTER the fan-out colliding with a fan-out name is caught by the
    # final-output pass, not just the in-loop earlier-names guard
    s2 = StreamSQL(spark)
    with pytest.raises(PlanError, match="collides"):
        s2.execute("SELECT changed_cols('', true, region), region "
                   "FROM stream")


def test_windowed_star_arrival_stamp_primed_at_execute(spark):
    """A processing-time windowed star statement must stamp arrival
    order from the FIRST emit (ADVICE r12): the star binds at
    execute() now, and rows buffered before any flush carry the
    monotone arrival column."""
    from streamsql_spark.engine.batch import ARRIVAL_COL
    s = StreamSQL(spark)
    s.execute("SELECT max(v) AS mx, changed_cols('c_', true, '*') "
              "FROM stream GROUP BY CountingWindow(2)")
    assert s._arrival_eligible is True
    s.emit({"v": 1.0})
    assert ARRIVAL_COL in s._buffer[0]


def test_lag_nonliteral_offset_refused_in_batch(spark):
    """A per-row lag offset expression runs on the streaming/sync
    kernel (ring cap grows to the max offset seen); the batch window
    construction needs a constant — typed refusal, never a silent
    coerce-to-1 (r7 review fix)."""
    from streamsql_spark.engine.batch import ExecError
    s = StreamSQL(spark)
    s.execute("SELECT lag(v, k) OVER (PARTITION BY d) AS p FROM stream")
    df = spark.createDataFrame([{"d": "a", "v": 1.0, "k": 2, "ts": 1}])
    with pytest.raises(ExecError, match="literal"):
        s.query(df).collect()


def test_changed_cols_star_with_ddl_string_schema(spark):
    """A schema declared as a DDL string binds the star too (r7
    review fix: createDataFrame accepts the string form, so the star
    binding must)."""
    s = StreamSQL(spark, schema="ts long, temperature long")
    s.execute('SELECT changed_cols("c_", false, "*") FROM stream')
    out = s.emit_sync({"ts": 1, "temperature": 20})
    assert out == {"c_ts": 1, "c_temperature": 20}
    # empty-buffer trigger with a deferred star: [] not RuntimeError
    s2 = StreamSQL(spark)
    s2.execute('SELECT changed_cols("c_", false, "*") FROM stream')
    assert s2.trigger_window() == []


def test_window_orderby_limit_per_window_fire(spark):
    """ORDER BY + LIMIT on a windowed query apply PER WINDOW FIRE — the
    reference's emission unit is one window close and LIMIT truncates
    that batch after its sort (processor_data.go:438-493,481-483;
    test/e2e/window_orderby_test.go TestIntegration_OrderBy_WithLimitTopN)
    — never globally across windows: two tumbling windows with three
    devices each must yield the top-2 per window (4 rows), not the
    global top-2."""
    sql = ("SELECT deviceId, avg(temperature) AS m FROM stream "
           "GROUP BY deviceId, TumblingWindow('10s') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY m DESC LIMIT 2")
    s = StreamSQL(spark)
    s.execute(sql)
    for dev, t, ts in [("d1", 30.0, 1000), ("d2", 50.0, 2000),
                       ("d3", 40.0, 3000),
                       ("d1", 90.0, 11000), ("d2", 10.0, 12000),
                       ("d3", 60.0, 13000)]:
        s.emit({"deviceId": dev, "temperature": t, "ts": ts})
    out = s.trigger_window()
    assert [(r["deviceId"], r["m"]) for r in out] == \
        [("d2", 50.0), ("d3", 40.0),   # window 1 top-2, sorted desc
         ("d1", 90.0), ("d3", 60.0)]   # window 2 top-2, sorted desc
    assert all(set(r) == {"deviceId", "m"} for r in out), \
        "hidden window-identity column leaked to the output"


def test_window_orderby_limit_single_window_reference_case(spark):
    """The reference's own top-N case (window_orderby_test.go:90-106):
    one window, ORDER BY m DESC LIMIT 2 → exactly the two hottest
    devices in descending order."""
    sql = ("SELECT deviceId, avg(temperature) AS m FROM stream "
           "GROUP BY deviceId, TumblingWindow('10s') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY m DESC LIMIT 2")
    s = StreamSQL(spark)
    s.execute(sql)
    for dev, t in [("d1", 30.0), ("d2", 50.0), ("d3", 40.0)]:
        s.emit({"deviceId": dev, "temperature": t, "ts": 1000})
    out = s.trigger_window()
    assert [(r["deviceId"], r["m"]) for r in out] == \
        [("d2", 50.0), ("d3", 40.0)]


def test_plain_groupby_orderby_limit_stays_global(spark):
    """r8 second-pass review find, pinned: per-window-fire LIMIT applies
    ONLY to time windows — a plain GROUP BY aggregate (no window clause;
    window_start() is a per-GROUP min timestamp, not a fire identity)
    must keep the global top-K, even when window_start() is projected."""
    sql = ("SELECT deviceId, count(*) AS n, window_start() AS ws "
           "FROM stream GROUP BY deviceId "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY n DESC LIMIT 2")
    s = StreamSQL(spark)
    s.execute(sql)
    for dev, reps in [("d1", 5), ("d2", 3), ("d3", 1), ("d4", 4)]:
        for i in range(reps):
            s.emit({"deviceId": dev, "temperature": 1.0,
                    "ts": 1000 * (i + 1)})
    out = s.trigger_window()
    assert [(r["deviceId"], r["n"]) for r in out] == [("d1", 5), ("d4", 4)]


def test_counting_window_limit_per_fire(spark):
    """LIMIT on a counting window applies PER FIRE, matching the
    reference: each filled chunk is its own sink batch and LIMIT
    truncates each batch (stream/processor_data.go:481-483), so a
    1-row-per-fire aggregate loses nothing under LIMIT 1 — both
    devices' chunk fires survive (a global limit would drop one)."""
    sql = ("SELECT deviceId, sum(temperature) AS s FROM stream "
           "GROUP BY deviceId, CountingWindow(2) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY s DESC LIMIT 1")
    s = StreamSQL(spark)
    s.execute(sql)
    for dev, t, ts in [("d1", 1.0, 1000), ("d1", 2.0, 2000),
                       ("d2", 10.0, 3000), ("d2", 20.0, 4000)]:
        s.emit({"deviceId": dev, "temperature": t, "ts": ts})
    out = s.trigger_window()
    assert sorted((r["deviceId"], r["s"]) for r in out) == \
        [("d1", 3.0), ("d2", 30.0)]


def test_counting_window_limit_truncates_multirow_fire(spark):
    """When the chunk key is a SUBSET of the group keys (nested paths
    don't key the reference's flat chunk lookup), one fire can emit
    several aggregated rows — LIMIT then truncates WITHIN the fire,
    per batch, not globally across fires."""
    sql = ("SELECT deviceId, meta.loc AS loc, count(*) AS n FROM stream "
           "GROUP BY deviceId, meta.loc, CountingWindow(4) "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') LIMIT 1")
    s = StreamSQL(spark)
    s.execute(sql)
    # d1 chunk: 4 rows over 3 locs -> one fire, 3 agg rows, LIMIT 1 -> 1
    # d2 chunk: 4 rows over 2 locs -> one fire, 2 agg rows, LIMIT 1 -> 1
    rows = [("d1", "a", 1000), ("d1", "b", 2000), ("d1", "a", 3000),
            ("d1", "c", 4000), ("d2", "x", 5000), ("d2", "y", 6000),
            ("d2", "x", 7000), ("d2", "x", 8000)]
    for dev, loc, ts in rows:
        s.emit({"deviceId": dev, "meta": {"loc": loc}, "ts": ts})
    out = s.trigger_window()
    assert len(out) == 2
    assert sorted(r["deviceId"] for r in out) == ["d1", "d2"]


def test_session_window_fires_per_key(spark):
    """Session windows fire per (composite group key, session) — the
    reference keeps sessionMap per key and each expired session emits
    its OWN batch (window/session_window.go:396-425).  Two keys whose
    sessions share a start timestamp are SEPARATE fires: LIMIT 1 keeps
    one row from EACH (a window_start-only fire partition would
    truncate across keys), and DISTINCT must not merge identical rows
    from the two fires."""
    sql = ("SELECT deviceId, count(*) AS n FROM stream "
           "GROUP BY deviceId, SessionWindow('5s') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY n DESC LIMIT 1")
    s = StreamSQL(spark)
    s.execute(sql)
    # both devices' sessions start at ts=1000 (same session start)
    for dev, ts in [("d1", 1000), ("d1", 2000), ("d2", 1000)]:
        s.emit({"deviceId": dev, "ts": ts})
    out = s.trigger_window()
    assert sorted((r["deviceId"], r["n"]) for r in out) == \
        [("d1", 2), ("d2", 1)]


def test_session_window_distinct_keeps_both_fires(spark):
    """DISTINCT on a session query dedups per fire: identical visible
    rows emitted by two different keys' sessions (same start, count
    not selecting the key) both survive."""
    sql = ("SELECT DISTINCT count(*) AS n FROM stream "
           "GROUP BY deviceId, SessionWindow('5s') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
    s = StreamSQL(spark)
    s.execute(sql)
    for dev, ts in [("d1", 1000), ("d2", 1000)]:
        s.emit({"deviceId": dev, "ts": ts})
    out = s.trigger_window()
    assert [r["n"] for r in out] == [1, 1]


def test_window_start_alias_is_not_fire_identity(spark):
    """A user output ALIASED 'window_start' that is not window_start()
    must not be mistaken for the fire identity: the per-window LIMIT
    partitions on the hidden carrier, so two rows in ONE window with
    different alias values still truncate to the per-window top-1."""
    sql = ("SELECT deviceId AS window_start, count(*) AS n FROM stream "
           "GROUP BY deviceId, TumblingWindow('10s') "
           "WITH (TIMESTAMP='ts', TIMEUNIT='ms') ORDER BY n DESC LIMIT 1")
    s = StreamSQL(spark)
    s.execute(sql)
    # one tumbling window, two devices: if the alias were treated as
    # the fire identity the limit would keep both rows
    for dev, ts in [("d1", 1000), ("d1", 2000), ("d2", 3000)]:
        s.emit({"deviceId": dev, "ts": ts})
    out = s.trigger_window()
    assert [(r["window_start"], r["n"]) for r in out] == [("d1", 2)]


def test_unaliased_string_literal_names_itself(spark):
    """Reference quoted-identifier semantics (test/e2e/quoted_test.go
    mixed case; rsql/ast.go:158-166): a bare string literal in the
    SELECT list outputs under its own CONTENT as the field name —
    result['normal'], never result["'normal'"] or a col_N synthetic —
    and double-quoted strings are constants, not identifiers."""
    s = StreamSQL(spark)
    s.execute("SELECT `deviceId`, 'mixed_test' as test_field, 'normal' "
              "FROM stream WHERE `deviceId` = 'sensor001'")
    out = s.emit_sync({"deviceId": "sensor001", "deviceType": "x"})
    assert out == {"deviceId": "sensor001", "test_field": "mixed_test",
                   "normal": "normal"}
    s2 = StreamSQL(spark)
    s2.execute("SELECT 'single_quote' as test1, \"double_quote\" as test2 "
               "FROM stream LIMIT 1")
    assert s2.emit_sync({"deviceId": "x"}) == \
        {"test1": "single_quote", "test2": "double_quote"}


def test_greatest_least_nil_propagation_and_chr_range(spark):
    """Reference conditional/conversion semantics mined from
    test/e2e/function_scenarios_test.go (r8): greatest/least return
    nil when ANY argument is nil (functions_conditional.go:104-136 —
    Spark's builtins null-SKIP, so the renderer wraps an any-null
    guard, and pyeval matches), and chr() outside ASCII 0..127 is nil
    (functions_conversion.go:362-369 errors; error-or-nil contract)."""
    s = StreamSQL(spark)
    s.execute("SELECT greatest(a, b, c) AS g, least(a, b, c) AS l, "
              "greatest(a, c) AS g2 FROM stream")
    out = s.emit_sync({"a": 1, "b": None, "c": 3})
    assert out["g"] is None and out["l"] is None and out["g2"] == 3
    out2 = s.emit_sync({"a": 1, "b": 5, "c": 3})
    assert out2["g"] == 5 and out2["l"] == 1

    s2 = StreamSQL(spark)
    s2.execute("SELECT chr(65) AS a, chr(128) AS over, chr(0-1) AS neg "
               "FROM stream")
    out3 = s2.emit_sync({"x": 1})
    assert out3 == {"a": "A", "over": None, "neg": None}


def test_analytic_pyeval_compile_reads_real_session_tz(spark):
    """ADVICE r10 (high): the analytic per-event compile must re-read
    the REAL session timezone before compiling — only the plain direct
    path (_emit_sync_python) called set_session_tz, so with a non-UTC
    user session the module global stayed at its stale default and
    tz-gated functions (hour/date_format/...) silently answered in UTC
    while the Spark oracle answered in the session zone."""
    from streamsql_spark.api.facade import StreamSQL
    from streamsql_spark.dialect import pyeval

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        pyeval.set_session_tz("UTC")  # stale global from a prior facade
        e = StreamSQL(spark)
        e.execute("SELECT hour(ts) AS h, lag(v) AS prev FROM stream")
        cp = e._compile_analytic_python()
        # the compile saw the real zone: tz-gated hour() refuses, and
        # the module global now reflects the session
        assert pyeval._SESSION_TZ == "America/New_York"
        assert cp is None
        # a tz-free analytic statement still compiles under non-UTC
        e2 = StreamSQL(spark)
        e2.execute("SELECT lag(v) AS prev FROM stream")
        assert e2._compile_analytic_python() is not None
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
        pyeval.set_session_tz(orig)


def test_unaliased_nested_path_names_by_last_segment(spark):
    """Delta row 10 (README "Deltas vs reference"): an unaliased
    nested projection names its output column by the LAST path
    segment (`device.location` -> `location`), where the reference
    keeps the full dotted expression string (rsql/ast.go:158-166
    naming).  Alias nested projections for portable names."""
    s = StreamSQL(spark)
    s.execute("SELECT device.location FROM stream")
    out = s.emit_sync({"device": {"location": "hall", "id": 7}})
    assert out == {"location": "hall"}


def test_window_fuzz_ci_subset(spark):
    """CI slice of the window-path differential fuzz (r11; the wide
    sweep is tests/window_fuzz.py — run it manually after window/agg
    changes): random window-kind x group-keys x aggregates x WHERE x
    HAVING x per-fire ORDER BY/LIMIT statements over the events
    fixture, each checked against the generalized DuckDB oracle
    templates.  Bar: ZERO divergences."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from window_fuzz import run_fuzz

    from streamsql_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    tables = load_tables(spark, sf)
    con = duckdb.connect()
    con.sql("CREATE OR REPLACE VIEW events AS "
            f"SELECT * FROM '{sf}/events.parquet'")
    div = run_fuzz(spark, con, tables["events"], seed=20260816,
                   count=12, verbose=False)
    assert not div, div


def test_mixed_distinct_buffer_agg_splits_and_matches(spark):
    """r13 optimization: a plain GROUP BY mixing an exact DISTINCT
    aggregate with buffer-heavy aggregates (percentile/collect) splits
    into two aggregations joined null-safely on the group keys, so the
    object buffers cross one exchange instead of two.  The rewrite must
    be invisible: same results, NULL group keys preserved (join is
    eqNullSafe — a plain equi-join would drop the NULL group)."""
    from pyspark.sql import functions as F  # noqa: F401

    src = spark.createDataFrame(
        [(None, 1.0, "a"), (None, 2.0, "b"), ("x", 3.0, "a"),
         ("x", 4.0, "a"), ("y", 5.0, "c")],
        "k string, v double, s string")
    q = StreamSQL(spark).execute("""
        SELECT k, count_distinct(s) AS nd, percentile(0.5, v) AS p50,
               round(sum(v), 2) AS tv
        FROM stream GROUP BY k
    """)
    out = q.query(src)
    # the split introduces a join into an otherwise join-free aggregate
    assert "Join" in out._jdf.queryExecution().executedPlan().toString()
    rows = sorted(((r["k"], r["nd"], r["p50"], r["tv"])
                   for r in out.collect()),
                  key=lambda t: (t[0] is None, t[0] or ""))
    assert rows == [("x", 1, 3.0, 7.0), ("y", 1, 5.0, 5.0),
                    (None, 2, 1.0, 3.0)]

    # zero group keys: both sides are single-row — cross join, same result
    q2 = StreamSQL(spark).execute(
        "SELECT count_distinct(s) AS nd, percentile(0.5, v) AS p50"
        " FROM stream")
    r2 = q2.query(src).collect()
    assert (r2[0]["nd"], r2[0]["p50"]) == (3, 3.0)

    # no buffer-heavy aggregate -> rewrite must NOT engage
    q3 = StreamSQL(spark).execute(
        "SELECT k, count_distinct(s) AS nd, round(sum(v), 2) AS tv"
        " FROM stream GROUP BY k")
    out3 = q3.query(src)
    assert "Join" not in out3._jdf.queryExecution().executedPlan().toString()


def test_replay_key_count_sees_events_regenerated_in_place(spark, tmp_path):
    """The replay entries' state-key count memo (catalog._REPLAY_KEYS)
    and the table-handle memo it reads through (session.load_tables)
    key on the events table's modification time: regenerating the
    events parquet in place must give a new count, not the memoized one
    (nor a read through the stale file index)."""
    from streamsql_spark.catalog import _replay_key_count

    sf = str(tmp_path)
    path = tmp_path / "events.parquet"

    def write(n_users):
        spark.createDataFrame([(u % n_users, float(u)) for u in range(40)],
                              "user_id bigint, value double") \
            .write.mode("overwrite").parquet(str(path))

    write(3)
    assert _replay_key_count(spark, sf, ("user_id",)) == 3
    assert _replay_key_count(spark, sf, ("user_id",)) == 3
    write(7)
    assert _replay_key_count(spark, sf, ("user_id",)) == 7
