"""MATCH_RECOGNIZE (CEP) end-to-end tests.

Ports the reference's e2e CEP matrix (test/e2e/cep_test.go) to the
batch harness: emit the whole event sequence, trigger, assert measure
rows.  Batch replay subsumes the reference's Stop()-flush semantics
(greedy pending matches emit when the stream ends).
"""

import pytest

from streamsql_spark.api.facade import StreamSQL
from streamsql_spark.dialect.parser import ParseError, parse
from streamsql_spark.dialect.planner import PlanError, plan as make_plan


def run_cep(spark, sql, rows, sort_by=None):
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(r)
    out = s.trigger_window()
    if sort_by:
        out.sort(key=lambda r: tuple(r[k] for k in sort_by))
    return out


# --- cep_test.go:66 TestCEP_ConsecutiveThreshold
def test_consecutive_threshold(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, A.v AS peak
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": t, "v": v} for t, v in
            [(1, 10), (2, 60), (3, 70), (4, 80), (5, 5)]]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["mn"] == 1
    assert out[0]["peak"] == 80  # A.v = last A row


# --- cep_test.go:91 TestCEP_RiseThenDrop
def test_rise_then_drop(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.temp AS peak, B.temp AS drp
        PATTERN (A B)
        DEFINE A AS temp > 100, B AS temp < 100
    )"""
    rows = [{"ts": 1, "temp": 50}, {"ts": 2, "temp": 120}, {"ts": 3, "temp": 90}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["peak"] == 120 and out[0]["drp"] == 90


# --- cep_test.go:112 TestCEP_TrendReversal (PREV navigation + aggregates)
def test_trend_reversal(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MAX(v) AS peak, FIRST(v) AS strt, LAST(v) AS fin
        ONE ROW PER MATCH
        PATTERN (A B+ C)
        DEFINE B AS v > PREV(v, 1), C AS v < PREV(v, 1)
    )"""
    rows = [{"ts": t, "v": v} for t, v in [(1, 10), (2, 20), (3, 30), (4, 25)]]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["peak"] == 30 and out[0]["strt"] == 10 and out[0]["fin"] == 25


# --- cep_test.go:136 TestCEP_VibrationBurst (A{5,} greedy, == and "str")
def test_vibration_burst(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n, MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (A{5,})
        WITHIN '1h'
        DEFINE A AS type == "vib"
    )"""
    rows = [{"ts": t, "type": "vib"} for t in range(1, 7)] + \
           [{"ts": 7, "type": "normal"}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["n"] == 6


# --- cep_test.go:162 TestCEP_CrossEventSequence
def test_cross_event_sequence(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS steps
        ONE ROW PER MATCH
        PATTERN (Strt Process+ Fin)
        DEFINE Strt AS status == "start", Process AS status == "process",
               Fin AS status == "end"
    )"""
    rows = [{"ts": 1, "status": "start"}, {"ts": 2, "status": "process"},
            {"ts": 3, "status": "process"}, {"ts": 4, "status": "end"}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["steps"] == 4


# --- cep_test.go:184 TestCEP_PartitionBy
def test_partition_by(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY dev
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, A.v AS v
        ONE ROW PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": 1, "dev": "d1", "v": 60}, {"ts": 2, "dev": "d2", "v": 70},
            {"ts": 3, "dev": "d1", "v": 80}, {"ts": 4, "dev": "d2", "v": 90}]
    out = run_cep(spark, sql, rows, sort_by=["dev"])
    assert len(out) == 2
    assert [r["dev"] for r in out] == ["d1", "d2"]


# --- cep_test.go:206 TestCEP_Alternation + CLASSIFIER
def test_alternation_classifier(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS c, FIRST(A.ts) AS ats, FIRST(B.ts) AS bts
        ONE ROW PER MATCH
        PATTERN (A | B)
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}, {"ts": 3, "k": 3}]
    out = run_cep(spark, sql, rows)
    out.sort(key=lambda r: r["c"])
    assert [r["c"] for r in out] == ["A", "B"]


# --- cep_test.go:228 TestCEP_AllRowsPerMatch (RUNNING COUNT)
def test_all_rows_per_match_running(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS c, COUNT(*) AS n
        ALL ROWS PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}, {"ts": 3, "v": 80}]
    out = run_cep(spark, sql, rows, sort_by=["ts"])
    assert len(out) == 3
    assert [r["n"] for r in out] == [1, 2, 3]
    assert all(r["c"] == "A" for r in out)


# --- cep_test.go:256 TestCEP_SkipToNextRow (overlapping matches)
def test_skip_to_next_row(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": t, "v": 50 + 10 * t} for t in range(1, 5)]
    out = run_cep(spark, sql, rows)
    assert len(out) == 3  # (1,2),(2,3),(3,4)


# --- cep_test.go:279 TestCEP_GroupRepetition (A B)+
def test_group_repetition(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN ((A B)+)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}, {"ts": 3, "k": 1},
            {"ts": 4, "k": 2}, {"ts": 5, "k": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["n"] == 4


# --- cep_test.go:303 TestCEP_ExecuteRejects (fail-fast at compile)
@pytest.mark.parametrize("bad_sql", [
    "SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts DEFINE A AS v>0)",
    "SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts PATTERN ({- A -}) DEFINE A AS v>0)",
    "SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts PATTERN (A) DEFINE A AS v>0) GROUP BY TumblingWindow('1s')",
    "SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts DESC PATTERN (A) DEFINE A AS v>0)",
])
def test_execute_rejects(bad_sql):
    with pytest.raises((ParseError, PlanError)):
        make_plan(parse(bad_sql))


# --- cep_test.go:334 RiseStepsWithDelta (measure arithmetic over symbols)
def test_rise_steps_with_delta(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES C.temp AS peak, C.temp - A.temp AS rise
        ONE ROW PER MATCH
        PATTERN (A B C)
        DEFINE B AS temp > PREV(temp, 1), C AS temp > PREV(temp, 1)
    )"""
    rows = [{"ts": 1, "temp": 10}, {"ts": 2, "temp": 20}, {"ts": 3, "temp": 30}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["peak"] == 30 and out[0]["rise"] == 20


# --- cep_test.go:355 CaseLevel (CASE over aggregate in MEASURES)
def test_case_level(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CASE WHEN MAX(v) > 200 THEN "critical"
                      WHEN MAX(v) > 100 THEN "warn"
                      ELSE "ok" END AS lvl, MAX(v) AS peak
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}, {"ts": 3, "v": 120}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["peak"] == 120 and out[0]["lvl"] == "warn"


# --- cep_test.go:377 DefineWithFunction (abs() + AND in DEFINE)
def test_define_with_function(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, v AS v
        ONE ROW PER MATCH
        PATTERN (A)
        WITHIN '1h'
        DEFINE A AS abs(v) > 50 AND type == "spike"
    )"""
    rows = [{"ts": 1, "v": 10, "type": "spike"},
            {"ts": 2, "v": 80, "type": "spike"},
            {"ts": 3, "v": 80, "type": "normal"}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["v"] == 80


# --- cep_test.go:425 RetryThenSuccess (A+ B)
def test_retry_then_success(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A+ B)
        WITHIN '1h'
        DEFINE A AS r == "fail", B AS r == "ok"
    )"""
    rows = [{"ts": t, "r": "fail"} for t in (1, 2, 3)] + [{"ts": 4, "r": "ok"}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["n"] == 4


# --- cep_test.go:447 ArithmeticMeasures (MAX-MIN, AVG)
def test_arithmetic_measures(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MAX(v) - MIN(v) AS rng, AVG(v) AS mean
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v >= 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 50}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["rng"] == 40 and out[0]["mean"] == 30.0


# --- cep_test.go:469 OptionalMiddle (S P? E)
def test_optional_middle(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (St Pr? En)
        WITHIN '1h'
        DEFINE St AS s == "S", Pr AS s == "P", En AS s == "E"
    )"""
    rows = [{"ts": 1, "s": "S"}, {"ts": 2, "s": "P"}, {"ts": 3, "s": "E"},
            {"ts": 4, "s": "S"}, {"ts": 5, "s": "E"}]
    out = run_cep(spark, sql, rows, sort_by=["mn"])
    assert len(out) == 2
    assert out[0]["n"] == 3 and out[1]["n"] == 2


# --- cep_test.go:491 MeasuresScalarFunctions
def test_measures_scalar_functions(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES upper(type) AS t, round(v) AS rv, v + 1 AS vp1
        ONE ROW PER MATCH
        PATTERN (A)
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "type": "alert", "v": 3.4}])
    assert len(out) == 1
    assert out[0]["t"] == "ALERT" and out[0]["rv"] == 3.0
    assert abs(out[0]["vp1"] - 4.4) < 1e-9


# --- r7: MEASURES concat must nil-skip like the expr bridge
def test_measures_concat_nil_skips(spark):
    """MEASURES evaluate through the same expr bridge as SELECT in the
    reference (functions/expr_bridge.go), so concat is ToStringE-and-
    join: nil contributes '' (functions_string.go:27-37) — never a
    NULL-propagated NULL, never the string 'None'.  Must match the
    SELECT-path concat (registry.py concat_ws rendering, pyeval
    _fn_concat) on identical values."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES concat(A.tag, '-', B.tag) AS lbl,
                 concat(A.n, true, 'x') AS mixed
        ONE ROW PER MATCH
        PATTERN (A B)
        WITHIN '1h'
        DEFINE A AS n > 0, B AS n > 0
    )"""
    rows = [{"ts": 1, "tag": "a", "n": 1}, {"ts": 2, "tag": None, "n": 2}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["lbl"] == "a-"        # NULL B.tag contributes ""
    assert out[0]["mixed"] == "1truex"  # int/bool stringify like CAST
    # differential vs the SELECT-path concat on the same shape
    s = StreamSQL(spark)
    s.execute("SELECT concat(tag, '-', NULL, 'x') AS lbl FROM stream")
    assert s.emit_sync({"tag": "a", "ts": 1})["lbl"] == "a-x"


# --- cep_test.go:510 AllRows_FirstLastRunning
def test_all_rows_first_last_running(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES LAST(v) AS lv, FIRST(v) AS fv, COUNT(*) AS n
        ALL ROWS PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows, sort_by=["ts"])
    assert [r["lv"] for r in out] == [10, 20, 30]
    assert [r["fv"] for r in out] == [10, 10, 10]
    assert [r["n"] for r in out] == [1, 2, 3]


# --- cep_test.go:532 SelectProjectsMeasures (outer SELECT narrows)
def test_select_projects_measures(spark):
    sql = """SELECT mn, peak FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, A.v AS peak
        ONE ROW PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}])
    assert len(out) == 1
    assert out[0] == {"mn": 1, "peak": 70}


# --- cep_test.go:552 SelectExpressionOverMeasures
def test_select_expression_over_measures(spark):
    sql = """SELECT hi - lo AS span, hi FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MAX(v) AS hi, MIN(v) AS lo
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 50}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["hi"] == 50 and out[0]["span"] == 40


# --- cep_test.go:570 SelectStarOneRowMeasuresOnly
def test_select_star_one_row_measures_only(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}])
    assert len(out) == 1
    assert out[0]["mn"] == 1
    assert "ts" not in out[0] and "v" not in out[0]


# --- cep_test.go:589/609 AllRows SELECT exposes input fields
def test_all_rows_select_input_field(spark):
    sql = """SELECT ts, c FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS c
        ALL ROWS PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}],
                  sort_by=["ts"])
    assert out == [{"ts": 1, "c": "A"}, {"ts": 2, "c": "A"}]


def test_all_rows_select_star_includes_input(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS c
        ALL ROWS PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "v": 60}, {"ts": 2, "v": 70}],
                  sort_by=["ts"])
    assert len(out) == 2
    assert "v" in out[0] and "c" in out[0] and "ts" in out[0]


# --- cep_test.go:630 PERMUTE(A, B)
def test_permute(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS lastc, MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (PERMUTE(A, B))
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}, {"ts": 3, "k": 2},
            {"ts": 4, "k": 1}]
    out = run_cep(spark, sql, rows, sort_by=["mn"])
    assert len(out) == 2
    assert out[0]["lastc"] == "B"  # [A,B] → last symbol B
    assert out[1]["lastc"] == "A"  # [B,A] → last symbol A


# --- cep_test.go:648 WithinExpiryRecovery (event-time WITHIN)
def test_within_expiry_recovery(spark):
    base = 1700000000000
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS ats
        ONE ROW PER MATCH
        PATTERN (A B)
        WITHIN 1 MINUTES
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": base, "k": 1},
            {"ts": base + 70000, "k": 2},   # 70s > 1min → expired
            {"ts": base + 100000, "k": 1},
            {"ts": base + 100030, "k": 2}]  # 30ms < 1min → match
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["ats"] == base + 100000


# --- cep_test.go:671 NextNavigation (out-of-match NEXT → null)
def test_next_navigation(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.k AS ak, NEXT(B.k, 1) AS nxt
        ONE ROW PER MATCH
        PATTERN (A B)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}])
    assert len(out) == 1
    assert out[0]["ak"] == 1 and out[0]["nxt"] is None


# --- cep_test.go:689 DefineOrAndCrossSymbol (B AS v > A.v OR k == 9)
def test_define_or_and_cross_symbol(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS ats
        ONE ROW PER MATCH
        PATTERN (A B)
        WITHIN '1h'
        DEFINE A AS v > 10, B AS v > A.v OR k == 9
    )"""
    rows = [{"ts": 1, "v": 20, "k": 0}, {"ts": 2, "v": 5, "k": 0},
            {"ts": 3, "v": 20, "k": 0}, {"ts": 4, "v": 25, "k": 0}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["ats"] == 3


# --- cep_test.go:710 MultiPartitionBy
def test_multi_partition_by(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY dev, tenant
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (A{2})
        WITHIN '1h'
        DEFINE A AS v > 50
    )"""
    rows = [{"ts": 1, "dev": "d1", "tenant": "t1", "v": 60},
            {"ts": 2, "dev": "d1", "tenant": "t2", "v": 70},
            {"ts": 3, "dev": "d1", "tenant": "t1", "v": 80},
            {"ts": 4, "dev": "d1", "tenant": "t2", "v": 90}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 2


# --- cep_test.go:731 MeasuresSum
def test_measures_sum(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES SUM(v) AS total, COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["total"] == 60 and out[0]["n"] == 3


# --- cep_test.go:749 StarQuantifier (A* B)
def test_star_quantifier(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A* B)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 1}, {"ts": 3, "k": 2}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["n"] == 3


# --- cep_test.go:766 SkipToLastSymbol
def test_skip_to_last_symbol(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO LAST B
        PATTERN (A B+ C)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2, C AS k == 3
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}, {"ts": 3, "k": 2},
            {"ts": 4, "k": 3}, {"ts": 5, "k": 2}, {"ts": 6, "k": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["mn"] == 1


# --- cep_test.go:788 FlushUnclosed (batch replay = flush at end)
def test_flush_unclosed_greedy(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A+)
        WITHIN '1h'
        DEFINE A AS k == 1
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 1}, {"ts": 3, "k": 1}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["n"] == 3


# --- cep_test.go:818 SymbolScopedAggregate
def test_symbol_scoped_aggregate(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES SUM(A.v) AS av, SUM(v) AS allv
        ONE ROW PER MATCH
        PATTERN (A B+)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1, "v": 1}, {"ts": 2, "k": 2, "v": 10},
            {"ts": 3, "k": 2, "v": 100}, {"ts": 4, "k": 3, "v": 0}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["av"] == 1 and out[0]["allv"] == 111


# --- cep_test.go:850 SubsetAggregate
def test_subset_aggregate(spark):
    sql = """SELECT sv, lastv, mn FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES SUM(S.v) AS sv, SUM(A.v) AS av, S.v AS lastv,
                 MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (A B+)
        SUBSET S = (A, B)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2
    )"""
    rows = [{"ts": 1, "k": 1, "v": 1}, {"ts": 2, "k": 2, "v": 10},
            {"ts": 3, "k": 2, "v": 100}, {"ts": 4, "k": 3, "v": 0}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["sv"] == 111 and out[0]["lastv"] == 100 and out[0]["mn"] == 1
    assert "av" not in out[0]


# --- cep_test.go:878 SubsetInPattern: PATTERN(S C) with S=(A,B) → (A|B) C
def test_subset_in_pattern(spark):
    sql = """SELECT ts, c FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES CLASSIFIER() AS c
        ALL ROWS PER MATCH
        PATTERN (S C)
        SUBSET S = (A, B)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2, C AS k == 3
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 3}]
    out = run_cep(spark, sql, rows, sort_by=["ts"])
    assert out == [{"ts": 1, "c": "A"}, {"ts": 2, "c": "C"}]


# --- cep_test.go:902 FinalVsRunning
def test_final_vs_running(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES FINAL SUM(v) AS fs, RUNNING SUM(v) AS rs
        ALL ROWS PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows, sort_by=["ts"])
    assert [r["fs"] for r in out] == [60, 60, 60]
    assert [r["rs"] for r in out] == [10, 30, 60]


# --- cep_test.go:925 FinalOneRowNoChange
def test_final_one_row_no_change(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES FINAL SUM(v) AS fs, SUM(v) AS rs
        ONE ROW PER MATCH
        PATTERN (A{3})
        WITHIN '1h'
        DEFINE A AS v > 0
    )"""
    rows = [{"ts": 1, "v": 10}, {"ts": 2, "v": 20}, {"ts": 3, "v": 30}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["fs"] == 60 and out[0]["rs"] == 60


# --- cep_test.go:995 GreedyStarLongest (overlapping defines)
def test_greedy_star_longest(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n
        ONE ROW PER MATCH
        PATTERN (A* B)
        WITHIN '1h'
        DEFINE A AS v > 0, B AS v > 0
    )"""
    rows = [{"ts": 1, "v": 1}, {"ts": 2, "v": 2}, {"ts": 3, "v": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["n"] == 3


# --- cep_test.go:1025 ReluctantStarShortest
def test_reluctant_star_shortest(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n, MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        PATTERN (A*? B)
        WITHIN '1h'
        DEFINE A AS v > 0, B AS v > 0
    )"""
    rows = [{"ts": 1, "v": 1}, {"ts": 2, "v": 2}, {"ts": 3, "v": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 3
    assert all(r["n"] == 1 for r in out)


# --- COUNT(B.*) counts only B-bound rows
def test_count_symbol_star(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts,
                 COUNT(B.*) AS n_high, COUNT(*) AS n_all
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B+)
        DEFINE A AS temperature < 20, B AS temperature > 20
    )"""
    rows = [
        {"deviceId": "d1", "temperature": 10.0, "ts": 1000},
        {"deviceId": "d1", "temperature": 25.0, "ts": 2000},
        {"deviceId": "d1", "temperature": 30.0, "ts": 3000},
        {"deviceId": "d1", "temperature": 12.0, "ts": 4000},
        {"deviceId": "d1", "temperature": 26.0, "ts": 5000},
    ]
    out = run_cep(spark, sql, rows, sort_by=["start_ts"])
    assert len(out) == 2
    assert out[0]["n_high"] == 2 and out[0]["n_all"] == 3
    assert out[1]["n_high"] == 1 and out[1]["n_all"] == 2


# --- cep_doc_verify_test.go:83 DocCEP_D (Start Running+ Stop cycle)
def test_doc_start_running_stop(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId ORDER BY ts
        MEASURES MATCH_NUMBER() AS cycle, MAX(Running.power) AS peak_power
        ONE ROW PER MATCH
        PATTERN (Start Running+ Stop)
        WITHIN '24h'
        DEFINE Start AS type == "start", Running AS type == "running",
               Stop AS type == "stop"
    )"""
    rows = [
        {"deviceId": "dev-01", "ts": 1, "type": "start", "power": 0},
        {"deviceId": "dev-01", "ts": 2, "type": "running", "power": 120},
        {"deviceId": "dev-01", "ts": 3, "type": "running", "power": 150},
        {"deviceId": "dev-01", "ts": 4, "type": "stop", "power": 0},
    ]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["cycle"] == 1 and out[0]["peak_power"] == 150


# --- cep_doc_verify_test.go:106 DocCEP_E (PERMUTE auth, per session)
def test_doc_permute_auth(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY sessionId ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(Login.ts) AS t1, FIRST(Auth.ts) AS t2
        ONE ROW PER MATCH
        PATTERN (PERMUTE(Login, Auth))
        WITHIN '10m'
        DEFINE Login AS event == "login", Auth AS event == "auth"
    )"""
    rows = [
        {"sessionId": "s1", "ts": 1, "event": "login"},
        {"sessionId": "s1", "ts": 2, "event": "auth"},
        {"sessionId": "s2", "ts": 3, "event": "auth"},
        {"sessionId": "s2", "ts": 4, "event": "login"},
    ]
    out = run_cep(spark, sql, rows, sort_by=["t1"])
    assert len(out) == 2
    # s1 matched login→auth, s2 matched auth→login (PERMUTE order-free)
    assert (out[0]["t1"], out[0]["t2"]) == (1, 2)
    assert (out[1]["t1"], out[1]["t2"]) == (4, 3)


# --- cep_doc_verify_test.go:129 DocCEP_F (WITHIN pass vs expire per key)
def test_doc_within_confirm(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, Alert.ts AS alert_at, Ack.ts AS ack_at
        ONE ROW PER MATCH
        PATTERN (Alert Ack)
        WITHIN '30s'
        DEFINE Alert AS event == "alert", Ack AS event == "ack"
    )"""
    rows = [
        {"deviceId": "dev-01", "ts": 1700000000000, "event": "alert"},
        {"deviceId": "dev-01", "ts": 1700000010000, "event": "ack"},   # 10s ok
        {"deviceId": "dev-02", "ts": 1700000020000, "event": "alert"},
        {"deviceId": "dev-02", "ts": 1700000080000, "event": "ack"},   # 60s late
    ]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["alert_at"] == 1700000000000
    assert out[0]["ack_at"] == 1700000010000


# --- rsql/parser.go:188-196 + processor_data.go:112-141: JOIN before CEP
def test_cep_over_joined_stream(spark):
    # stream-table enrichment feeds the NFA: PARTITION BY and MEASURES
    # may reference table columns (flattened pre-kernel)
    sql = """SELECT loc, a_t, b_t FROM stream
        JOIN meta m ON deviceId = m.deviceId
        MATCH_RECOGNIZE (
            PARTITION BY m.location
            ORDER BY ts
            MEASURES m.location AS loc, A.temp AS a_t, B.temp AS b_t
            ONE ROW PER MATCH
            PATTERN (A B)
            DEFINE A AS temp > 50, B AS temp < 10
        ) WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""
    s = StreamSQL(spark)
    s.execute(sql)
    s.register_table("meta", [{"deviceId": "d1", "location": "A"},
                              {"deviceId": "d2", "location": "A"},
                              {"deviceId": "d3", "location": "B"}])
    # d1 and d2 are the SAME partition (location A): the A→B pair spans
    # devices; d3's lone row in B never completes a match
    for r in [{"deviceId": "d1", "temp": 60.0, "ts": 1000},
              {"deviceId": "d3", "temp": 70.0, "ts": 1500},
              {"deviceId": "d2", "temp": 5.0, "ts": 2000}]:
        s.emit(r)
    out = s.trigger_window()
    assert out == [{"loc": "A", "a_t": 60.0, "b_t": 5.0}]


def test_cep_chunked_flush_matches_unchunked(spark, monkeypatch):
    """The mapInPandas buffer flushes at key boundaries past
    _TASK_CHUNK_ROWS (bounded executor memory on huge partitions,
    including one skewed key larger than the chunk).  Forcing a tiny
    chunk must not change any match: boundaries only ever cut BETWEEN
    key groups, and a single key larger than the chunk stays whole."""
    from pyspark.sql import functions as F

    from streamsql_spark.cep import executor as cep_executor

    # 60 keys x 40 rows, plus one skewed key with 5k rows
    base = (spark.range(2400)
            .select((F.col("id") % 60).cast("string").alias("k"),
                    F.col("id").alias("event_id"),
                    F.timestamp_seconds(1700000000 + F.col("id")).alias("ts"),
                    (F.col("id") % 7).cast("double").alias("v")))
    skew = (spark.range(5000)
            .select(F.lit("hot").alias("k"),
                    (F.col("id") + 10000).alias("event_id"),
                    F.timestamp_seconds(1700100000 + F.col("id")).alias("ts"),
                    (F.col("id") % 7).cast("double").alias("v")))
    df = base.unionByName(skew)
    sql = """
        SELECT k, a_id, b_id FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY ts, event_id
            MEASURES A.event_id AS a_id, B.event_id AS b_id
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS v = 6, B AS v = 0
        )
    """

    def run():
        s = StreamSQL(spark)
        s.execute(sql)
        return sorted((r["k"], r["a_id"], r["b_id"])
                      for r in s.query(df).collect())

    full = run()
    assert len(full) > 700  # matches exist in both base and skewed keys
    monkeypatch.setattr(cep_executor, "_TASK_CHUNK_ROWS", 512)
    assert run() == full


# --- cep/engine.go:593-625 SkipToFirst (reference-shaped case: the
# skip lands past the match tail either way, so the engine's inclusive
# re-anchor and the reference's occurrence+1 agree on the count)
def test_skip_to_first_symbol(spark):
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS a_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO FIRST B
        PATTERN (A B+ C)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2, C AS k == 3
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 2}, {"ts": 3, "k": 2},
            {"ts": 4, "k": 3}, {"ts": 5, "k": 2}, {"ts": 6, "k": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1 and out[0]["mn"] == 1 and out[0]["a_ts"] == 1


def test_skip_to_first_reanchors_stride_1(spark):
    """SKIP TO FIRST Y on PATTERN (X Y Z) over a qualifying run: the
    next match re-anchors ON the matched Y row (SQL-standard inclusive
    semantics — the reference's skipTo returns occurrence+1,
    engine.go:600, which its own e2e suite never distinguishes; we
    keep the Flink/Oracle re-anchor and pin it here), so a run of L
    rows tiles at stride 1: L-2 matches.  Observably different from
    TO LAST Z (stride 2) and PAST LAST ROW (stride 3) on the same
    input."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES X.ts AS x_ts, Z.ts AS z_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO FIRST Y
        PATTERN (X Y Z)
        WITHIN '1h'
        DEFINE X AS v > 0, Y AS v > 0, Z AS v > 0
    )"""
    rows = [{"ts": t, "v": 1} for t in range(1, 8)]  # run of 7
    out = run_cep(spark, sql, rows)
    assert [(r["x_ts"], r["z_ts"]) for r in out] == \
        [(1, 3), (2, 4), (3, 5), (4, 6), (5, 7)]


@pytest.mark.parametrize("seed", [0, 1])
def test_cep_trigger_interleaving_equals_single_replay(spark, seed):
    """CEP-mode repeated triggers: across all batches combined, exactly
    the matches one full replay yields — NFA spans cross trigger
    boundaries, no match delivers twice."""
    import random
    rng = random.Random(seed)
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES FIRST(A.ts) AS a_ts, B.ts AS b_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B)
        DEFINE A AS v > 5, B AS v < 3
    )"""
    rows = [{"ts": i, "v": float(rng.randint(0, 9))} for i in range(30)]
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
        if rng.random() < 0.2:
            got.extend(s.trigger_window())
    got.extend(s.trigger_window())
    key = lambda r: (r["a_ts"], r["b_ts"])  # noqa: E731
    assert sorted(got, key=key) == sorted(expected, key=key)


def test_cep_null_rows_sql_semantics_batch(spark):
    """Batch kernel NULL parity (review r6 pass 4 #1/#2/#4): NaN from
    pandas must behave as SQL NULL — `NOT(v > 5)` on NULL stays
    UNKNOWN (no match), measures skip NULLs, round(NULL) is NULL, and
    simple CASE never matches on NULL=NULL."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)
    schema = StructType([StructField("ts", LongType()),
                         StructField("v", DoubleType()),
                         StructField("w", DoubleType())])
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES round(avg(A.v), 2) AS av, sum(A.w) AS sw,
                 CASE A.w WHEN A.w THEN 'eq' ELSE 'ne' END AS c
        ONE ROW PER MATCH
        PATTERN (A{2})
        DEFINE A AS NOT(v > 5)
    )"""
    s = StreamSQL(spark, schema=schema)
    s.execute(sql)
    # v NULL: NOT(NULL > 5) is UNKNOWN -> row must NOT classify as A
    for r in [{"ts": 1, "v": 1.0, "w": None},
              {"ts": 2, "v": None, "w": 2.0},   # breaks the run
              {"ts": 3, "v": 2.0, "w": None},
              {"ts": 4, "v": 3.0, "w": None}]:
        s.emit(r)
    out = s.trigger_window()
    # only rows 3+4 form A{2}; their w are all NULL -> sum NULL,
    # round(avg) real, CASE NULL WHEN NULL -> 'ne' (SQL 3VL)
    assert len(out) == 1
    assert out[0]["av"] == 2.5 and out[0]["sw"] is None
    assert out[0]["c"] == "ne"


def test_cep_zero_width_alternative_keeps_consuming_branch(spark):
    """Quantified alternation (A? | B)+: a zero-width A? yield must not
    abandon the consuming B alternative (review r6 pass 4 #7)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES count(B.*) AS nb
        ONE ROW PER MATCH
        PATTERN ((A? | B)+ C)
        DEFINE A AS v = 99, B AS v = 1, C AS v = 2
    )"""
    out = run_cep(spark, sql, [{"ts": 1, "v": 1}, {"ts": 2, "v": 2}])
    assert [r["nb"] for r in out] == [1]


def test_cep_field_negative_index_matches_render_path():
    """The CEP evaluator's _field must honor negative from-end indices
    exactly like the rendered try_element_at path (fieldpath.go:242) —
    before the fix a DEFINE on alerts[-1] silently read NULL every row
    (review r6 #3)."""
    from streamsql_spark.cep.eval import _field
    row = {"a": [1, 2, 3], "m": {"k": "v"}}
    assert _field(row, ("a", -1)) == 3
    assert _field(row, ("a", -3)) == 1
    assert _field(row, ("a", -4)) is None  # oob either sign -> None
    assert _field(row, ("a", 3)) is None


def run_cep_exclusive(spark, sql, rows):
    s = StreamSQL(spark, cep_skip_anchor="exclusive")
    s.execute(sql)
    for r in rows:
        s.emit(r)
    return s.trigger_window()


def test_skip_to_first_exclusive_reference_stride_2(spark):
    """cep_skip_anchor='exclusive' follows the reference's skipTo
    (engine.go:600: occurrence+1): SKIP TO FIRST Y on PATTERN (X Y Z)
    resumes one PAST the matched Y, so a run of 7 tiles at stride 2 —
    vs stride 1 under the default inclusive re-anchor (pinned by
    test_skip_to_first_reanchors_stride_1 on the same input)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES X.ts AS x_ts, Z.ts AS z_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO FIRST Y
        PATTERN (X Y Z)
        WITHIN '1h'
        DEFINE X AS v > 0, Y AS v > 0, Z AS v > 0
    )"""
    rows = [{"ts": t, "v": 1} for t in range(1, 8)]  # run of 7
    out = run_cep_exclusive(spark, sql, rows)
    assert [(r["x_ts"], r["z_ts"]) for r in out] == [(1, 3), (3, 5), (5, 7)]


def test_skip_to_last_exclusive_degenerates_to_past_last(spark):
    """Exclusive SKIP TO LAST Z, where Z is the final pattern symbol,
    is occurrence+1 = match end + 1 = PAST LAST ROW (the degenerate
    case the docstring and README call out): stride 3 on a run of 9 —
    vs the inclusive default's stride-2 re-anchor ON the last Z."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES X.ts AS x_ts, Z.ts AS z_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO LAST Z
        PATTERN (X Y Z)
        WITHIN '1h'
        DEFINE X AS v > 0, Y AS v > 0, Z AS v > 0
    )"""
    rows = [{"ts": t, "v": 1} for t in range(1, 10)]  # run of 9
    out = run_cep_exclusive(spark, sql, rows)
    assert [(r["x_ts"], r["z_ts"]) for r in out] == [(1, 3), (4, 6), (7, 9)]
    # inclusive default on the identical input: stride 2
    out_inc = run_cep(spark, sql, rows)
    assert [(r["x_ts"], r["z_ts"]) for r in out_inc] == \
        [(1, 3), (3, 5), (5, 7), (7, 9)]


def test_cep_skip_anchor_rejects_unknown(spark):
    import pytest as _pytest
    with _pytest.raises(ValueError):
        StreamSQL(spark, cep_skip_anchor="sideways")


def test_skip_to_first_absent_symbol_past_last(spark):
    """Skip symbol never bound (B* matched empty): fall through to
    past-last-row (engine.go:598-603 s<0 branch)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES FIRST(A.ts) AS a_ts, MATCH_NUMBER() AS mn
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO FIRST B
        PATTERN (A B* C)
        WITHIN '1h'
        DEFINE A AS k == 1, B AS k == 2, C AS k == 3
    )"""
    rows = [{"ts": 1, "k": 1}, {"ts": 2, "k": 3},
            {"ts": 3, "k": 1}, {"ts": 4, "k": 3}]
    out = run_cep(spark, sql, rows)
    assert [r["a_ts"] for r in out] == [1, 3]


def test_skip_to_first_subset_symbol(spark):
    """SKIP TO FIRST over a SUBSET union symbol resolves to the first
    row bound to ANY member (seqOfLabel walks subset members,
    engine.go:607-625)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES X.ts AS x_ts, Z.ts AS z_ts
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO FIRST M
        PATTERN (X Y Z)
        SUBSET M = (Y, Z)
        WITHIN '1h'
        DEFINE X AS v > 0, Y AS v > 0, Z AS v > 0
    )"""
    rows = [{"ts": t, "v": 1} for t in range(1, 6)]  # run of 5
    out = run_cep(spark, sql, rows)
    # first M-member row is Y = anchor+1 -> stride 1
    assert [(r["x_ts"], r["z_ts"]) for r in out] == [(1, 3), (2, 4), (3, 5)]


# --- r5 review fixes: navigation bounds + DEFINE aggregate scoping


def test_first_last_offset_beyond_bound_rows_is_null(spark):
    """FIRST/LAST(X.col, n) with n >= the symbol's bound rows is NULL —
    never an IndexError (the bounds guard must run BEFORE indexing)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES LAST(A.v, 3) AS l3, FIRST(A.v, 5) AS f5,
                 LAST(A.v) AS l0
        ONE ROW PER MATCH
        PATTERN (A{2} B)
        WITHIN '1h'
        DEFINE A AS v < 10, B AS v >= 10
    )"""
    rows = [{"ts": 1, "v": 1}, {"ts": 2, "v": 2}, {"ts": 3, "v": 99}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["l3"] is None and out[0]["f5"] is None
    assert out[0]["l0"] == 2


def test_define_aggregate_scopes_to_symbol_with_candidate(spark):
    """SUM(B.amt) inside DEFINE B aggregates ONLY B rows INCLUDING the
    row under classification (reference cep/eval.go rowsLabels appends
    the candidate) — never the other symbols' rows.  With the old
    all-rows fallback the A row's 9 would poison every B candidate and
    the pattern could not match at all."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(*) AS n, SUM(B.amt) AS bsum
        ONE ROW PER MATCH
        PATTERN (A B+)
        WITHIN '1h'
        DEFINE A AS amt = 9, B AS SUM(B.amt) <= 10
    )"""
    rows = [{"ts": 1, "amt": 9}, {"ts": 2, "amt": 4},
            {"ts": 3, "amt": 5}, {"ts": 4, "amt": 3}]
    out = run_cep(spark, sql, rows)
    # B+ takes amt=4 (sum 4) and amt=5 (sum 9); amt=3 would reach 12
    assert len(out) == 1
    assert out[0]["n"] == 3 and out[0]["bsum"] == 9.0


def test_measure_aggregate_over_unbound_symbol_is_empty(spark):
    """SUM/COUNT over a pattern symbol that bound ZERO rows (optional
    branch) aggregates over the empty set — not over every match row
    (the old silent all-rows fallback)."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES COUNT(B.v) AS nb, SUM(B.v) AS sb, SUM(A.v) AS sa
        ONE ROW PER MATCH
        PATTERN (A B? C)
        WITHIN '1h'
        DEFINE A AS v = 1, B AS v = 50, C AS v = 3
    )"""
    rows = [{"ts": 1, "v": 1}, {"ts": 2, "v": 3}]
    out = run_cep(spark, sql, rows)
    assert len(out) == 1
    assert out[0]["nb"] == 0 and out[0]["sb"] is None
    assert out[0]["sa"] == 1.0


# ---------------- r7: measures evaluator differential fuzz vs Spark
@pytest.mark.slow
def test_measures_differential_fuzz_vs_spark(spark):
    """cep/eval.py is the one hand-rolled expression engine that is
    neither Catalyst nor pyeval (both r6 MEASURES defects lived there).
    Fuzz it: random MEASURES expressions over random matches, asserted
    against the equivalent Spark SQL computed on the same matched rows
    (ground truth bindings taken from an ALL ROWS PER MATCH run of the
    identical pattern — this trusts the matcher, which batch/stream
    parity tests cover, and isolates the MEASURE evaluator)."""
    import random

    from pyspark.sql import functions as F

    def ordered(sym):
        # bound rows of `sym` in arrival order, as an array of values
        return ("filter(array_sort(collect_list(struct(ts AS t, "
                "csym AS s, v AS v))), x -> x.s = '" + sym + "')")

    def leaf(rng):
        s = rng.choice(["A", "B"])
        kind = rng.randrange(9)
        if kind == 0:
            return f"SUM({s}.v)", f"sum(CASE WHEN csym = '{s}' THEN v END)"
        if kind == 1:
            return f"AVG({s}.v)", f"avg(CASE WHEN csym = '{s}' THEN v END)"
        if kind == 2:
            return f"MIN({s}.v)", f"min(CASE WHEN csym = '{s}' THEN v END)"
        if kind == 3:
            return f"MAX({s}.v)", f"max(CASE WHEN csym = '{s}' THEN v END)"
        if kind == 4:
            return (f"COUNT({s}.v)",
                    f"count(CASE WHEN csym = '{s}' THEN v END)")
        if kind == 5:
            return "COUNT(*)", "count(*)"
        if kind == 6:
            n = rng.randrange(2)
            return (f"FIRST({s}.v, {n})",
                    f"try_element_at(transform({ordered(s)}, x -> x.v), "
                    f"{n + 1})")
        if kind == 7:
            n = rng.randrange(2)
            return (f"LAST({s}.v, {n})",
                    f"try_element_at(transform({ordered(s)}, x -> x.v), "
                    f"-{n + 1})")
        # bare X.v is LAST row bound to X (FINAL semantics)
        return (f"{s}.v",
                f"try_element_at(transform({ordered(s)}, x -> x.v), -1)")

    def gen(rng, depth):
        # numeric expressions only — concat/upper/length are composed
        # at the TOP level below, so string values never flow into
        # arithmetic (implicit string→number casts are engine-specific
        # and not the evaluator surface under test)
        if depth == 0 or rng.random() < 0.3:
            return leaf(rng)
        m1, o1 = gen(rng, depth - 1)
        kind = rng.randrange(7)
        if kind == 0:
            return f"abs({m1})", f"abs({o1})"
        if kind == 1:
            return f"round({m1}, 1)", f"round({o1}, 1)"
        if kind == 2:
            return f"floor({m1})", f"floor({o1})"
        if kind == 3:
            return f"ceil({m1})", f"ceil({o1})"
        if kind == 4:
            m2, o2 = gen(rng, depth - 1)
            return f"coalesce({m1}, {m2})", f"coalesce({o1}, {o2})"
        m2, o2 = gen(rng, depth - 1)
        op = rng.choice(["+", "-", "*"])
        return f"({m1} {op} {m2})", f"({o1} {op} {o2})"

    def gen_top(rng):
        if rng.random() < 0.25:
            # string layer: concat nil-skips with ToString-join;
            # int-valued args only (float formatting is JVM-vs-Python
            # repr noise, not semantics)
            m1, o1 = gen(rng, 1)
            m2, o2 = gen(rng, 1)
            m = f"concat(floor({m1}), 'x', floor({m2}))"
            o = (f"concat_ws('', CAST(floor({o1}) AS STRING), 'x', "
                 f"CAST(floor({o2}) AS STRING))")
            if rng.random() < 0.5:
                return f"length({m})", f"length({o})"
            return m, o
        return gen(rng, 2)

    rng = random.Random(20260815)
    checked = 0
    for trial in range(6):
        rows = []
        for i in range(28):
            v = rng.choice([None, float(rng.randint(0, 100)),
                            round(rng.uniform(0.0, 100.0), 2)])
            rows.append({"ts": i + 1, "v": v})
        base = """FROM stream MATCH_RECOGNIZE (
            ORDER BY ts
            MEASURES {meas}
            {mode} PER MATCH
            PATTERN (A B+)
            WITHIN '1h'
            DEFINE A AS v > 50, B AS v <= 50
        )"""
        # ground truth bindings
        truth = run_cep(spark, "SELECT * " + base.format(
            meas="CLASSIFIER() AS csym, MATCH_NUMBER() AS mn",
            mode="ALL ROWS"), rows)
        if not truth:
            continue
        exprs = [gen_top(rng) for _ in range(8)]
        meas = ", ".join(["MATCH_NUMBER() AS mn"]
                         + [f"{m} AS e{i}" for i, (m, _) in enumerate(exprs)])
        got = run_cep(spark, "SELECT * " + base.format(
            meas=meas, mode="ONE ROW"), rows, sort_by=["mn"])
        tdf = spark.createDataFrame(
            [(r["mn"], r["ts"], r["csym"],
              None if r["v"] is None else float(r["v"]))
             for r in truth], "mn long, ts long, csym string, v double")
        want_rows = (tdf.groupBy("mn")
                     .agg(*[F.expr(o).alias(f"e{i}")
                            for i, (_, o) in enumerate(exprs)])
                     .collect())
        want = {r["mn"]: r.asDict() for r in want_rows}
        assert len(got) == len(want)
        for r in got:
            w = want[r["mn"]]
            for i, (m, o) in enumerate(exprs):
                g, e = r[f"e{i}"], w[f"e{i}"]
                if isinstance(g, float) or isinstance(e, float):
                    ok = (g is None and e is None) or (
                        g is not None and e is not None
                        and abs(float(g) - float(e)) <= 1e-6
                        * max(1.0, abs(float(e))))
                else:
                    ok = g == e
                assert ok, (trial, m, o, g, e, r["mn"])
                checked += 1
    assert checked > 100  # the fuzz actually exercised expressions


def test_measures_round_infinity_and_concat_java_floats(spark):
    """r7 review fixes: round(±Inf/NaN) passes through instead of
    killing the task (Decimal.quantize raises on non-finite), and
    concat stringifies floats with Java Double.toString layout —
    scientific at |x| >= 1e7, matching the SELECT-path CAST."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES round(A.v) AS rv, concat(A.big, '|', A.tiny) AS c
        ONE ROW PER MATCH
        PATTERN (A)
        WITHIN '1h'
        DEFINE A AS ts > 0
    )"""
    rows = [{"ts": 1, "v": float("inf"), "big": 12345678.0,
             "tiny": 0.0001}]
    out = run_cep(spark, sql, rows)
    assert out[0]["rv"] == float("inf")
    assert out[0]["c"] == "1.2345678E7|1.0E-4"
    # differential: the SELECT path must produce the same string
    s = StreamSQL(spark)
    s.execute("SELECT concat(big, '|', tiny) AS c FROM stream")
    assert s.emit_sync({"ts": 1, "big": 12345678.0,
                        "tiny": 0.0001})["c"] == "1.2345678E7|1.0E-4"


@pytest.mark.parametrize("v,d", [
    (2 ** 53 + 1, 0), (2 ** 53 + 1, -1), (-(2 ** 53 + 1), -1),
    (2 ** 53 + 1, 2), (2 ** 63 - 1, -2), (2 ** 63 - 1, -20),
    (2 ** 63 - 1, -1), (-2 ** 63, -1), (-(2 ** 63 - 1), -3),
    (1e27, 2), (-1e27, 2), (float(2 ** 53 + 1), 0), (1.005, 2), (2.5, 0),
])
def test_measures_round_matches_spark_at_extremes(spark, v, d):
    """MEASURES round() against Spark's round on the same value: a BIGINT
    rounds exactly past 2^53 and keeps its type, overflows near ±BIGINT
    where Spark does (an error, not a wrapped value), and a double past
    the 28-digit Decimal context (1e27 at two places) is answered, not
    an InvalidOperation inside the task."""
    lit = f"CAST({v} AS BIGINT)" if isinstance(v, int) \
        else f"CAST('{v!r}' AS DOUBLE)"
    sql = f"""SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES round(A.v, {d}) AS r
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS ts > 0
    )"""
    try:
        want = spark.sql(f"SELECT round({lit}, {d}) AS r").collect()[0]["r"]
    except Exception as e:
        assert "ARITHMETIC_OVERFLOW" in str(e)
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            run_cep(spark, sql, [{"ts": 1, "v": v}])
        return
    (got,) = run_cep(spark, sql, [{"ts": 1, "v": v}])
    assert (type(got["r"]), got["r"]) == (type(want), want)


def test_java_double_str_matches_jvm_cast(spark):
    """Pin `_java_double_str` against the REAL JVM's
    CAST(double AS STRING) over a hard corpus: random bit patterns,
    >=17-significant-digit doubles, and denormals (r8, closing the r7
    'documented approximate' residual).  On Ryu JVMs (JDK >= 19) the
    match must be exact EVERYWHERE; on legacy JVMs (JDK <= 18 —
    detected by the runtime probe) the only permitted divergences are
    the two pinned classes — exact-integer doubles >= 2^53 and
    subnormals, and low-information mantissas (>= 40 trailing zero
    bits, e.g. 2^-44) — where legacy FloatingDecimal emits extra
    trailing digits (JDK-4511638) — and even there BOTH strings must
    round-trip to the same double (layout identical, digits differ)."""
    import random
    import struct

    from streamsql_spark.cep.eval import (_java_double_str,
                                          jvm_double_str_is_legacy)

    rng = random.Random(8)
    vals = [5e-324, 1e-323, 2 ** -44, 1e23, 0.1, 1 / 3, 0.001, 1e7,
            9999999.999999998, 1.7976931348623157e308,
            2.2250738585072014e-308, 9.745699541085918e16]
    for _ in range(1500):
        b = rng.getrandbits(64)
        x = struct.unpack("<d", struct.pack("<Q", b))[0]
        if x == x and abs(x) != float("inf"):
            vals.append(x)
    for _ in range(800):  # 17-significant-digit doubles
        m = rng.randrange(10 ** 16, 10 ** 17)
        vals.append(float(f"{m}e{rng.randrange(-25, 25)}"))
    for _ in range(300):  # subnormals
        vals.append(struct.unpack(
            "<d", struct.pack("<Q", rng.randrange(1, 1 << 52)))[0])
    for _ in range(500):  # trailing-zero-heavy mantissas (2^-44 class)
        tz = rng.randrange(30, 53)
        mant = (rng.getrandbits(52 - tz) << tz) & ((1 << 52) - 1)
        expo = rng.randrange(1, 2046)
        vals.append(struct.unpack(
            "<d", struct.pack("<Q", (expo << 52) | mant))[0])

    def mant_tz(x):
        bits = struct.unpack("<Q", struct.pack("<d", abs(x)))[0]
        f = (bits & ((1 << 52) - 1)) | ((1 << 52)
                                        if (bits >> 52) & 0x7FF else 0)
        return (f & -f).bit_length() - 1 if f else 0

    legacy = jvm_double_str_is_legacy(spark)
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.selectExpr("x", "cast(x as string) AS s").collect()
    diverged = 0
    for r in got:
        x, jvm = r["x"], r["s"]
        mine = _java_double_str(x)
        if mine == jvm:
            continue
        diverged += 1
        assert legacy, \
            f"Ryu JVM must match everywhere: x={x!r} jvm={jvm} py={mine}"
        in_pinned = (abs(x) >= 2.0 ** 53
                     or 0 < abs(x) < 2.2250738585072014e-308
                     or mant_tz(x) >= 40)
        assert in_pinned, (f"divergence outside the pinned classes: "
                           f"x={x!r} jvm={jvm} py={mine}")
        # bounded divergence: both spellings are the same double
        assert float(jvm) == x and float(mine) == x, \
            f"non-round-tripping spelling: x={x!r} jvm={jvm} py={mine}"
    # the corpus must actually exercise the pinned classes on legacy
    if legacy:
        assert diverged > 0


def test_measure_type_descends_nested_and_survives_name_shadow():
    """The measure typer descends nested navigation segments into
    container types (a map-typed lookup column's element is the
    measure VALUE), and a qualifier named like the column (v.v) must
    still resolve the column's type — review find r10: .index() found
    the first occurrence and mis-descended the scalar."""
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   MapType, StringType, StructField,
                                   StructType)

    from streamsql_spark.cep.executor import _measure_type
    from streamsql_spark.dialect import nodes as N

    schema = {
        "v": StringType(),
        "thresholds": MapType(StringType(), DoubleType()),
        "nums": ArrayType(LongType()),
        "meta": StructType([StructField("site", StringType())]),
    }
    # symbol-qualified scalar: A.v → the column's own type
    assert isinstance(_measure_type(N.Col(("A", "v")), schema),
                      StringType)
    # qualifier shadowing the column name: v.v → still StringType
    assert isinstance(_measure_type(N.Col(("v", "v")), schema),
                      StringType)
    # nested map element: m.thresholds['hi'] → DoubleType
    assert isinstance(
        _measure_type(N.Col(("m", "thresholds", N.MapKey("hi"))), schema),
        DoubleType)
    # array index → element type; struct dot → field type
    assert isinstance(_measure_type(N.Col(("nums", 0)), schema), LongType)
    assert isinstance(_measure_type(N.Col(("meta", "site")), schema),
                      StringType)


def test_batch_null_define_prefilter_is_future_warning_free(spark,
                                                            monkeypatch):
    """A DEFINE that evaluates to NULL reaches the batch kernel's
    vectorized prefilter as an object column of True/None/False.  Mapping
    its NULL to False must not take pandas' object-dtype downcast on
    ``fillna`` (a FutureWarning in pandas 2.2, a behaviour change
    later), so the kernel runs here with FutureWarning as an error."""
    df = spark.createDataFrame([(1, 60), (2, None), (3, 70), (4, 10)],
                               "ts long, v long")
    cls = type(df)  # the classic DataFrame, which defines mapInPandas
    real = cls.mapInPandas

    def strict_map(self, func, schema, *args, **kwargs):
        def strict(batches):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("error", FutureWarning)
                yield from func(batches)
        return real(self, strict, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", strict_map)
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.v AS a, B.v AS b
        PATTERN (A B)
        DEFINE A AS v > 50, B AS v <= 50
    )"""
    out = StreamSQL(spark).execute(sql).query(df).collect()
    assert [(r["a"], r["b"]) for r in out] == [(70, 10)]
