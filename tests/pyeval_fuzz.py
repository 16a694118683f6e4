"""Heavy randomized differential fuzz for the per-event fast path.

The CI suites pin per-family seeded subsets (tests/test_engine.py);
this script is the WIDE sweep — thousands of py-vs-Spark comparisons
over random JSON documents (unicode, duplicate keys, big numbers),
timestamps across years 1200-9999 (invalid dates, fractions),
doubles to ±1e30, CRLF strings, null-bearing arrays, and the numeric
operators (arithmetic, comparisons, CASE, round, floor/ceil) over
NULL, booleans, BIGINT edges, doubles past BIGINT and past DECIMAL's
28 digits, NaN/infinities and strings.  Run it manually after
whitelist or pyeval changes; the bar is ZERO divergences — a fallback
(the event re-routes to the Spark oracle) is fine; a differing answer,
an answer where the Spark path raises, or an exception out of the
python path is a divergence.

A second leg draws analytic statements (``lag``, ``latest``,
``had_changed``, ``changed_col`` and ``acc_*`` under random PARTITION BY
keys and WHEN gates, read through ``round``, ``CAST`` and arithmetic) and
drives each through the public ``emit_sync`` and through a twin forced
onto the Spark route, comparing the answers and ``_an_states`` after
every event.

    python3 tests/pyeval_fuzz.py [seed]

Baseline: ~1,500 comparisons per seed on the direct leg and 320 events
on the analytic leg, 0 divergences (seeds 20260816 and 7).
"""

from __future__ import annotations

import calendar
import math
import os
import random
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamsql_spark.api.facade import StreamSQL  # noqa: E402
from streamsql_spark.session import get_spark  # noqa: E402


def build_queries(rng: random.Random):
    def rnd_json(depth=0):
        r = rng.random()
        if depth > 2 or r < 0.25:
            return rng.choice(
                ['5', '-3.25', '"x"', 'true', 'null', '1e3', '0.0001',
                 '99999999999999999999', '1.5e-2',
                 # escape-sequence surface: lone surrogates diverge
                 # (JVM '?'-replacement — must fall back), pairs and
                 # plain escapes must match
                 '"\\ud800"', '"\\ud83d\\ude00"', '"a\\u0041\\n\\t"',
                 '"q\\\\x\\""',
                 '"' + "".join(rng.choices("abß✓ ", k=3)) + '"'])
        if r < 0.6:
            n = rng.randint(0, 3)
            return '[' + ', '.join(rnd_json(depth + 1)
                                   for _ in range(n)) + ']'
        keys = rng.sample(["a", "b", "cc", "d_1", "e e"],
                          k=rng.randint(0, 3))
        return '{' + ', '.join(f'"{k}": {rnd_json(depth + 1)}'
                               for k in keys) + '}'

    def rnd_ts():
        if rng.random() < 0.15:
            return rng.choice([None, "garbage", "2024-1-5", "2024-02-30",
                               "2024-02-29 23:59:60", "0000-01-01"])
        y, mo = rng.randint(1200, 9999), rng.randint(1, 12)
        d = rng.randint(1, calendar.monthrange(y, mo)[1])
        if rng.random() < 0.3:
            return f"{y:04d}-{mo:02d}-{d:02d}"
        frac = f".{rng.randint(0, 999999):06d}" if rng.random() < 0.3 \
            else ""
        return (f"{y:04d}-{mo:02d}-{d:02d} {rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}{frac}")

    def rnd_str():
        return "".join(rng.choices(
            string.ascii_letters + string.digits + " .-+e",
            k=rng.randint(0, 12)))

    extremes = [None, True, False, 0, 1, -1, 2 ** 63 - 1, -(2 ** 63 - 1),
                2 ** 63, -(2 ** 63), 2 ** 53 + 1, 1.5, 2.0 ** 53,
                2.0 ** 63, float("nan"), float("inf"), float("-inf"),
                1e19, -1e19, 1e27, -1e27, 1e300, -1e300, "a", "b"]

    def rnd_num():
        r = rng.random()
        if r < 0.4:
            return rng.choice(extremes)
        if r < 0.7:
            return rng.randint(-1000, 1000)
        return rng.uniform(-1, 1) * 10.0 ** rng.randint(-3, 30)

    def num_pair():
        return {"x": rnd_num(), "y": rnd_num()}

    return [
        ("SELECT x + y AS a, x - y AS b, x * y AS c, x / y AS d, "
         "x % y AS e, x ^ y AS f FROM stream", num_pair),
        ("SELECT x = y AS a, x != y AS b, x < y AS c, x <= y AS d, "
         "x > y AS e, x >= y AS f FROM stream", num_pair),
        ("SELECT x + 1.5 AS a, 32 - x AS b, x * 1e+19 AS c, "
         "x / 1.5 AS d, 7 % x AS e, x > 21 AS f, 0.5 <= x AS g, "
         "x = NULL AS h FROM stream", num_pair),
        ("SELECT CASE WHEN x > y THEN 'gt' WHEN x < y THEN 'lt' "
         "ELSE 'eq' END AS a, CASE WHEN x > 0 THEN x ELSE y END AS b, "
         "CASE x WHEN 1 THEN 'one' ELSE 'other' END AS c FROM stream",
         num_pair),
        ("SELECT round(x, 2) AS a, round(x, -1) AS b, round(x) AS c, "
         "floor(x) AS d, ceil(y) AS e FROM stream", num_pair),
        ("SELECT json_valid(j) AS a, json_type(j) AS b, "
         "json_length(j) AS c, from_json(j) AS d FROM stream",
         lambda: {"j": rnd_json() if rng.random() < 0.9
                  else rng.choice([None, "{bad", "nope", ""])}),
        ("SELECT day(t) AS a, hour(t) AS b, month(t) AS c, year(t) AS d,"
         " dayofweek(t) AS e, dayofyear(t) AS f, minute(t) AS g, "
         "second(t) AS h FROM stream",
         lambda: {"t": rnd_ts()}),
        ("SELECT to_seconds(t) AS a, "
         "date_format(t, 'YYYY/MM/DD HH:mi:SS') AS b FROM stream",
         lambda: {"t": rnd_ts()}),
        ("SELECT date_add(t, 1, 'month') AS a, date_sub(t, 7, 'day') AS "
         "b, date_add(t, 3, 'quarter') AS c, date_add(t, -2, 'year') "
         "AS d FROM stream",
         lambda: {"t": rnd_ts()}),
        ("SELECT date_diff(t, u, 'day') AS a, date_diff(t, u, 'minute')"
         " AS b FROM stream",
         lambda: {"t": rnd_ts(), "u": rnd_ts()}),
        ("SELECT format(v, '0.000') AS a, format(v, '0') AS b "
         "FROM stream",
         lambda: {"v": rng.choice(
             [None, rng.uniform(-1e6, 1e6), rng.uniform(-1, 1),
              rng.uniform(-1e30, 1e30), rng.randint(-100, 100),
              float(rng.randint(0, 2000)) / 1000.0])}),
        ("SELECT chr(c) AS a, from_unixtime(c * 25000000) AS b "
         "FROM stream",
         lambda: {"c": rng.choice([None, rng.randint(-2, 130),
                                   rng.randint(0, 100)])}),
        ("SELECT encode(s, 'base64') AS a, encode(s, 'hex') AS b "
         "FROM stream",
         lambda: {"s": rng.choice([None, rnd_str()])}),
        ("SELECT regexp_substring(s, '[0-9]+') AS a, "
         "regexp_substring(s, '(ab|cd)+') AS b FROM stream",
         lambda: {"s": rng.choice([None, rnd_str(), "ababcd12",
                                   "x\r\ny9"])}),
    ]


# the analytic leg: one call each, over x or y (the numeric family) or s
_AN_CALLS = [
    "lag({c})", "lag({c}, 2)", "lag({c}, 1, 0.5)", "lag({c}, 1, {c}, false)",
    "latest({c})", "latest({c}, -1)", "had_changed(true, {c})",
    "had_changed(false, {c}, s)", "changed_col(true, {c})",
    "changed_col(false, {c})", "acc_sum({c})", "acc_count({c})",
    "acc_min({c})", "acc_max({c})", "acc_avg({c})",
    "acc_sum({c}, s = 'a', s = 'b')",
]
_AN_PARTS = ["", "PARTITION BY k1", "PARTITION BY k1, k2"]
_AN_GATES = ["", "", "WHEN x > 0", "WHEN s = 'a'", "WHEN had_changed(true, s)"]
# what a placeholder is read through: as it is, rounded, cast, computed
_AN_WRAPS = ["{a}", "{a}", "round({a}, 2)", "CAST({a} AS DOUBLE)",
             "CAST({a} AS STRING)", "({a}) * 2", "({a}) + 1.5",
             "round(({a}) - 1, 1)"]


def build_analytic_queries(rng: random.Random, n: int = 8):
    """``n`` random analytic statements: one to three calls of
    ``_AN_CALLS`` with a random PARTITION BY (none, one or two keys) and
    WHEN gate (a lifted ``had_changed`` among them), each read through a
    random wrapper, and an event generator over the numeric family
    (BIGINT edges, NULL, NaN, strings against numbers)."""
    extremes = [None, True, 0, 1, -1, 2 ** 63 - 1, -(2 ** 63), 2 ** 53 + 1,
                1.5, 2.0 ** 63, float("nan"), float("inf"), 1e27, -1e27,
                "a", "7"]

    def rnd_num():
        r = rng.random()
        if r < 0.25:
            return rng.choice(extremes)
        if r < 0.6:
            return rng.randint(-5, 5)
        return rng.choice([0.25, 1.5, -2.75, 12.0, 3.125])

    def gen():
        return {"k1": rng.choice(["a", "b"]), "k2": rng.choice([1, 2]),
                "s": rng.choice(["a", "b", None]), "x": rnd_num(),
                "y": rng.choice([None, 1.5, 2.5, -4.0, 3])}

    out = []
    for _ in range(n):
        over = " ".join(x for x in (rng.choice(_AN_PARTS),
                                    rng.choice(_AN_GATES)) if x)
        cols = []
        for j in range(rng.randint(1, 3)):
            call = rng.choice(_AN_CALLS).format(c=rng.choice("xxy"))
            a = f"{call} OVER ({over})" if over else call
            cols.append(f"{rng.choice(_AN_WRAPS).format(a=a)} AS a{j}")
        out.append((f"SELECT k1, {', '.join(cols)} FROM stream", gen))
    return out


def _state_key(v):
    """A comparable form of analytic state: type-tagged, NaN equal to
    NaN, a list told apart from a tuple."""
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, dict):
        return ("dict", sorted((repr(k), _state_key(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return (type(v).__name__, [_state_key(x) for x in v])
    return (type(v).__name__, v)


def _answer(e, row):
    """``e.emit_sync(row)``, or the type of the exception it raised."""
    try:
        return e.emit_sync(dict(row))
    except Exception as ex:  # noqa: BLE001 — both routes must raise alike
        return type(ex)


def run_analytic_fuzz(spark, seed: int, statements: int = 8,
                      per_statement: int = 40,
                      report=print) -> tuple[int, int, int]:
    """The analytic leg: each statement of :func:`build_analytic_queries`
    runs on the public ``emit_sync`` and on a twin forced onto the Spark
    route (``_an_py = None``); after every event the answers (a row,
    None or the exception type) and the ``_an_states`` of the two must
    be equal.  An event the bound function hands to the Spark route, or
    whose projection goes to Spark, fell back.  Returns (compared, fell
    back, diverged)."""
    rng = random.Random(seed)
    n_py = n_fb = n_diff = 0
    for sql, gen in build_analytic_queries(rng, statements):
        e, twin = StreamSQL(spark), StreamSQL(spark)
        e.execute(sql)
        twin.execute(sql)
        twin._an_py = None
        handed = []
        for name in ("_emit_sync_spark", "_project_analytic_pyeval"):
            real = getattr(e, name)
            setattr(e, name, lambda *a, _real=real: handed.append(1)
                    or _real(*a))
        for _ in range(per_statement):
            row = gen()
            before = len(handed)
            py, sp = _answer(e, row), _answer(twin, row)
            if e._an_py is None:
                n_diff += 1
                report("ROUTE DISABLED:", sql, row, py)
                break
            if len(handed) > before:
                n_fb += 1
            else:
                n_py += 1
            same = py is sp if isinstance(py, type) or isinstance(sp, type) \
                else _same(py, sp)
            if not same:
                n_diff += 1
                report("DIVERGED:", sql, row, py, sp)
            elif _state_key(e._an_states) != _state_key(twin._an_states):
                n_diff += 1
                report("STATE DIVERGED:", sql, row, e._an_states,
                       twin._an_states)
    return n_py, n_fb, n_diff


def _same(py, sp) -> bool:
    """python-path row vs Spark-path row, value by value and exactly (a
    python float equals a Spark DECIMAL only at the same exact value) —
    with NaN equal to NaN, as Spark has it, and a boolean never equal
    to a number."""
    if py is None or sp is None:
        return py is sp
    if py.keys() != sp.keys():
        return False
    for k, a in py.items():
        b = sp[k]
        if isinstance(a, float) and isinstance(b, float) \
                and math.isnan(a) and math.isnan(b):
            continue
        if a != b or isinstance(a, bool) != isinstance(b, bool):
            return False
    return True


# what the fuzzer's stand-in for the Spark route answers: an event the
# bound emit_sync hands on is counted, not evaluated twice
_HANDED_ON = object()


def run_fuzz(spark, seed: int, per_statement: int = 150,
             report=print) -> tuple[int, int, int]:
    """Draw ``per_statement`` events for each of the statements of
    :func:`build_queries` (seeded by ``seed``) and send each through the
    public ``emit_sync`` — the function the first event binds — then
    compare every event the python path answered with the Spark path's
    answer; every divergence is passed to ``report``.  An event the
    bound function hands to the Spark route (``_emit_sync_spark``, here
    a stand-in that only marks it) fell back.  Returns (compared, fell
    back, diverged)."""
    rng = random.Random(seed)
    n_py = n_fb = n_diff = 0
    for sql, gen in build_queries(rng):
        e = StreamSQL(spark)
        e.execute(sql)
        e._emit_sync_spark = lambda row: _HANDED_ON
        for _ in range(per_statement):
            row = gen()
            try:
                py = e.emit_sync(dict(row))
            except Exception as ex:
                n_diff += 1
                report("PYTHON PATH RAISED:", sql[:70], row, repr(ex))
                continue
            if py is _HANDED_ON:
                n_fb += 1
                continue
            n_py += 1
            try:
                sp = e._emit_sync_fast(dict(row))
            except Exception as ex:
                n_diff += 1
                report("SPARK PATH RAISED:", sql[:70], row, py,
                       type(ex).__name__)
                continue
            if not _same(py, sp):
                n_diff += 1
                report("DIVERGED:", sql[:70], row, py, sp)
    return n_py, n_fb, n_diff


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 20260816
    spark = get_spark(shuffle_partitions=4)
    n_py, n_fb, n_diff = run_fuzz(spark, seed)
    print(f"fuzz(seed={seed}): {n_py} compared, {n_fb} fell back, "
          f"{n_diff} diverged")
    a_py, a_fb, a_diff = run_analytic_fuzz(spark, seed)
    print(f"analytic fuzz(seed={seed}): {a_py} compared, {a_fb} fell "
          f"back, {a_diff} diverged")
    return 1 if n_diff or a_diff else 0


if __name__ == "__main__":
    sys.exit(main())
