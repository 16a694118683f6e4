"""Query catalog: one entry per implemented operator (SURVEY.md §2).

Each entry pairs a Spark-side query — almost all expressed in the
StreamSQL dialect and compiled through the full parser→planner→batch
engine stack — with an ANSI-SQL DuckDB oracle.  The driver runs both at
sf0.01 and compares row count + schema + order-insensitive value hash.

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- double aggregates are rounded (4–6 dp) on both sides to absorb
  summation-order differences between Spark partials and DuckDB;
- arrays are sorted on both sides (collect/deduplicate order is
  arrival-dependent in the reference — sorting makes it checkable);
- window starts are emitted as epoch-second BIGINTs on both sides;
- analytic ordering is (ts, event_id) on both sides — the engine's
  batch analytic operator auto-tiebreaks on event_id.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .api.facade import StreamSQL
from .session import load_tables, table_stamp


@dataclass
class Entry:
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey: str  # SURVEY §2 line this entry covers


def _dialect(sql: str, source: str, dims: tuple[str, ...] = ()) -> Callable:
    """Run a StreamSQL-dialect query through the full engine stack."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        tables = load_tables(spark, sf_dir)
        q = StreamSQL(spark).execute(sql)
        for d in dims:
            q.register_table(d, tables[d])
        return q.query(tables[source])

    return run


CATALOG: dict[str, Entry] = {}


def _add(name: str, entry: Entry) -> None:
    CATALOG[name] = entry


# ===================================================================
# §2.2 Projections / filters / predicates
# ===================================================================

_add("filter_project", Entry(
    _dialect("""
        SELECT event_id, user_id, round(value * 1.8 + 32, 4) AS value_f,
               CASE WHEN value > 100 THEN 'high'
                    WHEN value > 50 THEN 'mid' ELSE 'low' END AS grade
        FROM stream
        WHERE value > 10 AND event_type != 'error'
          AND (event_type LIKE 'p%'
               OR event_type IN ('login', 'signup', 'click', 'view'))
          AND value BETWEEN 10 AND 5000
          AND props IS NOT NULL AND NOT (user_id = 7)
    """, "events"),
    """
    SELECT event_id, user_id, round(value * 1.8 + 32, 4) AS value_f,
           CASE WHEN value > 100 THEN 'high'
                WHEN value > 50 THEN 'mid' ELSE 'low' END AS grade
    FROM events
    WHERE value > 10 AND event_type != 'error'
      AND (event_type LIKE 'p%'
           OR event_type IN ('login', 'signup', 'click', 'view'))
      AND value BETWEEN 10 AND 5000
      AND props IS NOT NULL AND NOT (user_id = 7)
    """,
    "§2.2 SELECT projection + CASE + WHERE predicates LIKE/IN/BETWEEN/"
    "IS NULL/NOT (stream/processor_field.go:39-105, "
    "condition/condition.go:31-338)"))

def _distinct_orderby_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT/ORDER BY/LIMIT across ALL fire-identity kinds (r9),
    kind-tagged in one entry (50-entry gate): 'direct' = one batch per
    drain (global top-K); 'winfire' = per-window-close top-K
    (tumbling, all keys one batch); 'sessfire' = per-(key, session)
    fires — LIMIT 1 keeps every session's single aggregated row
    (session_window.go:396-425 emits each expired key separately);
    'countfire' = per-(key, chunk) fires — LIMIT 1 keeps every full
    chunk's row (processor_data.go:481-483 truncates each batch).
    Outputs normalized to a shared (kind, a, b, n, v) shape."""
    tables = load_tables(spark, sf_dir)

    def norm(df, kind, a, b, n, v):
        # ONE selectExpr, not five Column builder chains: each
        # F.lit/.cast/.alias is a ~1 ms py4j round trip and every
        # transformation re-analyzes the (deep) upstream plan eagerly —
        # one call builds the identical projection (r13, guide §5)
        return df.selectExpr(
            f"'{kind}' AS kind",
            f"CAST({a if a is not None else 'NULL'} AS string) AS a",
            f"CAST({b if b is not None else 'NULL'} AS string) AS b",
            f"CAST({n if n is not None else 'NULL'} AS long) AS n",
            f"CAST({v if v is not None else 'NULL'} AS double) AS v")

    q1 = StreamSQL(spark).execute("""
        SELECT DISTINCT user_id, event_type FROM stream WHERE value > 100
        ORDER BY user_id, event_type LIMIT 40""")
    q2 = StreamSQL(spark).execute("""
        SELECT event_type, count(*) AS cnt,
               unix_timestamp(window_start()) AS ws
        FROM stream GROUP BY event_type, TumblingWindow('6h')
        WITH (TIMESTAMP='ts') ORDER BY cnt DESC, event_type LIMIT 3""")
    q3 = StreamSQL(spark).execute("""
        SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
        FROM stream GROUP BY user_id, SessionWindow('4h')
        WITH (TIMESTAMP='ts') ORDER BY cnt DESC LIMIT 1""")
    q4 = StreamSQL(spark).execute("""
        SELECT user_id, round(sum(value), 4) AS total
        FROM stream GROUP BY user_id, CountingWindow(25)
        WITH (TIMESTAMP='ts') ORDER BY total DESC LIMIT 1""")
    ev = tables["events"]
    out = [
        norm(q1.query(ev), "direct", "user_id", "event_type", None, None),
        norm(q2.query(ev), "winfire", "event_type", "ws", "cnt", None),
        norm(q3.query(ev), "sessfire", "user_id", None, "cnt", "total"),
        norm(q4.query(ev), "countfire", "user_id", None, None, "total"),
    ]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


_add("distinct_orderby_limit", Entry(
    _distinct_orderby_run,
    """
    SELECT 'direct' AS kind, CAST(user_id AS VARCHAR) AS a,
           event_type AS b, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v
    FROM (SELECT DISTINCT user_id, event_type FROM events
          WHERE value > 100 ORDER BY user_id, event_type LIMIT 40)
    UNION ALL
    SELECT 'winfire', event_type, CAST(ws AS VARCHAR), cnt, NULL FROM (
      SELECT event_type, cnt, ws,
             row_number() OVER (PARTITION BY ws
                                ORDER BY cnt DESC, event_type) AS rn
      FROM (SELECT event_type, count(*) AS cnt,
                   CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS ws
            FROM events GROUP BY event_type, ws))
    WHERE rn <= 3
    UNION ALL
    SELECT 'sessfire', CAST(user_id AS VARCHAR), NULL, cnt, total FROM (
      WITH marked AS (
        SELECT user_id, value, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL '4 hours' OR
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
      FROM sessions GROUP BY user_id, sid)
    UNION ALL
    SELECT 'countfire', CAST(user_id AS VARCHAR), NULL, NULL, total FROM (
      WITH numbered AS (
        SELECT user_id, value,
               floor((row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) - 1)
                     / 25) AS win
        FROM events)
      SELECT user_id, round(sum(value), 4) AS total
      FROM numbered GROUP BY user_id, win HAVING count(*) = 25)
    """,
    "§2.2 DISTINCT + ORDER BY + LIMIT, per FIRE on windowed queries "
    "(stream/processor_data.go:438-515, stream/sorter.go:15-160; "
    "session fires per key, session_window.go:396-425; chunk fires "
    "per key) — kind-tagged direct/winfire/sessfire/countfire"))

_add("unnest", Entry(
    _dialect("""
        SELECT doc_id, unnest(split(text, ' ')) AS word
        FROM stream WHERE doc_id < 20
    """, "documents"),
    """
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 20
    """,
    "§2.2 unnest lateral expand (functions_multirow.go:15-191)"))

# ===================================================================
# §2.3 Joins (stream-table enrichment)
# ===================================================================

_JOIN_INNER_SQL = """
    SELECT l.l_orderkey AS okey, l.l_linenumber AS lno,
           o.o_orderpriority AS prio,
           round(l.l_extendedprice * (1 - l.l_discount), 4) AS net
    FROM stream AS l
    INNER JOIN orders AS o ON l.l_orderkey = o.o_orderkey
        AND mod(l.l_orderkey, 4) = mod(o.o_orderkey, 4)
    WHERE o.o_orderstatus = 'F' AND l.l_quantity > 25
"""


class _OrdersLookupSource:
    """Lookup-backed dim over the SAME orders rows the snapshot kind
    broadcasts — the two kinds must agree value-for-value.  Picklable
    and schema()-declaring, so register_table_source routes it through
    the worker-side mapInPandas probe stage (streaming/lookup.py): the
    per-distinct-key Lookup cost parallelizes across partitions with
    zero driver involvement."""

    def __init__(self, rows_by_key: dict):
        # {key: (status, priority)} — tuples instead of per-row dicts:
        # the store pickles smaller into the probe-stage closure and
        # builds ~10x faster on the driver (r13); lookup() materializes
        # the row dict per distinct key on the WORKERS, where it
        # parallelizes
        self._rows = rows_by_key

    def name(self):
        return "orders"

    def schema(self):
        return "o_orderstatus STRING, o_orderpriority STRING"

    def lookup(self, key):
        row = self._rows.get(key)
        if row is None:
            return None, False
        return {"o_orderstatus": row[0], "o_orderpriority": row[1]}, True


def _join_inner_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER stream-table join, kind-tagged (50-entry gate): 'bcast' =
    snapshot dim broadcast join; 'lookup' = the same dim behind a
    register_table_source Lookup(key) — the worker-side probe stage
    calls Lookup once per distinct key per Arrow batch on the
    executors and applies the non-key mod() ON conjunct as a residual
    filter.  Runs UNSLICED over the full stream side (r9 ran a 1-in-7
    key slice because the then driver-probe loop was serial in key
    cardinality; the worker stage isn't)."""
    from pyspark.sql import functions as F

    tables = load_tables(spark, sf_dir)
    q1 = StreamSQL(spark).execute(_JOIN_INNER_SQL)
    q1.register_table("orders", tables["orders"])
    bcast = q1.query(tables["lineitem"]).withColumn("kind", F.lit("bcast"))

    # Arrow-path driver transfer (guide §6): building the 150k-key dim
    # dict from Row objects costs ~1.1 s on the bench box vs ~0.26 s via
    # toPandas (arrow.pyspark.enabled is on session-wide).  .tolist()
    # first: iterating pandas Series element-wise re-boxes every value
    # (~0.7 s); over plain lists the tuple-store build is ~50 ms (r13)
    opdf = (tables["orders"]
            .select("o_orderkey", "o_orderstatus", "o_orderpriority")
            .toPandas())
    rows_by_key = dict(zip(
        (int(k) for k in opdf["o_orderkey"].tolist()),
        zip(opdf["o_orderstatus"].tolist(),
            opdf["o_orderpriority"].tolist())))
    q2 = StreamSQL(spark).execute(_JOIN_INNER_SQL)
    q2.register_table_source(_OrdersLookupSource(rows_by_key))
    lookup = q2.query(tables["lineitem"]).withColumn("kind", F.lit("lookup"))
    return bcast.unionByName(lookup)


_add("join_inner", Entry(
    # composite equi-ON (second key is an expression on both sides)
    # exercises the multi-condition ON path without changing the result
    _join_inner_run,
    """
    SELECT l.l_orderkey AS okey, l.l_linenumber AS lno,
           o.o_orderpriority AS prio,
           round(l.l_extendedprice * (1 - l.l_discount), 4) AS net,
           'bcast' AS kind
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        AND mod(l.l_orderkey, 4) = mod(o.o_orderkey, 4)
    WHERE o.o_orderstatus = 'F' AND l.l_quantity > 25
    UNION ALL
    SELECT l.l_orderkey AS okey, l.l_linenumber AS lno,
           o.o_orderpriority AS prio,
           round(l.l_extendedprice * (1 - l.l_discount), 4) AS net,
           'lookup' AS kind
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        AND mod(l.l_orderkey, 4) = mod(o.o_orderkey, 4)
    WHERE o.o_orderstatus = 'F' AND l.l_quantity > 25
    """,
    "§2.3 INNER stream-table join, composite/expression ON keys "
    "(stream/join.go:35-67, rsql/parser.go:834-926) + the same join "
    "through a register_table_source Lookup probe (streamsql.go:517-525), "
    "kind-tagged"))

_add("join_left_nullgroup", Entry(
    _dialect("""
        SELECT c.c_mktsegment AS seg, count(*) AS cnt,
               round(sum(e.value), 4) AS total
        FROM stream AS e
        LEFT JOIN customer AS c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """, "events", dims=("customer",)),
    """
    SELECT c.c_mktsegment AS seg, count(*) AS cnt,
           round(sum(e.value), 4) AS total
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "§2.3 LEFT join, NULL group collapse (stream/join.go:58-62, group_aggregator.go:14-22)"))


# ===================================================================
# §2.4 Aggregations
# ===================================================================

_add("agg_tpch_q1", Entry(
    _dialect("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               count(*) AS count_order,
               count(DISTINCT l_suppkey) AS n_supp,
               round(sum(DISTINCT l_quantity), 2) AS sum_d_qty
        FROM stream
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """, "lineitem"),
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           count(*) AS count_order,
           count(DISTINCT l_suppkey) AS n_supp,
           round(sum(DISTINCT l_quantity), 2) AS sum_d_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "§2.4 sum/avg/min/max/count hash aggregation + §2.10 "
    "DISTINCT-in-aggregate Spark extension "
    "(functions_aggregation.go:21-397)"))

_add("agg_stats", Entry(
    # n_supp (exact DISTINCT) is value-checked; acd_ok pins the approx
    # aggregate path under the hash gate the only way an estimator can
    # be: the HLL++ estimate must land within ±10% of the exact count
    # on BOTH engines (merged r4 — §2.10 approx aggregates row).
    _dialect("""
        SELECT l_returnflag,
               round(stddev(l_quantity), 6) AS sd_pop,
               round(stddevs(l_quantity), 6) AS sd_samp,
               round(var(l_quantity), 6) AS var_pop,
               round(vars(l_quantity), 6) AS var_samp,
               round(median(l_quantity), 4) AS med,
               percentile(0.5, l_extendedprice) AS p50,
               percentile(0.9, l_extendedprice) AS p90,
               count_distinct(l_suppkey) AS n_supp,
               approx_count_distinct(l_suppkey) * 1.0
                   / count_distinct(l_suppkey) BETWEEN 0.9 AND 1.1 AS acd_ok
        FROM stream GROUP BY l_returnflag
    """, "lineitem"),
    """
    SELECT l_returnflag,
           round(stddev_pop(l_quantity), 6) AS sd_pop,
           round(stddev_samp(l_quantity), 6) AS sd_samp,
           round(var_pop(l_quantity), 6) AS var_pop,
           round(var_samp(l_quantity), 6) AS var_samp,
           round(median(l_quantity), 4) AS med,
           (list_sort(list(l_extendedprice)))[1 + CAST(floor(0.5*(count(l_extendedprice)-1)) AS INT)] AS p50,
           (list_sort(list(l_extendedprice)))[1 + CAST(floor(0.9*(count(l_extendedprice)-1)) AS INT)] AS p90,
           count(DISTINCT l_suppkey) AS n_supp,
           approx_count_distinct(l_suppkey) * 1.0
               / count(DISTINCT l_suppkey) BETWEEN 0.9 AND 1.1 AS acd_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    "§2.4 stddev/stddevs/var/vars/median + percentile lower-index "
    "semantics (functions_aggregation.go:399-1239, 518-555) + §2.10 "
    "approx_count_distinct bounds-checked vs exact DISTINCT"))

_add("agg_collect_first_last", Entry(
    # the full arrival-order buffer-aggregate family in ONE groupBy:
    # collect/deduplicate/merge_agg (array outputs serialized with
    # array_join so every result column is scalar — the correctness
    # gate canonicalizes rows; merge_agg is checked in TRUE arrival
    # order against DuckDB's ordered list()) + first_value/last_value/
    # nth_value rendered to min_by/max_by/ordered-collect over the
    # arrival-order column, deterministic after the groupBy shuffle
    _dialect("""
        SELECT user_id,
               array_join(sort_array(deduplicate(event_type)), ',') AS types,
               array_join(sort_array(collect(event_type)), ',') AS merged,
               merge_agg(event_type) AS seq_types,
               count(event_type) AS cnt,
               first_value(value) AS first_v,
               last_value(value) AS last_v,
               round(last_value(value) - first_value(value), 4) AS delta,
               nth_value(value, 3) AS v3
        FROM stream WHERE value > 150 GROUP BY user_id
    """, "events"),
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
           array_to_string(list_sort(list(event_type)), ',') AS merged,
           array_to_string(list(event_type ORDER BY ts, event_id), ',') AS seq_types,
           count(event_type) AS cnt,
           arg_min(value, ts) AS first_v,
           arg_max(value, ts) AS last_v,
           round(arg_max(value, ts) - arg_min(value, ts), 4) AS delta,
           (list(value ORDER BY ts, event_id))[3] AS v3
    FROM events WHERE value > 150 GROUP BY user_id
    """,
    "§2.4 collect/deduplicate/merge_agg + first_value/last_value/"
    "nth_value, all in arrival (event-time) order, + post-agg expr "
    "(functions_aggregation.go:564-618, 900-931, 737-811, 620-735, "
    "functions_window.go:232-350, aggregator/post_aggregation.go:62-829)"))

_add("agg_post_having_exprkey", Entry(
    # one query through all three planner paths: expression group keys,
    # post-aggregation expressions, HAVING with hidden aggregate + alias
    _dialect("""
        SELECT o_orderpriority, year(o_orderdate) AS yr,
               round(sum(o_totalprice) / count(*), 4) AS avg_manual,
               round(avg(o_totalprice), 4) AS avg_builtin,
               count(*) AS cnt, count(*) * 2 AS double_cnt
        FROM stream GROUP BY o_orderpriority, year(o_orderdate)
        HAVING avg(o_totalprice) > 100000 AND cnt > 10
    """, "orders"),
    """
    SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr,
           round(sum(o_totalprice) / count(*), 4) AS avg_manual,
           round(avg(o_totalprice), 4) AS avg_builtin,
           count(*) AS cnt, count(*) * 2 AS double_cnt
    FROM orders GROUP BY o_orderpriority, year(o_orderdate)
    HAVING avg(o_totalprice) > 100000 AND count(*) > 10
    """,
    "§2.4 expression group keys + post-aggregation expressions + HAVING "
    "hidden aggregates/alias refs (rsql/ast.go:561-623, 724-736, "
    "1417-1724, processor_field.go:208-226)"))

# ===================================================================
# §2.5 Window operators (batch semantics over event time)
# ===================================================================

# oracles kept as module constants: the streaming replay entries check
# value-parity against the SAME batch oracles
_TUMBLING_ORACLE = """
    SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
           CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS ws
    FROM events GROUP BY event_type, ws
    """

_SLIDING_ORACLE = """
    SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
           CAST(floor(epoch(ts)/21600)*21600 - k.off*21600 AS BIGINT) AS ws
    FROM events, LATERAL (SELECT unnest([0, 1]) AS off) k
    GROUP BY event_type, ws
    """


def _window_tumbling_sliding_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling AND sliding batch windows in one entry (merged to keep
    the catalog at the driver's 50-entry gate), tagged by kind — each
    compiles through the full dialect stack separately."""
    from pyspark.sql import functions as F
    out = []
    for kind, spec in (("tumbling", "TumblingWindow('6h')"),
                       ("sliding", "SlidingWindow('12h', '6h')")):
        run = _dialect(f"""
            SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
                   unix_timestamp(window_start()) AS ws
            FROM stream GROUP BY event_type, {spec}
        """, "events")
        out.append(run(spark, sf_dir).withColumn("kind", F.lit(kind)))
    return out[0].unionByName(out[1])


_add("window_tumbling", Entry(
    _window_tumbling_sliding_run,
    f"""
    SELECT 'tumbling' AS kind, * FROM ({_TUMBLING_ORACLE})
    UNION ALL
    SELECT 'sliding' AS kind, * FROM ({_SLIDING_ORACLE})
    """,
    "§2.5 tumbling window, epoch-aligned (window/tumbling_window.go:56-905) "
    "+ sliding window slot fan-out (window/sliding_window.go:60-970)"))

_add("window_session", Entry(
    _dialect("""
        SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
        FROM stream GROUP BY user_id, SessionWindow('4h')
    """, "events"),
    """
    WITH marked AS (
      SELECT user_id, value, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '4 hours' OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
    FROM sessions GROUP BY user_id, sid
    """,
    "§2.5 session window, 4h inactivity gap (window/session_window.go:37-686)"))

def _window_counting_global_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting window AND global TRIGGER WHEN window (batch paths) in
    one mode-tagged entry — the same merge the streaming replay entry
    uses (merged r3 to keep the catalog at the driver's 50-entry
    gate; both engine paths still run)."""
    from pyspark.sql import functions as F

    tables = load_tables(spark, sf_dir)
    out = []
    for mode, sql in (
            ("counting", """
                SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
                FROM stream GROUP BY user_id, CountingWindow(25)
            """),
            ("global", """
                SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
                FROM stream GROUP BY user_id GLOBAL WINDOW TRIGGER WHEN count(*) >= 20
            """)):
        q = StreamSQL(spark).execute(sql)
        out.append(q.query(tables["events"])
                   .withColumn("mode", F.lit(mode)))
    return out[0].unionByName(out[1])


_add("window_counting", Entry(
    _window_counting_global_run,
    """
    WITH numbered AS (
      SELECT user_id, value,
             floor((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) / 25) AS win
      FROM events),
    numbered20 AS (
      SELECT user_id, value,
             floor((row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) / 20) AS win
      FROM events)
    SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total,
           'counting' AS mode
    FROM numbered GROUP BY user_id, win HAVING count(*) = 25
    UNION ALL
    SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total,
           'global' AS mode
    FROM numbered20 GROUP BY user_id, win HAVING count(*) = 20
    """,
    "§2.5 counting window — emits only full windows "
    "(window/counting_window.go:36-357) + global window TRIGGER WHEN "
    "count, FIRE_AND_PURGE (window/global_window.go:49-731)"))

# ===================================================================
# §2.6 Analytic (stateful per-row) functions
# ===================================================================

_ANALYTIC_W = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
_ANALYTIC_W_RUN = ("OVER (PARTITION BY user_id ORDER BY ts, event_id "
                   "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")

_add("analytic_lag_changed", Entry(
    # the lag/latest family AND the CDC change-detection family in ONE
    # per-key event-time pass: lag with offset/default, latest (most
    # recent non-null), had_changed boolean, changed_col single-column
    # value, changed_cols multi-column fan-out
    _dialect("""
        SELECT event_id, user_id, event_type, value,
               lag(value) OVER (PARTITION BY user_id) AS prev_v,
               round(value - lag(value) OVER (PARTITION BY user_id), 4) AS delta,
               lag(value, 2, -1.0) OVER (PARTITION BY user_id) AS prev2,
               latest(CASE WHEN value > 100 THEN value END)
                   OVER (PARTITION BY user_id) AS last_big,
               had_changed(true, event_type)
                   OVER (PARTITION BY user_id) AS type_changed,
               changed_col(true, event_type)
                   OVER (PARTITION BY user_id) AS chg,
               changed_cols('c_', true, event_type, value)
                   OVER (PARTITION BY user_id)
        FROM stream
    """, "events"),
    f"""
    SELECT event_id, user_id, event_type, value,
           lag(value) {_ANALYTIC_W} AS prev_v,
           round(value - lag(value) {_ANALYTIC_W}, 4) AS delta,
           lag(value, 2, -1.0) {_ANALYTIC_W} AS prev2,
           last_value(CASE WHEN value > 100 THEN value END IGNORE NULLS)
               {_ANALYTIC_W_RUN} AS last_big,
           (event_type IS DISTINCT FROM lag(event_type) {_ANALYTIC_W}) AS type_changed,
           CASE WHEN event_type IS DISTINCT FROM lag(event_type) {_ANALYTIC_W}
                THEN event_type END AS chg,
           CASE WHEN event_type IS DISTINCT FROM lag(event_type) {_ANALYTIC_W}
                THEN event_type END AS c_event_type,
           CASE WHEN value IS DISTINCT FROM lag(value) {_ANALYTIC_W}
                THEN value END AS c_value
    FROM events
    """,
    "§2.6 lag with offset/default, expression-wrapped + latest "
    "(most recent non-null) + had_changed / changed_col / changed_cols "
    "CDC family (functions_analytical.go:14-63, 84-103, "
    "functions/analytic_acc.go:125-205, stream/analytic.go:236-290)"))

_add("analytic_acc", Entry(
    _dialect("""
        SELECT event_id, user_id,
               round(acc_sum(value) OVER (PARTITION BY user_id), 4) AS run_sum,
               acc_count(value) OVER (PARTITION BY user_id) AS run_cnt,
               round(acc_sum(value) OVER (PARTITION BY user_id), 4)
                   / acc_count(value) OVER (PARTITION BY user_id) AS run_avg,
               acc_max(value) OVER (PARTITION BY user_id) AS run_max,
               acc_min(value) OVER (PARTITION BY user_id) AS run_min,
               round(acc_sum(value) OVER (PARTITION BY user_id
                     WHEN event_type = 'purchase'), 4) AS purchase_total
        FROM stream
    """, "events"),
    f"""
    SELECT event_id, user_id,
           round(sum(value) {_ANALYTIC_W_RUN}, 4) AS run_sum,
           nullif(count(value) {_ANALYTIC_W_RUN}, 0) AS run_cnt,
           round(sum(value) {_ANALYTIC_W_RUN}, 4)
               / count(value) {_ANALYTIC_W_RUN} AS run_avg,
           max(value) {_ANALYTIC_W_RUN} AS run_max,
           min(value) {_ANALYTIC_W_RUN} AS run_min,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END)
                 {_ANALYTIC_W_RUN}, 4) AS purchase_total
    FROM events
    """,
    "§2.6 acc_sum/acc_count/acc_avg/acc_max/acc_min + OVER(... WHEN "
    "cond) conditional state update (functions/analytic_acc.go:8-122, "
    "rsql/parser.go:671-757)"))

def _custom_analytic_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 custom stateful analytic UDFs (functions/analytic_state.go:
    11-37 StatefulAnalytic surface, registry.go TypeAnalytical): two
    user state machines registered at runtime and evaluated per
    OVER(PARTITION BY ...) key in event-time order — prev-value (lag-1
    semantics) and running range (max − min so far)."""
    from .functions.examples import PrevValueState, RunningRangeState
    from .functions.registry import register_analytic_function

    register_analytic_function("my_prev", PrevValueState, "double")
    register_analytic_function("my_range", RunningRangeState, "double")
    tables = load_tables(spark, sf_dir)
    q = StreamSQL(spark).execute("""
        SELECT event_id, user_id, value,
               my_prev(value) OVER (PARTITION BY user_id) AS prev_v,
               round(my_range(value) OVER (PARTITION BY user_id), 4) AS rng
        FROM stream
    """)
    return q.query(tables["events"])


_add("analytic_custom_udf", Entry(
    _custom_analytic_run,
    f"""
    SELECT event_id, user_id, value,
           lag(value) {_ANALYTIC_W} AS prev_v,
           round(max(value) {_ANALYTIC_W_RUN} - min(value) {_ANALYTIC_W_RUN}, 4) AS rng
    FROM events
    """,
    "§2.9 custom stateful analytic UDF registration "
    "(functions/analytic_state.go:11-37, functions/registry.go:239-288 "
    "TypeAnalytical; e2e parity with "
    "test/e2e/custom_functions_single_entry_test.go)"))


# ===================================================================
# §2.8 Scalar functions
# ===================================================================

_add("scalar_math", Entry(
    _dialect("""
        SELECT l_orderkey, l_linenumber,
               round(abs(l_discount - 0.05), 6) AS ab,
               round(sqrt(l_quantity), 6) AS sq,
               floor(l_extendedprice / 1000) AS fl,
               ceiling(l_tax * 100) AS ce,
               round(power(l_quantity, 2), 4) AS pw,
               mod(l_linenumber, 3) AS md,
               round(exp(l_discount), 6) AS ex,
               round(ln(l_quantity + 1), 6) AS lnv,
               round(log(l_extendedprice), 6) AS lg,
               round(sin(l_discount), 6) AS sn,
               round(atan2(l_quantity, 10), 6) AS at2,
               bitand(l_linenumber, 3) AS ba,
               bitor(l_linenumber, 8) AS bo,
               bitxor(l_linenumber, 5) AS bx,
               expr('l_quantity * 2 + 1') AS esc_v2,
               expr('log(greatest(l_extendedprice, 1.0))') AS esc_lg
        FROM stream WHERE l_orderkey < 100
    """, "lineitem"),
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6) AS ab,
           round(sqrt(l_quantity), 6) AS sq,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS fl,
           CAST(ceil(l_tax * 100) AS BIGINT) AS ce,
           round(pow(l_quantity, 2), 4) AS pw,
           mod(l_linenumber, 3) AS md,
           round(exp(l_discount), 6) AS ex,
           round(ln(l_quantity + 1), 6) AS lnv,
           round(log(l_extendedprice), 6) AS lg,
           round(sin(l_discount), 6) AS sn,
           round(atan2(l_quantity, 10), 6) AS at2,
           l_linenumber & 3 AS ba,
           l_linenumber | 8 AS bo,
           xor(l_linenumber, 5) AS bx,
           l_quantity * 2 + 1 AS esc_v2,
           log10(greatest(l_extendedprice, 1.0)) AS esc_lg
    FROM lineitem WHERE l_orderkey < 100
    """,
    "§2.8 math functions incl. base-10 log, bit ops + expr() runtime "
    "escape hatch with dialect semantics inside "
    "(functions_math.go, functions_expr.go:16-100)"))

_add("scalar_string", Entry(
    _dialect("""
        SELECT p_partkey,
               upper(p_name) AS up, lower(p_brand) AS lo,
               length(p_name) AS len_n,
               substring(p_name, 0, 5) AS sub5,
               substring(p_name, 3) AS sub_from3,
               replace(p_type, ' ', '_') AS rep,
               lpad(p_brand, 12, '*') AS lp,
               rpad(p_brand, 12, '-') AS rp,
               trim(concat('  ', p_name)) AS tr,
               indexof(p_name, 'a') AS idx,
               endswith(p_type, 'STEEL') AS es,
               startswith(p_type, 'STANDARD') AS ss,
               concat(p_brand, '#', p_type) AS cc,
               array_join(split(p_name, ' '), '|') AS words,
               regexp_matches(p_name, 'r[a-z]+') AS has_r,
               regexp_replace(p_name, '[aeiou]', '_') AS devowel,
               regexp_substring(p_name, 's[a-z]+') AS first_s
        FROM stream WHERE p_partkey <= 100
    """, "part"),
    """
    SELECT p_partkey,
           upper(p_name) AS up, lower(p_brand) AS lo,
           CAST(length(p_name) AS INT) AS len_n,
           substr(p_name, 1, 5) AS sub5,
           substr(p_name, 4) AS sub_from3,
           replace(p_type, ' ', '_') AS rep,
           lpad(p_brand, 12, '*') AS lp,
           rpad(p_brand, 12, '-') AS rp,
           trim('  ' || p_name) AS tr,
           CAST(instr(p_name, 'a') - 1 AS INT) AS idx,
           ends_with(p_type, 'STEEL') AS es,
           starts_with(p_type, 'STANDARD') AS ss,
           p_brand || '#' || p_type AS cc,
           array_to_string(string_split(p_name, ' '), '|') AS words,
           regexp_matches(p_name, 'r[a-z]+') AS has_r,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
           coalesce(regexp_extract(p_name, 's[a-z]+'), '') AS first_s
    FROM part WHERE p_partkey <= 100
    """,
    "§2.8 string functions, 0-based substring/indexof dialect + "
    "regexp_matches/replace/substring "
    "(functions_string.go, functions_string.go:569-660)"))

_add("scalar_datetime", Entry(
    _dialect("""
        SELECT o_orderkey,
               year(o_orderdate) AS y, month(o_orderdate) AS m,
               day(o_orderdate) AS d, hour(o_orderdate) AS h,
               minute(o_orderdate) AS mi, second(o_orderdate) AS s,
               dayofyear(o_orderdate) AS dy,
               weekofyear(o_orderdate) AS wy,
               date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS ds,
               unix_timestamp(o_orderdate) AS ut,
               extract('weekday', o_orderdate) AS wd,
               date_add(o_orderdate, 3, 'days') AS plus3d,
               date_sub(o_orderdate, 2, 'hours') AS minus2h,
               date_diff(o_orderdate, '2024-01-01', 'days') AS since_ny,
               convert_tz(o_orderdate, 'Asia/Shanghai') AS ts_sh,
               to_seconds(o_orderdate) AS secs
        FROM stream WHERE o_orderkey < 200
    """, "orders"),
    # Asia/Shanghai is UTC+8 year-round (no DST) → fixed offset oracle
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d, CAST(hour(o_orderdate) AS INT) AS h,
           CAST(minute(o_orderdate) AS INT) AS mi, CAST(second(o_orderdate) AS INT) AS s,
           CAST(dayofyear(o_orderdate) AS INT) AS dy,
           CAST(weekofyear(o_orderdate) AS INT) AS wy,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ds,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ut,
           CAST(dayofweek(o_orderdate) AS INT) AS wd,
           o_orderdate + INTERVAL '3 days' AS plus3d,
           o_orderdate - INTERVAL '2 hours' AS minus2h,
           date_diff('day', TIMESTAMP '2024-01-01', o_orderdate) AS since_ny,
           o_orderdate + INTERVAL '8 hours' AS ts_sh,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS secs
    FROM orders WHERE o_orderkey < 200
    """,
    "§2.8 datetime extraction + Go-layout date_format + unit-based "
    "date_add/date_sub/date_diff + convert_tz/to_seconds "
    "(functions_datetime.go, functions_conversion.go:242-353)"))

def _json_conv_cond_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON + conversion + conditional/type functions and §2.2
    nested paths in ONE plan: dot access into a struct column, bracket
    index into an array column (utils/fieldpath/fieldpath.go:44-176),
    plus the cast/encode/hash and if_null/case_when/type-check families
    (functions_conversion.go, functions_hash.go, functions_conditional.go,
    functions_type.go).  The events.props JSON string is lifted to a
    struct source column — the reference's map-shaped rows land the same
    way via a declared schema (SURVEY §1.2).  Merged from three round-2
    entries (scalar_json_nested / scalar_conditional / scalar_conversion)
    to stay inside the driver's 50-entry gate."""
    from pyspark.sql import functions as F

    from .session import ensure_parallelism

    tables = load_tables(spark, sf_dir)
    # spread the scan (r13, guide §2.5 input skew): this entry's plan is
    # ONE scan stage whose projection is interpreted end-to-end (the
    # from_json in the WHERE is CodegenFallback, which knocks the whole
    # stage out of whole-stage codegen) — on a single-row-group fixture
    # file that serializes ~1.2 s of per-row CPU onto one core.  The
    # round-robin spread is a no-op at real scale (thousands of splits)
    # and the 2 MB local exchange is far cheaper than the serialized
    # projection; measured 1.68 s → 0.96 s on the full entry.
    src = (ensure_parallelism(tables["events"])
           .withColumn("meta", F.from_json("props", "struct<k:bigint>"))
           .withColumn("toks", F.split("event_type", "i")))
    q = StreamSQL(spark).execute("""
        SELECT event_id, meta.k AS k_val, toks[0] AS first_seg,
               json_extract(props, 'k') AS k,
               json_valid(props) AS jv,
               json_length(props) AS jl,
               json_type(props) AS jt,
               coalesce(null_if(event_type, 'error'), 'filtered') AS et,
               if_null(null_if(value, value), -1.0) AS nn,
               greatest(value, 50.0) AS g,
               least(value, 50.0) AS l,
               case_when(value > 100, 'big', value > 50, 'mid', 'small') AS cw,
               is_null(props) AS p_null,
               is_not_null(props) AS p_notnull,
               is_numeric(event_type) AS et_num,
               is_numeric(cast(value, 'string')) AS v_num,
               is_string(event_type) AS et_str,
               is_bool(value > 50) AS gt_bool,
               is_array(split(event_type, '_')) AS is_arr,
               is_object(event_type) AS is_obj,
               cast(value, 'string') AS vs,
               cast(event_id, 'float') AS vf,
               cast(value, 'int') AS vi,
               hex2dec(substring(md5(event_type), 0, 8)) AS h2d,
               dec2hex(event_id) AS d2h,
               encode(event_type, 'base64') AS b64,
               decode(encode(event_type, 'base64'), 'base64') AS rt,
               trunc(value / 7, 2) AS tr,
               url_decode(url_encode(event_type)) AS url_rt,
               url_encode(event_type) AS enc_plain,
               chr(65 + mod(event_id, 26)) AS ch,
               md5(event_type) AS h_md5,
               sha256(event_type) AS h_sha256
        FROM stream WHERE meta.k IS NOT NULL AND meta.k > 50
    """)
    return q.query(src)


_add("scalar_conversion", Entry(
    _json_conv_cond_run,
    # DuckDB has no url_encode/url_decode: round-trip ≡ identity; the
    # event_type vocabulary is [a-z_]+ — form-encoding leaves it
    # unchanged.  sha1/sha512 have no DuckDB equivalent — unit-tested
    # against hashlib instead.
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           string_split(event_type, 'i')[1] AS first_seg,
           json_extract_string(props, '$.k') AS k,
           json_valid(props) AS jv,
           CAST(len(json_keys(props)) AS INT) AS jl,
           'object' AS jt,
           coalesce(nullif(event_type, 'error'), 'filtered') AS et,
           ifnull(nullif(value, value), -1.0) AS nn,
           greatest(value, 50.0) AS g,
           least(value, 50.0) AS l,
           CASE WHEN value > 100 THEN 'big' WHEN value > 50 THEN 'mid'
                ELSE 'small' END AS cw,
           props IS NULL AS p_null,
           props IS NOT NULL AS p_notnull,
           (try_cast(event_type AS DOUBLE) IS NOT NULL) AS et_num,
           (try_cast(CAST(value AS VARCHAR) AS DOUBLE) IS NOT NULL) AS v_num,
           TRUE AS et_str,
           TRUE AS gt_bool,
           TRUE AS is_arr,
           FALSE AS is_obj,
           CAST(value AS VARCHAR) AS vs,
           CAST(event_id AS DOUBLE) AS vf,
           CAST(trunc(value) AS INT) AS vi,
           ('0x' || substr(md5(event_type), 1, 8))::BIGINT AS h2d,
           lower(to_hex(event_id)) AS d2h,
           to_base64(event_type::BLOB) AS b64,
           event_type AS rt,
           trunc((value / 7) * 100) / 100 AS tr,
           event_type AS url_rt,
           event_type AS enc_plain,
           chr(CAST(65 + event_id % 26 AS INTEGER)) AS ch,
           md5(event_type) AS h_md5,
           sha256(event_type) AS h_sha256
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
    "§2.8 json_extract/json_valid/json_length/json_type + §2.2 nested "
    "paths a.b / arr[i] + cast/hex2dec/dec2hex/encode/decode/trunc/"
    "url_encode/url_decode/chr/md5/sha256 + if_null/null_if/greatest/"
    "least/case_when + type checks (functions_json.go, "
    "functions_conversion.go, functions_hash.go, functions_conditional.go, "
    "functions_type.go:14-170, utils/fieldpath/fieldpath.go:44-621)"))

_add("scalar_array", Entry(
    _dialect("""
        SELECT doc_id,
               array_length(split(text, ' ')) AS n_words,
               array_contains(split(text, ' '), 'spark') AS has_spark,
               array_join(sort_array(array_distinct(split(text, ' '))), ',') AS uniq,
               array_position(split(text, ' '), 'the') AS pos_the,
               round(CAST(e.embedding[0] AS DOUBLE), 4) AS emb_first,
               round(CAST(e.embedding[-1] AS DOUBLE), 4) AS emb_last,
               CAST(e.embedding[999] AS DOUBLE) AS emb_oob
        FROM stream JOIN embeddings e ON doc_id = e.vec_id
        WHERE doc_id < 30
    """, "documents", dims=("embeddings",)),
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',') AS uniq,
           CAST(coalesce(list_position(string_split(text, ' '), 'the'), 0) AS BIGINT) AS pos_the,
           round(CAST(e.embedding[1] AS DOUBLE), 4) AS emb_first,
           round(CAST(e.embedding[-1] AS DOUBLE), 4) AS emb_last,
           CAST(e.embedding[1000] AS DOUBLE) AS emb_oob
    FROM documents JOIN embeddings e ON doc_id = e.vec_id
    WHERE doc_id < 30
    """,
    "§2.8 array functions + bracket-path indexing: positive 0-based, "
    "negative from-end (fieldpath.go:242), out-of-range -> NULL "
    "(fieldpath.go:246, rendered as try_element_at so ANSI Spark "
    "matches the reference's nil-on-miss) (functions_array.go)"))


# ===================================================================
# §2.7 Complex event processing — MATCH_RECOGNIZE
# ===================================================================
# CEP is not ANSI-SQL-expressible in general, but these two patterns
# have exact relational equivalents, giving the NFA engine a full
# value-level oracle: adjacent pairs ≡ LAG, and greedy A{2,} with SKIP
# PAST LAST ROW ≡ gaps-and-islands maximal runs.

# base adjacent-pair oracle (shared by the streaming replay entry,
# which runs the A B pattern WITHOUT the SUBSET measures)
_CEP_ADJ_ORACLE = """
    WITH w AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val
        FROM events)
    SELECT user_id, prev_ts AS a_ts, ts AS b_ts,
           prev_val AS a_val, value AS b_val
    FROM w WHERE prev_val > 80 AND value < 20
      AND ts - prev_ts <= INTERVAL 4 HOUR
    """

_add("cep_adjacent_within", Entry(
    # SUBSET S = (A, B) exercises union-symbol navigation + aggregation
    # (cep/engine.go:738-864): the match is one A row then one B row, so
    # SUM(S.value) spans both and S.value navigates to the union's last
    # row — both value-checked by the LAG oracle (merged r4, catalog
    # stays at the 50-entry gate).
    _dialect("""
        SELECT user_id, a_ts, b_ts, a_val, b_val,
               round(s_sum, 4) AS s_sum, s_last FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, B.ts AS b_ts,
                     A.value AS a_val, B.value AS b_val,
                     SUM(S.value) AS s_sum, S.value AS s_last
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            SUBSET S = (A, B)
            DEFINE A AS value > 80, B AS value < 20
            WITHIN '4h'
        )
    """, "events"),
    """
    WITH w AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val
        FROM events)
    SELECT user_id, prev_ts AS a_ts, ts AS b_ts,
           prev_val AS a_val, value AS b_val,
           round(prev_val + value, 4) AS s_sum, value AS s_last
    FROM w WHERE prev_val > 80 AND value < 20
      AND ts - prev_ts <= INTERVAL 4 HOUR
    """,
    "§2.7 MATCH_RECOGNIZE A B adjacent-pair pattern + WITHIN duration "
    "bound: match killed when last.ts − first.ts exceeds the bound "
    "(cep/engine.go:374-461, 690-696, 281-320) + SUBSET union-symbol "
    "navigation/aggregation (cep/engine.go:738-864)"))

_add("cep_burst_islands", Entry(
    _dialect("""
        SELECT user_id, start_ts, end_ts, n, round(avg_v, 4) AS avg_v
        FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES FIRST(A.ts) AS start_ts, LAST(A.ts) AS end_ts,
                     COUNT(*) AS n, AVG(value) AS avg_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A{2,})
            DEFINE A AS value > 75
        )
    """, "events"),
    """
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               CASE WHEN value > 75 THEN 1 ELSE 0 END AS hit
        FROM events),
    isl AS (
        SELECT *, rn - row_number()
                 OVER (PARTITION BY user_id, hit ORDER BY rn) AS grp
        FROM seq WHERE hit = 1)
    SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
           count(*) AS n, round(avg(value), 4) AS avg_v
    FROM isl GROUP BY user_id, grp HAVING count(*) >= 2
    """,
    "§2.7 MATCH_RECOGNIZE greedy A{2,} burst ≡ maximal runs (cep/engine.go:492-552)"))

_add("cep_alternation", Entry(
    # B and C are disjoint from A (no row can both close one match and
    # open the next), so SKIP PAST LAST ROW never hides a pair and the
    # LAG oracle is exact; CLASSIFIER() reports which branch closed.
    _dialect("""
        SELECT user_id, a_ts, b_ts, b_val, cls FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, LAST(ts) AS b_ts,
                     LAST(value) AS b_val, CLASSIFIER() AS cls
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A (B | C))
            DEFINE A AS value > 80, B AS value < 20,
                   C AS value BETWEEN 40 AND 60
        )
    """, "events"),
    """
    WITH w AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val
        FROM events)
    SELECT user_id, prev_ts AS a_ts, ts AS b_ts, value AS b_val,
           CASE WHEN value < 20 THEN 'B' ELSE 'C' END AS cls
    FROM w WHERE prev_val > 80
      AND (value < 20 OR value BETWEEN 40 AND 60)
    """,
    "§2.7 alternation (B|C) + CLASSIFIER() measure "
    "(cep/pattern.go alternation, cep/eval.go:531-570)"))


_add("cep_all_rows", Entry(
    _dialect("""
        SELECT user_id, event_id, value, sym, n FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES CLASSIFIER() AS sym, COUNT(*) AS n
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS value > 80, B AS value < 20
        )
    """, "events"),
    # A/B classes are disjoint (>80 vs <20), so every matched row is
    # identified relationally: A rows look ahead, B rows look back.
    # RUNNING semantics: COUNT(*) is 1 on the A row, 2 on the B row.
    f"""
    WITH w AS (
        SELECT user_id, event_id, value, ts,
               lag(value) {_ANALYTIC_W} AS pv,
               lead(value) {_ANALYTIC_W} AS nv
        FROM events)
    SELECT user_id, event_id, value, 'A' AS sym, CAST(1 AS BIGINT) AS n
    FROM w WHERE value > 80 AND nv < 20
    UNION ALL
    SELECT user_id, event_id, value, 'B' AS sym, CAST(2 AS BIGINT) AS n
    FROM w WHERE pv > 80 AND value < 20
    """,
    "§2.7 ALL ROWS PER MATCH with RUNNING measures + CLASSIFIER() "
    "(types/match_recognize.go:19-26, cep/engine.go:638-655)"))


def _cep_skip_policies_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKIP TO NEXT ROW, SKIP TO LAST <symbol>, and SKIP TO FIRST
    <symbol> in one kind-tagged entry (merged r4/r5, catalog stays at
    the 50-entry gate).

    - next_row: A{2} over value>75 — a run of n qualifying rows yields
      n-1 overlapping matches ≡ the LAG adjacent-pair predicate.
    - skip_last: PATTERN (X Y Z), all three defined as value>75, AFTER
      MATCH SKIP TO LAST Z — the matched Z row RE-ANCHORS the next
      match, so matches tile each maximal qualifying run at stride 2
      (anchors 1,3,5,… while anchor+2 ≤ run length).
    - skip_first (r5): same pattern, AFTER MATCH SKIP TO FIRST Y — the
      re-anchor is the SECOND row of the previous match, so the run
      tiles at stride 1 (every consecutive triple).

    Stride 1 vs 2 vs 3 (PAST LAST ROW) on the same islands makes the
    three policies pairwise OBSERVABLE — the oracle pins each exactly
    (cep/engine.go:593-625; inclusive re-anchor per the SQL standard,
    see cep/engine.py _skip_to)."""
    from pyspark.sql import functions as F

    tables = load_tables(spark, sf_dir)
    out = []
    for kind, sql in (
            ("next_row", """
                SELECT user_id, a1_ts, a2_ts, a1_val, a2_val FROM stream
                MATCH_RECOGNIZE (
                    PARTITION BY user_id
                    ORDER BY ts, event_id
                    MEASURES FIRST(A.ts) AS a1_ts, LAST(A.ts) AS a2_ts,
                             FIRST(A.value) AS a1_val, LAST(A.value) AS a2_val
                    ONE ROW PER MATCH
                    AFTER MATCH SKIP TO NEXT ROW
                    PATTERN (A{2})
                    DEFINE A AS value > 75
                )
            """),
            ("skip_last", """
                SELECT user_id, a1_ts, a2_ts, a1_val, a2_val FROM stream
                MATCH_RECOGNIZE (
                    PARTITION BY user_id
                    ORDER BY ts, event_id
                    MEASURES X.ts AS a1_ts, Z.ts AS a2_ts,
                             X.value AS a1_val, Z.value AS a2_val
                    ONE ROW PER MATCH
                    AFTER MATCH SKIP TO LAST Z
                    PATTERN (X Y Z)
                    DEFINE X AS value > 75, Y AS value > 75, Z AS value > 75
                )
            """),
            ("skip_first", """
                SELECT user_id, a1_ts, a2_ts, a1_val, a2_val FROM stream
                MATCH_RECOGNIZE (
                    PARTITION BY user_id
                    ORDER BY ts, event_id
                    MEASURES X.ts AS a1_ts, Z.ts AS a2_ts,
                             X.value AS a1_val, Z.value AS a2_val
                    ONE ROW PER MATCH
                    AFTER MATCH SKIP TO FIRST Y
                    PATTERN (X Y Z)
                    DEFINE X AS value > 75, Y AS value > 75, Z AS value > 75
                )
            """)):
        q = StreamSQL(spark).execute(sql)
        out.append(q.query(tables["events"]).withColumn("kind", F.lit(kind)))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


_add("cep_skip_next_overlap", Entry(
    _cep_skip_policies_run,
    """
    WITH w AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val
        FROM events),
    seq AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               CASE WHEN value > 75 THEN 1 ELSE 0 END AS hit
        FROM events),
    isl AS (
        SELECT *, rn - row_number()
                 OVER (PARTITION BY user_id, hit ORDER BY rn) AS grp
        FROM seq WHERE hit = 1),
    pos AS (
        SELECT *, row_number()
                 OVER (PARTITION BY user_id, grp ORDER BY rn) AS p
        FROM isl)
    SELECT user_id, prev_ts AS a1_ts, ts AS a2_ts,
           prev_val AS a1_val, value AS a2_val, 'next_row' AS kind
    FROM w WHERE prev_val > 75 AND value > 75
    UNION ALL
    SELECT x.user_id, x.ts AS a1_ts, z.ts AS a2_ts,
           x.value AS a1_val, z.value AS a2_val, 'skip_last' AS kind
    FROM pos x JOIN pos z
      ON x.user_id = z.user_id AND x.grp = z.grp AND z.p = x.p + 2
    WHERE x.p % 2 = 1
    UNION ALL
    SELECT x.user_id, x.ts AS a1_ts, z.ts AS a2_ts,
           x.value AS a1_val, z.value AS a2_val, 'skip_first' AS kind
    FROM pos x JOIN pos z
      ON x.user_id = z.user_id AND x.grp = z.grp AND z.p = x.p + 2
    """,
    "§2.7 AFTER MATCH SKIP TO NEXT ROW overlapping matches + SKIP TO "
    "LAST <symbol> (stride-2 island tiling) + SKIP TO FIRST <symbol> "
    "(stride-1) — the three policies pairwise observable on one oracle "
    "(cep/engine.go:593-625 skip policies; test/e2e/cep_test.go:766)"))

_add("cep_permute", Entry(
    # PERMUTE(A, B) ≡ (A B | B A).  A (>80) and B (<20) are disjoint
    # classes; with SKIP TO NEXT ROW every adjacent high/low pair in
    # either order is a match, so the LAG oracle is exact (PAST LAST
    # ROW would hide chained pairs like H L H → only the first).
    _dialect("""
        SELECT user_id, hi_ts, lo_ts, hi_val, lo_val, last_sym FROM stream
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS hi_ts, B.ts AS lo_ts,
                     A.value AS hi_val, B.value AS lo_val,
                     CLASSIFIER() AS last_sym
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (PERMUTE(A, B))
            DEFINE A AS value > 80, B AS value < 20
        )
    """, "events"),
    """
    WITH w AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val
        FROM events)
    SELECT user_id,
           CASE WHEN prev_val > 80 THEN prev_ts ELSE ts END AS hi_ts,
           CASE WHEN prev_val < 20 THEN prev_ts ELSE ts END AS lo_ts,
           CASE WHEN prev_val > 80 THEN prev_val ELSE value END AS hi_val,
           CASE WHEN prev_val < 20 THEN prev_val ELSE value END AS lo_val,
           CASE WHEN value > 80 THEN 'A' ELSE 'B' END AS last_sym
    FROM w WHERE (prev_val > 80 AND value < 20)
             OR (prev_val < 20 AND value > 80)
    """,
    "§2.7 PERMUTE(A, B) order-free sequence + SKIP TO NEXT ROW + "
    "CLASSIFIER() (rsql/parser_match_pattern.go PERMUTE expansion, "
    "cep/engine.go:593-625; test/e2e/cep_test.go:630)"))


# ===================================================================
# §2.10 ANSI passthrough — UNION / subqueries / multi-way joins are
# absent from the reference grammar (rsql/lexer.go:373-460); the
# facade's sql() hands them to Catalyst.  These entries pin the
# passthrough AND the scale-critical physical plans: a 3-way
# broadcast+shuffle join pipeline and a self-join via IN-subquery
# (rewritten by Catalyst to a shuffled semi-join).
# ===================================================================


def _ansi(sql: str) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)  # registers the parquet temp views
        return StreamSQL(spark).sql(sql)

    return run


def _ansi_q3_branch(segment: str) -> str:
    return f"""
    SELECT l.l_orderkey AS okey, o.o_orderdate AS odate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{segment}'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, okey LIMIT 10
"""


_ANSI_Q3 = f"""
    SELECT * FROM ({_ansi_q3_branch("BUILDING")}) b
    UNION ALL
    SELECT * FROM ({_ansi_q3_branch("MACHINERY")}) m
"""

_add("ansi_tpch_q3_union", Entry(
    _ansi(_ANSI_Q3),
    _ANSI_Q3,
    "§2.10 ANSI passthrough: TPC-H Q3-shaped 3-way join + agg + top-K "
    "per branch, combined with UNION ALL — both absent from the "
    "reference grammar (streamsql.go facade analog is sql())"))


_ANSI_Q18 = """
    SELECT o.o_orderkey AS okey, round(sum(l.l_quantity), 2) AS qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 190)
    GROUP BY o.o_orderkey
    ORDER BY qty DESC, okey LIMIT 20
"""

_add("ansi_tpch_q18", Entry(
    _ansi(_ANSI_Q18),
    _ANSI_Q18,
    "§2.10 ANSI passthrough: TPC-H Q18-shaped IN-subquery (semi-join) "
    "+ agg + top-K"))


# ===================================================================
# §3 Streaming execution — the events table replayed through the
# Structured Streaming path (readStream → dialect plan → watermark +
# windowed agg → AvailableNow), value-checked against the SAME oracle
# as the batch tumbling entry: batch/stream parity is the check.
# ===================================================================


def _streaming_tumbling_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events.parquet as a file-source stream and run the
    tumbling AND sliding window queries through the streaming executor
    (stream/stream.go:223-248 pipeline on Structured Streaming), tagged
    by kind (merged to keep the catalog at the driver's 50-entry gate).
    Complete output mode so every window is in the returned table —
    the deterministic full-replay analog of TriggerWindow() flush."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    running = []
    # both queries START before either is awaited: they share the
    # session's scheduler pools, so startup + micro-batch execution
    # overlap instead of paying two full startups back-to-back.
    # _replay_partitions: streaming state fixes its partitioning to
    # spark.sql.shuffle.partitions at first batch — sized to the
    # windowed-agg state-key cardinality (event_type × 6h bucket; the
    # sliding leg holds ~2 slots/row over the same buckets)
    n_parts = _replay_parts_for(spark, sf_dir, (
        "event_type", "CAST(unix_timestamp(ts) DIV 21600 AS BIGINT)"))
    with _replay_partitions(spark, n_parts):
        for kind, spec in (("tumbling", "TumblingWindow('6h')"),
                           ("sliding", "SlidingWindow('12h', '6h')")):
            stream = _events_stream(spark, sf_dir)  # shared ns->µs builder
            q = StreamSQL(spark).execute(f"""
                SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
                       unix_timestamp(window_start()) AS ws
                FROM stream GROUP BY event_type, {spec}
            """)
            out = q.query_stream(stream)
            _drop_stale_stream_views(spark, f"streaming_{kind}_")
            name = f"streaming_{kind}_" + _uuid.uuid4().hex[:8]
            sq = (out.writeStream.format("memory").queryName(name)
                  .outputMode("complete").trigger(availableNow=True).start())
            running.append((kind, name, sq))
        parts = []
        for kind, name, sq in running:
            _await_replay(sq)
            parts.append(spark.table(name).withColumn("kind", F.lit(kind)))
    return parts[0].unionByName(parts[1])


_add("streaming_tumbling_replay", Entry(
    _streaming_tumbling_run,
    f"""
    SELECT 'tumbling' AS kind, * FROM ({_TUMBLING_ORACLE})
    UNION ALL
    SELECT 'sliding' AS kind, * FROM ({_SLIDING_ORACLE})
    """,
    "§3 streaming pipeline: readStream → watermark → windowed agg → sink "
    "(stream/stream.go:223-248), tumbling + sliding "
    "(window/sliding_window.go:60-970 slot fan-out on Catalyst's "
    "streaming windowed-agg state store); value-parity with the batch "
    "paths"))


# staged lateness-replay input dirs, keyed by sf_dir (see
# _streaming_lateness_run) — removed at interpreter exit
_LATENESS_STAGED: dict[str, str] = {}


def _sweep_lateness_staging() -> None:
    import os
    import shutil

    for cache in (_LATENESS_STAGED, _OOO_STAGED):
        for in_dir in cache.values():
            shutil.rmtree(os.path.dirname(in_dir), ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_sweep_lateness_staging)


def _staged_events_stream(spark: SparkSession, sf_dir: str,
                          cache: dict[str, str], prefix: str, build):
    """Shared staging scaffolding of the lateness and out-of-order
    replays: cache-or-build a staged input dir for ``sf_dir`` (the
    bench loops each entry 3x), then open it as a
    ``maxFilesPerTrigger=1`` file stream with the nanos-timestamp
    rewrite.  ``build(raw, nanos_cols, in_dir)`` writes the staged
    files.  A build failure removes the staging NOW (popping the cache
    would orphan it — the atexit sweep only sees surviving entries) so
    the next run rebuilds from scratch.  Returns (raw, nanos_cols,
    stream)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from .session import _nanos_timestamp_columns

    path = f"{sf_dir}/events.parquet"
    raw = spark.read.parquet(path)
    nanos_cols = _nanos_timestamp_columns(path)
    in_dir = cache.get(sf_dir)
    if in_dir is None or not os.path.isdir(in_dir):
        root = tempfile.mkdtemp(prefix=prefix)
        in_dir = f"{root}/in"
        try:
            build(raw, nanos_cols, in_dir)
        except BaseException:
            import shutil
            shutil.rmtree(root, ignore_errors=True)
            raise
        cache[sf_dir] = in_dir
    stream = (spark.readStream.schema(raw.schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(in_dir))
    for col in nanos_cols:
        stream = stream.withColumn(
            col, F.expr(f"timestamp_micros(CAST(`{col}` DIV 1000 AS BIGINT))"))
    return raw, nanos_cols, stream


def _drop_staging(cache: dict[str, str], sf_dir: str) -> None:
    """Failure after staging (query construction/run): remove the
    staged dir so the next run rebuilds from scratch."""
    import os
    import shutil

    staged = cache.pop(sf_dir, None)
    if staged is not None:
        shutil.rmtree(os.path.dirname(staged), ignore_errors=True)


# distinct state-key counts of the replay inputs, memoized per
# (sf_dir, key exprs, events file stamp) — a TABLE STATISTIC in the
# filesourcePartition-cache sense (guide §6), never a query result: every
# replay still computes from the parquet input; this only sizes its state
# partitioning.  First bench rep of an entry pays the one count job; an
# events table regenerated in place is counted again.
_REPLAY_KEYS: dict[tuple, int] = {}


def _replay_key_count(spark, sf_dir: str, exprs: tuple[str, ...]) -> int:
    import os as _os

    key = (_os.path.abspath(sf_dir), exprs, table_stamp(sf_dir, ("events",)))
    n = _REPLAY_KEYS.get(key)
    if n is None:
        ev = load_tables(spark, sf_dir)["events"]
        n = ev.selectExpr(*exprs).distinct().count()
        _REPLAY_KEYS[key] = n = max(1, n)
    return n


def _replay_parts_for(spark, sf_dir: str, key_exprs: tuple[str, ...],
                      keys_per_partition: int | None = None) -> int:
    """State-partition count for a replay, derived from its STATE-KEY
    CARDINALITY and bounded by cluster width:

        n = clamp(2, ceil(keys / keys_per_partition), defaultParallelism)

    ``keys_per_partition`` is the amortization constant — how many
    keys' state one partition's per-trigger lifecycle is worth; the
    default 200 reproduces the r13 sweep optimum (1500 user_id keys →
    8 partitions) and is conf-able via SPARK_GRAFT_REPLAY_KEYS_PER_PART
    for deployments where the per-trigger fixed cost differs (a
    compute-bound python kernel amortizes at ~100 — see the analytic
    replay).  At production cardinalities (10^8 keys) the width bound
    governs and the result is the cluster's own parallelism."""
    import math as _math
    import os as _os

    if keys_per_partition is None:
        keys_per_partition = int(_os.environ.get(
            "SPARK_GRAFT_REPLAY_KEYS_PER_PART", "200"))
    keys = _replay_key_count(spark, sf_dir, key_exprs)
    width = spark.sparkContext.defaultParallelism
    return max(2, min(_math.ceil(keys / keys_per_partition), width))


class _replay_partitions:
    """Scoped shuffle-partition override for the multi-micro-batch
    replay entries: a stateful streaming query fixes its STATE
    partitioning to spark.sql.shuffle.partitions at first batch (no
    AQE in stateful workloads), so a replay over a bounded key set
    would otherwise pay cluster-width python-worker/state-store
    lifecycles per trigger (measured ~1.0 s/trigger at 32 partitions
    vs ~0.7 at 8 on the bench box for a few thousand keyed rows).
    Entries size ``n`` from their state-key cardinality via
    :func:`_replay_parts_for`; bench.py's cal_stream calibration passes
    a FIXED n (fixed work by construction).  Bench runs entries
    serially, so the set/restore window is single-owner."""

    def __init__(self, spark, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False


_EPHEMERAL_CKPTS: list[str] = []


def _fast_ckpt(prefix: str) -> str | None:
    """Fresh RAM-backed checkpoint dir for a multi-micro-batch replay:
    Spark's default temp checkpoint lives under /tmp (ext4 here) and
    the metadata log fsyncs offsets/commits EVERY micro-batch, so a
    4-trigger replay pays ~4x32-partition state commits to spinning
    metadata — a harness concern only (production checkpoints belong on
    durable storage).  Swept at exit; None → Spark default."""
    import tempfile

    from .streaming.harness import _fast_tmp_root

    root = _fast_tmp_root()
    if root is None:
        return None
    d = tempfile.mkdtemp(prefix=prefix, dir=root)
    _EPHEMERAL_CKPTS.append(d)
    return d


def _reap_ckpt(d: str | None) -> None:
    """Remove a replay's checkpoint as soon as its query finishes —
    fresh per run and never reused, so leaving them to the atexit
    sweep would pile streaming state in tmpfs across bench reps."""
    import shutil

    if d is not None:
        shutil.rmtree(d, ignore_errors=True)
        try:
            _EPHEMERAL_CKPTS.remove(d)
        except ValueError:
            pass


def _sweep_ephemeral_ckpts() -> None:
    import shutil

    for d in _EPHEMERAL_CKPTS:
        shutil.rmtree(d, ignore_errors=True)


_atexit.register(_sweep_ephemeral_ckpts)


def _await_replay(sq, seconds: int = 300) -> None:
    """awaitTermination with the timeout ENFORCED: a replay that
    overruns must fail loudly (and stop its query), not hand a
    partially-filled memory sink to the correctness driver while the
    query keeps writing during the comparison."""
    if not sq.awaitTermination(seconds):
        sq.stop()
        raise RuntimeError(
            f"streaming replay did not finish within {seconds}s")


def _drop_stale_stream_views(spark: SparkSession, prefix: str) -> None:
    """Unregister memory-sink tables left by PREVIOUS runs of a replay
    entry (each run uses a fresh uuid-suffixed name).  Without this a
    long-lived session — the bench loops every entry 3×, a service
    would loop forever — accumulates one complete-mode row buffer per
    run in the JVM heap."""
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix):
            spark.catalog.dropTempView(t.name)


def _events_stream(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    from .session import _nanos_timestamp_columns

    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(raw_schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    for col in _nanos_timestamp_columns(path):
        stream = stream.withColumn(
            col, F.expr(f"timestamp_micros(CAST(`{col}` DIV 1000 AS BIGINT))"))
    return stream


def _streaming_counting_global_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 BOTH custom stateful streaming kernels in one entry
    (applyInPandasWithState):

    - counting window (window/counting_window.go semantics): count rows
      per key, emit on every 25th, carry remainder state across
      micro-batches;
    - GLOBAL WINDOW TRIGGER WHEN: per-key running aggregates + trigger
      predicate + FIRE_AND_PURGE (window/global_window.go:49-731).

    Outputs are tagged with a ``mode`` column and unioned.  Full value
    parity with the batch oracles — the stable per-batch (ts, event_id)
    ordering makes the replays deterministic (TriggerWindow-analog
    AvailableNow drain)."""
    import uuid as _uuid

    # both kernels START before either is awaited — startup and
    # micro-batch execution overlap on the shared local scheduler.
    # _replay_partitions: each applyInPandasWithState kernel pays one
    # python-worker/state-store lifecycle per shuffle partition per
    # trigger — sized to the user_id state-key cardinality
    running = []
    with _replay_partitions(
            spark, _replay_parts_for(spark, sf_dir, ("user_id",))):
        for mode, sql in (
                ("counting", """
                    SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
                    FROM stream GROUP BY user_id, CountingWindow(25)
                """),
                ("global", """
                    SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
                    FROM stream GROUP BY user_id GLOBAL WINDOW TRIGGER WHEN count(*) >= 20
                """)):
            q = StreamSQL(spark).execute(sql)
            acc: list[dict] = []
            sq = q.start_stream(_events_stream(spark, sf_dir),
                                sink=lambda rows, acc=acc: acc.extend(rows),
                                query_name=f"cgw_{mode}_" + _uuid.uuid4().hex[:8])
            running.append((mode, acc, sq))
        out = []
        for mode, acc, sq in running:
            _await_replay(sq)
            out.extend((mode, r["user_id"], r["cnt"], r["total"]) for r in acc)
    return spark.createDataFrame(
        out, schema="mode string, user_id bigint, cnt bigint, total double")


_add("streaming_counting_global_replay", Entry(
    _streaming_counting_global_run,
    # the merged batch entry's oracle already carries the same mode tags
    CATALOG["window_counting"].oracle,
    "§2.5+§3 counting window + global TRIGGER WHEN window on the two "
    "stateful streaming kernels (streaming/stateful.py; "
    "window/counting_window.go:36-357, window/global_window.go:49-731); "
    "value-parity with the batch paths"))


def _streaming_analytic_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 analytic state machine through the streaming kernel
    (streaming/stateful.py::analytic_stream; stream/analytic.go:125-234):
    lag with offset/default + expression wrapping, latest, the acc_*
    accumulator branch (functions/analytic_acc.go:8-122) incl. a
    WHEN-gated accumulator and a post-expression over two placeholder
    columns (run_avg), state keyed by user_id.  One AvailableNow batch
    sorted by event time inside the kernel ⇒ exact value parity with
    the batch analytic oracles ((user_id, ts) is unique in events, so
    the order is total)."""
    import uuid as _uuid

    q = StreamSQL(spark).execute("""
        SELECT event_id, user_id, value,
               lag(value) OVER (PARTITION BY user_id) AS prev_v,
               round(value - lag(value) OVER (PARTITION BY user_id), 4) AS delta,
               lag(value, 2, -1.0) OVER (PARTITION BY user_id) AS prev2,
               latest(CASE WHEN value > 100 THEN value END)
                   OVER (PARTITION BY user_id) AS last_big,
               round(acc_sum(value) OVER (PARTITION BY user_id), 4) AS run_sum,
               acc_count(value) OVER (PARTITION BY user_id) AS run_cnt,
               round(acc_sum(value) OVER (PARTITION BY user_id), 4)
                   / acc_count(value) OVER (PARTITION BY user_id) AS run_avg,
               acc_max(value) OVER (PARTITION BY user_id) AS run_max,
               round(acc_sum(value) OVER (PARTITION BY user_id
                     WHEN event_type = 'purchase'), 4) AS purchase_total
        FROM stream
    """)
    # keys_per_partition=100, not the 200 default: this is ONE
    # compute-bound python kernel (per-row state machine), so
    # partitions are its parallelism — it amortizes the per-trigger
    # lifecycle at half the key load (interleaved sweep r13 over the
    # equivalent counts: {8: 3.59, 15-16: 2.78, 32: 2.80} s)
    with _replay_partitions(
            spark, _replay_parts_for(spark, sf_dir, ("user_id",),
                                     keys_per_partition=100)):
        out = q.query_stream(_events_stream(spark, sf_dir))
        _drop_stale_stream_views(spark, "streaming_analytic_")
        name = "streaming_analytic_" + _uuid.uuid4().hex[:8]
        sq = (out.writeStream.format("memory").queryName(name)
              .outputMode("append").trigger(availableNow=True).start())
        _await_replay(sq)
    return spark.table(name)


_add("streaming_analytic_replay", Entry(
    _streaming_analytic_run,
    f"""
    SELECT event_id, user_id, value,
           lag(value) {_ANALYTIC_W} AS prev_v,
           round(value - lag(value) {_ANALYTIC_W}, 4) AS delta,
           lag(value, 2, -1.0) {_ANALYTIC_W} AS prev2,
           last_value(CASE WHEN value > 100 THEN value END IGNORE NULLS)
               {_ANALYTIC_W_RUN} AS last_big,
           round(sum(value) {_ANALYTIC_W_RUN}, 4) AS run_sum,
           nullif(count(value) {_ANALYTIC_W_RUN}, 0) AS run_cnt,
           round(sum(value) {_ANALYTIC_W_RUN}, 4)
               / count(value) {_ANALYTIC_W_RUN} AS run_avg,
           max(value) {_ANALYTIC_W_RUN} AS run_max,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END)
                 {_ANALYTIC_W_RUN}, 4) AS purchase_total
    FROM events
    """,
    "§2.6+§3 lag/latest/acc_*/WHEN-gated accumulator on the stateful "
    "streaming kernel (applyInPandasWithState state machine, "
    "stream/analytic.go:125-234, functions/analytic_acc.go:8-122); "
    "value-parity with the batch analytic path"))


def _streaming_cep_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 MATCH_RECOGNIZE through the incremental streaming matcher
    (streaming/stateful.py::cep_stream; cep/engine.go:374-461).  The
    fixed-length PATTERN (A B) emits every match as soon as it closes —
    no pending-greedy tail at end of stream — so the AvailableNow
    replay carries full value parity with the batch relational oracle
    (adjacent-pair ≡ LAG)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    with _replay_partitions(
            spark, _replay_parts_for(spark, sf_dir, ("user_id",))):
        q = StreamSQL(spark).execute(_CEP_ADJ_SQL)
        out = q.query_stream(_events_stream(spark, sf_dir))
        _drop_stale_stream_views(spark, "streaming_cep_")
        name = "streaming_cep_" + _uuid.uuid4().hex[:8]
        sq = (out.writeStream.format("memory").queryName(name)
              .outputMode("append").trigger(availableNow=True).start())

        # kind='ooo' leg runs concurrently on the shared local scheduler
        try:
            ooo_acc, ooo_sq, ooo_ckpt = _streaming_cep_ooo_start(
                spark, sf_dir)
        except BaseException:
            # staging/start failed with the inorder query already
            # running — stop it or it contends with the next entry
            try:
                sq.stop()
            except Exception:  # noqa: BLE001 — already failing
                pass
            raise
        try:
            _await_replay(sq)
            _await_replay(ooo_sq)
        except BaseException:
            # one leg overran/failed: stop BOTH, or the survivor keeps
            # contending with the next bench entry and mutating its acc
            for q_ in (sq, ooo_sq):
                try:
                    q_.stop()
                except Exception:  # noqa: BLE001 — already failing
                    pass
            raise
        finally:
            _reap_ckpt(ooo_ckpt)
    base = spark.table(name)
    ooo = spark.createDataFrame(
        [(r["user_id"], r["a_ts"], r["b_ts"], r["a_val"], r["b_val"])
         for r in ooo_acc],
        schema=base.schema)
    return (base.select(F.lit("inorder").alias("kind"), "*")
            .unionByName(ooo.select(F.lit("ooo").alias("kind"), "*")))


_CEP_ADJ_SQL = """
    SELECT user_id, a_ts, b_ts, a_val, b_val FROM stream
    MATCH_RECOGNIZE (
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES A.ts AS a_ts, B.ts AS b_ts,
                 A.value AS a_val, B.value AS b_val
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B)
        DEFINE A AS value > 80, B AS value < 20
        WITHIN '4h'
    )
"""

_OOO_STAGED: dict[str, str] = {}
# 3 delivery buckets + 1 closer batch = 4 micro-batches: enough to
# displace rows ACROSS micro-batch boundaries (the property under
# test — the ±120s displacement bound is independent of bucket count)
# while keeping the per-trigger overhead off the bench's critical path
_OOO_BATCHES = 3
_OOO_KEY_PRED = "user_id % 7 = 0"


def _streaming_cep_ooo_start(spark: SparkSession, sf_dir: str):
    """Start the out-of-order delivery leg of ``streaming_cep_replay``:
    the same MATCH_RECOGNIZE query under a declared
    ``MAXOUTOFORDERNESS='5m'`` reorder horizon (streaming/stateful.py
    cep kernel; reference out-of-order handling via the window-level
    watermark, window/watermark.go), fed the SAME events displaced by a
    deterministic ±120s (crc32 of event_id) and re-batched by displaced
    delivery time — so rows cross micro-batch boundaries out of event
    order by up to 240s, strictly inside the 300s horizon, and the
    match multiset must hash-equal the in-order batch oracle.

    End-of-stream: matches completed inside the final horizon are HELD
    (watermark semantics — the reference's explicit ``Engine.Flush()``,
    cep/engine.go:238-267, has no Spark analog; see README parity
    note), so the staged input ends with one per-user closer row
    (NULL value — can never satisfy a DEFINE) 2h past max event time
    that pushes every key's watermark over its held tail.

    Staging is one partitionBy write job, cached per sf_dir (the bench
    loops entries 3x)."""
    import os
    import time as _time
    import uuid as _uuid

    from pyspark.sql import functions as F

    def build(raw, nanos_cols, in_dir):
        # deterministic key subset: CEP state is per-key, so a 1-in-7
        # slice exercises the reorder horizon identically per retained
        # key while keeping the leg's 4-micro-batch kernel cost off the
        # bench's critical path (kernel cost is per-invocation x keys);
        # the oracle applies the SAME predicate
        raw = raw.where(_OOO_KEY_PRED)
        # displaced delivery time in µs; event times themselves are
        # untouched — only the ORDER OF ARRIVAL changes
        ts_us = (F.col("ts").cast("decimal(38,0)") / 1000).cast("long") \
            if "ts" in nanos_cols \
            else F.unix_micros(F.col("ts").cast("timestamp"))
        off_us = ((F.crc32(F.col("event_id").cast("string").cast("binary"))
                   % 241) - 120) * F.lit(1_000_000)
        staged = raw.withColumn("__dlv__", ts_us + off_us)
        lo, hi, max_ts = staged.agg(
            F.min("__dlv__"), F.max("__dlv__"), F.max("ts")).collect()[0]
        nb = _OOO_BATCHES
        staged = staged.withColumn(
            "__b",
            F.least(F.lit(nb - 1),
                    F.floor((F.col("__dlv__") - F.lit(lo)) * nb
                            / F.lit(hi - lo + 1))).cast("int"))
        closer_ts = (F.lit(max_ts + 2 * 3600 * 1_000_000_000)
                     if "ts" in nanos_cols
                     else (F.lit(max_ts) + F.expr("INTERVAL 2 HOURS"))
                     .cast(raw.schema["ts"].dataType))
        closers = (raw.select("user_id").distinct()
                   .withColumn("event_id", F.lit(-1).cast("long"))
                   .withColumn("ts", closer_ts)
                   .withColumn("event_type", F.lit("__flush__"))
                   .withColumn("value", F.lit(None).cast("double"))
                   .withColumn("props", F.lit(None).cast("string"))
                   .withColumn("__b", F.lit(nb).cast("int"))
                   .select(*raw.columns, "__b"))
        (staged.select(*raw.columns, "__b").unionByName(closers)
         .repartition(nb + 1, "__b")
         .write.partitionBy("__b").parquet(in_dir))
        # the file source replays by mtime: force strict batch order
        # (an equal-width delivery bucket can be EMPTY on clustered
        # data — partitionBy writes no directory for it)
        t0 = _time.time()
        for b in range(nb + 1):
            d = f"{in_dir}/__b={b}"
            if not os.path.isdir(d):
                continue
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    os.utime(f"{d}/{fn}", (t0 + b, t0 + b))

    try:
        _, _, stream = _staged_events_stream(
            spark, sf_dir, _OOO_STAGED, "ssql_cep_ooo_", build)
        q = StreamSQL(spark).execute(
            _CEP_ADJ_SQL
            + " WITH (TIMESTAMP='ts', MAXOUTOFORDERNESS='5m')")
        acc: list[dict] = []
        ckpt = _fast_ckpt("ssql_cep_ooo_ckpt_")
        sq = q.start_stream(stream, sink=lambda rows: acc.extend(rows),
                            query_name="cep_ooo_" + _uuid.uuid4().hex[:8],
                            checkpoint=ckpt)
        return acc, sq, ckpt
    except BaseException:
        _drop_staging(_OOO_STAGED, sf_dir)
        raise


_add("streaming_cep_replay", Entry(
    _streaming_cep_run,
    f"""
    SELECT 'inorder' AS kind, * FROM ({_CEP_ADJ_ORACLE})
    UNION ALL
    SELECT 'ooo' AS kind, * FROM ({_CEP_ADJ_ORACLE}) WHERE {_OOO_KEY_PRED}
    """,
    "§2.7+§3 MATCH_RECOGNIZE on the incremental streaming matcher "
    "(cep/engine.go:374-461 semantics in applyInPandasWithState), "
    "kind-tagged in-order + bounded out-of-order delivery through the "
    "MAXOUTOFORDERNESS reorder horizon; value-parity with the batch "
    "CEP path"))


def _streaming_session_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 session window through Catalyst's streaming session_window
    (window/session_window.go:37-686 semantics): per-key sessions closed
    after a 4h inactivity gap, sessions merged across rows by the native
    streaming state store.  Complete output mode drains every session on
    the AvailableNow replay — value parity with the batch gaps-and-islands
    oracle."""
    import uuid as _uuid

    q = StreamSQL(spark).execute("""
        SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS total
        FROM stream GROUP BY user_id, SessionWindow('4h')
    """)
    with _replay_partitions(
            spark, _replay_parts_for(spark, sf_dir, ("user_id",))):
        out = q.query_stream(_events_stream(spark, sf_dir))
        _drop_stale_stream_views(spark, "streaming_session_")
        name = "streaming_session_" + _uuid.uuid4().hex[:8]
        sq = (out.writeStream.format("memory").queryName(name)
              .outputMode("complete").trigger(availableNow=True).start())
        _await_replay(sq)
    return spark.table(name)


_add("streaming_session_replay", Entry(
    _streaming_session_run,
    CATALOG["window_session"].oracle,
    "§2.5+§3 session window on Catalyst's streaming session_window "
    "state store (window/session_window.go:37-686); value-parity with "
    "the batch session path"))


def _streaming_lateness_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5+§3 ALLOWEDLATENESS emit-then-update kernel at data scale
    (window/tumbling_window.go:596-674, stream/processor_data.go:415-435):
    the full events table replays through the stateful lateness kernel
    (UPDATE mode, stable window_id per emission), then two flush batches
    advance the watermark so every window fires — each exactly once here
    (all data arrives in batch 1), giving value parity with the batch
    tumbling oracle.  Late re-emission itself is unit-tested
    (tests/test_streaming.py lateness case)."""
    import os
    import uuid as _uuid

    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"

    # the staged input dir (source symlink + two flush batches) is a
    # pure function of sf_dir — build it once and reuse across repeat
    # runs (the bench loops each entry 3×; rewriting the flush parquet
    # every run costs two write jobs + an agg job per rep)
    def build(raw, nanos_cols, in_dir):
        max_v = raw.agg(F.max("ts")).collect()[0][0]
        flush_ts = (F.lit(max_v + 30 * 86400 * 1_000_000_000)
                    if "ts" in nanos_cols
                    else F.lit(max_v) + F.expr("INTERVAL 30 DAYS"))
        os.makedirs(in_dir)
        # batch 1 IS the source file (symlinked, not rewritten); the
        # two flush batches carry one far-future row each to advance
        # the watermark so every window fires
        os.symlink(path, f"{in_dir}/b0.parquet")
        flush = raw.limit(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("__flush__").alias("event_type"),
            F.lit(0.0).alias("value"),
            flush_ts.alias("ts"),
            F.lit(None).cast("string").alias("props"))
        flush = flush.select(*raw.columns)
        for i in (1, 2):
            flush.coalesce(1).write.parquet(f"{in_dir}/b{i}")

    try:
        _, _, stream = _staged_events_stream(
            spark, sf_dir, _LATENESS_STAGED, "ssql_lateness_", build)
        q = StreamSQL(spark).execute("""
            SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total,
                   unix_timestamp(window_start()) AS ws
            FROM stream GROUP BY event_type, TumblingWindow('6h')
            WITH (TIMESTAMP='ts', MAXOUTOFORDERNESS='1h',
                  ALLOWEDLATENESS='2h')
        """)
        acc: list[dict] = []
        ckpt = _fast_ckpt("ssql_lateness_ckpt_")
        n_parts = _replay_parts_for(spark, sf_dir, (
            "event_type", "CAST(unix_timestamp(ts) DIV 21600 AS BIGINT)"))
        with _replay_partitions(spark, n_parts):
            try:
                sq = q.start_stream(
                    stream, sink=lambda rows: acc.extend(rows),
                    query_name="lateness_" + _uuid.uuid4().hex[:8],
                    checkpoint=ckpt)
                _await_replay(sq)
            finally:
                _reap_ckpt(ckpt)
        return spark.createDataFrame(
            [(r["event_type"], r["cnt"], r["total"], r["ws"]) for r in acc
             if r["event_type"] != "__flush__"],
            schema="event_type string, cnt bigint, total double, ws bigint")
    except BaseException:
        _drop_staging(_LATENESS_STAGED, sf_dir)
        raise


_add("streaming_lateness_replay", Entry(
    _streaming_lateness_run,
    _TUMBLING_ORACLE,
    "§2.5+§3 ALLOWEDLATENESS emit-then-update on the stateful lateness "
    "kernel: watermark-fired windows, accumulating late re-emits, stable "
    "window_id stamping (tumbling_window.go:596-674, "
    "stream/processor_data.go:415-435); value-parity with the batch "
    "tumbling path"))


def names() -> list[str]:
    return list(CATALOG)


# extension operators (dedup / similarity / text / multimodal) register
# themselves into CATALOG on import
from . import catalog_ext  # noqa: E402,F401  (intentional bottom import)
