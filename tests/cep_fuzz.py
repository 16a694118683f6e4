"""Seeded differential fuzz for the CEP engine (r11 extension).

The crosspath grid pins six hand-picked patterns; this sweep GENERATES
random MATCH_RECOGNIZE statements — random symbol count, per-symbol
quantifiers ('', +, *, ?, {m}, {m,n}) including RELUCTANT variants
(+?, *?, ??, {m,n}? — r12), alternation groups, PERMUTE, random
DEFINE thresholds and PREV/NEXT navigation in DEFINE (r12), all four
AFTER MATCH SKIP modes incl. TO FIRST/LAST <sym> (r12), SUBSET union
symbols in MEASURES (r12), a WITHIN axis (none / tight 4s / loose 1h —
r12), ONE/ALL ROWS PER MATCH — and runs each over random event
streams on THREE paths:

- batch flush (emit + trigger_window: the incremental NFA drained at
  end of stream),
- the streaming kernel (run_streaming_collect over random micro-batch
  splits, define-failing closer rows resolving pending matches),
- the relational batch path (StreamSQL.query over a DataFrame),
- (every other statement) an OUT-OF-ORDER leg: delivery slots
  perturbed within a MAXOUTOFORDERNESS horizon, with watermark-pusher
  rows past the closers (under a horizon the closers themselves stay
  held at end of stream — README delta row 9).

All paths must produce the identical match multiset.  The bar is ZERO
divergences.

    python3 tests/cep_fuzz.py [seed [count]]

r12 baseline (all axes active): 40 statements/seed incl. 20 ooo
legs, 0 divergences on FIVE seeds (20260816, 7, 99, 1234, 424242).  CI subset:
tests/test_cep_fastpath.py::test_cep_fuzz_ci_subset.

r13 axis: RUNNING aggregates in DEFINE (count/avg/sum/min-max spread,
optionally symbol-qualified — cep/eval.go:362-380); every variant
keeps a per-row range conjunct so the harness's closer rows still
fail each define regardless of match history.  r13 baseline with the
axis active: 0 divergences on the same FIVE seeds x 40.

NULL-tolerant NEXT axis: one C variant reads ``NEXT(temperature, k) IS
NULL OR NEXT(temperature, k) > t`` (k in 1, 2), which PASSES on a read
past the partition end — a stream must treat that pass as inconclusive
at the buffer tail, or it emits matches batch never produces.  With the
axis active and closers three deep: 0 divergences on the same FIVE
seeds x 40.

Harness lessons (cost a debug round each — keep them):
- relative skew between two displaced rows is up to 2x the per-row
  displacement; keep 2*d*spacing under the horizon or late rows drop
  LEGALLY on the stream side only;
- define-failing closer rows do NOT flush matches under a horizon
  (they are themselves held) — watermark pushers beyond closer_ts +
  horizon are required;
- closers must be one deeper per key than the largest DEFINE NEXT()
  offset (three for NEXT(v, 2)): a NEXT()-reading DEFINE classifying
  the first closer needs its successors in the buffer to classify
  conclusively, else the kernel legitimately holds the tail.

r12 engine finds from the new axes: the parser rejected `??`
(reluctant optional — reference consumes the reluctant marker after
EVERY quantifier form), and find_emittable emitted a SHORT match when
the greedy extension's NEXT()-reading DEFINE failed inconclusively at
the micro-batch tail (flush/batch extend it once the successor
exists) — both fixed, both now exercised every run.
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gen_pattern(rng: random.Random):
    """A random (pattern, defines, used, anchor_ok) tuple over symbols
    with disjoint-ish temperature ranges; the first element is never
    empty-matchable.  r12 axes: reluctant quantifiers (+? *? ?? {m,n}?
    — cep/engine.go:492-625 greedy/reluctant emission) and PREV/NEXT
    navigation inside DEFINE.  ``anchor_ok`` lists symbols safe as a
    SKIP TO FIRST/LAST anchor (never the sequence's first symbol — the
    standard's no-progress corner)."""
    n_sym = rng.randint(2, 3)
    syms = ["A", "B", "C"][:n_sym]
    # random thresholds carve the [-10, 40] value space
    hi = round(rng.uniform(18, 32), 2)
    lo = round(rng.uniform(2, 12), 2)
    defs = {
        "A": f"A AS temperature > {hi}",
        "B": f"B AS temperature < {lo}",
        "C": f"C AS temperature >= {lo} AND temperature <= {hi}",
    }
    # navigation in DEFINE (~30%): C becomes relative to its
    # neighbours — PREV reads the previous PARTITION row physically,
    # NEXT the following one (NULL off either end fails the define,
    # except in the NULL-tolerant NEXT variant, which PASSES on a read
    # past the partition end and keeps C's range conjunct so the
    # closer rows still fail)
    if n_sym >= 3 and rng.random() < 0.3:
        k = rng.choice([1, 2])
        defs["C"] = rng.choice([
            f"C AS temperature >= PREV(temperature) - 10",
            f"C AS temperature <= PREV(temperature, 2) + 25",
            f"C AS temperature < NEXT(temperature)",
            f"C AS temperature >= {lo} AND PREV(temperature) IS NOT NULL",
            f"C AS (temperature >= {lo} AND temperature <= {hi}) AND "
            f"(NEXT(temperature, {k}) IS NULL OR "
            f"NEXT(temperature, {k}) > {round(rng.uniform(0, 30), 2)})",
        ])
    # RUNNING aggregates in DEFINE (~25%, r13 — the reference's eval
    # supports them, cep/eval.go:362-380): B's condition reads an
    # aggregate over the match so far (optionally symbol-qualified).
    # Every variant KEEPS the per-row range conjunct — the harness's
    # closer rows must fail each define regardless of match history,
    # or pending matches never flush conclusively.
    if rng.random() < 0.25:
        agg_hi = round(rng.uniform(20, 60), 2)
        defs["B"] = rng.choice([
            f"B AS temperature < {lo} AND count(*) <= 3",
            f"B AS temperature < {lo} AND avg(temperature) < {agg_hi}",
            f"B AS temperature < {lo} AND avg(A.temperature) > {lo}",
            f"B AS temperature < {lo} AND sum(B.temperature) < "
            f"{round(3.2 * lo, 2)}",
            f"B AS temperature < {lo} AND "
            f"max(temperature) - min(temperature) < 38",
        ])
    quants = ["", "+", "*", "?", "{2}", "{1,2}", "{2,3}",
              "+?", "*?", "??", "{1,2}?", "{2,3}?"]

    def q(sym, allow_empty=True):
        choices = quants if allow_empty else \
            ["", "+", "{2}", "{1,2}", "+?", "{1,2}?"]
        return sym + rng.choice(choices)

    anchor_ok: list[str] = []
    shape = rng.random()
    if shape < 0.15 and n_sym >= 2:
        pattern = f"PERMUTE({', '.join(syms)})"
    elif shape < 0.35 and n_sym >= 3:
        # alternation group in the middle
        pattern = f"{q(syms[0], False)} ({syms[1]} | {syms[2]}) " \
                  f"{q(rng.choice(syms))}"
        anchor_ok = [s for s in syms[1:] if s in pattern]
    else:
        parts = [q(syms[0], allow_empty=False)]
        parts += [q(s) for s in syms[1:]]
        pattern = " ".join(parts)
        anchor_ok = syms[1:]
    used = sorted(set(c for c in pattern if c in "ABC"))
    defines = ", ".join(defs[s] for s in used)
    return pattern, defines, used, anchor_ok


def gen_case(rng: random.Random):
    pattern, defines, used, anchor_ok = gen_pattern(rng)
    # AFTER MATCH SKIP: all four reference modes
    # (cep/engine.go:593-625); FIRST/LAST anchors avoid the sequence's
    # first symbol (the no-progress corner the standard rejects)
    skips = ["PAST LAST ROW", "TO NEXT ROW"]
    if anchor_ok:
        a = rng.choice(anchor_ok)
        skips += [f"TO FIRST {a}", f"TO LAST {a}"]
    skip = rng.choice(skips)
    # WITHIN axis: none / tight (4s at 1s row spacing — truncates
    # matches) / loose (1h — never binds); every path must agree on
    # expiry exactly
    within = rng.choice(["", "WITHIN '4s'", "WITHIN '1h'"])
    all_rows = rng.random() < 0.4
    if all_rows:
        select = "SELECT deviceId, ts, temperature, cls, mn FROM stream"
        measures = "CLASSIFIER() AS cls, MATCH_NUMBER() AS mn"
        rows_per = "ALL ROWS PER MATCH"
    else:
        select = "SELECT * FROM stream"
        measures = ("MATCH_NUMBER() AS mn, COUNT(*) AS n, "
                    "FIRST(ts) AS fts, LAST(ts) AS lts, "
                    "round(SUM(temperature), 6) AS st")
        rows_per = "ONE ROW PER MATCH"
    # SUBSET (~30% of ONE ROW cases): union symbol fed to aggregation
    # and last-row navigation (cep/engine.go:738-864)
    subset = ""
    if not all_rows and len(used) >= 2 and rng.random() < 0.3:
        members = sorted(rng.sample(used, 2))
        subset = f"\n        SUBSET U = ({', '.join(members)})"
        measures += ", round(SUM(U.temperature), 6) AS su, U.ts AS uts"
    sql = f"""{select} MATCH_RECOGNIZE (
        PARTITION BY deviceId
        ORDER BY ts
        MEASURES {measures}
        {rows_per}
        AFTER MATCH SKIP {skip}
        PATTERN ({pattern}){subset}
        {within}
        DEFINE {defines}
    ) WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""
    return sql, pattern


def gen_rows(rng: random.Random, n: int = 36):
    rows = []
    for i in range(n):
        rows.append({
            "deviceId": rng.choice(["d1", "d2"]),
            "temperature": None if rng.random() < 0.12
            else round(rng.uniform(-10, 40), 2),
            "humidity": 0.0, "ts": 1000 * (i + 1), "status": "ok",
        })
    # define-failing closers resolve pending matches on every path.
    # THREE per key, one more than the largest DEFINE NEXT() offset: a
    # NEXT(v, 2)-reading DEFINE classifying the FIRST closer needs two
    # successors to classify CONCLUSIVELY — with fewer closers the tail
    # classification stays inconclusive (reads past end) and the
    # streaming kernel legitimately holds it (README delta row 9: no
    # end-of-stream flush without STATETTL)
    rows += [{"deviceId": k, "temperature": None, "humidity": 0.0,
              "ts": 1000 * (n + 10 + j), "status": "ok"}
             for j, k in enumerate(["d1", "d2"] * 3)]
    return rows


def _norm(out):
    return Counter(
        tuple((k, round(v, 6) if isinstance(v, float) else v)
              for k, v in sorted(r.items())) for r in out)


def run_fuzz(spark, seed: int, count: int, verbose: bool = True) -> list:
    from streamsql_spark.api.facade import StreamSQL
    from streamsql_spark.streaming.harness import run_streaming_collect

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_streaming import EVT

    rng = random.Random(seed)
    divergences = []
    for i in range(count):
        sql, pattern = gen_case(rng)
        rows = gen_rows(rng)
        try:
            # path 1: incremental NFA, end-of-stream flush
            s = StreamSQL(spark)
            s.execute(sql)
            for r in rows:
                s.emit(dict(r))
            flush = _norm(s.trigger_window())

            # path 2: relational batch over a DataFrame
            s2 = StreamSQL(spark)
            s2.execute(sql)
            df = spark.createDataFrame(
                [tuple(r[f] for f in
                       ("deviceId", "temperature", "humidity", "ts",
                        "status")) for r in rows], EVT)
            batch = _norm([row.asDict() for row in s2.query(df).collect()])

            # path 3: streaming kernel over random micro-batch splits
            batches, j = [], 0
            while j < len(rows):
                k = rng.randint(1, 6)
                batches.append(rows[j:j + k])
                j += k
            s3 = StreamSQL(spark)
            s3.execute(sql)
            stream = _norm(run_streaming_collect(
                spark, s3, batches, EVT, tables={}))

            # leg 4 (every other statement): OUT-OF-ORDER delivery
            # under a MAXOUTOFORDERNESS horizon — each row's delivery
            # slot perturbed within the 5s bound (ts spacing is 1s),
            # random micro-batch splits; the reorder buffer must
            # reconstruct the in-order match set exactly
            ooo = None
            if i % 2 == 0:
                ooo_sql = sql.replace(
                    "TIMEUNIT='ms')",
                    "TIMEUNIT='ms', MAXOUTOFORDERNESS='5s')")
                # RELATIVE skew between two rows is up to 2x the
                # per-row displacement — keep 2*d*spacing (4s) under
                # the 5s horizon, or late rows drop LEGALLY on the
                # stream side while the batch side keeps them
                shuffled = sorted(
                    range(len(rows)),
                    key=lambda j: (j + rng.randint(-2, 2), j))
                # watermark PUSHERS (delivered last, in order): under
                # a horizon the define-failing closers themselves stay
                # held at end of stream (the documented CEP
                # end-of-stream contract, README delta row 9) — rows
                # a full horizon past them advance the watermark so
                # the closers are consumed and complete matches emit
                last_ts = rows[-1]["ts"]
                pushers = [
                    {"deviceId": k, "temperature": None,
                     "humidity": 0.0, "ts": last_ts + 10000 + 1000 * j,
                     "status": "ok"}
                    for j, k in enumerate(["d1", "d2"])]
                ooo_rows = [rows[j] for j in shuffled] + pushers
                # expected = batch flush of the SAME ooo SQL over the
                # SAME row set (the horizon changes delivery
                # tolerance, not match semantics)
                se = StreamSQL(spark)
                se.execute(ooo_sql)
                for r in rows + pushers:
                    se.emit(dict(r))
                ooo_want = _norm(se.trigger_window())
                ob, j2 = [], 0
                while j2 < len(ooo_rows):
                    k = rng.randint(1, 6)
                    ob.append(ooo_rows[j2:j2 + k])
                    j2 += k
                so = StreamSQL(spark)
                so.execute(ooo_sql)
                ooo = (_norm(run_streaming_collect(
                    spark, so, ob, EVT, tables={})), ooo_want)
        except Exception as e:  # noqa: BLE001 — a crash IS a divergence
            divergences.append((i, pattern, sql,
                                f"EXCEPTION {type(e).__name__}: "
                                f"{str(e)[:300]}"))
            if verbose:
                print(f"DIVERGE-EXC [{i}] ({pattern}): "
                      f"{type(e).__name__}: {str(e)[:300]}\n  {sql}")
            continue
        if ooo is not None and ooo[0] != ooo[1]:
            divergences.append((i, pattern, sql,
                                f"ooo leg diverged: got="
                                f"{sum(ooo[0].values())} want="
                                f"{sum(ooo[1].values())} "
                                f"{list((ooo[0] - ooo[1]).items())[:2]} "
                                f"{list((ooo[1] - ooo[0]).items())[:2]}"))
            if verbose:
                print(f"DIVERGE-OOO [{i}] ({pattern})")
        if not (flush == batch == stream):
            detail = (f"flush={sum(flush.values())} "
                      f"batch={sum(batch.values())} "
                      f"stream={sum(stream.values())}; "
                      f"flush-batch={list((flush - batch).items())[:2]} "
                      f"batch-flush={list((batch - flush).items())[:2]} "
                      f"flush-stream={list((flush - stream).items())[:2]}")
            divergences.append((i, pattern, sql, detail))
            if verbose:
                print(f"DIVERGE [{i}] ({pattern}): {detail}\n  {sql}")
    if verbose:
        print(f"cep_fuzz(seed={seed}): {count} statements, "
              f"{len(divergences)} diverged")
    return divergences


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 20260816
    count = int(sys.argv[2]) if len(sys.argv) > 2 else 40

    from streamsql_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    return 1 if run_fuzz(spark, seed, count) else 0


if __name__ == "__main__":
    sys.exit(main())
