"""Golden checkpoints: stream state written by an older revision must
resume with the current code.

``tests/golden/cep_checkpoint/`` is a streaming MATCH_RECOGNIZE checkpoint,
``tests/golden/analytic_checkpoint/`` a streaming analytic one, and the
``counting``, ``lateness``, ``global_algebraic`` and ``global_holistic``
checkpoints cover the window kernels, all on the default (HDFS-backed)
state store, written by an older revision with
``tests/golden/make_cep_checkpoint.py``,
``tests/golden/make_analytic_checkpoint.py`` and
``tests/golden/make_window_checkpoints.py`` (their docstrings say what the
state holds).  The checkpoint's source log names the input files by absolute
path, so the test copies everything to a temp dir and points the log at the
copies before it resumes the query.
"""

import json
import os
import shutil
from collections import Counter
from pathlib import Path

from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

GOLDEN = Path(__file__).parent / "golden"

EVT = StructType([
    StructField("deviceId", StringType()),
    StructField("temperature", DoubleType()),
    StructField("humidity", DoubleType()),
    StructField("ts", LongType()),
    StructField("status", StringType()),
])


def _read_rows(path: Path) -> list[dict]:
    return [json.loads(line) for line in path.read_text().splitlines()
            if line.strip()]


def _multiset(rows) -> Counter:
    return Counter(json.dumps(r, sort_keys=True) for r in rows)


def _run_stream(spark, sql: str, input_dir: Path, ckpt: Path) -> list[dict]:
    """Run ``sql`` as a file-source stream over ``input_dir`` (one file per
    micro-batch) with checkpoint ``ckpt`` until it drains; return the rows
    it delivered."""
    from streamsql_spark.api.facade import StreamSQL
    from streamsql_spark.streaming.executor import StreamingExecutor

    s = StreamSQL(spark)
    s.execute(sql)
    got: list[dict] = []
    stream = (spark.readStream.schema(EVT)
              .option("maxFilesPerTrigger", 1).json(str(input_dir)))
    q = StreamingExecutor(spark, {}).start(
        s.plan, stream, sink=got.extend, checkpoint=str(ckpt))
    q.awaitTermination(240)
    if q.isActive:
        q.stop()
        raise AssertionError("query did not drain in time")
    assert q.exception() is None, q.exception()
    return got


def _resume(spark, tmp_path, golden: Path):
    """Resume ``golden``'s checkpoint with the current code over one more
    input file; return (rows delivered before the restart, rows
    delivered after it, ``query()`` over all the input as a multiset)."""
    from streamsql_spark.api.facade import StreamSQL

    ckpt = tmp_path / "checkpoint"
    shutil.copytree(golden / "checkpoint", ckpt)
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    for log in sorted((ckpt / "sources" / "0").iterdir()):
        head, *entries = log.read_text().splitlines()
        moved = []
        for line in entries:
            e = json.loads(line)
            name = Path(e["path"]).name
            copy = input_dir / name
            shutil.copy(golden / "input" / name, copy)
            os.utime(copy, (e["timestamp"] / 1000, e["timestamp"] / 1000))
            e["path"] = copy.as_uri()
            moved.append(json.dumps(e))
        log.write_text("\n".join([head, *moved]))
    (nxt,) = (golden / "next").iterdir()
    shutil.copy(nxt, input_dir / nxt.name)

    sql = (golden / "query.sql").read_text()
    resumed = _run_stream(spark, sql, input_dir, ckpt)
    before = json.loads((golden / "delivered.json").read_text())
    all_rows = [r for f in sorted((golden / "input").iterdir())
                for r in _read_rows(f)] + _read_rows(nxt)
    s2 = StreamSQL(spark)
    s2.execute(sql)
    want = _multiset(r.asDict() for r in
                     s2.query(spark.createDataFrame(all_rows, EVT)).collect())
    return before, resumed, want


def test_cep_golden_checkpoint_resumes(spark, tmp_path):
    """The checkpoint holds complete ``A B+ C`` matches on the last
    buffered row of two keys (an older release rule held them for the
    key's next row) and an open partial on a third.  Resumed with the
    current code and fed one more file, the rows delivered before and
    after the restart must together equal ``query()`` over all the input:
    every held match emits exactly once, and MATCH_NUMBER continues from
    the saved state."""
    before, resumed, want = _resume(spark, tmp_path, GOLDEN / "cep_checkpoint")
    got = _multiset(before + resumed)
    assert got == want, (sorted(got.elements()), sorted(want.elements()))
    assert set(want.values()) == {1}
    # the matches held in the checkpoint emit after the restart
    assert {(r["deviceId"], r["mn"], r["a_ts"]) for r in resumed} == {
        ("d1", 2, 5000), ("d2", 1, 1500), ("d3", 1, 5500)}


# rows the checkpoint's writer delivered with a gate-blind had_changed,
# keyed (deviceId, ts): the chg it delivered
_GATE_BLIND_CHG = {("d1", 5000): True, ("d2", 3500): True,
                   ("d2", 4500): False}


def test_analytic_golden_checkpoint_resumes(spark, tmp_path):
    """The checkpoint holds, per key, a lag history, a running
    ``acc_sum`` and a WHEN-gated ``had_changed`` baseline (pickled
    ``{placeholder: state}`` per key).  Resumed with the current code and
    fed one more file, the rows delivered before and after the restart
    must together equal ``query()`` over all the input: the resumed rows
    read the saved state, not a fresh one.

    The checkpoint was written before ``had_changed`` honoured its WHEN
    gate.  Its delivered rows are history the resumed query does not
    deliver again, so three of them keep that revision's answer: d1 at
    5000 and d2 at 3500 are gated out (no change now), and d2 at 4500
    compared against the baseline the gated-out 3500 row had moved (a
    change now).  The test checks exactly those three against the old
    answer and every other value against ``query()``.  The saved
    baselines continue as they are: d1's was moved by its gated-out row
    at 5000, but d1's resumed rows are gated out too and read none, and
    d2's equals the one the current rule keeps."""
    before, resumed, want = _resume(spark, tmp_path,
                                    GOLDEN / "analytic_checkpoint")
    stale = {(r["deviceId"], r["ts"]): r["chg"] for r in before
             if (r["deviceId"], r["ts"]) in _GATE_BLIND_CHG}
    assert stale == _GATE_BLIND_CHG
    before = [{**r, "chg": not r["chg"]}
              if (r["deviceId"], r["ts"]) in _GATE_BLIND_CHG else r
              for r in before]
    got = _multiset(before + resumed)
    assert got == want, (sorted(got.elements()), sorted(want.elements()))
    assert len(resumed) == 5
    # d1's and d2's first resumed rows continue their saved state
    first = {r["deviceId"]: r for r in sorted(resumed, key=lambda r: -r["ts"])}
    assert (first["d1"]["prev"], first["d1"]["total"]) == (18.0, 99.5)
    assert (first["d2"]["prev"], first["d2"]["total"]) == (35.0, 165.5)


def test_counting_golden_checkpoint_resumes(spark, tmp_path):
    """The checkpoint holds a partial ``CountingWindow(3)`` chunk per key
    (one row for ``d1``; two for ``d2``, one with a NULL argument).  The
    resuming file completes both: each fired chunk spans the restart."""
    before, resumed, want = _resume(spark, tmp_path,
                                    GOLDEN / "counting_checkpoint")
    got = _multiset(before + resumed)
    assert got == want, (sorted(got.elements()), sorted(want.elements()))
    assert sorted((r["deviceId"], r["n"], r["s"], r["last_ts"])
                  for r in resumed) == [("d1", 3, 56.0, 6000),
                                        ("d2", 3, 240.0, 6500)]


def test_lateness_golden_checkpoint_resumes(spark, tmp_path):
    """The checkpoint holds ``d1``'s fired [20 s, 30 s) window inside the
    ALLOWEDLATENESS horizon and its pending [40 s, 50 s) window.  The
    resuming file's late row at 28 s must re-emit the fired window from
    the saved accumulators with the same ``window_id``.

    ``query()`` has no re-emission and never sees a stream's unfired
    windows, so the rows delivered before and after the restart are
    compared with an uninterrupted run of the current code over the same
    files instead."""
    golden = GOLDEN / "lateness_checkpoint"
    before, resumed, _ = _resume(spark, tmp_path, golden)
    fresh = _run_stream(spark, (golden / "query.sql").read_text(),
                        tmp_path / "input", tmp_path / "fresh_checkpoint")
    got, want = _multiset(before + resumed), _multiset(fresh)
    assert got == want, (sorted(got.elements()), sorted(want.elements()))
    assert {"deviceId": "d1", "s": 11.0, "n": 3,
            "window_id": "20000000000_30000000000"} in resumed, resumed


def _global_resume(spark, tmp_path, name):
    before, resumed, want = _resume(spark, tmp_path, GOLDEN / name)
    got = _multiset(before + resumed)
    assert got == want, (sorted(got.elements()), sorted(want.elements()))
    return resumed


def test_global_algebraic_golden_checkpoint_resumes(spark, tmp_path):
    """The checkpoint holds partial TRIGGER WHEN accumulators (count and
    sum) and partial running output accumulators for both keys; the
    resuming file fires each key with totals that span the restart."""
    resumed = _global_resume(spark, tmp_path, "global_algebraic_checkpoint")
    assert sorted((r["deviceId"], r["cnt"], r["total"]) for r in resumed) \
        == [("d1", 4, 7.0), ("d2", 4, 180.0)]


def test_global_holistic_golden_checkpoint_resumes(spark, tmp_path):
    """Same trigger as the algebraic checkpoint, with ``median`` and
    ``collect`` outputs: the state buffers argument tuples, which the
    resuming fire must read back."""
    resumed = _global_resume(spark, tmp_path, "global_holistic_checkpoint")
    assert sorted((r["deviceId"], r["cnt"], r["med"], r["statuses"])
                  for r in resumed) == [
        ("d1", 4, 2.0, ["ok", "ok", "ok", "warn"]),
        ("d2", 4, 45.0, ["ok", "ok", "warn", "ok"])]
