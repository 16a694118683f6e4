"""Write the golden streaming window checkpoints.

    PYTHONPATH=<checkout of the writing revision> \
        python3 tests/golden/make_window_checkpoints.py <golden_dir>

Same layout and stream set-up as ``make_cep_checkpoint.py`` (two input
files, one micro-batch each, default HDFS-backed state store, 2 state
partitions), one checkpoint per window kernel, each under
``<golden_dir>/<name>_checkpoint``:

- ``counting``: ``CountingWindow(3)``; after the second batch ``d1`` holds
  a one-row partial chunk and ``d2`` a two-row one (with a NULL argument),
  both completed by the resuming file.
- ``lateness``: a 10 s tumbling window with ``MAXOUTOFORDERNESS='2s'`` and
  ``ALLOWEDLATENESS='20s'``; after the second batch ``d1``'s [20 s, 30 s)
  window has fired and is still inside the lateness horizon, and its
  [40 s, 50 s) window is pending.  The resuming file's late row at 28 s
  re-emits [20 s, 30 s) with the same ``window_id``.
- ``global_algebraic``: ``GLOBAL WINDOW TRIGGER WHEN`` over ``count``,
  ``sum`` and ``avg`` (running accumulators in state); after the second
  batch both keys hold partial trigger accumulators and partial output
  accumulators.
- ``global_holistic``: the same trigger with a ``median`` and a
  ``collect`` output aggregate, so the state buffers the argument tuples.
"""

import sys

from make_cep_checkpoint import write_golden


def _ev(dev, temp, hum, ts, status="ok"):
    return {"deviceId": dev, "temperature": temp, "humidity": hum,
            "ts": ts, "status": status}


COUNTING = (
    """SELECT deviceId, count(*) AS n, sum(temperature) AS s,
       max(ts) AS last_ts
FROM stream GROUP BY deviceId, CountingWindow(3)
WITH (TIMESTAMP='ts', TIMEUNIT='ms')""",
    [[_ev("d1", 1.0, 0.0, 1000), _ev("d1", 2.0, 0.0, 2000),
      _ev("d2", 10.0, 0.0, 1500), _ev("d2", 20.0, 0.0, 2500),
      _ev("d2", 40.0, 0.0, 3500), _ev("d2", 80.0, 0.0, 4500)],
     [_ev("d1", 4.0, 0.0, 3000), _ev("d1", 8.0, 0.0, 4000),
      _ev("d2", None, 0.0, 5500)]],
    [_ev("d1", 16.0, 0.0, 5000), _ev("d1", 32.0, 0.0, 6000),
     _ev("d2", 160.0, 0.0, 6500), _ev("d3", 1.5, 0.0, 7000)],
)

LATENESS = (
    """SELECT deviceId, sum(temperature) AS s, count(*) AS n
FROM stream GROUP BY deviceId, TumblingWindow('10s')
WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='2s',
      ALLOWEDLATENESS='20s')""",
    # after batch 0 the Spark watermark is 33 - 22 = 11 s, so batch 1
    # runs at reference watermark 31 s: both keys fire [20 s, 30 s);
    # after batch 1 it is 41 - 22 = 19 s, short of the 30 s purge point
    [[_ev("d1", 1.0, 0.0, 21000), _ev("d1", 2.0, 0.0, 25000),
      _ev("d2", 10.0, 0.0, 22000), _ev("d2", 1.0, 0.0, 33000)],
     [_ev("d1", 4.0, 0.0, 41000), _ev("d2", 3.0, 0.0, 36000)]],
    [_ev("d1", 8.0, 0.0, 28000), _ev("d2", 0.5, 0.0, 37000)],
)

_GLOBAL_FROM = """FROM stream GROUP BY deviceId
GLOBAL WINDOW TRIGGER WHEN count(*) >= 4 OR sum(humidity) >= 10
WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""

_GLOBAL_BATCHES = [
    [_ev("d1", 1.0, 1.0, 1000), _ev("d1", 2.0, 2.0, 2000),
     _ev("d2", 10.0, 6.0, 1500), _ev("d2", 20.0, 5.0, 2500),
     _ev("d2", 30.0, 1.0, 3500)],
    [_ev("d1", None, 3.0, 3000), _ev("d2", 40.0, 2.0, 4500),
     _ev("d2", 50.0, 1.0, 5500, "warn")],
]
_GLOBAL_NEXT = [_ev("d1", 4.0, 1.0, 4000, "warn"), _ev("d1", 8.0, 0.5, 5000),
                _ev("d2", 60.0, 9.0, 6500), _ev("d3", 7.0, 1.0, 7000)]

GLOBAL_ALGEBRAIC = (
    "SELECT deviceId, count(*) AS cnt, sum(temperature) AS total, "
    "avg(humidity) AS hum\n" + _GLOBAL_FROM,
    _GLOBAL_BATCHES, _GLOBAL_NEXT,
)

GLOBAL_HOLISTIC = (
    "SELECT deviceId, count(*) AS cnt, median(temperature) AS med, "
    "collect(status) AS statuses\n" + _GLOBAL_FROM,
    _GLOBAL_BATCHES, _GLOBAL_NEXT,
)

CHECKPOINTS = {"counting": COUNTING, "lateness": LATENESS,
               "global_algebraic": GLOBAL_ALGEBRAIC,
               "global_holistic": GLOBAL_HOLISTIC}


if __name__ == "__main__":
    import os

    for name, (sql, batches, nxt) in CHECKPOINTS.items():
        write_golden(os.path.join(sys.argv[1], f"{name}_checkpoint"),
                     f"golden-{name.replace('_', '-')}-checkpoint", sql,
                     batches, nxt)
