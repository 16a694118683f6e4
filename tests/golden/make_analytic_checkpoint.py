"""Write the golden streaming analytic checkpoint.

    PYTHONPATH=<checkout of the writing revision> \
        python3 tests/golden/make_analytic_checkpoint.py <out_dir>

Same layout and stream set-up as ``make_cep_checkpoint.py`` (two input
files, one micro-batch each, default HDFS-backed state store, 2 state
partitions), for an analytic statement: ``lag``, ``acc_sum`` and a
``had_changed`` with a WHEN gate, all over one PARTITION BY (a streaming
query runs one analytic kernel, so the calls share their key).  After the
second batch ``d1`` and ``d2`` hold a lag history, a running sum and a
``had_changed`` baseline; ``d3`` first appears in the resuming file.
"""

import sys

from make_cep_checkpoint import _row, write_golden

SQL = """SELECT deviceId, ts,
       lag(temperature) OVER (PARTITION BY deviceId) AS prev,
       acc_sum(temperature) OVER (PARTITION BY deviceId) AS total,
       had_changed(true, status) OVER (PARTITION BY deviceId
                                       WHEN temperature > 20) AS chg
FROM stream WITH (TIMESTAMP='ts', TIMEUNIT='ms')"""


def _ev(dev, temp, ts, status):
    return {**_row(dev, temp, ts), "status": status}


BATCHES = [
    [_ev("d1", 21.0, 1000, "ok"), _ev("d1", None, 2000, "ok"),
     _ev("d1", 24.5, 3000, "warn"), _ev("d2", 30.0, 1500, "ok"),
     _ev("d2", 31.0, 2500, "ok")],
    [_ev("d1", 19.0, 4000, "warn"), _ev("d1", 18.0, 5000, "ok"),
     _ev("d2", None, 3500, "err"), _ev("d2", 33.5, 4500, "err"),
     _ev("d2", 35.0, 5500, "ok")],
]
NEXT = [_ev("d1", 17.0, 6000, "ok"), _ev("d1", 16.0, 7000, "err"),
        _ev("d2", 36.0, 6500, "ok"), _ev("d3", 12.0, 6200, "ok"),
        _ev("d3", 13.0, 7200, "ok")]


if __name__ == "__main__":
    write_golden(sys.argv[1], "golden-analytic-checkpoint", SQL, BATCHES,
                 NEXT)
