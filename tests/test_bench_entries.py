"""``bench.time_entries``: a failing catalog entry is recorded, not lost —
its timing is -1 and stderr carries one ``entry_failed`` JSON line, while
stdout stays free for the single payload line ``bench.py`` prints last."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


class _NoopFrame:
    """Stands in for a DataFrame: ``write.format(..).mode(..).save()``."""

    @property
    def write(self):
        return self

    def __getattr__(self, name):
        return lambda *args, **kwargs: self


class _Entry:
    def __init__(self, fail: bool):
        self.fail = fail

    def run(self, spark, sf_dir):
        if self.fail:
            raise ValueError(f"no table at {sf_dir}")
        return _NoopFrame()


def test_failing_entry_times_minus_one_with_one_stderr_record(capsys):
    timings, repeats, total = bench.time_entries(
        None, "/data/sf0", {"ok": _Entry(False), "boom": _Entry(True)})
    out, err = capsys.readouterr()
    assert timings["boom"] == -1 and repeats["boom"] == 0
    assert timings["ok"] >= 0 and repeats["ok"] >= 3
    assert round(total, 3) == timings["ok"]  # the failure adds nothing
    assert out == ""
    records = [json.loads(line) for line in err.splitlines()]
    assert records == [{"entry_failed": "boom", "error": "ValueError",
                        "message": "no table at /data/sf0"}]
