"""``bench.time_entries``: a failing catalog entry is recorded, not lost —
its timing is -1 and stderr carries one ``entry_failed`` JSON line, while
stdout stays free for the single payload line ``bench.py`` prints last;
``--entries`` picks the entries it times."""

import json
import os
import sys

import pytest

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


def test_entries_option_selects_named_entries_in_order(capsys):
    catalog = {"a": _Entry(False), "b": _Entry(False), "c": _Entry(True)}
    assert bench.select_entries(catalog, []) == catalog
    picked = bench.select_entries(catalog, ["--entries", "c,a"])
    assert list(picked) == ["c", "a"] and picked["a"] is catalog["a"]
    for bad in (["--entries", "a,nope"], ["--entries", ","], ["--bogus"]):
        with pytest.raises(SystemExit):
            bench.select_entries(catalog, bad)
    out, err = capsys.readouterr()
    assert out == "" and "nope" in err
    # the named entries go through time_entries as the whole catalog does
    timings, repeats, _ = bench.time_entries(None, "/data/sf0", picked)
    assert list(timings) == ["c", "a"] and timings["c"] == -1
