"""The stateful kernels' one ingest (``streaming.stateful.read_columns``)
against the pandas path it replaced: ``pd.concat`` of a key group's
chunks, ``sort_values(kind="mergesort")`` on the ORDER BY columns, then
every cell through the kernel's ``_cleaners`` map.  No Spark session: the
chunks go through PySpark's own Arrow-to-pandas conversion, so a BIGINT
column with a NULL arrives float-coerced in that chunk only, a map as
(key, value) pairs and an ``array<bigint>`` as a numpy array."""

import random
from datetime import datetime, timedelta
from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql.types import (ArrayType, LongType, MapType, StringType,
                               StructField, StructType, TimestampType)

from streamsql_spark.streaming.stateful import _cleaners, read_columns

SCHEMA = StructType([
    StructField("ts", TimestampType()),
    StructField("seq", LongType()),
    StructField("v", LongType()),
    StructField("m", MapType(StringType(), LongType())),
    StructField("arr", ArrayType(LongType())),
    StructField("s", StringType()),
])
CLEAN = _cleaners(SimpleNamespace(schema=SCHEMA), SCHEMA.names)
T0 = datetime(2024, 1, 1)


def _chunk(rows: list[dict]) -> pd.DataFrame:
    """``rows`` as the Python worker hands a chunk to a kernel."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import (_create_converter_to_pandas,
                                          to_arrow_type)

    data = {}
    for f in SCHEMA.fields:
        arr = pa.array([r[f.name] for r in rows],
                       type=to_arrow_type(f.dataType))
        conv = _create_converter_to_pandas(
            f.dataType, nullable=True, timezone="UTC",
            struct_in_pandas="dict")
        data[f.name] = conv(arr.to_pandas(date_as_object=True,
                                          coerce_temporal_nanoseconds=True))
    return pd.DataFrame(data, columns=SCHEMA.names)


def _reference(chunks, order):
    """The replaced path: concat, stable NULL-last sort, per-cell clean."""
    parts = [p for p in chunks if len(p)]
    if not parts:
        return 0, {c: [] for c in CLEAN}
    pdf = pd.concat(parts, ignore_index=True)
    if order:
        pdf = pdf.sort_values(order, kind="mergesort")
    return len(pdf), {c: [f(v) for v in pdf[c].tolist()]
                      for c, f in CLEAN.items()}


def _row(rng, i):
    return {
        # few distinct times: equal-timestamp ties; some NULL
        "ts": None if rng.random() < 0.15
        else T0 + timedelta(seconds=rng.randrange(4)),
        # secondary ORDER BY column with NULLs
        "seq": None if rng.random() < 0.2 else rng.randrange(3),
        # NULL in some chunks only: those chunks arrive as float64
        "v": None if rng.random() < 0.25 else rng.randrange(-5, 2**40),
        "m": None if rng.random() < 0.1
        else {f"k{j}": rng.randrange(9) for j in range(rng.randrange(3))},
        "arr": None if rng.random() < 0.1
        else [None if rng.random() < 0.2 else rng.randrange(9)
              for _ in range(rng.randrange(4))],
        "s": f"r{i}",
    }


def _split(rng, rows):
    """Random chunking, empty chunks included."""
    cuts = sorted(rng.randrange(len(rows) + 1)
                  for _ in range(rng.randrange(4)))
    bounds = [0, *cuts, len(rows)]
    return [rows[a:b] for a, b in zip(bounds, bounds[1:])]


@pytest.mark.parametrize("order", [[], ["ts"], ["ts", "seq"]],
                         ids=["unordered", "ts", "ts_seq"])
def test_read_columns_matches_concat_sort_clean(order):
    rng = random.Random(20260816)
    for trial in range(150):
        rows = [_row(rng, i) for i in range(rng.randrange(13))]
        chunks = [_chunk(part) for part in _split(rng, rows)]
        got = read_columns(iter(chunks), CLEAN, order)
        assert got == _reference(chunks, order), (trial, order, rows)


def test_read_columns_keeps_sorted_group_in_input_order():
    """An already-sorted group (ties, a NULL tail) comes back as it came
    in, whatever the chunking."""
    rng = random.Random(7)
    for trial in range(50):
        rows = sorted((_row(rng, i) for i in range(rng.randrange(1, 13))),
                      key=lambda r: (r["ts"] is None, r["ts"] or T0))
        chunks = [_chunk(part) for part in _split(rng, rows)]
        n, cols = read_columns(iter(chunks), CLEAN, ["ts"])
        assert n == len(rows)
        assert cols["s"] == [r["s"] for r in rows], trial
        assert cols == _reference(chunks, ["ts"])[1]
