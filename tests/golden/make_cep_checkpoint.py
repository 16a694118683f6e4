"""Write the golden streaming MATCH_RECOGNIZE checkpoint.

    PYTHONPATH=<checkout of the writing revision> \
        python3 tests/golden/make_cep_checkpoint.py <out_dir>

Runs the CEP statement below as a file-source stream over the first two
input files (one micro-batch each, AvailableNow, default HDFS-backed state
store, 2 state partitions) and leaves in ``out_dir``:

- ``query.sql``: the statement;
- ``input/``: the consumed input files;
- ``next/``: one more input file, for the resuming test to feed;
- ``checkpoint/``: the query's checkpoint after the two batches (``.crc``
  files dropped: the resuming test rewrites the source log's paths);
- ``delivered.json``: the rows the writing revision delivered.

The input leaves, at the end of the second batch, a complete ``A B+ C``
match on the last buffered row of ``d1`` and ``d2`` and an open partial on
``d3``; ``d1`` also delivered one match before it.
``tests/test_golden_checkpoint.py`` resumes the checkpoint with the current
code.  ``write_golden`` is shared with ``make_analytic_checkpoint.py``.
"""

import glob
import json
import os
import shutil
import sys
import tempfile

SQL = """SELECT * FROM stream MATCH_RECOGNIZE (
    PARTITION BY deviceId
    ORDER BY ts
    MEASURES MATCH_NUMBER() AS mn, FIRST(A.ts) AS a_ts, LAST(C.ts) AS c_ts,
             COUNT(*) AS n
    ONE ROW PER MATCH
    PATTERN (A B+ C)
    DEFINE A AS temperature > 30,
           B AS temperature > 10 AND temperature <= 30,
           C AS temperature <= 10
)"""


def _row(dev, temp, ts):
    return {"deviceId": dev, "temperature": temp, "humidity": 0.0,
            "ts": ts, "status": "ok"}


BATCHES = [
    [_row("d1", 35.0, 1000), _row("d1", 20.0, 2000), _row("d1", 5.0, 3000),
     _row("d2", 40.0, 1500), _row("d2", 15.0, 2500)],
    [_row("d1", None, 4000), _row("d1", 33.0, 5000), _row("d1", 22.0, 6000),
     _row("d1", 8.0, 7000), _row("d2", 25.0, 3500), _row("d2", 3.0, 4500),
     _row("d3", 31.0, 5500), _row("d3", 12.0, 6500)],
]
NEXT = [_row("d1", None, 8000), _row("d2", 36.0, 8500),
        _row("d3", 14.0, 7500), _row("d3", 2.0, 9000)]


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def write_golden(out_dir: str, app: str, sql: str, batches, next_rows) -> None:
    """Run ``sql`` as a file-source stream over ``batches`` (one file and
    one micro-batch each) and write the golden layout described in the
    module docstring to ``out_dir``."""
    import streamsql_spark as ss
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    from streamsql_spark.session import get_spark
    from streamsql_spark.streaming.executor import StreamingExecutor

    print("writing with", ss.__file__)
    spark = get_spark(app, shuffle_partitions=2, rocksdb_state=False)
    spark.sparkContext.setLogLevel("ERROR")
    schema = StructType([StructField("deviceId", StringType()),
                         StructField("temperature", DoubleType()),
                         StructField("humidity", DoubleType()),
                         StructField("ts", LongType()),
                         StructField("status", StringType())])
    work = tempfile.mkdtemp(prefix=app.replace("-", "_") + "_")
    try:
        input_dir = os.path.join(work, "input")
        os.makedirs(input_dir)
        for i, rows in enumerate(batches):
            path = os.path.join(input_dir, f"batch-{i:05d}.json")
            _write(path, rows)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        s = ss.StreamSQL(spark)
        s.execute(sql)
        got: list = []
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(input_dir))
        q = StreamingExecutor(spark, {}).start(
            s.plan, stream, sink=got.extend,
            checkpoint=os.path.join(work, "checkpoint"))
        q.awaitTermination(240)
        assert not q.isActive and q.exception() is None, q.exception()

        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.copytree(work, out_dir)
        for crc in glob.glob(os.path.join(out_dir, "**", ".*.crc"),
                             recursive=True):
            os.remove(crc)
        os.makedirs(os.path.join(out_dir, "next"))
        _write(os.path.join(out_dir, "next",
                            f"batch-{len(batches):05d}.json"), next_rows)
        with open(os.path.join(out_dir, "query.sql"), "w") as f:
            f.write(sql + "\n")
        with open(os.path.join(out_dir, "delivered.json"), "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
        print("delivered", got)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    write_golden(sys.argv[1], "golden-cep-checkpoint", SQL, BATCHES, NEXT)
