"""The Python worker start-up: the engine's worker daemon
(``streamsql_spark.worker_daemon``) and ``session.drop_zip_importers``.

- ``installed_first``: the daemon's choice of pyspark copy, over a fake
  ``pyspark.zip`` and a fake site directory (no Spark);
- ``drop_zip_importers`` keeps zip imports working (no Spark);
- an in-task probe after a stateful stream: every task starts with no
  zip importer cached, and imports the installed pyspark when its
  version is the zip's;
- a ``get_spark`` session in a subprocess outside the repo: the daemon
  imports there, so a plain Python UDF and a batch MATCH_RECOGNIZE run.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
from zipimport import zipimporter

import pytest

from streamsql_spark.session import drop_zip_importers
from streamsql_spark.worker_daemon import installed_first

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_importers():
    return [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimporter)]


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for m in ("zpkg", "zpkg.first", "zpkg.second"):
        monkeypatch.delitem(sys.modules, m, raising=False)

    assert importlib.import_module("zpkg.first").VALUE == 1
    assert _zip_importers(), "the import did not cache a zip importer"
    drop_zip_importers()
    assert _zip_importers() == []
    # a module of the archive not imported yet still imports
    assert importlib.import_module("zpkg.second").VALUE == 2
    # that import cached an importer again; the next drop finds it
    drop_zip_importers()
    assert _zip_importers() == []


# ------------------------------------------------------ installed_first
def _spark_layout(tmp_path, zip_version="4.1.2", py4j_zip="0.10.9.9"):
    """A worker ``sys.path`` as Spark builds it: the cwd, pyspark.zip,
    the py4j zip and spark-core's jar, then the interpreter's entries
    with a site directory last."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pz = lib / "pyspark.zip"
    with zipfile.ZipFile(pz, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if zip_version is not None:
            z.writestr("pyspark/version.py",
                       f"__version__: str = '{zip_version}'\n")
    qz = lib / f"py4j-{py4j_zip}-src.zip"
    with zipfile.ZipFile(qz, "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{py4j_zip}'\n")
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir(parents=True)
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    stdlib = tmp_path / "lib" / "python3"
    stdlib.mkdir(parents=True)
    site = tmp_path / "lib" / "python3" / "site-packages"
    site.mkdir()
    path = [str(tmp_path / "work"), str(pz), str(qz), str(jar),
            str(tmp_path / "lib" / "python3.zip"), str(stdlib), str(site)]
    return path, site


def _install(site, pkg, version=None, dist_info=None):
    (site / pkg).mkdir()
    (site / pkg / "__init__.py").write_text("")
    if version is not None:
        (site / pkg / "version.py").write_text(f'__version__ = "{version}"\n')
    if dist_info is not None:
        (site / f"{pkg}-{dist_info}.dist-info").mkdir()


def test_equal_versions_put_the_installed_copy_first(tmp_path):
    path, site = _spark_layout(tmp_path)
    _install(site, "pyspark", "4.1.2")
    _install(site, "py4j", "0.10.9.9")
    cwd, pz, qz, jar, stdzip, stdlib, _ = path
    assert installed_first(path) == [cwd, stdzip, stdlib, str(site),
                                     pz, qz, jar]


def test_py4j_zip_stays_ahead_unless_its_version_matches(tmp_path):
    path, site = _spark_layout(tmp_path)
    _install(site, "pyspark", "4.1.2")
    _install(site, "py4j", "0.10.9.7")
    cwd, pz, qz, jar, stdzip, stdlib, _ = path
    assert installed_first(path) == [cwd, qz, stdzip, stdlib, str(site),
                                     pz, jar]


def test_dist_info_names_the_installed_version(tmp_path):
    path, site = _spark_layout(tmp_path)
    _install(site, "pyspark", dist_info="4.1.2")
    cwd, pz, qz, jar, stdzip, stdlib, _ = path
    assert installed_first(path) == [cwd, qz, stdzip, stdlib, str(site),
                                     pz, jar]


@pytest.mark.parametrize("case", [
    "other_version", "zip_without_version", "installed_without_version",
    "nothing_installed", "no_spark_zip"])
def test_path_unchanged_unless_the_versions_are_known_equal(tmp_path, case):
    path, site = _spark_layout(
        tmp_path, zip_version=None if case == "zip_without_version"
        else "4.1.2")
    if case == "other_version":
        _install(site, "pyspark", "4.0.1", dist_info="4.0.1")
    elif case in ("zip_without_version", "no_spark_zip"):
        _install(site, "pyspark", "4.1.2")
    elif case == "installed_without_version":
        _install(site, "pyspark")
    _install(site, "py4j", "0.10.9.9")
    if case == "no_spark_zip":
        path = [p for p in path if not p.endswith("pyspark.zip")]
    before = list(path)
    assert installed_first(path) == before
    assert path == before


# ------------------------------------------------------ in-task probe
def test_tasks_start_without_zip_importers(spark):
    """Every task a worker runs after a stateful stream (whose first
    ``GroupState.update`` imports ``pyspark.testing.utils``) finds no
    zip importer in the cache, and runs the installed pyspark when its
    version is ``pyspark.zip``'s."""
    import pyspark
    from streamsql_spark import StreamSQL
    from streamsql_spark.streaming.harness import run_streaming_collect
    from streamsql_spark.worker_daemon import _dir_version, _zip_version
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([StructField("deviceId", StringType()),
                         StructField("temperature", DoubleType()),
                         StructField("ts", LongType())])
    s = StreamSQL(spark).execute("""SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId ORDER BY ts
        MEASURES FIRST(A.ts) AS a_ts, COUNT(B.*) AS nb
        ONE ROW PER MATCH PATTERN (A B+ C)
        DEFINE A AS temperature < 20, B AS temperature >= 20,
               C AS temperature < 10)""")
    batches = [[{"deviceId": f"d{d}", "temperature": t, "ts": 1000 * i + d}
                for d in range(8)] for i, t in enumerate((15.0, 25.0, 5.0))]
    got = run_streaming_collect(spark, s, batches, schema)
    assert sorted((r["a_ts"], r["nb"]) for r in got) == \
        [(d, 1) for d in range(8)]

    def probe(_):
        # defined here so that it pickles by value
        import pyspark
        import pandas as pd
        yield pd.DataFrame({
            "pyspark_file": [pyspark.__file__],
            "zip_importers": [sorted(
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimporter))],
            "pythonpath": [os.environ.get("PYTHONPATH", "")],
        })

    rows = spark.range(0, 16, numPartitions=16).mapInPandas(
        probe, "pyspark_file string, "
        "zip_importers array<string>, pythonpath string").collect()
    assert [r.zip_importers for r in rows] == [[]] * len(rows)

    entries = rows[0].pythonpath.split(os.pathsep)
    spark_zip = next((e for e in entries if e.endswith("pyspark.zip")), None)
    site = os.path.dirname(os.path.dirname(pyspark.__file__))
    if spark_zip is None or _zip_version(spark_zip, "pyspark") \
            != _dir_version(site, "pyspark"):
        pytest.skip("the installed pyspark is not pyspark.zip's version")
    assert all(".zip" not in r.pyspark_file for r in rows), \
        {r.pyspark_file for r in rows}


# --------------------------------------------- a session outside the repo
_OUTSIDE = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from streamsql_spark import StreamSQL, get_spark

    spark = get_spark(shuffle_partitions=2)
    plus = F.udf(lambda x: x + 1, "long")
    print("UDF", sorted(r[0] for r in
                        spark.range(3).select(plus("id")).collect()))
    df = spark.createDataFrame(
        [("a", 10.0, 1), ("a", 25.0, 2), ("a", 26.0, 3), ("a", 5.0, 4),
         ("b", 12.0, 1), ("b", 22.0, 2), ("b", 3.0, 3)],
        "deviceId string, temperature double, ts long")
    q = StreamSQL(spark).execute(\"\"\"SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY deviceId ORDER BY ts
        MEASURES FIRST(A.ts) AS a_ts, COUNT(B.*) AS nb
        ONE ROW PER MATCH PATTERN (A B+ C)
        DEFINE A AS temperature < 20, B AS temperature >= 20,
               C AS temperature < 10)\"\"\")
    print("CEP", sorted((r.deviceId, r.a_ts, r.nb)
                        for r in q.query(df).collect()))
    spark.stop()
""")


def test_get_spark_session_outside_the_repo(tmp_path):
    """A driver whose cwd is not the repo and whose PYTHONPATH does not
    name it: the workers still start from the engine's daemon (a daemon
    that failed to import would fail every Python stage)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    script = tmp_path / "outside.py"
    script.write_text(_OUTSIDE.format(repo=REPO))
    work = tmp_path / "work"
    work.mkdir()
    out = subprocess.run([sys.executable, str(script)], cwd=work, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith(("UDF", "CEP"))]
    assert lines == ["UDF [1, 2, 3]",
                     "CEP [('a', 1, 2), ('b', 1, 1)]"], out.stdout
