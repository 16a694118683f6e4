"""The engine's Python worker daemon: ``spark.python.daemon.module``.

Spark starts one daemon per executor (``python -m <this module>
pyspark.worker``) and forks a Python worker from it for each task
stream, so whatever the daemon has imported every worker inherits for
free.  Before it enters ``pyspark.daemon.manager()`` the daemon does
three things:

1. **Chooses the pyspark copy.**  Spark puts ``pyspark.zip``, the py4j
   zip and spark-core's jar first on the worker's ``sys.path``.  The zip
   ships no bytecode, so every daemon and worker compiles what it
   imports from source.  When a directory further down ``sys.path``
   holds an installed pyspark of the zip's exact version (read from the
   files, nothing imported), the Spark zips and jars move behind it and
   pyspark imports from its ``__pycache__``; py4j's zip moves too when
   its version also matches.  On any mismatch, or when a version cannot
   be read, ``sys.path`` stays as Spark built it.
2. **Preloads the worker-side modules** (``PRELOAD``): pyspark's worker
   and its Arrow serializers, pandas, pyarrow and the engine modules
   whose kernels the workers unpickle.
3. **Drops the cached zip importers** (``session.drop_zip_importers``),
   so a worker's per-task ``importlib.invalidate_caches()`` has no zip
   archive to re-read, from its first task on.

Nothing here may import pyspark before step 1; ``streamsql_spark``'s own
``__init__`` resolves its exports lazily for that reason.
"""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipfile

# Imported by the daemon before it forks.  Measured per task in the
# forked workers: with only ``pyspark.worker`` preloaded, a worker's first
# task imported ``pandas``, the Arrow-to-pandas conversion
# (``pyarrow.pandas_compat``, ``pyarrow.vendored.version``) and, on a
# stateful kernel's first ``GroupState.update``, ``pyspark.testing.utils``
# (whose probes for optional packages walk the whole ``sys.path`` and
# cache zip importers for Spark's zips again).  The engine modules are
# those the stream, CEP and batch kernels' pickled functions import; the
# catalog's operator modules, which only its own entries import, are
# left to the tasks that need them.
PRELOAD = (
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    "pyspark.testing.utils",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyarrow.vendored.version",
    "streamsql_spark.streaming.stateful",
    "streamsql_spark.cep.executor",
)

_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _zip_version(path: str, pkg: str) -> str | None:
    """``pkg``'s version inside the zip (or jar) at ``path``, from its
    ``<pkg>/version.py``; None when the archive holds no such file."""
    try:
        with zipfile.ZipFile(path) as z:
            text = z.read(f"{pkg}/version.py").decode("utf-8")
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _dir_version(entry: str, pkg: str) -> str | None:
    """Version of the ``pkg`` package installed in the directory
    ``entry``, from its ``version.py`` or else its one dist-info name;
    None when neither tells."""
    try:
        with open(os.path.join(entry, pkg, "version.py"),
                  encoding="utf-8") as f:
            m = _VERSION.search(f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    try:
        names = os.listdir(entry)
    except OSError:
        return None
    found = [n[len(pkg) + 1:-len(".dist-info")] for n in names
             if n.startswith(pkg + "-") and n.endswith(".dist-info")]
    return found[0] if len(found) == 1 else None


def installed_first(path: list[str]) -> list[str]:
    """``path`` with the Spark zips and jars moved behind the directory
    that holds the next pyspark after ``pyspark.zip``, when that copy's
    version is the zip's.  The py4j zip moves with them only when the
    installed py4j's version is its version too.  Otherwise ``path``
    comes back unchanged (the same entries in the same order)."""
    def archive(pkg, entries):
        return next(((e, v) for e in entries if e.endswith(".zip")
                     and os.path.isfile(e)
                     and (v := _zip_version(e, pkg)) is not None),
                    (None, None))

    spark_zip, version = archive("pyspark", path)
    if spark_zip is None:
        return list(path)
    zi = path.index(spark_zip)
    j = next((j for j in range(zi + 1, len(path))
              if os.path.isdir(os.path.join(path[j], "pyspark"))), None)
    if j is None or _dir_version(path[j], "pyspark") != version:
        return list(path)
    site, ahead = path[j], path[:j]
    move = {spark_zip} | {e for e in ahead if e.endswith(".jar")}
    py4j_zip, py4j_version = archive("py4j", ahead)
    if py4j_zip is not None and _dir_version(site, "py4j") == py4j_version:
        move.add(py4j_zip)
    return ([e for e in ahead if e not in move] + [site]
            + [e for e in ahead if e in move] + path[j + 1:])


def main() -> None:
    # every pyspark import (session's too) comes after the path is chosen
    sys.path[:] = installed_first(sys.path)
    for name in PRELOAD:
        importlib.import_module(name)
    from streamsql_spark.session import drop_zip_importers
    drop_zip_importers()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
