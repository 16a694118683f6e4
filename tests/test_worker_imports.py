"""``session.drop_zip_importers``: the helper the stateful streaming
kernels' function calls first, so a Python worker's per-task
``importlib.invalidate_caches()`` finds no zip importers whose archives it
would re-read.  No Spark."""

import importlib
import sys
import zipfile
from zipimport import zipimporter

from streamsql_spark.session import drop_zip_importers


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
