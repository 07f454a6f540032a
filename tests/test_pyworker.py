"""forget_zip_finders: a reused Python worker's per-task
``importlib.invalidate_caches()`` re-reads no zip archive after it."""

import importlib
import sys
import zipfile
import zipimport

from cs3103_gocrawler_spark.functions.pyworker import forget_zip_finders


def test_invalidate_caches_reads_no_zip_after_forget(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg_fixture/__init__.py", "")
        z.writestr("zpkg_fixture/a.py", "A = 1\n")
        z.writestr("zpkg_fixture/b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zpkg_fixture", "zpkg_fixture.a", "zpkg_fixture.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zpkg_fixture.a")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    forget_zip_finders()
    importlib.invalidate_caches()
    assert reads == []
    # the archive's cached index serves the next import: still no re-read
    assert importlib.import_module("zpkg_fixture.b").B == 2
    assert reads == []
