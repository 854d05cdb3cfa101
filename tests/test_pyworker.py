"""The stat-guarded zipimporter cache invalidation (marker_spark._pyworker).

On Python < 3.12 every ``importlib.invalidate_caches()`` re-parses each
zip archive's central directory once per zipimporter; a PySpark worker
pays that at the start of every task for ``pyspark.zip``.  The guard
re-reads an archive only when its size or mtime changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import marker_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ repopulates zipimport caches lazily"
)


def test_unchanged_archive_is_read_once_and_changes_are_seen(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/sub/__init__.py", "")
    monkeypatch.syspath_prepend(archive)
    for name in ("pkg", "pkg.sub", "pkg.c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        importlib.import_module("pkg.sub")
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
        ]
        assert len(importers) >= 2
        reads = [0]
        original = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads[0] += 1
            return original(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)

        for _ in range(5):
            importlib.invalidate_caches()
        assert reads[0] <= 1

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("pkg/c.py", "VALUE = 7\n")
        reads[0] = 0
        importlib.invalidate_caches()
        assert reads[0] == 1
        assert importlib.import_module("pkg.c").VALUE == 7

        (tmp_path / "pkgs.zip").unlink()
        importlib.invalidate_caches()
        assert all(imp._files == {} for imp in importers)
    finally:
        for name in ("pkg", "pkg.sub", "pkg.c"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_reused_worker_does_not_reparse_archives(spark):
    """Inside a Python task, once marker_spark is imported, a repeated
    ``importlib.invalidate_caches()`` re-reads no archive (unguarded,
    one read per pyspark.zip sub-package importer)."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import marker_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = [0]
        original = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        importers = sum(
            isinstance(imp, zipimport.zipimporter) for imp in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict({"importers": [importers], "reads": [reads[0]]})

    row = (
        spark.range(4, numPartitions=1)
        .mapInArrow(probe, "importers long, reads long")
        .collect()[0]
    )
    if row.importers == 0:
        pytest.skip("Python workers import nothing from a zip archive")
    assert row.reads == 0
