"""The stat-checked zipimport invalidation (docling_gfcr_spark.zipcache). No JVM."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import docling_gfcr_spark  # noqa: F401  (installs the check)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ zipimport invalidates lazily; the check is not installed",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_probe_a": 1})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("zipcache_probe_a").VALUE == 1
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()  # the importer was made after install: may read once
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"zipcache_probe_a": 1, "zipcache_probe_b": 2})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zipcache_probe_b").VALUE == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zipcache_probe_a", "zipcache_probe_b"):
            sys.modules.pop(name, None)
