"""The worker daemon's zip-directory guard (``pyworker.guarded``), without
Spark: unchanged archives are never re-read, a rewritten one is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from odc_product_docker_images_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip holding one module on ``sys.path``, with the guard installed
    for this test only."""
    path = tmp_path / "mods.zip"
    names = ("pyworker_probe_a", "pyworker_probe_b")
    _write_zip(path, names[:1])
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker.guarded(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(str(path))
    yield path, names
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ re-reads zips lazily; no guard")
def test_unchanged_zip_is_not_reread(guarded_zip, monkeypatch):
    path, (a, b) = guarded_zip
    assert importlib.import_module(a).NAME == a
    importlib.invalidate_caches()  # records the stamp of every importer

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(path, (a, b))
    importlib.invalidate_caches()
    assert reads == [str(path)]
    assert importlib.import_module(b).NAME == b
