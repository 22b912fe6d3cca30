"""The worker daemon's zip-directory invalidation, differential against
the stock ``zipimport.zipimporter.invalidate_caches`` on a temporary
archive.  No Spark starts."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from dart_xbrl_crawler_spark import daemon

IMPLS = {"stock": daemon._stock, "engine": daemon.invalidate_caches}


def _add(archive: str, name: str) -> None:
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _import(name: str) -> str:
    try:
        return importlib.import_module(name).NAME
    except ImportError as e:
        return type(e).__name__


def _scenario(tmp, tag: str) -> tuple[list, bool]:
    """→ (what each step imports, whether a second invalidate of an
    unchanged archive kept its importer's directory object)."""
    a, c = os.path.join(tmp, "a.zip"), os.path.join(tmp, "c.zip")
    _add(a, f"{tag}_a")
    sys.path.insert(0, a)
    out = [_import(f"{tag}_a")]
    importer = sys.path_importer_cache[a]
    # the daemon stamps its archives once before it forks a worker
    importlib.invalidate_caches()
    files = importer._files
    importlib.invalidate_caches()
    kept = importer._files is files
    # a member added to a cached archive
    _add(a, f"{tag}_b")
    _add(a, f"{tag}_e")
    importlib.invalidate_caches()
    out.append(_import(f"{tag}_b"))
    # a new archive on the path
    _add(c, f"{tag}_c")
    sys.path.insert(0, c)
    importlib.invalidate_caches()
    out.append(_import(f"{tag}_c"))
    # a deleted archive: a member listed before the delete, not imported
    os.remove(a)
    importlib.invalidate_caches()
    out += [_import(f"{tag}_e"), importer._files]
    return [str(x).replace(tag, "<tag>") for x in out], kept


@pytest.fixture
def run(tmp_path, monkeypatch):
    """``run(impl)`` → ``_scenario`` with ``impl`` installed, every trace
    of it taken off the import system afterwards."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "modules", dict(sys.modules))
    monkeypatch.setattr(daemon, "_stamps", {})

    def go(impl: str):
        d = tmp_path / impl
        d.mkdir()
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", IMPLS[impl])
        try:
            return _scenario(str(d), impl)
        finally:
            for k in [k for k in zipimport._zip_directory_cache if k.startswith(str(d))]:
                del zipimport._zip_directory_cache[k]

    return go


def test_engine_invalidate_matches_stock_and_skips_unchanged(run):
    stock, stock_kept = run("stock")
    engine, engine_kept = run("engine")
    assert stock == [
        "<tag>_a", "<tag>_b", "<tag>_c", "ModuleNotFoundError", "{}"
    ]
    assert engine == stock
    # stock re-reads an unchanged archive on every invalidate; the
    # engine's keeps the directory it read
    assert not stock_kept and engine_kept
