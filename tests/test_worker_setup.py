"""The Python worker daemon of a ``get_session`` session
(``xmlstreamprocessor_spark._daemon``) and its guard on
``zipimporter.invalidate_caches``, with no Spark session.

PySpark calls ``importlib.invalidate_caches()`` before every Python task;
unguarded, every cached ``zipimporter`` then re-parses its archive's central
directory.  The guard must skip that for an unchanged archive, still re-read
a changed one and install once.  The daemon installs it before forking
workers, so the module ``get_session`` names must resolve to a fresh
interpreter and must not start a daemon when merely imported.  That every
worker of a ``get_session`` session runs guarded is checked with Spark in
``tests/test_xml_spark.py``."""

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from xmlstreamprocessor_spark._daemon import _worker_setup
from xmlstreamprocessor_spark.session import DAEMON_MODULE


@pytest.fixture
def unguarded():
    """Start from the stdlib method and put back whatever was there."""
    saved = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = getattr(saved, "__wrapped__", saved)
    try:
        yield
    finally:
        zipimport.zipimporter.invalidate_caches = saved


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding one imported module, plus a
    counter of directory reads of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"xsp_guard_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("xsp_guard_a", "xsp_guard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("xsp_guard_a").A == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    sys.path_importer_cache.pop(archive, None)


def test_guard_skips_unchanged_archive(unguarded, zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    assert reads, "the stdlib method re-reads an unchanged archive"
    _worker_setup()
    importlib.invalidate_caches()  # first guarded refresh reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_guard_rereads_changed_archive(unguarded, zip_on_path):
    archive, reads = zip_on_path
    _worker_setup()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("xsp_guard_b")
    _write_zip(archive, {"xsp_guard_a": "A = 1\n", "xsp_guard_b": "B = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("xsp_guard_b").B == 2


def test_guard_installs_once(unguarded):
    original = zipimport.zipimporter.invalidate_caches
    _worker_setup()
    guarded = zipimport.zipimporter.invalidate_caches
    _worker_setup()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__ is original


def test_daemon_module_resolves_and_import_starts_nothing():
    """``get_session``'s daemon module is findable the way ``python -m``
    finds it, and importing it starts no daemon and installs nothing."""
    assert importlib.util.find_spec(DAEMON_MODULE) is not None
    probe = (
        "import sys, zipimport, importlib;"
        f"m = importlib.import_module({DAEMON_MODULE!r});"
        "assert 'pyspark.daemon' not in sys.modules, 'daemon imported';"
        "assert not getattr(zipimport.zipimporter.invalidate_caches,"
        " '_stamp_guarded', False), 'guard installed on import';"
        "print('ok')"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr
