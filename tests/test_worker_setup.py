"""The worker-setup guard on ``zipimporter.invalidate_caches``
(``sources.xml_batch._worker_setup``), with no Spark session.

PySpark calls ``importlib.invalidate_caches()`` before every Python task;
unguarded, every cached ``zipimporter`` then re-parses its archive's central
directory.  The guard must skip that for an unchanged archive, still re-read
a changed one, install once, and be installed by every XML-engine function
that runs in a Python worker.  ``extract_xml``'s partition function is a
closure that only Spark reaches; the Spark-level ``extract_xml`` tests in
``tests/test_xml_spark.py`` run it."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from xmlstreamprocessor_spark.plans import X, compile_spec
from xmlstreamprocessor_spark.sources import xml_batch
from xmlstreamprocessor_spark.sources.datasource import (
    XmlBatchWriter,
    XmlSourceReader,
    XmlStreamWriter,
    _FilePartition,
)
from xmlstreamprocessor_spark.sources.udtf import xml_array_udtf, xml_struct_udtf


def _guarded() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_stamp_guarded", False)


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
    xml_batch._worker_setup()
    importlib.invalidate_caches()  # first guarded refresh reads once
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_guard_rereads_changed_archive(unguarded, zip_on_path):
    archive, reads = zip_on_path
    xml_batch._worker_setup()
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
    xml_batch._worker_setup()
    guarded = zipimport.zipimporter.invalidate_caches
    xml_batch._worker_setup()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.__wrapped__ is original


# every worker entry point installs the guard before its first record

_SPEC = X.struct("rec", {"n": X.nint("n")})
_DOC = b"<docs><rec><n>1</n></rec><rec><n>2</n></rec></docs>"


def test_file_frames_installs_guard(unguarded):
    run = xml_batch._file_frames("rec", compile_spec(_SPEC), 100)
    files = pd.DataFrame({"path": ["a.xml"], "content": [_DOC]})
    [frame] = list(run(iter([files])))
    assert list(frame["n"]) == [1, 2]
    assert _guarded()


@pytest.mark.parametrize("which", ["array", "struct"])
def test_udtf_init_installs_guard(unguarded, which):
    if which == "array":
        fn = xml_array_udtf("docs", X.struct("rec", {"n": X.nint("n")}))
    else:
        fn = xml_struct_udtf(_SPEC)
    inst = fn.func()
    assert _guarded()
    doc = _DOC.decode() if which == "array" else "<rec><n>1</n></rec>"
    assert list(inst.eval(doc))


def test_source_reader_installs_guard(unguarded, tmp_path):
    path = tmp_path / "a.xml"
    path.write_bytes(_DOC)
    reader = XmlSourceReader(
        T.StructType([T.StructField("n", T.IntegerType())]),
        {"path": str(path), "rowTag": "rec"},
    )
    [batch] = list(reader.read(_FilePartition(str(path))))
    assert batch.to_pydict() == {"n": [1, 2]}
    assert _guarded()


@pytest.mark.parametrize("writer", [XmlBatchWriter, XmlStreamWriter])
def test_writers_install_guard(unguarded, tmp_path, writer):
    schema = T.StructType([T.StructField("n", T.IntegerType())])
    options = {"path": str(tmp_path), "rowTag": "rec"}
    if writer is XmlBatchWriter:
        w = writer(schema, options, overwrite=False)
        batches = [pa.RecordBatch.from_pydict({"n": [1, 2]})]
    else:
        from pyspark.sql import Row

        w = writer(schema, options)
        batches = [Row(n=1), Row(n=2)]
    msg = w.write(iter(batches))
    assert _guarded()
    [(staged, _)] = msg.pairs
    assert "<n>2</n>" in open(staged).read()
