"""One malformed-input contract for every file surface, with no Spark
session.

``read_xml``/``stream_xml`` (the ``_file_frames`` partition function) and
the ``xspxml`` source (``XmlSourceReader.read``) read files through the same
loop, ``xml_batch._file_rows``.  On one corpus — a good file, a bad record
mid-file, a bad cast, a truncated record, a broken tail after the last
record, a namespaced file and a Latin-1 file — both must keep every well-formed record, before and after a bad
one, and count the same malformed records: one triage row each under
PERMISSIVE, nothing under DROPMALFORMED.  The ``xspxml`` stream reader's
planning is checked here too: each micro-batch gets exactly the new files.
"""

from __future__ import annotations

import io

import pandas as pd
import pytest
from pyspark.sql import types as T

from xmlstreamprocessor_spark.plans import X, compile_spec
from xmlstreamprocessor_spark.sources.datasource import (
    XmlSourceReader,
    XmlStreamReader,
    _FilePartition,
)
from xmlstreamprocessor_spark.sources.xml_batch import (
    _file_frames,
    _file_rows,
    _iter_rows,
)

# file name -> (bytes, ids of the well-formed records, malformed records)
CORPUS = {
    "good.xml": (b"<root><r><id>1</id></r><r><id>2</id></r></root>", [1, 2], 0),
    "bad_mid.xml": (
        b"<root><r><id>1</id></r><r><id>2</id</r>"
        b"<r><id>3</id></r><r><id>4</id></r></root>",
        [1, 3, 4],
        1,
    ),
    "bad_cast.xml": (
        b"<root><r><id>1</id></r><r><id>x</id></r><r><id>3</id></r></root>",
        [1, 3],
        1,
    ),
    "truncated.xml": (b"<root><r><id>5</id></r><r><id>6</id></r><r><id>7</", [5, 6], 1),
    # the error lies after the last record: no record slice fails, yet
    # the file is malformed and is counted once
    "broken_tail.xml": (b"<root><r><id>1</id></r><r><id>2</id></r></ro", [1, 2], 1),
    # every slice needs the root's binding of p:, or all of them fail
    "ns.xml": (
        b'<root xmlns:p="urn:x"><p:r><id>1</id></p:r><p:r><id>2</id</p:r>'
        b"<p:r><id>3</id></p:r><p:r><id>4</id></p:r></root>",
        [1, 3, 4],
        1,
    ),
    # every slice needs the declared encoding, or the 0xE9 byte fails it
    "latin1.xml": (
        b'<?xml version="1.0" encoding="ISO-8859-1"?><root>'
        b"<r><id>1</id><s>\xe9</s></r><r><id>2</id</r>"
        b"<r><id>3</id><s>\xe9</s></r></root>",
        [1, 3],
        1,
    ),
}
MODES = ["DROPMALFORMED", "PERMISSIVE"]
SPEC = compile_spec(X.struct("r", {"id": X.nint("id")}))
SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("_corrupt_file", T.StringType())]
)


def _frames_surface(name: str, body: bytes, mode: str) -> tuple[list, int]:
    """(data ids, triage rows) through read_xml's partition function."""
    run = _file_frames("r", SPEC, 2, mode)  # 2: frames split mid-file
    files = pd.DataFrame({"path": [name], "content": [body]})
    ids, triage = [], 0
    for frame in run(iter([files])):
        for r in frame.to_dict("records"):
            if r.get("_corrupt_file") is not None:
                assert r["_corrupt_file"] == name and pd.isna(r["id"])
                triage += 1
            else:
                ids.append(int(r["id"]))
    return ids, triage


def _source_surface(path: str, mode: str) -> tuple[list, int]:
    """(data ids, triage rows) through the xspxml reader."""
    reader = XmlSourceReader(SCHEMA, {"path": path, "rowTag": "r", "mode": mode})
    ids, triage = [], 0
    for batch in reader.read(_FilePartition(path)):
        for d in batch.to_pylist():
            if d["_corrupt_file"] is not None:
                assert d["_corrupt_file"] == path and d["id"] is None
                triage += 1
            else:
                ids.append(d["id"])
    return ids, triage


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("name", sorted(CORPUS))
def test_file_surfaces_agree_on_malformed_input(tmp_path, name, mode):
    body, want_ids, bad = CORPUS[name]
    path = tmp_path / name
    path.write_bytes(body)
    want = (want_ids, bad if mode == "PERMISSIVE" else 0)
    assert _frames_surface(name, body, mode) == want
    assert _source_surface(str(path), mode) == want


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_failfast_is_the_plain_record_loop(tmp_path, name):
    """FAILFAST gets ``_iter_rows`` itself, with no wrapper generator, and
    every malformed file raises on both surfaces."""
    body, _, bad = CORPUS[name]
    it = _file_rows(io.BytesIO(body), "r", SPEC, "FAILFAST")
    assert it.gi_code is _iter_rows.__code__
    path = tmp_path / name
    path.write_bytes(body)
    if bad:
        with pytest.raises(Exception):
            _frames_surface(name, body, "FAILFAST")
        with pytest.raises(Exception):
            _source_surface(str(path), "FAILFAST")
    else:
        assert _frames_surface(name, body, "FAILFAST") == _source_surface(
            str(path), "FAILFAST"
        ) == ([1, 2], 0)


def test_stream_reader_plans_only_new_files(tmp_path):
    """Each micro-batch's partitions are exactly the files listed since
    the previous offset, one partition per file; a batch with no new file
    plans none."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.xml").write_bytes(CORPUS["good.xml"][0])
    reader = XmlStreamReader(SCHEMA, {"path": str(src), "rowTag": "r"})
    start = reader.initialOffset()
    first = reader.latestOffset()
    assert [p.path for p in reader.partitions(start, first)] == [str(src / "a.xml")]
    (src / "b.xml").write_bytes(CORPUS["bad_mid.xml"][0])
    (src / "c.xml").write_bytes(CORPUS["good.xml"][0])
    second = reader.latestOffset()
    parts = reader.partitions(first, second)
    assert [p.path for p in parts] == [str(src / "b.xml"), str(src / "c.xml")]
    assert reader.partitions(second, reader.latestOffset()) == []
    # the partitions are read like a batch scan's
    [batch] = list(reader.read(parts[1]))
    assert batch.to_pydict()["id"] == [1, 2]


def test_source_triages_failing_attribute_coercion(tmp_path):
    """On the schema path an attribute fallback is coerced to the declared
    type after the parse; a value that does not coerce makes its record
    malformed, under the same policy as a parse error."""
    path = tmp_path / "attrs.xml"
    path.write_bytes(b'<root><r id="1"/><r id="x"/><r id="3"/></root>')
    assert _source_surface(str(path), "DROPMALFORMED") == ([1, 3], 0)
    assert _source_surface(str(path), "PERMISSIVE") == ([1, 3], 1)
    with pytest.raises(ValueError):
        _source_surface(str(path), "FAILFAST")
