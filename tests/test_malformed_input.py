"""One input contract for every file surface, with no Spark session.

``read_xml``/``stream_xml`` (the ``_file_frames`` partition function) and
the ``xspxml`` source (``XmlSourceReader.read``) read files through the same
core, ``xml_batch._row_batches``.  On one corpus — a good file, a bad record
mid-file, a bad cast, a truncated record, a broken tail after the last
record, a namespaced file and a Latin-1 file — both must keep every well-formed record, before and after a bad
one, and count the same malformed records: one triage row each under
PERMISSIVE, nothing under DROPMALFORMED.  The ``xspxml`` reader's file
listing, its timestamp zone and its spec/schema check are checked here too.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import time

import pandas as pd
import pytest
from pyspark.sql import types as T

from xmlstreamprocessor_spark.plans import X, compile_spec
from xmlstreamprocessor_spark.sources.datasource import (
    XmlSourceReader,
    _FilePartition,
    spec_option,
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
# file name -> (bytes, row tag, spec root, strict namespaces, ids of the
# well-formed records, malformed records): the resync must find record
# starts for any row tag the record loop matches
TAGGED = {
    # a wildcard row tag resyncs at every tag match_pattern accepts
    "wildcard.xml": (
        b"<root><t_a><id>1</id></t_a><t_b><id>2</id</t_b>"
        b"<t_a><id>3</id></t_a><t_c><id>4</id></t_c></root>",
        "t_*",
        "t_*",
        False,
        [1, 3, 4],
        1,
    ),
    # a strict Clark-notation row tag resyncs at its prefixed local name
    "clark_strict.xml": (
        b'<root xmlns:p="urn:x"><p:t><id>1</id></p:t><p:t><id>2</id</p:t>'
        b"<p:t><id>3</id></p:t><p:t><id>4</id></p:t></root>",
        "{urn:x}t",
        "{urn:x}t",
        True,
        [1, 3, 4],
        1,
    ),
    # well-formed records that the spec's root pattern skips are not
    # malformed: one marker, for the one bad record
    "skipped_root.xml": (
        b"<root><t><id>1</id></t><t><id>2</id</t><t><id>3</id></t></root>",
        "t",
        "u",
        False,
        [],
        1,
    ),
}
MODES = ["DROPMALFORMED", "PERMISSIVE"]
SPEC = compile_spec(X.struct("r", {"id": X.nint("id")}))
SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("_corrupt_file", T.StringType())]
)


def _frames_surface(
    name: str, body: bytes, mode: str, row_tag: str = "r", spec=SPEC
) -> tuple[list, int]:
    """(data ids, triage rows) through read_xml's partition function."""
    run = _file_frames(row_tag, spec, 2, mode)  # 2: frames split mid-file
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


def _source_surface(
    path: str, mode: str, row_tag: str = "r", spec=None
) -> tuple[list, int]:
    """(data ids, triage rows) through the xspxml reader: on the schema
    path, or on a compiled ``spec`` with a ``_corrupt_file`` field."""
    options = {"path": path, "rowTag": row_tag, "mode": mode}
    schema = SCHEMA
    if spec is not None:
        options["specPickle"] = spec_option(spec)
        schema = spec.schema
    reader = XmlSourceReader(schema, options)
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


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("name", sorted(TAGGED))
def test_resync_follows_the_row_tag_and_spec_root(tmp_path, name, mode):
    body, row_tag, root, strict, want_ids, bad = TAGGED[name]
    want = (want_ids, bad if mode == "PERMISSIVE" else 0)
    spec = compile_spec(X.struct(root, {"id": X.nint("id")}), strict_ns=strict)
    assert _frames_surface(name, body, mode, row_tag, spec) == want
    with_triage = X.struct(
        root, {"id": X.nint("id"), "_corrupt_file": X.string("_corrupt_file")}
    )
    path = tmp_path / name
    path.write_bytes(body)
    source_spec = compile_spec(with_triage, strict_ns=strict)
    assert _source_surface(str(path), mode, row_tag, source_spec) == want


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


def test_source_lists_files_as_spark_does(tmp_path):
    """A path segment starting with ``.``, or with ``_`` and holding no
    ``=``, is not data, as in Spark's file index: job markers, temporary
    output and side files are not planned; hive ``k=v`` directories are,
    ``_k=v`` ones included."""
    body = CORPUS["good.xml"][0]
    data = ["part-0.xml", "k=1/part-1.xml", "_k=2/part-2.xml"]
    skipped = ["_SUCCESS", "_temporary/0/part-3.xml", ".part-0.xml.crc", "k=1/_SUCCESS"]
    for rel in data + skipped:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"" if "_SUCCESS" in rel else body)
    reader = XmlSourceReader(SCHEMA, {"path": str(tmp_path), "rowTag": "r"})
    planned = [os.path.relpath(p.path, tmp_path) for p in reader.partitions()]
    assert planned == sorted(data)


@pytest.fixture
def new_york_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_source_reads_offsetless_timestamps_as_utc(tmp_path, new_york_tz, mode):
    """Offset-less timestamp text is a UTC instant whatever the process
    zone, on the schema path and the spec path; no option moves it (the
    removed ``sessionTz`` is ignored)."""
    path = tmp_path / "ts.xml"
    path.write_bytes(b"<root><r><ts>1996-01-02T00:00:00</ts></r></root>")
    want = int(dt.datetime(1996, 1, 2, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    spec = compile_spec(X.struct("r", {"ts": X.ndate("ts")}))
    options = {"path": str(path), "rowTag": "r", "mode": mode}
    for extra in ({}, {"specPickle": spec_option(spec)}, {"sessionTz": "Asia/Tokyo"}):
        reader = XmlSourceReader(schema, {**options, **extra})
        [batch] = list(reader.read(_FilePartition(str(path))))
        micros = batch.column("ts").cast("int64").to_pylist()
        assert micros == [want], extra


def _aware_timestamp(elem):
    """The element's ISO text as a datetime, offset-aware when the text
    carries an offset (a custom field may return either)."""
    return dt.datetime.fromisoformat(elem.text)


def test_source_stores_offset_aware_timestamps_as_their_instant(tmp_path):
    """A custom field's offset-aware datetime reads back as the same
    instant (12:00+05:00 is 07:00 UTC), not as its wall time; a naive one
    is UTC as it is."""
    path = tmp_path / "ts.xml"
    path.write_bytes(
        b"<root><r><t>2020-01-01T12:00:00+05:00</t></r>"
        b"<r><t>2020-01-01T12:00:00</t></r></root>"
    )
    spec = compile_spec(
        X.struct("r", {"t": X.custom("t", _aware_timestamp, T.TimestampType())})
    )
    options = {"path": str(path), "rowTag": "r", "specPickle": spec_option(spec)}
    reader = XmlSourceReader(spec.schema, options)
    [batch] = list(reader.read(_FilePartition(str(path))))
    utc = dt.timezone.utc
    want = [int(dt.datetime(2020, 1, 1, h, tzinfo=utc).timestamp()) * 10**6 for h in (7, 12)]
    assert batch.column("t").cast("int64").to_pylist() == want


def test_source_stores_nested_offset_aware_timestamps_as_their_instant(tmp_path):
    """The emitter shifts offset-aware datetimes to UTC inside struct and
    array values too; naive ones and other values pass as they are."""
    from xmlstreamprocessor_spark.sources.datasource import _as_utc

    aware = dt.datetime.fromisoformat("2020-01-01T12:00:00+05:00")
    naive = dt.datetime(2020, 1, 1, 12)
    seven = dt.datetime(2020, 1, 1, 7)
    assert _as_utc(
        {"s": {"t": aware, "n": 1}, "a": [aware, naive, None], "m": [{"u": aware}]}
    ) == {"s": {"t": seven, "n": 1}, "a": [seven, naive, None], "m": [{"u": seven}]}

    path = tmp_path / "ts.xml"
    path.write_bytes(
        b"<root><r><s><t>2020-01-01T12:00:00+05:00</t></s>"
        b"<a><t>2020-01-01T12:00:00+05:00</t><t>2020-01-01T12:00:00</t></a></r></root>"
    )
    ts = X.custom("t", _aware_timestamp, T.TimestampType())
    spec = compile_spec(
        X.struct("r", {"s": X.struct("s", {"t": ts}), "a": X.array("a", ts)})
    )
    options = {"path": str(path), "rowTag": "r", "specPickle": spec_option(spec)}
    [batch] = list(XmlSourceReader(spec.schema, options).read(_FilePartition(str(path))))
    [row] = batch.to_pylist()
    utc = dt.timezone.utc
    assert row == {
        "s": {"t": dt.datetime(2020, 1, 1, 7, tzinfo=utc)},
        "a": [dt.datetime(2020, 1, 1, 7, tzinfo=utc), dt.datetime(2020, 1, 1, 12, tzinfo=utc)],
    }


def test_source_checks_spec_names_at_construction(tmp_path):
    """A ``specPickle`` spec whose names differ from the declared schema's
    (a same-typed reordering included) is refused when the reader is
    built, naming both lists, before any task runs."""
    spec = compile_spec(X.struct("r", {"b": X.nint("b"), "a": X.nint("a")}))
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    options = {"path": str(tmp_path), "rowTag": "r", "specPickle": spec_option(spec)}
    with pytest.raises(ValueError, match=r"\['b', 'a'\].*\['a', 'b'\]"):
        XmlSourceReader(schema, options)
    reordered = T.StructType(schema.fields[::-1])
    assert XmlSourceReader(reordered, options).schema is reordered
