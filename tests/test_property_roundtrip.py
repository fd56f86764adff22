"""Property-based round-trip: random record -> serialize to XML -> extract
through the compiled spec -> must equal the original (SURVEY.md §5, strategy
item 3).  Runs on the local kernel (extract_xml_records), no Spark session —
the same code path every task executes, minus the Arrow hop."""

import decimal
from xml.sax.saxutils import escape, quoteattr

from hypothesis import given, settings, strategies as st

from xmlstreamprocessor_spark.plans import X
from xmlstreamprocessor_spark.sources.xml_batch import extract_xml_records

# text without XML structure of its own; extraction must preserve it exactly
# once escaped on the way in (entity expansion is the parser's job)
_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs", "Cc"), exclude_characters="\r"
    ),
    max_size=60,
)

_record = st.fixed_dictionaries(
    {
        "a": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "i": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
        "s": _text,
        "dec": st.one_of(
            st.none(),
            st.decimals(
                min_value=-10**9, max_value=10**9, allow_nan=False, places=4
            ),
        ),
        "b": st.one_of(st.none(), st.booleans()),
    }
)

_SPEC = X.struct(
    "r",
    {
        "a": X.attr("a"),
        "i": X.nint("i"),
        "s": X.string("s"),
        "dec": X.ndecimal("dec"),
        "b": X.nbool("b"),
    },
)


def _to_xml(rec: dict) -> str:
    parts = [f"<r a={quoteattr(str(rec['a']))}>"]
    if rec["i"] is not None:
        parts.append(f"<i>{rec['i']}</i>")
    parts.append(f"<s>{escape(rec['s'])}</s>")
    if rec["dec"] is not None:
        parts.append(f"<dec>{rec['dec']}</dec>")
    if rec["b"] is not None:
        parts.append(f"<b>{str(rec['b']).lower()}</b>")
    parts.append("</r>")
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(st.lists(_record, max_size=20))
def test_roundtrip_preserves_values(recs):
    docs = [_to_xml(r) for r in recs]
    out = extract_xml_records(docs, _SPEC)
    assert len(out) == len(recs)
    for rec, got in zip(recs, out):
        assert got["a"] == str(rec["a"])  # attributes are raw strings
        assert got["i"] == rec["i"]
        assert got["s"] == rec["s"]
        if rec["dec"] is None:
            assert got["dec"] is None
        else:
            assert got["dec"] == decimal.Decimal(str(rec["dec"]))
        assert got["b"] == rec["b"]


@settings(max_examples=100, deadline=None)
@given(_text)
def test_missing_vs_empty_semantics(s):
    # missing <i> -> None (nint), missing <s> -> None slot -> eval None;
    # empty <s/> -> "" (StringParser empty-string rule, Parser.cs:51-52)
    out = extract_xml_records([f"<r a='1'><s>{escape(s)}</s></r>", "<r a='2'/>"], _SPEC)
    assert out[0]["s"] == s and out[0]["i"] is None
    assert out[1]["s"] is None and out[1]["i"] is None


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-(2**31), 2**31 - 1), max_size=30))
def test_array_roundtrip_preserves_order(vals):
    doc = (
        "<r a='0'><items>"
        + "".join(f"<q>{v}</q>" for v in vals)
        + "</items></r>"
    )
    spec = X.struct("r", {"qs": X.array("items", X.nint("q"))})
    out = extract_xml_records([doc], spec)
    assert out[0]["qs"] == vals  # per-child emit, document order


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["alpha", "beta", "gamma"]),
    st.integers(-(2**31), 2**31 - 1),
)
def test_wildcard_and_tag_capture(kind, v):
    doc = f"<t_{kind}><v>{v}</v></t_{kind}>"
    spec = X.struct("t_*", {"kind": X.tag(), "v": X.nint("v")})
    out = extract_xml_records([doc], spec)
    assert out[0] == {"kind": f"t_{kind}", "v": v}


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["x1", "x2"]),
    st.integers(-(2**30), 2**30 - 1),
)
def test_coalesce_alternative_tags(tag, v):
    # whichever alternative tag is present wins (TestAlternatives,
    # Test1.cs:187-209); the x2 branch applies the *10 projection
    doc = f"<r><{tag}>{v}</{tag}></r>"
    spec = X.struct("r", {"val": X.coalesce(X.nint("x1"), X.nint("x2") * 10)})
    out = extract_xml_records([doc], spec)
    assert out[0]["val"] == (v if tag == "x1" else v * 10)


# ---------------------------------------------------------------------------
# xspxml writer -> reader kernel round-trip (r10): the task-side halves of
# the registered DataSource, driven directly (no Spark session) — random
# typed records must survive serialize -> parse -> Arrow RecordBatches
# value-identically, in one batch and split over several.
# ---------------------------------------------------------------------------

import datetime as _dt


def _xs_schema():
    # built programmatically: StructType.fromDDL needs a live JVM, and this
    # test file is deliberately Spark-free
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("dec", T.DecimalType(18, 2)),
            T.StructField("flag", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )


def _ds_reader(path: str):
    from xmlstreamprocessor_spark.sources.datasource import XmlSourceReader

    return XmlSourceReader(_xs_schema(), {"path": path, "rowTag": "rec"})


# \r deliberately INCLUDED (unlike the hand-rolled _text serializer above):
# the xspxml writer emits it as &#13;, which must survive the parser's
# line-ending normalization and round-trip exactly
_xs_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_categories=("Cs", "Cc"),
        include_characters="\t\n\r",
    ),
    max_size=40,
) | st.just("a\rb\r\nc\nd")

_xs_record = st.fixed_dictionaries(
    {
        "k": st.integers(min_value=-(2**62), max_value=2**62 - 1),
        "s": st.one_of(st.none(), _xs_text),
        "dec": st.one_of(
            st.none(),
            st.decimals(
                min_value=-10**9, max_value=10**9, allow_nan=False, places=2
            ),
        ),
        "flag": st.one_of(st.none(), st.booleans()),
        "ts": st.one_of(
            st.none(),
            st.datetimes(
                min_value=_dt.datetime(1970, 1, 2),
                max_value=_dt.datetime(2100, 1, 1),
            ),
        ),
    }
)

@settings(max_examples=25, deadline=None)
@given(st.lists(_xs_record, min_size=1, max_size=12))
def test_xspxml_kernel_roundtrip_property(tmp_path_factory, batch):
    import os
    from unittest import mock

    from xmlstreamprocessor_spark.sources import xml_batch
    from xmlstreamprocessor_spark.sources.datasource import (
        _FilePartition,
        write_rows_xml,
    )

    base = tmp_path_factory.mktemp("xsprt")
    path = os.path.join(str(base), "part-0.xml")
    names = ["k", "s", "dec", "flag", "ts"]
    write_rows_xml(iter(batch), names, path, "rec", "rows")

    want = [tuple(r[n] for n in names) for r in batch]

    def norm(rows):
        # the reader's Arrow timestamps are UTC instants (to_pylist gives
        # them UTC-aware, whatever the OS zone); normalize to naive UTC
        # wall time for the value compare.  The input datetimes were
        # naive and the writer serialized their wall clock, so equal wall
        # time IS round-trip equality.
        import zoneinfo

        utc = zoneinfo.ZoneInfo("UTC")
        return [
            tuple(
                v.astimezone(utc).replace(tzinfo=None)
                if isinstance(v, _dt.datetime) and v.tzinfo is not None
                else v
                for v in row
            )
            for row in rows
        ]

    def read():
        batches = list(_ds_reader(str(base)).read(_FilePartition(path)))
        rows = norm(
            tuple(d[n] for n in names) for rb in batches for d in rb.to_pylist()
        )
        return rows, [rb.num_rows for rb in batches]

    got, sizes = read()
    assert got == want and sizes == [len(want)]

    # several batches per file: the same rows, split at the batch size
    with mock.patch.object(xml_batch, "MAX_RECORDS_PER_BATCH", 4):
        got, sizes = read()
    assert got == want
    assert sizes == [len(want[i : i + 4]) for i in range(0, len(want), 4)]
