"""Differential test: the generated kernels against the reference
interpreter (tests/xml_reference.py), on random specs and documents.

Specs cover every node kind — attributes, Tag(), the six typed scalars,
custom parsers, nested structs, arrays of scalars and of structs, the
wildcards "*" and "pre*post", coalesce, concat and arithmetic — in both
namespace modes.  Documents mix repeated tags, unknown subtrees, namespaced
elements and attributes, mixed content and unparseable values.  Each case
must give identical rows, or raise the same error type with the same
message.  No SparkSession: this runs in the fast pre-commit subset.
"""

from __future__ import annotations

import decimal
import io
import xml.etree.ElementTree as ET

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from xml_reference import extract, extract_array
from xmlstreamprocessor_spark.plans.spec import (
    BinOp,
    Coalesce,
    Concat,
    X,
    compile_array_spec,
    compile_spec,
    match_pattern,
)
from xmlstreamprocessor_spark.sources.xml_batch import iterparse_records

NS = "{urn:x}"
TAGS = ["a", "b", "pax", "zz", f"{NS}a", f"{NS}b", "{urn:y}b"]
PATTERNS = ["a", "b", "*", "p*x", f"{NS}a", f"{NS}*"]
ATTRS = ["id", "k", f"{NS}id"]
TEXTS = [
    None, "", "  ", "1", " 42 ", "-7", "1_000", "x", "1.50", "NaN", "1e3",
    "true", "FALSE", "0", "2024-01-02", "2024-01-02T03:04:05", "01/02/2024",
    "2024-13-45", "١٢",
]


def _custom(e):
    return f"{(e.text or '').strip()[:4]}|{len(e)}"


def _leaf(pattern: str, kind: str):
    if kind == "custom":
        return X.custom(pattern, _custom, T.StringType())
    return getattr(X, kind)(pattern)


LEAF_KINDS = ["int_", "nint", "nbool", "ndecimal", "ndate", "string", "custom"]
NUMERIC_KINDS = ["int_", "nint", "ndecimal"]

leaves = st.builds(_leaf, st.sampled_from(PATTERNS), st.sampled_from(LEAF_KINDS))
numeric = st.builds(_leaf, st.sampled_from(PATTERNS), st.sampled_from(NUMERIC_KINDS))
scope_only = st.one_of(
    st.builds(X.attr, st.sampled_from(ATTRS)),
    st.builds(X.tag),
    st.builds(X.lit, st.sampled_from([1, "s", None, decimal.Decimal("2.5")])),
)


def _exprs(base):
    return st.one_of(
        base,
        st.builds(lambda *a: Coalesce(*a), base, base),
        st.builds(lambda *a: Concat(*a), base, base),
        st.builds(
            BinOp,
            st.sampled_from(["+", "-", "*"]),
            st.one_of(numeric, st.builds(X.lit, st.sampled_from([2, None]))),
            numeric,
        ),
    )


def _structs(fields, patterns=PATTERNS):
    return st.builds(
        X.struct,
        st.sampled_from(patterns),
        st.dictionaries(st.sampled_from(["f", "g", "h", "j"]), fields, max_size=4),
    )


flat_fields = _exprs(st.one_of(leaves, scope_only))
inner_struct = _structs(flat_fields)
array_inners = st.one_of(leaves, inner_struct, st.builds(lambda *a: Coalesce(*a), leaves, leaves))
arrays = st.builds(X.array, st.sampled_from(PATTERNS), array_inners)
fields = st.one_of(flat_fields, inner_struct, arrays)
# roots mostly match the document root, so most cases reach the fields
ROOT_TAGS = ["a", "a", f"{NS}a"]
ROOT_PATTERNS = ["*", "a", "a", "a*", f"{NS}a"]
root_specs = _structs(fields, ROOT_PATTERNS)


@st.composite
def elements(draw, depth: int = 0, tags=TAGS):
    e = ET.Element(draw(st.sampled_from(tags)))
    for name in draw(st.lists(st.sampled_from(ATTRS), max_size=2, unique=True)):
        e.set(name, draw(st.sampled_from(TEXTS[1:])))
    e.text = draw(st.sampled_from(TEXTS))
    if depth < 3:
        kids = st.lists(elements(depth + 1), min_size=depth == 0, max_size=5 - depth)
        for child in draw(kids):
            child.tail = draw(st.sampled_from([None, None, "tail"]))
            e.append(child)
    return e


def _outcome(fn):
    try:
        return ("ok", repr(fn()))  # repr: Decimal NaN never equals itself
    except Exception as e:  # noqa: BLE001 — the error itself is compared
        return ("error", type(e).__name__, str(e))


COMMON = settings(
    max_examples=250,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@COMMON
@given(root_specs, elements(tags=ROOT_TAGS), st.booleans())
def test_struct_kernel_matches_interpreter(spec, doc, strict):
    compiled = compile_spec(spec, strict_ns=strict)
    want = _outcome(lambda: extract(spec, doc, strict))
    assert _outcome(lambda: compiled.extract_element(doc)) == want
    # the tuple kernel the Spark surfaces run holds the same values
    row = _outcome(lambda: compiled.extract_row(doc))
    if want[0] == "ok":
        rec = extract(spec, doc, strict)
        assert row == ("ok", repr(None if rec is None else tuple(rec.values())))
    else:
        assert row == want


@COMMON
@given(
    st.sampled_from(ROOT_PATTERNS),
    array_inners,
    elements(tags=ROOT_TAGS),
    st.booleans(),
)
def test_array_kernel_matches_interpreter(pattern, inner, doc, strict):
    compiled = compile_array_spec(pattern, inner, strict_ns=strict)
    want = _outcome(lambda: extract_array(compiled.arr, doc, strict))
    assert _outcome(lambda: compiled.extract_element(doc)) == want


def _reference_records(data: bytes, row_tag: str, spec, strict: bool) -> list:
    """The record loop as the interpreter drove it: start and end events,
    row tag matched on the (local) name, clear() after every row element."""
    out = []
    for event, elem in ET.iterparse(io.BytesIO(data), events=("start", "end")):
        if event == "start":
            continue
        name = elem.tag if strict else elem.tag.rsplit("}", 1)[-1]
        if match_pattern(row_tag, name):
            rec = extract(spec, elem, strict)
            if rec is not None:
                out.append(rec)
            elem.clear()
    return out


@COMMON
@given(
    root_specs,
    st.lists(elements(tags=ROOT_TAGS), min_size=1, max_size=3),
    st.sampled_from(["a", "b", "*", "p*x", f"{NS}a", "nope"]),
    st.booleans(),
)
def test_record_loop_matches_interpreter(spec, docs, row_tag, strict):
    root = ET.Element("root")
    root.extend(docs)
    data = ET.tostring(root)
    compiled = compile_spec(spec, strict_ns=strict)
    want = _outcome(lambda: _reference_records(data, row_tag, spec, strict))
    got = _outcome(
        lambda: list(iterparse_records(io.BytesIO(data), row_tag, compiled))
    )
    assert got == want


def test_generated_source_is_inspectable_and_pickle_regenerates():
    """The kernel is plain generated Python; a pickled spec carries no
    code and rebuilds an equivalent kernel on first use."""
    import pickle

    spec = X.struct("r", {"v": X.nint("v"), "w": X.string("p*x")})
    compiled = compile_spec(spec)
    assert "def " in compiled.source()
    doc = ET.fromstring("<r><pax>w</pax><v> 3 </v><v>4</v></r>")
    assert compiled.extract_row(doc) == (3, "w")
    clone = pickle.loads(pickle.dumps(compiled))
    assert clone._kernel is None
    assert clone.extract_row(doc) == (3, "w")
