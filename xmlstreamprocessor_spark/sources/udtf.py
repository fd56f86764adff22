"""XML array extraction as a Spark SQL table function (Python UDTF).

The reference's second entry point, ``ParserTool.CreateArrayParser<T>``
(Parser.cs:341-345): the root element is a container and every matching
child emits one typed output record, in document order.  Spark 4's Python
UDTFs are the idiomatic SQL face for exactly that shape — a document goes
in, rows come out, and ``LATERAL`` correlation keeps the outer row's
columns alongside the emitted records:

    register_xml_array_udtf(spark, "xml_items", "items", X.ndecimal("q"))
    spark.sql(\"\"\"
        SELECT d.order_id, s.value
        FROM docs d, LATERAL xml_items(d.doc) s
    \"\"\")

Scale posture: a UDTF evaluates per input row inside the task that owns the
row — no shuffle is introduced, parallelism is the scan's partitioning
(same contract as the mapInPandas kernel in ``sources.xml_batch``).  The
spec compiles once per executor at deserialization; per-row work is the
compiled kernel's slot fills.  Prefer ``extract_xml`` (Arrow-batched) for
bulk pipelines; the UDTF is the SQL-surface adapter, per-row by API design.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import types as T
from pyspark.sql.functions import udtf

from xmlstreamprocessor_spark.plans.spec import (
    CompiledArraySpec,
    CompiledSpec,
    Spec,
    Struct,
    compile_array_spec,
    compile_spec,
)


def _row_schema(inner: Spec) -> tuple[T.StructType, list[str] | None]:
    """Output schema of the table function: a Struct inner contributes its
    fields as columns; a scalar inner becomes one ``value`` column."""
    dt = inner.dtype()
    if isinstance(dt, T.StructType):
        return dt, [f.name for f in dt.fields]
    return T.StructType([T.StructField("value", dt, True)]), None


def xml_array_udtf(
    container_pattern: str,
    inner: Spec,
    strict_ns: bool = False,
    on_error: str = "fail",
    use_arrow: bool = False,
):
    """Build (but do not register) the UDTF class for one array spec.
    Returns the callable UDTF; use :func:`register_xml_array_udtf` to make
    it visible to SQL.

    ``on_error``: ``"fail"`` (default) propagates malformed-document /
    typed-cast errors and fails the job — the reference's FAILFAST
    contract (wrapped ApplicationException, Parser.cs:146-149);
    ``"skip"`` emits no rows for a document whose parse raises — the
    table-function analogue of DROPMALFORMED (``extract_xml`` keeps the
    richer PERMISSIVE triage mode; a UDTF has no corrupt-record column
    to fill, so skip is the honest lossy option).

    ``use_arrow`` selects Spark 4's Arrow-optimized UDTF evaluation
    (batched transfer; same values, same error contract — pinned by
    tests/test_xml_spark.py::test_udtf_arrow_parity).  Default OFF: the
    r9 A/B measured Arrow eval 5-12x SLOWER for these struct-row UDTFs
    (xml_udtf_orders_struct 30.3s arrow vs 5.6s pickled at sf0.1; 41.5s
    vs 3.4s at sf1 — per-row yield of small tuples defeats the batched
    transfer, each arrow batch is built from Python objects anyway).
    The flag stays for workloads that emit wide batches per input row."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"unknown on_error mode {on_error!r}")
    compiled: CompiledArraySpec = compile_array_spec(
        container_pattern, inner, strict_ns=strict_ns
    )
    schema, field_names = _row_schema(inner)
    skip = on_error == "skip"

    class XmlArrayUdtf:
        def eval(self, xml: str):  # noqa: D102 — UDTF contract
            if xml is None:
                return
            try:
                out = compiled.extract_string(xml)
            except Exception:
                if skip:
                    return
                raise
            if out is None:  # root element does not match the container
                return
            if field_names is None:
                for v in out:
                    yield (v,)
            else:
                for rec in out:
                    yield tuple(rec.get(n) for n in field_names)

    return udtf(XmlArrayUdtf, returnType=schema, useArrow=use_arrow)


def xml_struct_udtf(
    root: Struct,
    strict_ns: bool = False,
    on_error: str = "fail",
    use_arrow: bool = False,
):
    """The ``ParserTool.CreateParser<T>`` twin (Parser.cs:335-339) as a SQL
    table function: ONE typed record per document, its struct fields spread
    as output columns.  Completes the SQL surface next to
    :func:`xml_array_udtf` so both reference entry points have a LATERAL
    face.  A non-matching root (wildcard miss) or a skipped malformed
    document emits zero rows — table-function semantics make "no record"
    representable without a null-struck row.

    ``on_error`` follows the array UDTF: ``"fail"`` is the reference's
    FAILFAST contract, ``"skip"`` drops the document's record;
    ``use_arrow`` as in :func:`xml_array_udtf`."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"unknown on_error mode {on_error!r}")
    compiled: CompiledSpec = compile_spec(root, strict_ns=strict_ns)
    schema = compiled.schema
    skip = on_error == "skip"

    class XmlStructUdtf:
        def eval(self, xml: str):  # noqa: D102 — UDTF contract
            if xml is None:
                return
            try:
                row = compiled.extract_row(ET.fromstring(xml))
            except Exception:
                if skip:
                    return
                raise
            if row is None:  # root element does not match the pattern
                return
            yield row

    return udtf(XmlStructUdtf, returnType=schema, useArrow=use_arrow)


def register_xml_struct_udtf(
    spark,
    name: str,
    root: Struct,
    strict_ns: bool = False,
    on_error: str = "fail",
    use_arrow: bool = False,
):
    """Register the struct-extraction table function under ``name`` for SQL
    use (``FROM t, LATERAL name(t.doc)``)."""
    fn = xml_struct_udtf(
        root, strict_ns=strict_ns, on_error=on_error, use_arrow=use_arrow
    )
    spark.udtf.register(name, fn)
    return fn


def register_xml_array_udtf(
    spark,
    name: str,
    container_pattern: str,
    inner: Spec,
    strict_ns: bool = False,
    on_error: str = "fail",
    use_arrow: bool = False,
):
    """Register the array-extraction table function under ``name`` for SQL
    use (``FROM t, LATERAL name(t.doc)``).  Returns the UDTF so Python
    callers can also invoke it directly."""
    fn = xml_array_udtf(
        container_pattern,
        inner,
        strict_ns=strict_ns,
        on_error=on_error,
        use_arrow=use_arrow,
    )
    spark.udtf.register(name, fn)
    return fn
