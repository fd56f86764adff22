"""XML extraction as graded, oracle-verified queries.

These exercise the reference's actual operator surface (SURVEY.md §2A:
struct projection #2, array per-child emit #3, typed scalar casts #4,
attribute extraction #5, tag-name capture #6, wildcard match #7) end-to-end
on the driver's tables: each query *builds* XML from a source table with
JVM-side concat, *extracts* it back through the compiled spec DSL
(Arrow-batched mapInPandas — the engine's only Python hop), and returns
values that must equal a direct SQL projection of the source table.  The
oracle never sees XML, so any extraction defect (casting, null rules,
wildcard resolution, ordering) breaks the hash match.

Scale: the XML build+extract is embarrassingly parallel (no shuffle until
the final aggregate); throughput is the Arrow batch pipe, as measured at
sf0.1.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xmlstreamprocessor_spark.operators.registry import dec2, money2, query, t
from xmlstreamprocessor_spark.plans import X
from xmlstreamprocessor_spark.sources.udtf import (
    register_xml_array_udtf,
    register_xml_struct_udtf,
)
from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm


@query(
    "xml_roundtrip_orders_struct",
    oracle="""
    SELECT o_orderkey AS order_id, o_orderstatus AS status,
           o_orderpriority AS prio,
           round(CAST(o_totalprice AS DOUBLE), 2) AS total,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
    FROM orders
    """,
)
def xml_roundtrip_orders_struct(spark, sf_dir):
    """Struct extraction with attributes + typed scalars (ops #2/#4/#5):
    orders -> one XML document per row -> extract -> original values."""
    o = t(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('<order id="'), F.col("o_orderkey").cast("string"),
        F.lit('" status="'), F.col("o_orderstatus"),
        F.lit('"><prio>'), F.col("o_orderpriority"),
        F.lit("</prio><total>"), dec2("o_totalprice").cast("string"),
        F.lit("</total><odate>"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("</odate></order>"),
    )
    spec = X.struct(
        "order",
        {
            "order_id": X.attr("id"),
            "status": X.attr("status"),
            "prio": X.string("prio"),
            "total": X.ndecimal("total"),
            "odate": X.ndate("odate"),
        },
    )
    ex = extract_xml(o.select(doc.alias("doc")), "doc", spec)
    return ex.select(
        F.col("order_id").cast("bigint").alias("order_id"),
        "status",
        "prio",
        money2(F.col("total")).alias("total"),
        F.date_format("odate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
    )


@query(
    "xml_roundtrip_wildcard_tag_events",
    oracle="""
    SELECT 't_' || event_type AS kind, event_id AS eid FROM events
    """,
)
def xml_roundtrip_wildcard_tag_events(spark, sf_dir):
    """Wildcard root match + Tag() capture (ops #6/#7): every event becomes
    an element whose *name* encodes the type; the spec matches '*' and
    recovers the name as a value — the reference's heterogeneous-children
    pattern (Test1.cs:50,136).  Pinned to the Python kernel (engine=
    "python") so the iterparse surface keeps its own driver verdict now
    that root-level wildcard/Tag specs auto-dispatch to the JVM
    ``from_xml`` path — the _jvm twin covers that path."""
    e = t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit("<t_"), F.col("event_type"),
        F.lit(' eid="'), F.col("event_id").cast("string"), F.lit('"/>'),
    )
    spec = X.struct("*", {"kind": X.tag(), "eid": X.attr("eid")})
    ex = extract_xml(e.select(doc.alias("doc")), "doc", spec, engine="python")
    return ex.select("kind", F.col("eid").cast("bigint").alias("eid"))


@query(
    "xml_roundtrip_wildcard_tag_events_jvm",
    oracle="""
    SELECT 't_' || event_type AS kind, event_id AS eid FROM events
    """,
)
def xml_roundtrip_wildcard_tag_events_jvm(spark, sf_dir):
    """Same contract as xml_roundtrip_wildcard_tag_events but through the
    ``from_xml`` fast path (r7 verdict #2): the root NAME comes
    from one anchored regexp, the wildcard test is JVM string algebra,
    and the whole extraction stays inside whole-stage codegen — the spec
    shape that previously paid the Python kernel unconditionally (a
    measured 5.5x tax).  Identical oracle: both
    execution paths must agree bit-for-bit."""
    e = t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit("<t_"), F.col("event_type"),
        F.lit(' eid="'), F.col("event_id").cast("string"), F.lit('"/>'),
    )
    spec = X.struct("*", {"kind": X.tag(), "eid": X.attr("eid")})
    ex = extract_xml_jvm(e.select(doc.alias("doc")), "doc", spec)
    return ex.select("kind", F.col("eid").cast("bigint").alias("eid"))


@query(
    "xml_roundtrip_lineitem_array",
    oracle="""
    SELECT l_orderkey AS order_id, count(*) AS n_items,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_qty
    FROM lineitem GROUP BY l_orderkey
    """,
)
def xml_roundtrip_lineitem_array(spark, sf_dir):
    """Array extraction / per-child emit (op #3): lineitems are folded into
    one XML document per order, extracted back as a typed decimal array in
    document order, then re-aggregated.  Any loss, reorder-sensitivity, or
    cast drift in the array path breaks the equality."""
    l = t(spark, sf_dir, "lineitem")
    li_xml = F.concat(F.lit("<q>"), dec2("l_quantity").cast("string"), F.lit("</q>"))
    docs = (
        l.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("l_linenumber"), li_xml.alias("x")))
                    ),
                    lambda s: s.x,
                ),
                "",
            ).alias("body")
        )
        .select(
            "l_orderkey",
            F.concat(
                F.lit('<order id="'), F.col("l_orderkey").cast("string"),
                F.lit('"><items>'), F.col("body"), F.lit("</items></order>"),
            ).alias("doc"),
        )
    )
    spec = X.struct(
        "order", {"order_id": X.attr("id"), "qtys": X.array("items", X.ndecimal("q"))}
    )
    ex = extract_xml(docs.select("doc"), "doc", spec)
    return ex.select(
        F.col("order_id").cast("bigint").alias("order_id"),
        F.size("qtys").cast("bigint").alias("n_items"),
        money2(
            F.expr(
                "aggregate(qtys, CAST(0 AS DECIMAL(38,18)),"
                " (a, x) -> CAST(a + x AS DECIMAL(38,18)))"
            )
        ).alias("total_qty"),
    )


@query(
    "xml_udtf_lineitem_array",
    oracle="""
    SELECT l_orderkey AS order_id, count(*) AS n_items,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_qty
    FROM lineitem GROUP BY l_orderkey
    """,
)
def xml_udtf_lineitem_array(spark, sf_dir):
    """Array per-child emit (op #3) through the SQL table-function surface:
    the same lineitem fold as xml_roundtrip_lineitem_array, but extraction
    runs as a registered Python UDTF correlated with LATERAL — the Spark-4
    idiom for ``ParserTool.CreateArrayParser`` (Parser.cs:341-345), one row
    per matching ``<q>`` child in document order, outer columns carried by
    the lateral join.  Identical oracle to the mapInPandas array path: the
    two execution surfaces must agree bit-for-bit."""
    l = t(spark, sf_dir, "lineitem")
    li_xml = F.concat(F.lit("<q>"), dec2("l_quantity").cast("string"), F.lit("</q>"))
    docs = l.groupBy("l_orderkey").agg(
        F.concat(
            F.lit("<items>"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("l_linenumber"), li_xml.alias("x"))
                        )
                    ),
                    lambda s: s.x,
                ),
                "",
            ),
            F.lit("</items>"),
        ).alias("doc")
    )
    register_xml_array_udtf(spark, "xsp_xml_qtys", "items", X.ndecimal("q"))
    docs.createOrReplaceTempView("xsp_udtf_lineitem_docs")
    rows = spark.sql(
        """
        SELECT d.l_orderkey, s.value
        FROM xsp_udtf_lineitem_docs d, LATERAL xsp_xml_qtys(d.doc) s
        """
    )
    # decimal sum is exact (order-free), so plain sum keeps the map-side
    # partial aggregation the array fold in the mapInPandas twin gives up
    return rows.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        money2(F.sum("value")).alias("total_qty"),
    ).select(
        F.col("l_orderkey").cast("bigint").alias("order_id"),
        "n_items",
        "total_qty",
    )


@query(
    "xml_udtf_orders_struct",
    oracle="""
    SELECT o_orderkey AS order_id, o_orderstatus AS status,
           o_orderpriority AS prio,
           round(CAST(o_totalprice AS DOUBLE), 2) AS total,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
    FROM orders
    """,
)
def xml_udtf_orders_struct(spark, sf_dir):
    """Struct extraction (op #2) through the SQL table-function surface:
    the same orders round-trip as xml_roundtrip_orders_struct, but the
    compiled spec runs as a registered Python UDTF correlated with
    LATERAL — the SQL face of ``ParserTool.CreateParser<T>``
    (Parser.cs:335-339), one typed record per document with its fields
    spread as columns.  With xml_udtf_lineitem_array this completes the
    reference's two entry points on the SQL surface; the oracle is the
    mapInPandas struct path's — all three execution surfaces must agree
    bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('<order id="'), F.col("o_orderkey").cast("string"),
        F.lit('" status="'), F.col("o_orderstatus"),
        F.lit('"><prio>'), F.col("o_orderpriority"),
        F.lit("</prio><total>"), dec2("o_totalprice").cast("string"),
        F.lit("</total><odate>"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("</odate></order>"),
    )
    spec = X.struct(
        "order",
        {
            "order_id": X.attr("id"),
            "status": X.attr("status"),
            "prio": X.string("prio"),
            "total": X.ndecimal("total"),
            "odate": X.ndate("odate"),
        },
    )
    register_xml_struct_udtf(spark, "xsp_xml_order", spec)
    o.select(doc.alias("doc")).createOrReplaceTempView("xsp_udtf_order_docs")
    rows = spark.sql(
        """
        SELECT s.order_id, s.status, s.prio, s.total, s.odate
        FROM xsp_udtf_order_docs d, LATERAL xsp_xml_order(d.doc) s
        """
    )
    return rows.select(
        F.col("order_id").cast("bigint").alias("order_id"),
        "status",
        "prio",
        money2(F.col("total")).alias("total"),
        F.date_format("odate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
    )


@query(
    "xml_roundtrip_orders_struct_jvm",
    oracle="""
    SELECT o_orderkey AS order_id, o_orderstatus AS status,
           o_orderpriority AS prio,
           round(CAST(o_totalprice AS DOUBLE), 2) AS total,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
    FROM orders
    """,
)
def xml_roundtrip_orders_struct_jvm(spark, sf_dir):
    """Same contract as xml_roundtrip_orders_struct but through the
    ``from_xml`` JVM fast path (extract_xml_jvm) — zero Python in the plan,
    so extraction fuses into whole-stage codegen.  Identical oracle: the two
    execution paths must agree bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('<order id="'), F.col("o_orderkey").cast("string"),
        F.lit('" status="'), F.col("o_orderstatus"),
        F.lit('"><prio>'), F.col("o_orderpriority"),
        F.lit("</prio><total>"), dec2("o_totalprice").cast("string"),
        F.lit("</total><odate>"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("</odate></order>"),
    )
    spec = X.struct(
        "order",
        {
            "order_id": X.attr("id"),
            "status": X.attr("status"),
            "prio": X.string("prio"),
            "total": X.ndecimal("total"),
            "odate": X.ndate("odate"),
        },
    )
    ex = extract_xml_jvm(o.select(doc.alias("doc")), "doc", spec)
    return ex.select(
        F.col("order_id").cast("bigint").alias("order_id"),
        "status",
        "prio",
        money2(F.col("total")).alias("total"),
        F.date_format("odate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
    )


def _hetero_meta_doc():
    """Per-order XML with fixed fields plus a `<meta>` container of
    HETEROGENEOUS children — the element NAME carries the discriminator,
    the GenericTest shape (Test1.cs:50,136)."""
    return F.concat(
        F.lit('<order id="'), F.col("o_orderkey").cast("string"),
        F.lit('"><prio>'), F.col("o_orderpriority"),
        F.lit("</prio><total>"), dec2("o_totalprice").cast("string"),
        F.lit("</total><odate>"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("</odate><meta><s_"), F.col("o_orderstatus"),
        F.lit("><n>"), F.col("o_custkey").cast("string"),
        F.lit("</n></s_"), F.col("o_orderstatus"),
        F.lit("><p_"), F.substring("o_orderpriority", 1, 1),
        F.lit("/></meta></order>"),
    )


def _hetero_meta_spec():
    return X.struct(
        "order",
        {
            "order_id": X.attr("id"),
            "prio": X.string("prio"),
            "total": X.ndecimal("total"),
            "odate": X.ndate("odate"),
            "meta": X.array(
                "meta", X.struct("*", {"kind": X.tag(), "n": X.nint("n")})
            ),
        },
    )


def _hetero_meta_project(ex):
    return ex.select(
        F.col("order_id").cast("bigint").alias("order_id"),
        "prio",
        money2(F.col("total")).alias("total"),
        F.date_format("odate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
        F.explode("meta").alias("m"),
    ).select(
        "order_id", "prio", "total", "odate",
        F.col("m.kind").alias("kind"),
        F.col("m.n").alias("n"),
    )


_HETERO_META_ORACLE = """
    SELECT o_orderkey AS order_id, o_orderpriority AS prio,
           round(CAST(o_totalprice AS DOUBLE), 2) AS total,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate,
           's_' || o_orderstatus AS kind,
           CAST(o_custkey AS INTEGER) AS n
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_orderpriority,
           round(CAST(o_totalprice AS DOUBLE), 2),
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
           'p_' || substr(o_orderpriority, 1, 1),
           CAST(NULL AS INTEGER)
    FROM orders
"""


@query("xml_roundtrip_hetero_meta", oracle=_HETERO_META_ORACLE)
def xml_roundtrip_hetero_meta(spark, sf_dir):
    """The reference's flagship BELOW-ROOT shape (GenericTest,
    Test1.cs:50,136): an array container whose heterogeneous children are
    discriminated by their element NAME (wildcard match, Parser.cs:175-187
    + Tag() capture, Parser.cs:402-405), alongside typed fixed fields.
    Extraction is pinned to the Python kernel; the _jvm twin runs the
    identical spec through auto-dispatch — same oracle, both must agree
    bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    ex = extract_xml(
        o.select(_hetero_meta_doc().alias("doc")), "doc", _hetero_meta_spec(),
        engine="python",
    )
    return _hetero_meta_project(ex)


@query("xml_roundtrip_hetero_meta_jvm", oracle=_HETERO_META_ORACLE)
def xml_roundtrip_hetero_meta_jvm(spark, sf_dir):
    """Same contract as xml_roundtrip_hetero_meta via auto-dispatch:
    pins that ``engine="auto"`` sends this below-root shape (wildcard
    children and ``Tag()`` inside the `<meta>` container, which
    ``from_xml`` cannot express) to the Python kernel, with the same rows.
    The ``_jvm`` name is kept for registry stability."""
    o = t(spark, sf_dir, "orders")
    ex = extract_xml(
        o.select(_hetero_meta_doc().alias("doc")), "doc", _hetero_meta_spec(),
        engine="auto",
    )
    return _hetero_meta_project(ex)
