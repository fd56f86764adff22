"""Distributed XML extraction: same goldens through Spark (mapInPandas and
the bounded-memory file reader)."""

import pytest

from xmlstreamprocessor_spark.plans import X
from xmlstreamprocessor_spark.sources import extract_xml, read_xml

from tests.test_xml_golden import F1_GOLDEN, F1_XML, f1_spec


def _rowdict(row):
    d = row.asDict(recursive=True)
    return d


def test_extract_xml_distributed(spark):
    df = spark.createDataFrame([(F1_XML,), (F1_XML,)], ["xml"])
    out = extract_xml(df, "xml", f1_spec())
    rows = out.collect()
    assert len(rows) == 2
    assert _rowdict(rows[0]) == F1_GOLDEN
    # schema is the compiled StructType, stable across runs
    assert [f.name for f in out.schema.fields] == [
        "tag",
        "someint",
        "somestring",
        "subclasses",
    ]


def test_read_xml_files(spark, tmp_path):
    docs = "\n".join(
        f"<sample2><someint>{i}</someint><somestring>s{i}</somestring>"
        f"<subclasses><subclass><someint>{i * 10}</someint></subclass></subclasses>"
        f"</sample2>"
        for i in range(5)
    )
    for fidx in range(3):
        (tmp_path / f"part{fidx}.xml").write_text(f"<docs>\n{docs}\n</docs>")
    out = read_xml(spark, str(tmp_path), "sample2", f1_spec())
    rows = out.orderBy("someint").collect()
    assert len(rows) == 15
    assert sorted(r["someint"] for r in rows) == sorted(list(range(5)) * 3)
    assert rows[-1]["subclasses"][0]["someint"] == 40


def test_jvm_path_matches_python_path(spark):
    from pyspark.sql import functions as F

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    docs = spark.createDataFrame(
        [('<r a="7"><i>3</i><s>hi</s></r>',), ('<r a="8"><s></s></r>',)], ["doc"]
    )
    spec = X.struct(
        "r", {"a": X.attr("a"), "i": X.int_("i"), "s": X.string("s")}
    )
    py = sorted(map(tuple, extract_xml(docs, "doc", spec).collect()))
    jvm = sorted(map(tuple, extract_xml_jvm(docs, "doc", spec).collect()))
    assert py == jvm == [("7", 3, "hi"), ("8", 0, "")]


def test_jvm_path_nested_arrays(spark):
    """Arrays nested inside structs and inside array-of-struct elements
    parse identically on the from_xml fast path and the Python kernel
    (empty container -> [], missing container -> null, at every depth)."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    docs = spark.createDataFrame(
        [
            (
                "<r><items><it><v>1</v><tags><t>2</t><t>3</t></tags></it>"
                "<it><v>4</v><tags></tags></it></items>"
                "<m><xs><x>7</x><x>8</x></xs></m></r>",
            ),
            ("<r><items></items></r>",),  # empty outer array, missing struct
        ],
        ["doc"],
    )
    spec = X.struct(
        "r",
        {
            "items": X.array(
                "items",
                X.struct(
                    "it", {"v": X.nint("v"), "tags": X.array("tags", X.nint("t"))}
                ),
            ),
            "m": X.struct("m", {"xs": X.array("xs", X.nint("x"))}),
        },
    )
    jvm = extract_xml_jvm(docs, "doc", spec).collect()
    py = extract_xml(docs, "doc", spec, engine="python").collect()
    assert [r.asDict(recursive=True) for r in jvm] == [
        r.asDict(recursive=True) for r in py
    ]
    assert jvm[0]["items"][0]["tags"] == [2, 3] and jvm[0]["items"][1]["tags"] == []
    assert jvm[1]["items"] == [] and jvm[1]["m"] is None


def test_jvm_path_rejects_wildcards(spark):
    import pytest

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    docs = spark.createDataFrame([("<a/>",)], ["doc"])
    with pytest.raises(ValueError, match="wildcard"):
        extract_xml_jvm(docs, "doc", X.struct("r", {"x": X.string("pre*")}))
    with pytest.raises(ValueError, match="wildcard"):
        extract_xml_jvm(
            docs, "doc", X.struct("r", {"c": X.struct("c*", {"k": X.tag()})})
        )
    # an interior the JVM cannot express fails the whole spec
    with pytest.raises(ValueError, match="wildcard"):
        extract_xml_jvm(
            docs, "doc", X.struct("r", {"c": X.struct("c", {"k": X.string("s*")})})
        )
    assert extract_xml_jvm(
        docs, "doc", X.struct("r", {"k": X.tag()})
    ).columns == ["k"]

    # the GenericTest shape (Test1.cs:50,136): Tag()-discriminated wildcard
    # children under an array container below the root.  extract_xml_jvm
    # rejects it; auto-dispatch runs it on the Python kernel, row-identical
    # to engine="python"
    gspec = X.struct(
        "sample2",
        {
            "tag": X.tag(),
            "someint": X.int_("someint"),
            "subclasses": X.array(
                "subclasses",
                X.struct("*", {"tag": X.tag(), "someint": X.int_("someint")}),
            ),
        },
    )
    gdocs = spark.createDataFrame(
        [
            ("<sample2><someint>1</someint><subclasses><subclass/>"
             "<subanotherclass><someint>3</someint></subanotherclass>"
             "</subclasses></sample2>",),
            ("<sample2><someint>5</someint><subclasses/></sample2>",),
            ("<sample2/>",),
        ],
        ["doc"],
    )
    with pytest.raises(ValueError):
        extract_xml_jvm(gdocs, "doc", gspec)
    auto = extract_xml(gdocs, "doc", gspec)
    assert "MapInPandas" in auto._jdf.queryExecution().executedPlan().toString()
    assert [r.asDict(recursive=True) for r in auto.collect()] == [
        r.asDict(recursive=True)
        for r in extract_xml(gdocs, "doc", gspec, engine="python").collect()
    ]


def test_jvm_path_nested_struct(spark):
    from pyspark.sql import Row

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    docs = spark.createDataFrame(
        [
            ('<r><sub a="x"><n>5</n></sub><s>top</s></r>',),
            ("<r><s>nosub</s></r>",),  # missing nested element -> null struct
        ],
        ["doc"],
    )
    spec = X.struct(
        "r",
        {
            "sub": X.struct("sub", {"a": X.attr("a"), "n": X.nint("n")}),
            "s": X.string("s"),
        },
    )
    jvm = extract_xml_jvm(docs, "doc", spec).collect()
    py = extract_xml(docs, "doc", spec).collect()
    assert jvm[0]["sub"] == Row(a="x", n=5) and jvm[0]["s"] == "top"
    assert jvm[1]["sub"] is None and jvm[1]["s"] == "nosub"
    assert [tuple(r) for r in jvm] == [tuple(r) for r in py]


def test_jvm_path_array_of_structs(spark):
    """Arrays of structs on the from_xml fast path match the Python kernel,
    including the edge semantics: container present but empty -> [] (the
    ArrayParser emits nothing, Parser.cs:272-277), container missing -> null
    (default(T), Parser.cs:531-536), unknown children skipped."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import (
        _jvm_safe,
        extract_xml,
        extract_xml_jvm,
    )
    from xmlstreamprocessor_spark.plans.spec import compile_spec

    docs = spark.createDataFrame(
        [
            ('<r><items><it k="a"><n>1</n></it><it><n>2</n></it></items></r>',),
            ("<r><items></items></r>",),  # empty container -> []
            ("<r/>",),  # missing container -> null
            ("<r><items><junk/></items></r>",),  # unknown child skipped -> []
        ],
        ["doc"],
    )
    spec = X.struct(
        "r",
        {"items": X.array("items", X.struct("it", {"k": X.attr("k"), "n": X.nint("n")}))},
    )
    assert _jvm_safe(compile_spec(spec))  # auto dispatch takes the fast path
    jvm = [r["items"] for r in extract_xml_jvm(docs, "doc", spec).collect()]
    py = [r["items"] for r in extract_xml(docs, "doc", spec, engine="python").collect()]
    assert jvm[0] is not None and [tuple(e) for e in jvm[0]] == [("a", 1), (None, 2)]
    assert jvm[1] == [] and jvm[3] == []
    assert jvm[2] is None
    assert [
        None if a is None else [tuple(e) for e in a] for a in jvm
    ] == [None if a is None else [tuple(e) for e in a] for a in py]


def test_jvm_path_scalar_array_edge_semantics(spark):
    """Scalar arrays: empty/unknown-children container -> [], missing -> null
    — identical across both engines."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    docs = spark.createDataFrame(
        [
            ("<r><qs><q>1</q><q>2</q></qs></r>",),
            ("<r><qs></qs></r>",),
            ("<r/>",),
        ],
        ["doc"],
    )
    spec = X.struct("r", {"qs": X.array("qs", X.nint("q"))})
    jvm = [r["qs"] for r in extract_xml_jvm(docs, "doc", spec).collect()]
    py = [
        r["qs"] for r in extract_xml(docs, "doc", spec, engine="python").collect()
    ]
    assert jvm == py == [[1, 2], [], None]


def test_infer_spec_roundtrip(spark):
    import decimal

    from xmlstreamprocessor_spark.plans.infer import infer_xml_spec
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml_records

    docs = [
        '<r id="7"><n>3</n><price>1.25</price><ok>true</ok>'
        "<when>2024-01-02T03:04:05</when><name>ann</name>"
        "<items><q>1</q><q>2</q></items>"
        "<sub><x>9</x></sub></r>",
        '<r id="8"><n>4</n><price>2</price><ok>false</ok>'
        "<when>2024-02-02T03:04:05</when><name>bob</name>"
        "<items><q>5</q><q>6</q></items>"
        "<sub><x>10</x></sub></r>",
    ]
    spec = infer_xml_spec(docs)
    assert spec.pattern == "r"
    out = extract_xml_records(docs, spec)
    assert out[0]["id"] == "7" and out[0]["n"] == 3
    assert out[0]["price"] == decimal.Decimal("1.25")  # int+decimal widened
    assert out[1]["price"] == decimal.Decimal("2")
    assert out[0]["ok"] is True and out[1]["ok"] is False
    assert out[0]["when"].year == 2024
    assert out[0]["name"] == "ann"
    assert out[0]["items"] == [1, 2] and out[1]["items"] == [5, 6]
    assert out[0]["sub"] == {"x": 9}


def test_infer_spec_widens_conflicts(spark):
    from xmlstreamprocessor_spark.plans.infer import infer_xml_spec
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml_records

    docs = ["<r><v>1</v></r>", "<r><v>abc</v></r>"]
    spec = infer_xml_spec(docs)
    out = extract_xml_records(docs, spec)
    assert out[0]["v"] == "1" and out[1]["v"] == "abc"  # widened to string


def test_registered_datasource_schema_path(spark, tmp_path):
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    for i in range(3):
        (tmp_path / f"f{i}.xml").write_text(
            f'<docs><rec id="{100 + i}"><n>{i}</n><name>d{i}</name></rec>'
            f"<rec><n>{i + 10}</n><name>e{i}</name></rec></docs>"
        )
    df = (
        spark.read.format("xspxml")
        .schema("id long, n int, name string")
        .option("rowTag", "rec")
        .option("path", str(tmp_path))
        .load()
    )
    rows = {tuple(r) for r in df.collect()}
    assert len(rows) == 6
    # attribute fallback fills id where the element is absent
    assert (100, 0, "d0") in rows and (None, 10, "e0") in rows
    assert df.rdd.getNumPartitions() == 3  # one partition per file


def test_registered_datasource_spec_path(spark, tmp_path):
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.datasource import (
        register_xml_source,
        spec_option,
    )

    register_xml_source(spark)
    (tmp_path / "w.xml").write_text(
        "<docs><t_a><v>1</v></t_a><t_b><v>2</v></t_b></docs>"
    )
    spec = X.struct("t_*", {"kind": X.tag(), "v": X.nint("v")})
    df = (
        spark.read.format("xspxml")
        .schema("kind string, v int")
        .option("rowTag", "t_*")
        .option("path", str(tmp_path))
        .option("specPickle", spec_option(spec))
        .load()
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == [("t_a", 1), ("t_b", 2)]


def test_extract_xml_auto_dispatch(spark):
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml

    docs = spark.createDataFrame([('<r a="1"><i>2</i><s>x</s></r>',)], ["doc"])
    # scalar-only spec -> JVM path (no Python evaluator in the plan)
    num_spec = X.struct("r", {"a": X.attr("a"), "i": X.nint("i")})
    plan = extract_xml(docs, "doc", num_spec)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan and "from_xml" in plan.lower() or "FromXml" in plan
    # element-string field -> python kernel (mixed-content safety)
    str_spec = X.struct("r", {"s": X.string("s")})
    plan2 = extract_xml(docs, "doc", str_spec)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan2
    # root wildcard + Tag() -> JVM hybrid since r8 (root name is one
    # regexp; the wildcard test is string algebra)
    wild_spec = X.struct("*", {"kind": X.tag(), "i": X.nint("i")})
    plan3 = extract_xml(docs, "doc", wild_spec)._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan3
    # wildcard in a CHILD slot -> python kernel (not expressible in from_xml)
    deep_wild = X.struct("r", {"x": X.nint("pre*")})
    plan4 = extract_xml(docs, "doc", deep_wild)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan4
    # "auto" and "python" are the engines; extract_xml_jvm forces the JVM
    with pytest.raises(ValueError, match="unknown engine 'jvm'"):
        extract_xml(docs, "doc", num_spec, engine="jvm")


def test_extract_xml_permissive_modes(spark):
    """PERMISSIVE keeps bad documents as null rows with the raw doc in
    _corrupt_record; DROPMALFORMED drops them; FAILFAST (default) raises —
    both malformed XML and failing typed casts (ExtractionError) count."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import PythonException

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml

    docs = spark.createDataFrame(
        [
            ("<r><i>1</i><s>ok</s></r>",),
            ("<r><i>2</i><s>truncated",),  # malformed XML
            ("<r><i></i><s>badcast</s></r>",),  # X.int_ on empty -> error
        ],
        ["doc"],
    )
    spec = X.struct("r", {"i": X.nint("i"), "s": X.string("s")})
    bad_spec = X.struct("r", {"i": X.int_("i"), "s": X.string("s")})

    perm = extract_xml(docs, "doc", spec, mode="PERMISSIVE").collect()
    ok = [r for r in perm if r["_corrupt_record"] is None]
    bad = [r for r in perm if r["_corrupt_record"] is not None]
    assert {(r["i"], r["s"]) for r in ok} == {(1, "ok"), (None, "badcast")}
    assert len(bad) == 1 and "truncated" in bad[0]["_corrupt_record"]
    assert bad[0]["i"] is None and bad[0]["s"] is None

    # the failing typed cast becomes corrupt too under the strict spec
    perm2 = extract_xml(docs, "doc", bad_spec, mode="PERMISSIVE").collect()
    assert sum(r["_corrupt_record"] is not None for r in perm2) == 2

    dropped = extract_xml(docs, "doc", spec, mode="DROPMALFORMED").collect()
    assert {(r["i"], r["s"]) for r in dropped} == {(1, "ok"), (None, "badcast")}
    assert "_corrupt_record" not in dropped[0].asDict()

    with pytest.raises((PythonException, Py4JJavaError)):
        extract_xml(docs, "doc", spec, engine="python").collect()
    with pytest.raises(ValueError, match="unknown mode"):
        extract_xml(docs, "doc", spec, mode="LENIENT")


def test_read_xml_permissive_salvages_prefix(spark, tmp_path):
    """A file that breaks mid-stream keeps the records before the break
    plus one triage row naming the file."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import read_xml

    (tmp_path / "good.xml").write_text(
        "<docs><rec><n>1</n></rec><rec><n>2</n></rec></docs>"
    )
    (tmp_path / "bad.xml").write_text(
        "<docs><rec><n>3</n></rec><rec><n>4</n></rec><rec><n>5</"
    )
    spec = X.struct("rec", {"n": X.nint("n")})
    out = read_xml(spark, str(tmp_path), "rec", spec, mode="PERMISSIVE").collect()
    ok = sorted(r["n"] for r in out if r["_corrupt_file"] is None)
    bad = [r for r in out if r["_corrupt_file"] is not None]
    assert ok == [1, 2, 3, 4]  # prefix of bad.xml salvaged
    assert len(bad) == 1 and bad[0]["_corrupt_file"].endswith("bad.xml")

    dropped = read_xml(
        spark, str(tmp_path), "rec", spec, mode="DROPMALFORMED"
    ).collect()
    assert sorted(r["n"] for r in dropped) == [1, 2, 3, 4]


def test_read_xml_bounds_output_batches(spark, tmp_path):
    """The file partition function hands Spark one frame per
    maxRecordsPerBatch records: a file with more records than that comes
    back as several frames holding exactly the unbounded run's rows, with
    PERMISSIVE triage rows still aligned across the frame boundaries."""
    import pandas as pd

    from xmlstreamprocessor_spark.plans import compile_spec
    from xmlstreamprocessor_spark.sources.xml_batch import _file_frames

    recs = "".join(f"<rec><n>{i}</n></rec>" for i in range(23))
    good = f"<docs>{recs}</docs>".encode()
    bad = b"<docs><rec><n>100</n></rec><rec><n>101</n></rec><rec><n>1"
    files = pd.DataFrame({"path": ["good.xml", "bad.xml"], "content": [good, bad]})
    compiled = compile_spec(X.struct("rec", {"n": X.nint("n")}))

    def run(batch_rows, mode="FAILFAST"):
        fn = _file_frames("rec", compiled, batch_rows, mode)
        return list(fn(iter([files.iloc[:1]] if mode == "FAILFAST" else [files])))

    def rows(frames):  # per-frame dtype inference differs; values must not
        return [
            tuple(None if pd.isna(v) else v for v in r)
            for f in frames
            for r in f.itertuples(index=False)
        ]

    frames = run(5)
    assert [len(f) for f in frames] == [5, 5, 5, 5, 3]
    [whole] = run(10**9)
    assert rows(frames) == rows([whole]) == [(i,) for i in range(23)]

    frames = run(5, "PERMISSIVE")
    assert [len(f) for f in frames] == [5, 5, 5, 5, 5, 1]
    [whole] = run(10**9, "PERMISSIVE")
    assert rows(frames) == rows([whole])
    assert rows([whole])[-3:] == [(100, None), (101, None), (None, "bad.xml")]

    # end to end: read_xml takes the batch size from the session conf
    (tmp_path / "good.xml").write_bytes(good)
    want = [r["n"] for r in read_xml(spark, str(tmp_path), "rec", compiled).collect()]
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        got = [r["n"] for r in read_xml(spark, str(tmp_path), "rec", compiled).collect()]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert got == want == list(range(23))


def test_xspxml_writer_roundtrip(spark, tmp_path):
    import datetime
    from decimal import Decimal

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    out = str(tmp_path / "out")
    schema = "id int, name string, flag boolean, ts timestamp, amt decimal(38,18)"
    rows = [
        (1, "a<b&c", True, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), Decimal("1.5")),
        (2, None, False, None, None),
        (3, "plain", None, datetime.datetime(2024, 6, 1), Decimal("-7")),
    ]
    df = spark.createDataFrame(rows, schema)
    df.repartition(2).write.format("xspxml").option("rowTag", "rec").mode(
        "append"
    ).save(out)
    back = (
        spark.read.format("xspxml")
        .schema(schema)
        .option("rowTag", "rec")
        .load(out)
    )
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_xspxml_writer_overwrite(spark, tmp_path):
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    out = str(tmp_path / "out")
    spark.createDataFrame([(1,), (2,)], "n int").write.format("xspxml").mode(
        "append"
    ).save(out)
    spark.createDataFrame([(9,)], "n int").write.format("xspxml").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("xspxml").schema("n int").option("rowTag", "row").load(out)
    assert [r["n"] for r in back.collect()] == [9]


def test_xspxml_writer_nested(spark, tmp_path):
    """Structs nest as child tags; arrays wrap items in the container tag
    (the shape the spec path's X.struct/X.array reads back)."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    out = tmp_path / "out"
    df = spark.createDataFrame(
        [((1, "x"), [10, 20])],
        "s struct<a:int,b:string>, xs array<int>",
    )
    df.coalesce(1).write.format("xspxml").mode("append").save(str(out))
    text = "".join(p.read_text() for p in out.glob("part-*.xml"))
    assert "<s><a>1</a><b>x</b></s>" in text
    assert "<xs><item>10</item><item>20</item></xs>" in text


def test_xspxml_writer_partition_by(spark, tmp_path):
    """Hive-style layout: partition columns live in key=value dirs, not in
    the XML; the reader folds them back in with their declared types, and
    null partition values round-trip via the hive default marker."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    out = tmp_path / "out"
    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, None, "d")],
        "id int, lang string, txt string",
    )
    df.repartition(2).write.format("xspxml").option("partitionBy", "lang").mode(
        "append"
    ).save(str(out))
    # layout: lang=en/, lang=de/, lang=__HIVE_DEFAULT_PARTITION__/
    dirs = {p.name for p in out.iterdir() if p.is_dir()}
    assert dirs == {"lang=en", "lang=de", "lang=__HIVE_DEFAULT_PARTITION__"}
    # partition column is not serialized into the XML itself
    some = next((out / "lang=en").glob("part-*.xml")).read_text()
    assert "<lang>" not in some and "<id>" in some
    back = (
        spark.read.format("xspxml")
        .schema("id int, lang string, txt string")
        .option("rowTag", "row")
        .load(str(out))
    )
    assert {tuple(r) for r in back.collect()} == {
        (1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, None, "d"),
    }
    # overwrite sweeps old files inside partition dirs too
    spark.createDataFrame([(9, "en", "z")], "id int, lang string, txt string") \
        .write.format("xspxml").option("partitionBy", "lang").mode("overwrite") \
        .save(str(out))
    back2 = (
        spark.read.format("xspxml")
        .schema("id int, lang string, txt string")
        .option("rowTag", "row")
        .load(str(out))
    )
    assert [tuple(r) for r in back2.collect()] == [(9, "en", "z")]


def test_xspxml_writer_partition_by_rejects_unknown(spark, tmp_path):
    import pytest
    from pyspark.errors import AnalysisException

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    with pytest.raises(AnalysisException, match="not in schema"):
        spark.createDataFrame([(1,)], "n int").write.format("xspxml").option(
            "partitionBy", "nope"
        ).mode("append").save(str(tmp_path / "o"))


def test_xspxml_stream_writer(spark, tmp_path):
    """stream_xml -> xspxml sink: staged-rename commit means the output
    dir holds only whole part files after the availableNow drain."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source
    from xmlstreamprocessor_spark.streaming import stream_xml

    register_xml_source(spark)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        (src / f"s{i}.xml").write_text(
            f"<docs><rec><n>{i}</n></rec><rec><n>{i + 10}</n></rec></docs>"
        )
    out = tmp_path / "out"
    q = (
        stream_xml(spark, str(src), "rec", X.struct("rec", {"n": X.int_("n")}))
        .writeStream.format("xspxml")
        .option("rowTag", "rec")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not list(out.glob(".staging-*"))
    back = (
        spark.read.format("xspxml")
        .schema("n int")
        .option("rowTag", "rec")
        .option("path", str(out))
        .load()
    )
    assert sorted(r["n"] for r in back.collect()) == [0, 1, 10, 11]


def test_xspxml_has_no_stream_reader(spark, tmp_path):
    """XML files stream through stream_xml only: a query on
    readStream.format("xspxml") is defined, but fails when it starts."""
    from pyspark.errors import StreamingQueryException

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    (tmp_path / "s0.xml").write_text("<docs><rec><n>0</n></rec></docs>")
    df = (
        spark.readStream.format("xspxml")
        .schema("n int")
        .option("rowTag", "rec")
        .option("path", str(tmp_path))
        .load()
    )
    assert df.isStreaming
    with pytest.raises(StreamingQueryException, match="PYTHON_DATA_SOURCE_ERROR"):
        q = (
            df.writeStream.format("memory")
            .queryName("t_dsstream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)


def test_xspxml_stream_writer_partition_by(spark, tmp_path):
    """partitionBy flows through the streaming sink's commit protocol:
    each micro-batch's files land under key=value dirs atomically."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source
    from xmlstreamprocessor_spark.streaming import stream_xml

    register_xml_source(spark)
    src = tmp_path / "src"
    src.mkdir()
    (src / "s.xml").write_text(
        "<docs><rec><n>1</n><k>a</k></rec><rec><n>2</n><k>b</k></rec>"
        "<rec><n>3</n><k>a</k></rec></docs>"
    )
    out = tmp_path / "out"
    spec = X.struct("rec", {"n": X.int_("n"), "k": X.string("k")})
    q = (
        stream_xml(spark, str(src), "rec", spec)
        .writeStream.format("xspxml")
        .option("rowTag", "rec")
        .option("path", str(out))
        .option("partitionBy", "k")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not list(out.glob(".staging-*"))
    assert {p.name for p in out.iterdir() if p.is_dir()} == {"k=a", "k=b"}
    back = (
        spark.read.format("xspxml")
        .schema("n int, k string")
        .option("rowTag", "rec")
        .load(str(out))
    )
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b"), (3, "a")}


def test_jvm_path_timestamp_format_parity(spark):
    """Every format in the Python kernel's _DATE_FORMATS parses to the
    same value on the from_xml fast path (the try_to_timestamp chain);
    auto-dispatch still refuses timestamp specs because INVALID text
    nulls on the JVM path where the kernel raises."""
    import xmlstreamprocessor_spark.plans.spec as sp
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.plans.spec import compile_spec
    from xmlstreamprocessor_spark.sources.xml_batch import _jvm_safe, extract_xml_jvm

    fmts = [
        "2024-01-02 03:04:05", "2024-01-02T03:04:05", "2024-01-02",
        "01/02/2024", "2024-01-02T03:04:05.123456", "01/02/2024 03:04:05",
    ]
    docs = spark.createDataFrame([(f"<r><d>{x}</d></r>",) for x in fmts], ["doc"])
    spec = X.struct("r", {"d": X.ndate("d")})
    jvm = [r["d"] for r in extract_xml_jvm(docs, "doc", spec).collect()]
    assert jvm == [sp._conv_ndate(x) for x in fmts]
    assert not _jvm_safe(compile_spec(spec))
    # invalid text: JVM nulls (declarative plans cannot raise per-row)
    bad = spark.createDataFrame([("<r><d>bogus</d></r>",)], ["doc"])
    assert extract_xml_jvm(bad, "doc", spec).collect()[0]["d"] is None


def test_jvm_path_int_bool_error_parity(spark):
    """The fast path replicates the kernel's scalar error contract exactly:
    missing tag -> default/null, empty -> null (nullable) or raise (int_),
    unparseable -> raise — via try_cast + raise_error, so behavior does not
    depend on the session's ANSI setting."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.utils import PythonException

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml_jvm

    def run(mk, doc):
        d = spark.createDataFrame([(doc,)], ["doc"])
        return extract_xml_jvm(d, "doc", X.struct("r", {"v": mk("v")})).collect()[0]["v"]

    assert run(X.nint, "<r><v> 007 </v></r>") == 7
    assert run(X.nint, "<r><v></v></r>") is None
    assert run(X.nint, "<r/>") is None
    assert run(X.int_, "<r/>") == 0  # missing -> default(T)
    assert run(X.nbool, "<r><v>TRUE</v></r>") is True
    assert run(X.nbool, "<r><v>0</v></r>") is False
    assert run(X.nbool, "<r/>") is None
    for mk, doc in (
        (X.nint, "<r><v>7.0</v></r>"),
        (X.nint, "<r><v>abc</v></r>"),
        (X.int_, "<r><v></v></r>"),  # empty text for non-null int raises
        (X.nbool, "<r><v>yes</v></r>"),
    ):
        with pytest.raises((Py4JJavaError, PythonException, Exception)):
            run(mk, doc)


def test_namespaced_documents_match_reference_localname_semantics(spark):
    """Parser.cs matches by reader.LocalName (133, 166): namespaces and
    prefixes are invisible.  Both extraction paths must agree — the JVM
    path via its prefix-strip preprocessing, the kernel via _localname —
    and colons inside text/attribute values must survive untouched."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml, extract_xml_jvm

    doc = (
        '<o xmlns="http://ex/ns" xmlns:p="http://ex/p" id="7">'
        "<a>5</a><p:b>hi 10:30</p:b><p:c><d>x:y</d></p:c></o>"
    )
    spec = X.struct(
        "o",
        {
            "id": X.attr("id"),
            "a": X.nint("a"),
            "b": X.string("b"),
            "c": X.struct("c", {"d": X.string("d")}),
        },
    )
    df = spark.createDataFrame([(doc,)], "xml string")
    expected = [("7", 5, "hi 10:30", ("x:y",))]
    got_kernel = [tuple(r) for r in extract_xml(df, "xml", spec).collect()]
    got_jvm = [tuple(r) for r in extract_xml_jvm(df, "xml", spec).collect()]
    assert got_kernel == got_jvm
    assert [(r[0], r[1], r[2], tuple(r[3])) for r in got_kernel] == expected


def test_xspxml_partition_pruning_optin_and_safe_default(spark, tmp_path):
    """pushFilters partition pruning: (a) the DEFAULT reader never prunes,
    so a reused DataFrame answering a filtered scan then an unfiltered one
    stays correct despite Spark's partition-list reuse; (b) with
    .option("partitionPruning","true") the file list shrinks to the
    matching hive directories and results stay correct."""
    from pyspark.sql import functions as F

    from xmlstreamprocessor_spark.sources.datasource import (
        XmlSourceReader,
        register_xml_source,
    )

    register_xml_source(spark)
    path = str(tmp_path / "pp")
    df = spark.createDataFrame(
        [(i, "AB"[i % 2], i) for i in range(40)], "id bigint, k string, v bigint"
    )
    (
        df.coalesce(1).write.format("xspxml").option("rowTag", "r")
        .option("partitionBy", "k").mode("overwrite").save(path)
    )

    def load(prune):
        r = (
            spark.read.format("xspxml")
            .schema("id bigint, k string, v bigint")
            .option("rowTag", "r")
        )
        if prune:
            r = r.option("partitionPruning", "true")
        return r.load(path)

    # (a) shared-DataFrame safety with the default reader
    same = load(False)
    assert same.filter(F.col("k") == "A").count() == 20
    assert same.count() == 40
    # (b) opt-in pruning: correct rows, and the reader-level file list
    # actually shrinks to the k=A directory
    assert load(True).filter(F.col("k") == "A").count() == 20
    from pyspark.sql.datasource import EqualTo

    rdr = XmlSourceReader(
        load(True).schema,
        {"rowTag": "r", "path": path, "partitionPruning": "true"},
    )
    list(rdr.pushFilters([EqualTo(("k",), "A")]))
    files = [p.path for p in rdr.partitions()]
    assert files and all("k=A" in f for f in files)
    # consume-once: a second partitions() call sees no stale filters
    assert any("k=B" in p.path for p in rdr.partitions())


def test_xspxml_reader_malformed_modes(spark, tmp_path):
    """DataSource-level error policy (same triple as extract_xml):
    FAILFAST raises, DROPMALFORMED drops ONLY the malformed record and
    keeps reading (row-tag resync), PERMISSIVE additionally yields one
    triage row per malformed record carrying the file path in a declared
    `_corrupt_file` column."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    d = tmp_path / "docs"
    d.mkdir()
    (d / "good.xml").write_text("<root><r><id>1</id></r><r><id>2</id></r></root>")
    (d / "bad.xml").write_text("<root><r><id>3</id></r><r><id>broken")

    def load(mode):
        return (
            spark.read.format("xspxml")
            .schema("id bigint, _corrupt_file string")
            .option("rowTag", "r")
            .option("mode", mode)
            .load(str(d))
        )

    import pytest as _pytest

    with _pytest.raises(Exception):
        load("FAILFAST").collect()
    dropped = sorted([(r["id"], r["_corrupt_file"]) for r in load("DROPMALFORMED").collect()], key=str)
    assert dropped == [(1, None), (2, None), (3, None)]
    perm = sorted([(r["id"], r["_corrupt_file"]) for r in load("PERMISSIVE").collect()], key=str)
    assert perm[:3] == [(1, None), (2, None), (3, None)]
    assert perm[3][0] is None and perm[3][1].endswith("bad.xml")


def test_xspxml_and_read_xml_skip_job_markers(spark, tmp_path):
    """A directory a Spark job wrote holds an empty ``_SUCCESS`` marker
    and may hold ``_temporary/`` output: ``read_xml`` (Spark's file index)
    and the ``xspxml`` source skip both and return the same rows."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    (tmp_path / "part-0.xml").write_text("<root><r><id>1</id></r></root>")
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / "_temporary" / "0").mkdir(parents=True)
    (tmp_path / "_temporary" / "0" / "part-1.xml").write_text(
        "<root><r><id>2</id></r></root>"
    )
    spec = X.struct("r", {"id": X.nint("id")})
    got = read_xml(spark, str(tmp_path), "r", spec).collect()
    source = (
        spark.read.format("xspxml")
        .schema("id bigint")
        .option("rowTag", "r")
        .load(str(tmp_path))
        .collect()
    )
    assert [r["id"] for r in got] == [r["id"] for r in source] == [1]


def test_xspxml_reads_a_relative_single_file_path(spark):
    """A bare file name resolves against the working directory, and a
    single-file path has no partition directories: ``xspxml`` reads it,
    as it reads the same file by its absolute path."""
    import os
    import uuid

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    # Python workers resolve relative paths against the JVM's directory
    cwd = spark.sparkContext._jvm.java.lang.System.getProperty("user.dir")
    name = f"xsp-relative-{uuid.uuid4().hex}.xml"
    path = os.path.join(cwd, name)
    with open(path, "w") as fh:
        fh.write("<root><r><id>1</id></r><r><id>2</id></r></root>")
    try:
        got = [
            sorted(
                r["id"]
                for r in spark.read.format("xspxml")
                .schema("id bigint")
                .option("rowTag", "r")
                .load(p)
                .collect()
            )
            for p in (name, path)
        ]
    finally:
        os.remove(path)
    assert got == [[1, 2], [1, 2]]


def test_xspxml_reader_resyncs_after_malformed_record(spark, tmp_path):
    """Records AFTER a malformed one are recovered (Spark XML reader
    parity): the reader re-syncs at the next row-tag start instead of
    abandoning the rest of the file."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    d = tmp_path / "docs"
    d.mkdir()
    (d / "mixed.xml").write_text(
        "<root>"
        "<r><id>1</id></r>"
        "<r><id>2</id"  # truncated: malformed mid-file
        "<r><id>3</id></r>"
        "<r><id>4</id></r>"
        "</root>"
    )

    def load(mode):
        return (
            spark.read.format("xspxml")
            .schema("id bigint, _corrupt_file string")
            .option("rowTag", "r")
            .option("mode", mode)
            .load(str(d))
        )

    dropped = sorted(
        r["id"] for r in load("DROPMALFORMED").collect() if r["id"] is not None
    )
    assert dropped == [1, 3, 4]  # only the broken record is lost
    perm = load("PERMISSIVE").collect()
    assert sorted(r["id"] for r in perm if r["id"] is not None) == [1, 3, 4]
    triage = [r for r in perm if r["id"] is None]
    assert len(triage) == 1 and triage[0]["_corrupt_file"].endswith("mixed.xml")


def test_scan_row_tag_offsets_chunked_and_span_aware(tmp_path):
    """The recovery resync scanner must (a) stream in bounded chunks — the
    offsets are identical no matter how small the chunk, including chunks
    that split a row-tag token or a comment delimiter — and (b) skip
    row-tag tokens inside <!--...--> and <![CDATA[...]]> spans, which a
    raw whole-file regex would treat as false resync points."""
    from xmlstreamprocessor_spark.sources.xml_batch import _scan_row_tag_offsets

    body = (
        b"<root>"
        b"<r><id>1</id></r>"
        b"<!-- a commented-out <r> record --> "
        b"<r><id><![CDATA[text with <r> inside]]></id></r>"
        b"<ns:r attr='x'><id>3</id></ns:r>"
        b"<rr><id>not a row tag</id></rr>"
        b"<r/>"
        b"</root>"
    )
    p = tmp_path / "f.xml"
    p.write_bytes(body)
    want = [
        body.index(b"<r><id>1"),
        body.index(b"<r><id><!"),
        body.index(b"<ns:r"),
        body.index(b"<r/>"),
    ]
    with open(p, "rb") as fh:
        assert _scan_row_tag_offsets(fh, "r") == want
        for chunk in (1, 3, 7, 130, 1 << 20):
            assert _scan_row_tag_offsets(fh, "r", chunk_size=chunk) == want


def test_namespaced_file_resyncs_on_read_xml_and_xspxml(spark, tmp_path):
    """A malformed record in a file whose row tags carry a namespace
    prefix: the resync parses each record slice behind the root start tag,
    so the prefix stays bound, and both read_xml and xspxml keep the
    records after the bad one and triage it exactly once."""
    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    d = tmp_path / "docs"
    d.mkdir()
    (d / "ns.xml").write_text(
        '<root xmlns:p="urn:x">'
        "<p:r><id>1</id></p:r>"
        "<p:r><id>2</id"  # truncated: malformed mid-file
        "<p:r><id>3</id></p:r>"
        "<p:r><id>4</id></p:r>"
        "</root>"
    )
    spec = X.struct("r", {"id": X.nint("id")})

    def read_xml_rows(mode):
        return read_xml(spark, str(d), "r", spec, mode=mode).collect()

    def xspxml_rows(mode):
        return (
            spark.read.format("xspxml")
            .schema("id int, _corrupt_file string")
            .option("rowTag", "r")
            .option("mode", mode)
            .load(str(d))
            .collect()
        )

    for load in (read_xml_rows, xspxml_rows):
        assert sorted(r["id"] for r in load("DROPMALFORMED")) == [1, 3, 4]
        perm = load("PERMISSIVE")
        assert sorted(r["id"] for r in perm if r["_corrupt_file"] is None) == [1, 3, 4]
        triage = [r for r in perm if r["_corrupt_file"] is not None]
        assert len(triage) == 1 and triage[0]["id"] is None
        assert triage[0]["_corrupt_file"].endswith("ns.xml")


def test_udtf_array_extraction_matches_kernel(spark):
    """The SQL table-function surface (sources/udtf.py) must agree with
    the compiled-kernel array path: same children, same order, same typed
    values — including skip-unknown children and null/mismatched docs."""
    from xmlstreamprocessor_spark.plans import X, compile_array_spec
    from xmlstreamprocessor_spark.sources import register_xml_array_udtf

    register_xml_array_udtf(spark, "t_udtf_q", "items", X.ndecimal("q"))
    docs = [
        (1, "<items><q>1.5</q><skipme/><q>2.25</q></items>"),
        (2, "<items><q></q><q>bad</q></items>"),  # empty + unparseable -> null
        (3, "<notitems><q>9</q></notitems>"),  # container mismatch -> no rows
        (4, None),
    ]
    spark.createDataFrame(docs, "id int, doc string").createOrReplaceTempView(
        "t_udtf_docs"
    )
    got = [
        (r["id"], r["value"])
        for r in spark.sql(
            "SELECT d.id, s.value FROM t_udtf_docs d, "
            "LATERAL t_udtf_q(d.doc) s ORDER BY d.id"
        ).collect()
    ]
    compiled = compile_array_spec("items", X.ndecimal("q"))
    want = []
    for i, doc in docs:
        if doc is None:
            continue
        out = compiled.extract_string(doc)
        for v in out or []:
            want.append((i, v))
    assert got == want
    assert [i for i, _ in got] == [1, 1, 2, 2]  # 3 (mismatch) and 4 (null) emit nothing


def test_udtf_struct_inner_with_container_attrs_and_defaults(spark):
    """Struct-inner UDTF rows: attribute slots read the child, missing
    non-null ints default to 0 (Parser.cs:531-536), unknown children are
    skipped — the reference array semantics on the SQL surface."""
    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources import register_xml_array_udtf

    register_xml_array_udtf(
        spark,
        "t_udtf_e",
        "events",
        X.struct("e", {"kind": X.attr("k"), "n": X.int_("n")}),
    )
    spark.createDataFrame(
        [(9, '<events><e k="a"><n>3</n></e><junk/><e k="b"/></events>')],
        "id int, doc string",
    ).createOrReplaceTempView("t_udtf_evs")
    rows = spark.sql(
        "SELECT d.id, s.kind, s.n FROM t_udtf_evs d, LATERAL t_udtf_e(d.doc) s"
    ).collect()
    assert [(r["id"], r["kind"], r["n"]) for r in rows] == [
        (9, "a", 3),
        (9, "b", 0),
    ]


def test_udtf_modes(spark):
    """mode='DROPMALFORMED' drops malformed documents while clean documents
    in the same batch still emit; the default mode='FAILFAST' propagates
    the parse error; PERMISSIVE and unknown modes are refused."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources import register_xml_array_udtf

    docs = [
        (1, "<items><q>1.5</q></items>"),
        (2, "<items><q>2.5</q>"),  # unclosed container: malformed
        (3, "<items><q>3.5</q></items>"),
    ]
    spark.createDataFrame(docs, "id int, doc string").createOrReplaceTempView(
        "t_udtf_err_docs"
    )
    register_xml_array_udtf(
        spark, "t_udtf_skip", "items", X.ndecimal("q"), mode="DROPMALFORMED"
    )
    got = [
        (r["id"], float(r["value"]))
        for r in spark.sql(
            "SELECT d.id, s.value FROM t_udtf_err_docs d, "
            "LATERAL t_udtf_skip(d.doc) s ORDER BY d.id"
        ).collect()
    ]
    assert got == [(1, 1.5), (3, 3.5)]

    register_xml_array_udtf(
        spark, "t_udtf_fail", "items", X.ndecimal("q"), mode="FAILFAST"
    )
    with _pytest.raises((PythonException, Py4JJavaError)):
        spark.sql(
            "SELECT d.id, s.value FROM t_udtf_err_docs d, "
            "LATERAL t_udtf_fail(d.doc) s"
        ).collect()

    with _pytest.raises(ValueError, match="unknown mode"):
        register_xml_array_udtf(
            spark, "t_udtf_bad", "items", X.ndecimal("q"), mode="nope"
        )
    with _pytest.raises(ValueError, match="extract_xml"):
        register_xml_array_udtf(
            spark, "t_udtf_perm", "items", X.ndecimal("q"), mode="PERMISSIVE"
        )


def test_udtf_struct_entry_point_matches_kernel(spark):
    """The CreateParser twin on the SQL surface (register_xml_struct_udtf):
    one record per document with fields as columns; a wildcard/root
    mismatch or a skipped malformed doc emits ZERO rows (the
    table-function representation of 'no record'); missing non-null ints
    default to 0; values equal the compiled-kernel struct path."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources import register_xml_struct_udtf

    spec = X.struct(
        "order", {"oid": X.attr("id"), "n": X.int_("n"), "note": X.string("note")}
    )
    register_xml_struct_udtf(spark, "t_udtf_ord", spec)
    docs = [
        (1, '<order id="a"><n>5</n><note>x</note><junk/></order>'),
        (2, '<order id="b"><note>y</note></order>'),  # missing int -> 0
        (3, "<other><n>9</n></other>"),  # root mismatch -> no rows
        (4, None),
    ]
    spark.createDataFrame(docs, "id int, doc string").createOrReplaceTempView(
        "t_udtf_ord_docs"
    )
    rows = spark.sql(
        "SELECT d.id, s.oid, s.n, s.note FROM t_udtf_ord_docs d, "
        "LATERAL t_udtf_ord(d.doc) s ORDER BY d.id"
    ).collect()
    assert [(r["id"], r["oid"], r["n"], r["note"]) for r in rows] == [
        (1, "a", 5, "x"),
        (2, "b", 0, "y"),
    ]

    # mode='DROPMALFORMED' drops the malformed doc, clean rows survive
    register_xml_struct_udtf(spark, "t_udtf_ord_skip", spec, mode="DROPMALFORMED")
    bad = [(1, '<order id="a"><n>1</n></order>'), (2, "<order id='b'><n>2")]
    spark.createDataFrame(bad, "id int, doc string").createOrReplaceTempView(
        "t_udtf_ord_bad"
    )
    got = spark.sql(
        "SELECT s.oid FROM t_udtf_ord_bad d, LATERAL t_udtf_ord_skip(d.doc) s"
    ).collect()
    assert [r["oid"] for r in got] == ["a"]
    with _pytest.raises((PythonException, Py4JJavaError)):
        spark.sql(
            "SELECT s.oid FROM t_udtf_ord_bad d, LATERAL t_udtf_ord(d.doc) s"
        ).collect()


def test_jvm_hybrid_root_wildcard_and_tag(spark):
    """r7 verdict #2: root-level wildcard patterns and Tag() capture run on
    the from_xml hybrid path with kernel-identical results — including
    prefix+suffix wildcard misses (null row, the Python kernel's None
    record), XML declarations ahead of the root, namespace-prefixed
    roots, and exact-pattern root gating.  Tag() below the root stays
    Python-only (ValueError), and auto dispatch now routes root-wildcard
    specs to the JVM."""
    import pytest as _pytest

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import (
        extract_xml,
        extract_xml_jvm,
    )

    docs = [
        ('<t_click eid="1"><n>10</n></t_click>',),
        ('<t_view eid="2"/>',),
        ("<other/>",),
        ('<?xml version="1.0"?><t_buy eid="3"/>',),
        ('<p:t_ns eid="4" xmlns:p="u"/>',),
    ]
    df = spark.createDataFrame(docs, "doc string")

    for pattern in ("t_*", "*", "t_click", "*_view"):
        spec = X.struct(
            pattern, {"kind": X.tag(), "eid": X.attr("eid"), "n": X.int_("n")}
        )
        py = sorted(
            map(tuple, extract_xml(df, "doc", spec, engine="python").collect()),
            key=str,
        )
        jv = sorted(
            map(tuple, extract_xml_jvm(df, "doc", spec).collect()), key=str
        )
        assert py == jv, f"pattern {pattern!r}: {py} != {jv}"

    # auto dispatch: root-wildcard+Tag spec stays JVM-side (no Python hop)
    spec = X.struct("t_*", {"kind": X.tag(), "eid": X.attr("eid")})
    plan = (
        extract_xml(df, "doc", spec)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InPandas" not in plan

    # Tag() below the root under a PLAINLY-named element is expressible
    # since r9 (the name is statically known -> a literal), kernel-equal
    deep = X.struct(
        "root", {"child": X.struct("c", {"kind": X.tag()})}
    )
    ddf = spark.createDataFrame([("<root><c/></root>",), ("<root/>",)], "doc string")
    assert [
        r.asDict(recursive=True)
        for r in extract_xml_jvm(ddf, "doc", deep).collect()
    ] == [
        r.asDict(recursive=True)
        for r in extract_xml(ddf, "doc", deep, engine="python").collect()
    ]
    # ... but under a WILDCARD-named element the name is data-dependent:
    # not JVM-expressible, so the whole spec raises and auto dispatch
    # falls back to the Python kernel
    wdeep = X.struct(
        "root", {"child": X.struct("c*", {"kind": X.tag()})}
    )
    with _pytest.raises(ValueError, match="wildcard"):
        extract_xml_jvm(df, "doc", wdeep)
    plan2 = (
        extract_xml(df.limit(1), "doc", wdeep)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InPandas" in plan2


def test_jvm_hybrid_prolog_and_failfast(spark):
    """r8 review fixes, pinned: (1) a pre-root comment containing '<word'
    must not hijack the root name (the prolog is stripped before the
    anchored root extract), so Tag()/wildcard gating sees the REAL root;
    (2) the JVM path runs from_xml in FAILFAST mode — a malformed
    document aborts the job instead of fabricating a row with a
    regexp-derived Tag and defaulted fields."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import (
        extract_xml,
        extract_xml_jvm,
    )

    spec = X.struct("t_*", {"kind": X.tag(), "eid": X.attr("eid")})
    docs = [
        ('<!-- made by <gen> tool --><t_click eid="1"/>',),
        ('<?xml version="1.0"?><!--x--><!DOCTYPE t_view><t_view eid="2"/>',),
    ]
    df = spark.createDataFrame(docs, "doc string")
    py = sorted(map(tuple, extract_xml(df, "doc", spec, engine="python").collect()))
    jv = sorted(map(tuple, extract_xml_jvm(df, "doc", spec).collect()))
    assert py == jv == [("t_click", "1"), ("t_view", "2")]

    bad = spark.createDataFrame([('<t_click eid="1"',)], "doc string")
    with _pytest.raises((Py4JJavaError, PythonException, Exception)):
        extract_xml_jvm(bad, "doc", spec).collect()
    # auto dispatch (FAILFAST default) must also raise, matching the
    # Python kernel's contract
    with _pytest.raises((Py4JJavaError, PythonException, Exception)):
        extract_xml(bad, "doc", spec).collect()

def _both_paths(spark, docs, spec):
    from xmlstreamprocessor_spark.sources.xml_batch import (
        extract_xml,
        extract_xml_jvm,
    )

    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    py = [
        r.asDict(recursive=True)
        for r in extract_xml(df, "doc", spec, engine="python").collect()
    ]
    jv = [
        r.asDict(recursive=True)
        for r in extract_xml_jvm(df, "doc", spec).collect()
    ]
    assert py == jv, f"kernel/JVM divergence:\n py={py}\njvm={jv}"
    return py


def test_jvm_first_occurrence_wins_parity(spark):
    """r9 fix: from_xml natively keeps the LAST occurrence of a repeated
    tag; the reference keeps the FIRST (Parser.cs:224-228).  Every field
    is now captured as array<...> and projected to element 0, so repeated
    scalars, repeated nested structs, and repeated array containers all
    match the Python kernel on the pure-JVM path."""
    from xmlstreamprocessor_spark.plans import X

    spec = X.struct(
        "r",
        {
            "i": X.int_("i"),
            "s": X.string("s"),
            "sub": X.struct("sub", {"n": X.nint("n")}),
            "qs": X.array("qs", X.nint("q")),
        },
    )
    rows = _both_paths(
        spark,
        [
            "<r><i>1</i><i>2</i><s>first</s><s>second</s>"
            "<sub><n>10</n></sub><sub><n>20</n></sub>"
            "<qs><q>1</q></qs><qs><q>9</q></qs></r>",
            "<r><s>  padded  </s><i>4</i></r>",  # no trim (Parser.cs:34-56)
        ],
        spec,
    )
    assert rows[0]["i"] == 1 and rows[0]["s"] == "first"
    assert rows[0]["sub"] == {"n": 10} and rows[0]["qs"] == [1]
    assert rows[1]["s"] == "  padded  "


def test_jvm_hybrid_mixed_content_strings(spark):
    """Element strings on the JVM path: text-only values (entities,
    surrounding whitespace, missing elements) stay kernel-identical, but
    captured markup raises rather than guessing between mixed content
    (Parser.cs:44-49) and text that escaped '<'."""
    import pytest as _pytest

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.xml_batch import extract_xml_jvm

    spec = X.struct("r", {"s": X.string("s"), "i": X.nint("i")})
    rows = _both_paths(
        spark,
        [
            "<r><s>plain &amp; text</s><i>3</i></r>",
            "<r><s> keep  spaces </s></r>",
            "<r><i>2</i></r>",
        ],
        spec,
    )
    assert rows[0]["s"] == "plain & text"
    # captured markup on the JVM string path raises, never guesses
    df = spark.createDataFrame([("<r><s>a <b/> c</s></r>",)], "doc string")
    with _pytest.raises(Exception, match="mixed content"):
        extract_xml_jvm(df, "doc", spec).collect()


def test_jvm_hybrid_adversarial_prolog_fuzz(spark):
    """r8 verdict #8: property-style sweep comparing both execution paths
    on adversarially-prologued documents — pre-root comments containing
    '<word' tokens, XML declarations, DOCTYPE variants, Unicode tag
    names, and namespace-prefixed attributes — through a root-wildcard
    Tag() spec.  Any divergence (including the prolog hijacking the root
    name) fails."""
    from xmlstreamprocessor_spark.plans import X

    prologs = [
        "",
        '<?xml version="1.0" encoding="UTF-8"?>',
        "<!-- <fake eid='9'> <t_bogus/> -->",
        "<!DOCTYPE t_click>",
        '<?xml version="1.0"?><!-- x < y --><!DOCTYPE t_view><!-- <z> -->',
        "  <!-- lead space --> ",
    ]
    bodies = [
        '<t_click eid="1"><n>10</n><meta><m_a><v>1</v></m_a><m_b/></meta></t_click>',
        '<t_view eid="2"><meta/></t_view>',
        "<other><n>3</n></other>",
        '<résumé eid="5"><n>6</n></résumé>',
        '<t_ns p:eid="7" xmlns:p="u"><n>8</n></t_ns>',  # prefixed ATTR
    ]
    docs = [p + b for p in prologs for b in bodies]
    root_spec = X.struct(
        "t_*", {"kind": X.tag(), "eid": X.attr("eid"), "n": X.int_("n")}
    )
    _both_paths(spark, docs, root_spec)


def test_udtf_struct_failfast_and_dropmalformed(spark):
    """The struct UDTF's modes: FAILFAST propagates a malformed document,
    DROPMALFORMED drops it, PERMISSIVE is refused."""
    import pytest as _pytest

    from xmlstreamprocessor_spark.plans import X
    from xmlstreamprocessor_spark.sources.udtf import register_xml_struct_udtf

    spec = X.struct(
        "order",
        {
            "oid": X.attr("id"),
            "prio": X.string("prio"),
            "total": X.ndecimal("total"),
            "odate": X.ndate("odate"),
            "n": X.int_("n"),
        },
    )
    register_xml_struct_udtf(spark, "u_par_fail", spec)
    bad = spark.createDataFrame([('<order id="1"',)], "doc string")
    bad.createOrReplaceTempView("u_parity_bad")
    with _pytest.raises(Exception):
        spark.sql("SELECT s.* FROM u_parity_bad d, LATERAL u_par_fail(d.doc) s").collect()
    register_xml_struct_udtf(spark, "u_par_skip", spec, mode="DROPMALFORMED")
    assert (
        spark.sql(
            "SELECT s.* FROM u_parity_bad d, LATERAL u_par_skip(d.doc) s"
        ).count()
        == 0
    )
    with _pytest.raises(ValueError, match="extract_xml"):
        register_xml_struct_udtf(spark, "u_par_perm", spec, mode="PERMISSIVE")


def test_xspxml_registered_queries(spark):
    """The two driver-registered DataSource round-trip queries (r9 verdict
    #1) reproduce a direct projection of the parquet table — the pytest
    face of the oracle gate, plus the partition-pruning evidence the
    registered pruned query relies on (the reader's file list shrinks to
    the filtered years BEFORE any task launches)."""
    from pyspark.sql import functions as F

    from xmlstreamprocessor_spark import catalog
    from xmlstreamprocessor_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    o = catalog.load(spark, sf, "orders")

    rt = REGISTRY["xspxml_roundtrip_orders"][0](spark, sf)
    got = {
        (r["order_id"], r["cust_id"], r["status"], r["total"])
        for r in rt.collect()
    }
    exp = {
        (r[0], r[1], r[2], r[3])
        for r in o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2),
        ).collect()
    }
    assert got == exp

    pr = REGISTRY["xspxml_partition_pruned_read"][0](spark, sf)
    got2 = {tuple(r) for r in pr.collect()}
    exp2 = {
        tuple(r)
        for r in o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents_sum"),
        )
        .collect()
    }
    assert got2 == exp2


def test_xspxml_writer_edge_values_roundtrip(spark, tmp_path):
    """Value-edge contract of the xspxml writer/reader pair: empty string
    round-trips as '' (an empty element is NOT a missing element), markup
    characters escape, unicode and padding survive, None omits the tag and
    reads back null — and a C0 control character (unrepresentable in
    XML 1.0) fails AT WRITE TIME with the tag named, instead of producing
    a file the reader rejects later."""
    import pytest

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    out = tmp_path / "edge"
    df = spark.createDataFrame(
        [(1, ""), (2, "a<b&c>d"), (3, None), (4, "  pad  "), (5, "unié中")],
        "id bigint, txt string",
    )
    df.coalesce(1).write.format("xspxml").mode("overwrite").save(str(out))
    back = (
        spark.read.format("xspxml")
        .schema("id bigint, txt string")
        .option("rowTag", "row")
        .load(str(out))
    )
    assert sorted((r["id"], r["txt"]) for r in back.collect()) == [
        (1, ""), (2, "a<b&c>d"), (3, None), (4, "  pad  "), (5, "unié中"),
    ]
    with pytest.raises(Exception, match="U\\+0001"):
        spark.createDataFrame(
            [(9, "bad\x01char")], "id bigint, txt string"
        ).coalesce(1).write.format("xspxml").mode("overwrite").save(
            str(tmp_path / "ctrl")
        )
    # non-characters and lone surrogates are outside XML 1.0's Char
    # production too (§2.2) — also rejected at write time (r10 advice)
    with pytest.raises(Exception, match="U\\+FFFE"):
        spark.createDataFrame(
            [(10, "bad\ufffechar")], "id bigint, txt string"
        ).coalesce(1).write.format("xspxml").mode("overwrite").save(
            str(tmp_path / "nonchar")
        )
    from xmlstreamprocessor_spark.sources.datasource import _XML_ILLEGAL

    assert _XML_ILLEGAL.search("\uffff") and _XML_ILLEGAL.search("\ud800")
    assert not _XML_ILLEGAL.search("ok \t\n text \ufffd")


def test_xspxml_timestamp_paths_agree(spark, tmp_path):
    """Offset-less timestamp text reads as UTC, the engine's session zone,
    in every mode (FAILFAST and PERMISSIVE rows take different paths
    through the file core)."""
    from pyspark.sql import functions as F

    from xmlstreamprocessor_spark.sources.datasource import register_xml_source

    register_xml_source(spark)
    (tmp_path / "f.xml").write_text(
        "<rows><row><id>1</id><ts>1996-01-02T00:00:00</ts></row></rows>\n"
    )
    got = {}
    for mode in ("FAILFAST", "PERMISSIVE"):
        r = (
            spark.read.format("xspxml")
            .schema("id bigint, ts timestamp")
            .option("rowTag", "row")
            .option("mode", mode)
            .load(str(tmp_path))
        )
        got[mode] = r.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
        ).collect()[0][0]
    assert got["FAILFAST"] == got["PERMISSIVE"] == "1996-01-02 00:00:00"


def test_read_xml_and_xspxml_agree_on_offset_aware_timestamps(spark, tmp_path):
    """A custom field's offset-aware datetime is one instant on both file
    surfaces: 12:00+05:00 reads back as 07:00 UTC through ``read_xml`` and
    through the ``xspxml`` source, at the top level and inside a struct
    and an array.  The converter ships to the workers as a module
    (``addPyFile``), since a ``specPickle`` spec pickles it by
    reference."""
    import importlib
    import sys

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from xmlstreamprocessor_spark.sources.datasource import (
        register_xml_source,
        spec_option,
    )

    mod_dir, data = tmp_path / "mod", tmp_path / "data"
    mod_dir.mkdir()
    data.mkdir()
    (mod_dir / "xsp_aware_ts.py").write_text(
        "import datetime\n\n\n"
        "def parse(elem):\n"
        "    return datetime.datetime.fromisoformat(elem.text)\n"
    )
    aware = "<t>2020-01-01T12:00:00+05:00</t>"
    (data / "f.xml").write_text(
        f"<rows><r>{aware}<s>{aware}</s><a>{aware}{aware}</a></r></rows>"
    )
    spark.sparkContext.addPyFile(str(mod_dir / "xsp_aware_ts.py"))
    sys.path.insert(0, str(mod_dir))
    try:
        parse = importlib.import_module("xsp_aware_ts").parse
        ts = X.custom("t", parse, T.TimestampType())
        spec = X.struct(
            "r", {"t": ts, "s": X.struct("s", {"t": ts}), "a": X.array("a", ts)}
        )
        register_xml_source(spark)
        via_source = (
            spark.read.format("xspxml")
            .schema("t timestamp, s struct<t: timestamp>, a array<timestamp>")
            .option("rowTag", "r")
            .option("specPickle", spec_option(spec))
            .load(str(data))
        )
        via_read_xml = read_xml(spark, str(data), "r", spec)
        got = [
            tuple(
                df.select(
                    F.unix_seconds("t"),
                    F.unix_seconds("s.t"),
                    F.transform("a", F.unix_seconds),
                ).collect()[0]
            )
            for df in (via_read_xml, via_source)
        ]
    finally:
        sys.path.remove(str(mod_dir))
        sys.modules.pop("xsp_aware_ts", None)
    seven = 1577862000  # 2020-01-01T07:00:00Z
    assert got == [(seven, seven, [seven, seven])] * 2


# every Python worker of a get_session session forks from the engine's
# daemon, which installs the zipimport guard before forking


def test_worker_daemon_guards_plain_python_functions(spark):
    """A ``mapInPandas`` function that never touches the engine runs in a
    worker forked from ``get_session``'s daemon, guard installed."""
    from xmlstreamprocessor_spark.session import DAEMON_MODULE

    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        main = getattr(sys.modules["__main__"].__spec__, "name", None)
        guarded = getattr(
            zipimport.zipimporter.invalidate_caches, "_stamp_guarded", False
        )
        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf["id"], "guarded": guarded, "daemon": main}
            )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "id long, guarded boolean, daemon string")
        .collect()
    )
    assert sorted(r["id"] for r in rows) == list(range(8))
    assert {(r["guarded"], r["daemon"]) for r in rows} == {(True, DAEMON_MODULE)}


def test_workers_talk_to_the_jvm_over_a_unix_domain_socket(spark):
    """``get_session`` sets PySpark's static Unix-domain-socket conf where
    the platform has ``AF_UNIX``, and a one-task ``mapInPandas`` job runs
    in a worker started in that mode and returns its rows."""
    import socket

    if not hasattr(socket, "AF_UNIX"):
        pytest.skip("no AF_UNIX on this platform")
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"

    def probe(batches):
        import os

        import pandas as pd

        # the daemon reads the mode from this variable, as PySpark does
        mode = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false").lower()
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "uds": mode})

    rows = (
        spark.range(0, 5, numPartitions=1)
        .mapInPandas(probe, "id long, uds string")
        .collect()
    )
    assert sorted(r["id"] for r in rows) == list(range(5))
    assert {r["uds"] for r in rows} == {"true"}


def test_read_xml_runs_guarded_in_the_worker(spark, tmp_path):
    """``read_xml``'s partition function calls no setup of its own: a
    custom field, evaluated by the kernel inside the worker, sees the
    daemon's guard."""
    from pyspark.sql import types as T

    def guarded(_elem) -> bool:
        import zipimport

        return getattr(
            zipimport.zipimporter.invalidate_caches, "_stamp_guarded", False
        )

    for i in range(2):
        (tmp_path / f"f{i}.xml").write_text(
            f"<docs><rec><n>{i}</n><g/></rec><rec><n>{i + 10}</n><g/></rec></docs>"
        )
    spec = X.struct(
        "rec",
        {"n": X.nint("n"), "guarded": X.custom("g", guarded, T.BooleanType())},
    )
    rows = read_xml(spark, str(tmp_path), "rec", spec).collect()
    assert sorted(r["n"] for r in rows) == [0, 1, 10, 11]
    assert {r["guarded"] for r in rows} == {True}
