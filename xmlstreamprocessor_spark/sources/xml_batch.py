"""Distributed XML extraction.

The reference's execution loop (Parser.cs:119-208) is a single-threaded
forward-only pass over one ``XmlReader``.  The Spark-native equivalent keeps
the same bounded-memory contract *per task* but scales out:

* ``extract_xml(df, col, spec)`` — one XML document per row; Arrow-batched
  ``mapInPandas`` applies the compiled spec.  Python is unavoidable here (the
  wildcard/Tag()/mixed-content semantics are beyond ``from_xml``), so the hop
  is paid once, vectorized, per batch — never per field.
* ``read_xml(spark, path, row_tag, spec)`` — files -> records.  Each task
  streams its files with ``iterparse`` and ``elem.clear()`` after every
  emitted record, and hands Spark a frame every
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` records, so memory is
  O(record) plus one output batch, not O(file) — the same contract as the
  reference's ``reader.Skip()`` pruning (Parser.cs:194-202).  ``stream_xml``
  runs the same partition function over the streaming ``binaryFile`` source.

Every surface drives one record loop, ``_iter_rows``, which yields the
generated row function's tuples; output frames are built column-wise from
those tuples, with no per-record dict.  Every file surface (``read_xml``,
``stream_xml`` and the ``xspxml`` source) reads files through one core,
``_row_batches``: it parses each file with ``_file_rows``, settles
malformed records into triage rows or drops them, and batches the rows.
The carriers only turn its batches into pandas frames (``_file_frames``)
or Arrow record batches (``XmlSourceReader.read``).
"""

from __future__ import annotations

import contextlib
import functools
import gc
import io
import itertools
import re
import sys
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterable, Iterator
from typing import BinaryIO

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xmlstreamprocessor_spark.plans.spec import (
    CompiledSpec,
    Struct,
    compile_spec,
    match_pattern,
)


def _ensure_compiled(spec) -> CompiledSpec:
    if isinstance(spec, Struct):
        return compile_spec(spec)
    if isinstance(spec, CompiledSpec):
        return spec
    raise TypeError("spec must be X.struct(...) or a CompiledSpec")


@contextlib.contextmanager
def _gc_deferred() -> Iterator[None]:
    """Hold the cyclic garbage collector off while a batch fills.  Parsed
    elements and the kernel's rows hold no reference cycles, so the
    collections a fill would trigger only re-scan live objects (a fifth of
    a files_hetero task's CPU time, measured); the one deferred collection
    runs after the batch is handed over."""
    if not gc.isenabled():
        yield
        return
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def extract_xml_records(xml_docs: Iterable[str], spec) -> list[dict]:
    """Local (single-process) extraction — the per-task kernel, exposed for
    tests and for parity with ``ParserTool.CreateParser`` usage."""
    compiled = _ensure_compiled(spec)
    out = []
    for doc in xml_docs:
        rec = compiled.extract_string(doc)
        if rec is not None:
            out.append(rec)
    return out


# what _iter_rows(..., mark_skipped=True) yields for a record the spec's
# root pattern skips
_SKIPPED = object()


def _iter_rows(
    source, row_tag: str, compiled: CompiledSpec, mark_skipped: bool = False
) -> Iterator[tuple]:
    """The record loop: stream the elements matching ``row_tag`` out of one
    XML source (end events only, ``clear()`` after each record) and yield
    the generated row function's tuple for each one whose tag
    also matches the spec's root pattern (``_SKIPPED`` for each one that
    does not, when ``mark_skipped``).

    The namespace mode comes from ``compiled`` (fixed in its generated
    code), never from module state, so interleaved readers with different
    modes stay independent."""
    row = compiled.kernel()
    strict = compiled.strict_ns
    root = compiled.root.pattern
    every = root == "*" or root == row_tag
    if "*" in row_tag or (not strict and "}" in row_tag):

        def is_row(t: str) -> bool:
            return match_pattern(row_tag, t if strict else t.rsplit("}", 1)[-1])

    else:
        is_row = None
    for _, elem in ET.iterparse(source, events=("end",)):
        t = elem.tag
        if is_row is None:
            # plain row tag: one string compare for every closing tag; a
            # namespaced tag matches on its local name unless strict
            if t != row_tag and (
                strict or "}" not in t or t.rsplit("}", 1)[-1] != row_tag
            ):
                continue
        elif not is_row(t):
            continue
        if every or compiled.matches(t):
            yield row(elem)
        elif mark_skipped:
            yield _SKIPPED
        elem.clear()


def _file_rows(
    fh, row_tag: str, compiled: CompiledSpec, mode: str
) -> Iterator[tuple | None]:
    """Every file surface's record loop over one seekable binary file.

    FAILFAST is ``_iter_rows`` itself: the first parse or cast error
    propagates.  PERMISSIVE and DROPMALFORMED stream the same way until
    the first error, then resync per record: the file is re-scanned for
    row-tag start offsets (spark-xml's ``XmlInputFormat`` rule, a record
    starts at a row-tag token) and each ``[start_i, start_{i+1})`` slice is
    parsed on its own, behind the bytes before the first record (prolog,
    root start tag), so the declared encoding and the root's namespace
    bindings apply to every slice.  The records streamed before the error
    are not repeated; each malformed record after them yields one
    ``None`` marker, which the caller turns into a triage row or drops.
    A slice is judged by whether its record parsed, so a well-formed
    record that the spec's root pattern skips is not malformed.
    An error that no record slice reproduces (a broken tail after the
    last record, say) still yields one marker, so a malformed file is
    never passed off as clean.  Memory stays O(record): slices are
    seek-read one at a time."""
    if mode == "FAILFAST":
        return _iter_rows(fh, row_tag, compiled)
    return _resynced_rows(fh, row_tag, compiled)


def _resynced_rows(fh, row_tag: str, compiled: CompiledSpec) -> Iterator[tuple | None]:
    # records are counted whether or not the spec's root pattern keeps
    # them: a slice is good when its record parsed, and the first n_ok
    # good slices were streamed before the error
    n_ok = 0
    try:
        for row in _iter_rows(fh, row_tag, compiled, mark_skipped=True):
            n_ok += 1
            if row is not _SKIPPED:
                yield row
        return
    except Exception:  # noqa: BLE001 — malformed XML or a failing cast
        pass
    starts = _scan_row_tag_offsets(fh, row_tag)
    size = fh.seek(0, io.SEEK_END)
    fh.seek(0)
    head = fh.read(starts[0]) if starts else b""
    ok = marked = 0
    for off, end in zip(starts, starts[1:] + [size]):
        fh.seek(off)
        slice_ = io.BytesIO(head + fh.read(end - off))
        try:
            row = next(_iter_rows(slice_, row_tag, compiled, mark_skipped=True))
        except Exception:  # noqa: BLE001 — StopIteration too: no record
            if ok >= n_ok:
                marked += 1
                yield None
            continue
        ok += 1
        if ok > n_ok and row is not _SKIPPED:
            yield row
    if not marked:
        yield None


def _scan_row_tag_offsets(fh, row_tag: str, chunk_size: int = 1 << 20) -> list[int]:
    """Absolute byte offsets of row-tag start tokens in the binary file
    ``fh`` (read from its start), found with a CHUNKED scan (memory is
    O(chunk_size), never O(file)) that tracks ``<!--...-->`` and
    ``<![CDATA[...]]>`` spans across chunk boundaries so tokens inside
    them are not reported — those are exactly the false resync points a
    raw regex over the whole file would hit.

    Decisions are only made up to ``len(buf) - overlap`` until EOF, so a
    token or row-tag match straddling a chunk boundary is always seen whole
    on the next pass (overlap bounds the namespace-prefix length, as any
    scanner without unbounded lookbehind must).

    The token is matched on the row tag's local name, under any prefix:
    raw bytes carry prefixes, not the URI of a Clark-notation
    ``{uri}name`` tag, and a wildcard ``pre*post`` matches as
    ``match_pattern`` does.  The parse of each slice decides the rest."""
    local = row_tag.rsplit("}", 1)[-1]
    if "*" in local:
        pre, _, post = local.partition("*")
        name = (
            rb"(?=[A-Za-z_])"
            + re.escape(pre.encode())
            + rb"[\w.-]*"
            + re.escape(post.encode())
        )
    else:
        name = re.escape(local.encode())
    pat = re.compile(rb"<(?:[A-Za-z_][\w.-]*:)?" + name + rb"[\s/>]")
    overlap = max(len(row_tag.encode()) + 96, 128)
    offsets: list[int] = []
    buf = b""
    base = 0  # absolute file offset of buf[0]
    state = 0  # 0 = markup, 1 = inside comment, 2 = inside CDATA
    fh.seek(0)
    eof = False
    while not (eof and not buf):
        if not eof:
            block = fh.read(chunk_size)
            if block:
                buf += block
            else:
                eof = True
        limit = len(buf) if eof else max(0, len(buf) - overlap)
        p = 0
        while p < limit:
            if state == 1:  # scan for comment close
                q = buf.find(b"-->", p)
                if q == -1 or q >= limit:
                    p = limit
                else:
                    state, p = 0, q + 3
            elif state == 2:  # scan for CDATA close
                q = buf.find(b"]]>", p)
                if q == -1 or q >= limit:
                    p = limit
                else:
                    state, p = 0, q + 3
            else:
                c = buf.find(b"<!--", p)
                d = buf.find(b"<![CDATA[", p)
                m = pat.search(buf, p)
                nxt = min(
                    (x for x in (c, d, m.start() if m else -1) if x != -1),
                    default=-1,
                )
                if nxt == -1 or nxt >= limit:
                    p = limit
                elif nxt == c:
                    state, p = 1, c + 4
                elif nxt == d:
                    state, p = 2, d + 9
                else:
                    offsets.append(base + nxt)
                    p = nxt + 1
        buf = buf[limit:]
        base += limit
        if eof and limit == 0:
            break
    return offsets


def iterparse_records(source, row_tag: str, compiled: CompiledSpec) -> Iterator[dict]:
    """Stream record elements matching ``row_tag`` out of one XML source with
    bounded memory (iterparse + clear), emitting extracted dicts."""
    names = compiled.names
    return (dict(zip(names, row)) for row in _iter_rows(source, row_tag, compiled))


def _frame(schema: T.StructType, rows: list[tuple]) -> pd.DataFrame:
    """Column-wise pandas frame from row tuples (one C-level transpose).
    Decimal columns skip pandas' per-value type inference, which would
    leave them object-typed anyway."""
    cols = zip(*rows) if rows else ([] for _ in schema.fields)
    return pd.DataFrame(
        {
            f.name: pd.Series(c, dtype=object)
            if isinstance(f.dataType, T.DecimalType)
            else list(c)
            for f, c in zip(schema.fields, cols)
        }
    )


# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch, also the
# batch size of the xspxml source, whose reader has no session conf at hand
MAX_RECORDS_PER_BATCH = 10000


def _arrow_batch_rows(spark: SparkSession) -> int:
    """Records per output frame: Spark's own Arrow batch size (<= 0 means
    unbounded, as in Spark)."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    n = int(spark.conf.get(conf, str(MAX_RECORDS_PER_BATCH)))
    return n if n > 0 else sys.maxsize


def _row_batches(
    files: Iterable[tuple[str, BinaryIO]],
    row_tag: str,
    compiled: CompiledSpec,
    mode: str,
    batch_rows: int,
    emit: Callable[[list[tuple]], object],
    corrupt_at: int | None = None,
    fix: Callable[[tuple], tuple] | None = None,
) -> Iterator:
    """The core every file surface reads through: each ``(path, binary
    file)`` is read by ``_file_rows``, each row rewritten by ``fix`` if
    given, and the rows gathered in lists of at most ``batch_rows`` across
    files, with GC deferred; each list is dropped once ``emit`` has turned
    it into the batch yielded.  FAILFAST without a ``fix`` runs nothing per
    row.  A malformed record (a marker, or a row whose ``fix`` raises)
    fails FAILFAST, is dropped by DROPMALFORMED, and becomes one PERMISSIVE
    triage row, null but for the file's path at ``corrupt_at``; at the
    spec's width, that column is appended (null in data rows)."""
    width = len(compiled.names)
    pad = (None,) if mode == "PERMISSIVE" and corrupt_at == width else ()

    def triaged(it: Iterator[tuple | None], path: str) -> Iterator[tuple]:
        n = width + len(pad)
        triage = tuple(path if i == corrupt_at else None for i in range(n))
        for row in it:
            if row is not None and fix is not None:
                try:
                    row = fix(row)
                except Exception:  # noqa: BLE001 — a failing column fix
                    row = None
            if row is not None:
                yield row + pad
            elif mode == "PERMISSIVE":
                yield triage

    rows: list[tuple] = []
    for path, fh in files:
        it = _file_rows(fh, row_tag, compiled, mode)
        if mode != "FAILFAST":
            it = triaged(it, path)
        elif fix is not None:
            it = map(fix, it)
        while True:
            n = len(rows)
            with _gc_deferred():
                rows.extend(itertools.islice(it, batch_rows - n))
            if len(rows) < batch_rows:
                break
            batch, rows = emit(rows), []
            yield batch
    if rows:
        yield emit(rows)


def _file_schema(compiled: CompiledSpec, mode: str):
    """The file surfaces' output schema: under PERMISSIVE the spec's
    fields, widened to nullable (a triage row is null in each), then
    ``_corrupt_file``; otherwise the spec's schema."""
    if mode != "PERMISSIVE":
        return compiled.schema
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in compiled.schema.fields]
        + [T.StructField("_corrupt_file", T.StringType(), True)]
    )


def _file_frames(
    row_tag: str,
    compiled: CompiledSpec,
    batch_rows: int,
    mode: str = "FAILFAST",
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` function shared by ``read_xml`` and
    ``stream_xml``: (path, content) file batches in, one frame per
    ``_row_batches`` batch out, the triage column appended last."""
    emit = functools.partial(_frame, _file_schema(compiled, mode))
    corrupt_at = len(compiled.names)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        files = (
            (fpath, io.BytesIO(content))
            for pdf in batches
            for fpath, content in zip(pdf["path"], pdf["content"])
        )
        return _row_batches(
            files, row_tag, compiled, mode, batch_rows, emit, corrupt_at
        )

    return run


def _read_files(files_df: DataFrame, row_tag: str, spec, mode: str) -> DataFrame:
    """``read_xml`` and ``stream_xml`` past their ``binaryFile`` frame:
    (path, content) rows in, one row per ``row_tag`` record out under
    ``mode``, in frames of Spark's Arrow batch size."""
    if mode not in ("FAILFAST", "PERMISSIVE", "DROPMALFORMED"):
        raise ValueError(f"unknown mode {mode!r}")
    compiled = _ensure_compiled(spec)
    batch_rows = _arrow_batch_rows(files_df.sparkSession)
    run = _file_frames(row_tag, compiled, batch_rows, mode)
    return files_df.mapInPandas(run, _file_schema(compiled, mode))


def _jvm_safe(compiled: CompiledSpec) -> bool:
    """True when the from_xml fast path is SEMANTICALLY identical for this
    spec: expressible (no wildcard/tag/custom/expressions — extract_xml_jvm
    checks that) AND no element-string slots, because string fields are the
    one place the kernels can diverge (the reference folds mixed content —
    child elements — back into the string, Parser.cs:44-49; from_xml does
    not), AND no timestamp slots — valid formats now parse identically on
    both paths (the try_to_timestamp chain mirrors _DATE_FORMATS), but
    INVALID date text nulls on the JVM path where the kernel raises
    (DateTimeParser throws, Parser.cs:56-67), so auto-dispatch stays
    conservative; call extract_xml_jvm explicitly to accept null-on-bad."""
    from pyspark.sql import types as T

    from xmlstreamprocessor_spark.plans.spec import Arr, Struct, _StringSlot

    if getattr(compiled, "strict_ns", False):
        # the JVM path strips namespaces before parsing — strict Clark-name
        # matching only exists in the Python kernel
        return False

    def bad_slot(f) -> bool:
        if isinstance(f, _StringSlot):
            return True
        return hasattr(f, "dtype") and isinstance(f.dtype(), T.TimestampType)

    def ok(struct: Struct) -> bool:
        for f in struct.fields.values():
            if bad_slot(f):
                return False
            if isinstance(f, Struct) and not ok(f):
                return False
            if isinstance(f, Arr):
                if bad_slot(f.inner):
                    return False
                if isinstance(f.inner, Struct) and not ok(f.inner):
                    return False
        return True

    return ok(compiled.root)


def extract_xml(
    df: DataFrame,
    col: str,
    spec,
    engine: str = "auto",
    mode: str = "FAILFAST",
) -> DataFrame:
    """One XML document per input row -> one output row of extracted fields.

    ``engine``:
    * ``"auto"`` (default) — use the JVM ``from_xml`` fast path when the
      spec is expressible there AND has no element-string fields (strings
      are where the kernels can diverge on mixed content); otherwise the
      Python kernel.
    * ``"python"`` — always the Python kernel.
    To force the JVM path, call :func:`extract_xml_jvm`.

    ``mode`` (the standard Spark reader triple):
    * ``"FAILFAST"`` (default) — any malformed document or failing typed
      cast aborts the job, matching the reference's throw-on-bad-input
      semantics (Parser.cs:119-208).
    * ``"PERMISSIVE"`` — a bad document yields a row of nulls with the raw
      document preserved in ``_corrupt_record``.  At 100 TB this is the mode
      that keeps one rotten record in a billion from killing a
      1000-executor job; the corrupt rows stay queryable for triage.
    * ``"DROPMALFORMED"`` — bad documents are silently dropped.
    Non-FAILFAST modes always run the Python kernel: the per-document
    try/except IS the feature, and the reference's typed-cast errors
    (ExtractionError) must be caught per record, which from_xml cannot do.

    The Python kernel's throughput scales with partitions, not bytes: a thin
    input (one small parquet file = one partition) would run the whole batch
    on one core, so inputs narrower than the cluster's default parallelism
    are repartitioned first — one extra round-robin shuffle of the raw
    strings buys full fan-out for the CPU-bound parse.  Inputs that are
    already wide (any real 100 TB scan) pass through untouched."""
    if mode not in ("FAILFAST", "PERMISSIVE", "DROPMALFORMED"):
        raise ValueError(f"unknown mode {mode!r}")
    if engine not in ("auto", "python"):
        raise ValueError(f"unknown engine {engine!r}")
    compiled = _ensure_compiled(spec)
    if mode == "FAILFAST":
        if engine == "auto" and _jvm_safe(compiled):
            try:
                return extract_xml_jvm(df, col, compiled)
            except ValueError:
                pass  # not expressible on the fast path -> python kernel
    schema = compiled.schema

    # a root-pattern MISMATCH yields a None record -> a row null in EVERY
    # data field (and PERMISSIVE corrupt rows do the same), so non-nullable
    # spec fields (e.g. X.int_ with its 0-default) must widen to nullable —
    # the JVM path's outputs are nullable for the identical reason
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
    )
    if mode == "PERMISSIVE":
        out_schema = T.StructType(
            out_schema.fields
            + [T.StructField("_corrupt_record", T.StringType(), True)]
        )

    # batch only: fan small inputs out to every core before the Python
    # kernel.  Streaming frames expose no .rdd (and their parallelism is
    # the source's partitioning — Kafka topic partitions / file splits).
    if not df.isStreaming:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)

    null_row = (None,) * len(schema.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            corrupt: list[str | None] = []
            with _gc_deferred():
                for x in pdf[col]:
                    try:
                        row = compiled.extract_row(ET.fromstring(x))
                    except Exception:
                        if mode == "FAILFAST":
                            raise
                        if mode == "PERMISSIVE":
                            rows.append(null_row)
                            corrupt.append(x)
                        continue  # DROPMALFORMED: emit nothing
                    rows.append(null_row if row is None else row)
                    if mode == "PERMISSIVE":
                        corrupt.append(None)
            out = _frame(schema, rows)
            if mode == "PERMISSIVE":
                out["_corrupt_record"] = corrupt
            yield out

    return df.mapInPandas(run, schema=out_schema)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    spec,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Read XML files under ``path``, emitting one row per ``row_tag``
    element.  A file is never split: ``binaryFile`` packs whole files into
    tasks by size (``spark.sql.files.maxPartitionBytes`` and
    ``openCostInBytes``), so a directory of 16 small files runs as a few
    multi-file tasks, and one large file runs on one core.

    ``mode``: ``FAILFAST`` (default — a malformed file aborts the job, the
    reference's semantics), ``PERMISSIVE`` (every well-formed record is
    kept, before and after a bad one — the reader resyncs at the next
    row-tag start — and each malformed record becomes one null row whose
    ``_corrupt_file`` column holds the file's path for triage), or
    ``DROPMALFORMED`` (the same records, malformed ones dropped).
    ``stream_xml`` and the ``xspxml`` source read files through the same
    loop, so all three return the same rows."""
    files_df = spark.read.format("binaryFile").load(path).select("path", "content")
    return _read_files(files_df, row_tag, spec, mode)


# ---------------------------------------------------------------------------
# JVM fast path: from_xml for specs the built-in source can express
# ---------------------------------------------------------------------------


def extract_xml_jvm(df: DataFrame, col: str, spec) -> DataFrame:
    """Extract with Spark's built-in ``from_xml``: the whole extraction runs
    JVM-side, so it whole-stage-codegens with the surrounding plan, or the
    call raises ``ValueError`` — there is no partly-Python route.

    Expressible specs: ``X.struct`` of typed scalar elements, attributes,
    nested structs (any depth), ``Tag()`` under any plainly-named element
    (the name is statically known -> a literal), arrays of scalars, and
    arrays of plainly-named structs.  Every element field is captured as
    ``array<string>`` and projected to its FIRST entry, reproducing the
    reference's first-occurrence-wins rule for repeated tags
    (Parser.cs:224-228).  Typed casts run as explicit post-parse chains
    with the kernel's exact null/raise contract (int raise-on-bad, decimal
    null-on-bad, the multi-format timestamp chain).  Missing-tag defaults
    (``X.int_`` -> 0) are applied with ``coalesce`` after parsing
    (ParserData.Get, Parser.cs:531-536).

    ROOT-level wildcard patterns and ``Tag()`` capture are pure string
    algebra: the root NAME is one anchored regexp, and a non-matching root
    yields the kernel's all-null row.

    Element-string fields keep the JVM value (whitespace preserved, entity
    references resolved), which is kernel-identical for text-only content.
    A captured ``<`` (mixed content, or text that escaped markup — the two
    are indistinguishable after parsing) raises rather than guessing; the
    Python kernel (``extract_xml``) folds mixed content as the reference
    does (Parser.cs:44-49).

    Wildcard-named fields, wildcard nested structs/containers, ``Tag()``
    under a wildcard element, custom parsers, expression projections and
    two fields reading the same tag are Python-kernel-only: they raise
    ``ValueError``, which ``extract_xml``'s auto dispatch catches to run
    the kernel instead.

    Element prefixes (``<p:b>``) are removed JVM-side before parsing,
    matching the reference's namespace-ignorant LocalName matching
    (Parser.cs:133, 166); ``from_xml`` would otherwise key the field on the
    prefixed name and the column would silently null.  Prefixed
    *attributes* are left as-is (rare; the Python kernel handles those)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from xmlstreamprocessor_spark.plans.spec import (
        Arr,
        _AttrSlot,
        _CustomSlot,
        _ScalarSlot,
        _StringSlot,
        _TagSlot,
        Struct,
    )

    if isinstance(spec, CompiledSpec):
        spec = spec.root
    if not isinstance(spec, Struct):
        raise ValueError("JVM path needs an X.struct spec")

    # Spark-pattern spellings of plans.spec._DATE_FORMATS, same priority
    _TS_PATTERNS = (
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd",
        "MM/dd/yyyy HH:mm:ss",
        "MM/dd/yyyy",
    )

    def _ts_chain(c):
        trimmed = F.trim(c)
        return F.coalesce(
            *[F.try_to_timestamp(trimmed, F.lit(fmt)) for fmt in _TS_PATTERNS]
        )

    def _int_chain(c, dflt, dt):
        s = F.trim(c)
        val = s.try_cast(dt)
        parsed = F.when(val.isNotNull(), val).otherwise(
            F.raise_error(
                F.format_string("bad int text '%s'", c)
            ).cast(dt)
        )
        if dflt is not None:  # int_ : missing -> default, empty -> raise
            return (
                F.when(c.isNull(), F.lit(dflt).cast(dt))
                .when(
                    s == "",
                    F.raise_error(F.lit("empty text for non-null int")).cast(dt),
                )
                .otherwise(parsed)
            )
        return F.when(c.isNull() | (s == ""), F.lit(None).cast(dt)).otherwise(parsed)

    def _bool_chain(c):
        t = F.lower(F.trim(c))
        return (
            F.when(c.isNull() | (t == ""), F.lit(None).cast("boolean"))
            .when(t.isin("true", "1"), F.lit(True))
            .when(t.isin("false", "0"), F.lit(False))
            .otherwise(
                F.raise_error(F.format_string("bad bool text '%s'", c)).cast("boolean")
            )
        )

    def _dec_chain(c, dt):
        # NullDecimalParser (Parser.cs:69-84): TryParse — empty -> null,
        # unparseable -> null, never an error
        s = F.trim(c)
        return F.when(c.isNull() | (s == ""), F.lit(None).cast(dt)).otherwise(
            s.try_cast(dt)
        )

    def _str_chain(c, name):
        # a '<' in the captured value means mixed content (child elements
        # re-serialized by the parser) OR text whose markup was escaped —
        # indistinguishable after from_xml's entity resolution, and the
        # reference folds the two differently (Parser.cs:44-49), so the
        # only non-divergent JVM answer is an error steering to the
        # kernel, which reproduces the folding
        return F.when(
            c.contains("<"),
            F.raise_error(
                F.lit(
                    f"string field {name!r} captured markup (mixed content "
                    "or escaped '<'); use extract_xml (python kernel)"
                )
            ).cast("string"),
        ).otherwise(c)

    def _plain(slot) -> str:
        if slot.pattern is None or "*" in slot.pattern:
            raise ValueError(
                f"JVM path cannot express wildcard/tag slot {slot.pattern!r}; "
                "use extract_xml (python kernel)"
            )
        return slot.pattern

    def _elem_conv(slot, idt, name):
        """text-capture -> typed-value Column fn for one array element.
        F.transform dispatches on the lambda's arity, so every returned
        closure takes exactly ONE parameter (a default-arg closure would
        silently receive the element INDEX as its second argument)."""
        if isinstance(idt, T.TimestampType):
            return lambda e: _ts_chain(e)
        if isinstance(idt, (T.IntegerType, T.LongType)):
            d = slot.default()
            return lambda e: _int_chain(e, d, idt)
        if isinstance(idt, T.BooleanType):
            return lambda e: _bool_chain(e)
        if isinstance(idt, T.DecimalType):
            return lambda e: _dec_chain(e, idt)
        if isinstance(slot, _StringSlot):
            return lambda e: _str_chain(e, name)
        return None

    def _leaf(name, f, fields, outs):
        """One scalar/attr/tag leaf -> from_xml capture field + out fn.
        Element captures are array<string>; every consumer projects
        ``.getItem(0)`` = the FIRST occurrence (Parser.cs:224-228)."""
        if isinstance(f, _AttrSlot):
            p = _plain(f)
            fields.append(T.StructField(f"_{p}", T.StringType()))
            outs.append((name, lambda x, p=p: x[f"_{p}"]))
            return
        p = _plain(f)
        dt, dflt = f.dtype(), f.default()
        fields.append(T.StructField(p, T.ArrayType(T.StringType())))
        if isinstance(dt, T.TimestampType):
            # string capture + the same format-priority chain as the
            # kernel's _DATE_FORMATS — from_xml's single timestampFormat
            # would null every other format
            outs.append((name, lambda x, p=p: _ts_chain(x[p].getItem(0))))
        elif isinstance(dt, (T.IntegerType, T.LongType)):
            # kernel error contract (IntParser / Convert.ToInt32,
            # Parser.cs:26-32): missing -> default (or null), empty ->
            # raise for non-null int, unparseable -> raise.  try_cast +
            # explicit raise_error keeps this independent of the
            # session's ANSI setting and inside whole-stage codegen.
            outs.append(
                (name, lambda x, p=p, d=dflt, dt=dt: _int_chain(x[p].getItem(0), d, dt))
            )
        elif isinstance(dt, T.BooleanType):
            outs.append((name, lambda x, p=p: _bool_chain(x[p].getItem(0))))
        elif isinstance(dt, T.DecimalType):
            outs.append((name, lambda x, p=p, dt=dt: _dec_chain(x[p].getItem(0), dt)))
        elif isinstance(f, _StringSlot):
            outs.append((name, lambda x, p=p, n=name: _str_chain(x[p].getItem(0), n)))
        else:
            raise ValueError(
                f"JVM path cannot express field {name!r} "
                f"({type(dt).__name__}); use extract_xml (python kernel)"
            )

    def _compile(struct: Struct, root_tag_col=None):
        """Returns (from_xml StructFields, [(out_name, fn(parsed) -> Column)]).
        ``root_tag_col`` is set only for the top-level call: root-level
        ``Tag()`` slots read it (Parser.cs:402-405).  Below the root a
        ``Tag()`` under a PLAINLY-named element is that name as a
        literal; under a wildcard element it needs the kernel."""
        fields: list[T.StructField] = []
        outs: list[tuple[str, object]] = []
        for name, f in struct.fields.items():
            _compile_field(name, f, struct, fields, outs, root_tag_col)
        return fields, outs

    def _compile_field(name, f, struct, fields, outs, root_tag_col):
        if isinstance(f, _TagSlot):
            if root_tag_col is not None:
                outs.append((name, lambda x, c=root_tag_col: c))
            elif "*" not in struct.pattern:
                # the record's element is plainly named -> Tag() is that
                # name, statically (Parser.cs:402-405); presence gating
                # comes from the enclosing struct/array projection
                outs.append((name, lambda x, v=struct.pattern: F.lit(v)))
            else:
                raise ValueError(
                    f"JVM path cannot express Tag() under a wildcard "
                    f"element (field {name!r}); use extract_xml"
                )
        elif isinstance(f, _CustomSlot):
            raise ValueError(
                f"JVM path cannot express custom parser field {name!r}; "
                "use extract_xml (python kernel)"
            )
        elif isinstance(f, (_ScalarSlot, _StringSlot, _AttrSlot)):
            _leaf(name, f, fields, outs)
        elif isinstance(f, Arr) and isinstance(f.inner, (_ScalarSlot, _StringSlot)):
            cp, ip = _plain(f), _plain(f.inner)
            idt = f.inner.dtype()
            conv = _elem_conv(f.inner, idt, name)
            if conv is None:
                raise ValueError(
                    f"JVM path cannot express array element type of {name!r}"
                )
            fields.append(
                T.StructField(
                    cp,
                    T.ArrayType(
                        T.StructType(
                            [T.StructField(ip, T.ArrayType(T.StringType()))]
                        )
                    ),
                )
            )
            # container present but no matching children -> [] (the
            # ArrayParser emits nothing, Parser.cs:272-277); container
            # missing -> null (default(T), Parser.cs:531-536); repeated
            # containers -> the FIRST (getItem(0))
            outs.append(
                (
                    name,
                    lambda x, cp=cp, ip=ip, cv=conv, dt=f.dtype(): F.when(
                        x[cp].getItem(0).isNotNull(),
                        F.coalesce(
                            F.transform(x[cp].getItem(0)[ip], cv),
                            F.lit([]).cast(dt),
                        ),
                    ),
                )
            )
        elif isinstance(f, Arr) and isinstance(f.inner, Struct):
            cp, ip = _plain(f), _plain(f.inner)
            sub_fields, sub_outs = _compile(f.inner)
            fields.append(
                T.StructField(
                    cp,
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField(
                                    ip,
                                    T.ArrayType(T.StructType(sub_fields), True),
                                )
                            ]
                        )
                    ),
                )
            )
            outs.append(
                (
                    name,
                    lambda x, cp=cp, ip=ip, so=sub_outs, dt=f.dtype(): F.when(
                        x[cp].getItem(0).isNotNull(),
                        F.coalesce(
                            F.transform(
                                x[cp].getItem(0)[ip],
                                lambda e: F.struct(
                                    *[fn(e).alias(n) for n, fn in so]
                                ),
                            ),
                            F.lit([]).cast(dt),
                        ),
                    ),
                )
            )
        elif isinstance(f, Struct):
            p = _plain(f)
            sub_fields, sub_outs = _compile(f)
            fields.append(
                T.StructField(p, T.ArrayType(T.StructType(sub_fields)))
            )
            # missing nested element -> null struct (default(T) = null,
            # Parser.cs:531-536), not a struct of nulls; repeated -> first
            outs.append(
                (
                    name,
                    lambda x, p=p, so=sub_outs: F.when(
                        x[p].getItem(0).isNotNull(),
                        F.struct(
                            *[fn(x[p].getItem(0)).alias(n) for n, fn in so]
                        ),
                    ),
                )
            )
        else:
            raise ValueError(
                f"JVM path cannot express field {name!r} ({type(f).__name__}); "
                "use extract_xml (python kernel)"
            )

    # `<p:b>` / `</p:b>` -> `<b>` / `</b>`; anchored at the tag opener so
    # colons in text or attribute values are untouched
    src = F.regexp_replace(F.col(col), r"(</?)[A-Za-z_][\w.-]*:", r"$1")
    # the root element's local name: strip the PROLOG first (XML
    # declaration / processing instructions, comments, DOCTYPE — a
    # comment may itself contain '<word', so an unanchored first-tag
    # grab would capture the comment's token), then the ANCHORED first
    # tag is the root; an optional `prefix:` is skipped so the LOCAL
    # name comes out even for a prefix the ASCII strip above leaves.
    # \p{L}/\p{N} keep Unicode tag names (<résumé>) identical to the
    # Python kernel, which matches any XML name.  A DOCTYPE with an
    # internal subset ([...]) is not handled — the Python kernel (ET)
    # rejects those documents anyway.
    prolog = r"(?s)^\s*(?:<\?.*?\?>\s*|<!--.*?-->\s*|<!DOCTYPE[^>\[]*>\s*)*"
    root_name = F.regexp_extract(
        F.regexp_replace(src, prolog, ""),
        r"^<(?:[\p{L}_][\p{L}\p{N}._\-]*:)?([\p{L}_][\p{L}\p{N}._\-]*)",
        1,
    )
    fields, outs = _compile(spec, root_tag_col=root_name)
    fnames = [sf.name for sf in fields]
    if len(set(fnames)) != len(fnames):
        raise ValueError(
            "JVM path cannot express two fields reading the same tag; "
            "use extract_xml (python kernel)"
        )
    parsed = F.from_xml(
        src,
        T.StructType(fields),
        {
            "timestampFormat": "yyyy-MM-dd HH:mm:ss",
            "attributePrefix": "_",
            # string captures keep their whitespace — the kernel never
            # trims (StringParser returns the text as-is, Parser.cs:34-56)
            "ignoreSurroundingSpaces": "false",
            # the engine's FAILFAST contract (Parser.cs:119-208 throws on
            # bad input): from_xml's default PERMISSIVE would null-struct
            # a malformed document, and the gated projection would then
            # FABRICATE a row (Tag() from the regexp, defaults elsewhere)
            # — found by round-8 review; extract_xml's PERMISSIVE/
            # DROPMALFORMED modes run the Python kernel, never this path
            "mode": "FAILFAST",
        },
    )
    tmp = df.withColumn("__x", parsed)
    # root-pattern gate (match_pattern as string algebra): a non-matching
    # root nulls every output — the Python kernel's None record.  `"*"`
    # matches everything and needs no gate.
    if spec.pattern == "*":
        ok = None
    elif "*" in spec.pattern:
        pre, _, post = spec.pattern.partition("*")
        ok = F.length(root_name) >= F.lit(len(pre) + len(post))
        if pre:
            ok = ok & root_name.startswith(pre)
        if post:
            ok = ok & root_name.endswith(post)
    else:
        ok = root_name == spec.pattern

    cols = []
    for name, fn in outs:
        c = fn(F.col("__x"))
        if ok is not None:
            c = F.when(ok, c)
        cols.append(c.alias(name))
    return tmp.select(*cols)
