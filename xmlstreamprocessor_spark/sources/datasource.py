"""Registered Spark Python DataSource for XML extraction.

This is the idiomatic Spark-4 packaging of the extraction kernel (SURVEY.md
§7 M2): after ``register_xml_source(spark)``,

    spark.read.format("xspxml")
         .schema("id int, name string")
         .option("rowTag", "rec")
         .option("path", "/data/xml")
         .load()

scans XML files distributed — one input partition per file (the same
parallel unit as ``read_xml``), bounded memory per task via iterparse, and
the records shaped by the user schema (element text and attributes matched
by field name, attributes winning only when no element matches; wildcard /
Tag() specs need the richer ``read_xml(spec=...)`` path).

A spec-aware variant rides the same source: ``option("specPickle", ...)``
(produced by ``spec_option``) carries a pickled compiled spec so the full
DSL semantics — wildcards, tag capture, coalesce, expressions — run inside
the registered source too.
"""

from __future__ import annotations

import base64
import datetime as _dt
import itertools
import pickle
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from xmlstreamprocessor_spark.plans.spec import CompiledSpec, Struct, compile_spec


def spec_option(spec: Struct | CompiledSpec) -> str:
    """Serialize a spec for ``option("specPickle", ...)``."""
    if isinstance(spec, Struct):
        spec = compile_spec(spec)
    return base64.b64encode(pickle.dumps(spec)).decode("ascii")


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class XmlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xspxml"

    def schema(self) -> StructType | str:
        # schema is required from the user (matches the reference: schemas
        # are declared, never guessed — Parser.cs builds them from the
        # lambda); inference lives in plans.infer, not here
        raise NotImplementedError(
            "xspxml requires an explicit .schema(...) or a specPickle option"
        )

    def reader(self, schema: StructType) -> "XmlSourceReader":
        return XmlSourceReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> "XmlSimpleStreamReader":
        return XmlSimpleStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "XmlBatchWriter":
        return XmlBatchWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "XmlStreamWriter":
        return XmlStreamWriter(schema, self.options)


class XmlSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.row_tag = options.get("rowTag", "row")
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xspxml needs .option('path', ...) or load(path)")
        spec_b64 = options.get("specPickle")
        self.spec_bytes = base64.b64decode(spec_b64) if spec_b64 else None
        self._eq_filters: dict = {}
        # opt-in: Spark reuses the first-planned partition list for later
        # UNFILTERED scans of the same DataFrame (observed on 4.1), so
        # transparent pruning could silently drop rows there.  Enable when
        # every query does its own load() — the normal pipeline shape.
        self.partition_pruning = (
            str(options.get("partitionPruning", "false")).lower() == "true"
        )
        self.mode = str(options.get("mode", "FAILFAST")).upper()
        if self.mode not in ("FAILFAST", "PERMISSIVE", "DROPMALFORMED"):
            raise ValueError(f"unknown mode {self.mode!r}")
        # FAILFAST reads hand Spark Arrow RecordBatches of this many
        # records instead of per-record tuples (0 = tuple path).  See
        # read() for the measured rationale and the non-FAILFAST carve-out.
        self.arrow_batch = int(options.get("arrowBatchSize", "4096"))
        # Offset-less timestamp text is interpreted in ONE fixed zone —
        # option("sessionTz", ...), default UTC (this engine pins
        # spark.sql.session.timeZone to UTC, see session.py) — and read()
        # localizes every parsed timestamp to it, yielding AWARE
        # datetimes.  Without this the two hand-off paths DISAGREE on any
        # box whose OS zone is not UTC: Spark converts a naive datetime
        # yielded as a tuple via OS-local time.mktime, while pyarrow
        # treats a naive datetime under a tz=UTC field as UTC wall time
        # (measured: the literal text 1996-01-02T00:00:00 read back as
        # 05:00 on the tuple path vs 00:00 on the arrow path under
        # TZ=America/New_York).  An explicit option rather than sniffing
        # SparkSession.getActiveSession(): the reader may be constructed
        # in Spark's python planner worker where no session is active
        # (measured: a post-registration session-zone change did not
        # reach the capture), and a deterministic default beats a
        # construction-context-dependent one.
        self.session_tz = options.get("sessionTz", "UTC")

    def pushFilters(self, filters):
        """Partition pruning for the hive-style layout the writer emits:
        EqualTo/In filters on partition columns shrink the FILE LIST before
        any task launches (the XML payload is never opened for pruned
        directories).  Everything is reported back as unhandled so Spark
        still applies the predicates — pruning is an optimization, not a
        correctness contract (data columns can't be pruned here: values
        only exist after the parse).  Requires .option("partitionPruning",
        "true"); see __init__ for why it is opt-in."""
        from pyspark.sql.datasource import EqualTo, In

        self._eq_filters = {}
        for f in filters:
            if self.partition_pruning and isinstance(f, EqualTo) and len(f.attribute) == 1:
                self._eq_filters.setdefault(f.attribute[0], set()).add(f.value)
            elif self.partition_pruning and isinstance(f, In) and len(f.attribute) == 1:
                self._eq_filters.setdefault(f.attribute[0], set()).update(f.value)
            yield f  # let Spark re-apply every filter post-scan

    def partitions(self):  # one task per file — the read_xml parallel unit
        # consume-once: the reader instance is cached with the relation and
        # serves every scan of the DataFrame, but pushFilters only runs for
        # scans that HAVE filters — a later unfiltered scan calls
        # partitions() directly, and stale pruning would drop its rows.
        # Since every pushed filter is also re-applied by Spark (we yield
        # them all back), clearing after use can only widen the file list,
        # never corrupt results.
        eq_filters, self._eq_filters = self._eq_filters, {}

        def pruned(fpath: str) -> bool:
            if not eq_filters:
                return False
            vals = self._partition_values(fpath)
            return any(
                k in vals and vals[k] not in allowed
                for k, allowed in eq_filters.items()
            )

        import glob
        import os

        if os.path.isdir(self.path):
            files = sorted(
                p
                for p in glob.glob(os.path.join(self.path, "**"), recursive=True)
                if os.path.isfile(p)
            )
        else:
            files = sorted(glob.glob(self.path)) or [self.path]
        return [_FilePartition(p) for p in files if not pruned(p)]

    def _partition_values(self, fpath: str) -> dict:
        """Hive-style ``key=value`` dir segments between the base path and
        the file, decoded and coerced to the declared field type — the
        writer's ``partitionBy`` inverse (partition columns live in the
        PATH, not the XML)."""
        import os

        vals: dict = {}
        rel = os.path.relpath(os.path.dirname(fpath), self.path)
        if rel in (".", ""):
            return vals
        fields = {f.name: f.dataType for f in self.schema.fields}
        for seg in rel.split(os.sep):
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            if k not in fields:
                continue
            if v == "__HIVE_DEFAULT_PARTITION__":
                vals[k] = None
                continue
            v = v.replace("%3D", "=").replace("%2F", "/").replace("%25", "%")
            conv = _coercer(fields[k])
            vals[k] = conv(v) if conv else v
        return vals

    def _column_fixes(self, fpath: str, coerce: bool) -> list[tuple[int, Callable]]:
        """Per-column fixes applied to the kernel's rows, as (column index,
        fn) pairs.  Partition columns take their value from the path.  On
        the schema path (``coerce``), attribute fallbacks surface as raw
        strings (reference rule: attributes are untyped, Parser.cs:417) and
        are coerced to the declared type.  Timestamps are localized to the
        session zone (see __init__): naive datetimes become aware, so
        Spark's tuple conversion (dt.timestamp()) and pyarrow's batch
        conversion agree on the instant regardless of the worker's OS
        zone."""
        from zoneinfo import ZoneInfo

        pvals = self._partition_values(fpath)
        tz = ZoneInfo(self.session_tz)
        fixes = []
        for i, f in enumerate(self.schema.fields):
            if f.name in pvals:
                fn = _constant(pvals[f.name])
            else:
                fn = _coercer(f.dataType) if coerce else None
            if f.dataType.typeName() == "timestamp":
                fn = _localizer(tz, fn)
            if fn is not None:
                fixes.append((i, fn))
        return fixes

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        from xmlstreamprocessor_spark.sources.xml_batch import _iter_rows

        if self.spec_bytes is not None:
            compiled = pickle.loads(self.spec_bytes)
        else:
            compiled = _schema_spec(self.schema)
        names = compiled.names
        out_names = [f.name for f in self.schema.fields]
        assert names == out_names, (names, out_names)
        fixes = self._column_fixes(partition.path, coerce=self.spec_bytes is None)

        def fix(row: tuple) -> tuple:
            if not fixes:
                return row
            row = list(row)
            for i, fn in fixes:
                row[i] = fn(row[i])
            return tuple(row)

        def rows(fh):
            for row in _iter_rows(fh, self.row_tag, compiled):
                yield fix(row)

        def triage_row():
            return tuple(
                partition.path if n == "_corrupt_file" else None for n in names
            )

        with open(partition.path, "rb") as fh:
            if self.mode == "FAILFAST":
                # Hand Spark Arrow RecordBatches instead of per-record
                # tuples.  Honest A/B at sf0.1 (150k orders rows, warm
                # pool, alternating runs): tuple path [1.53, 2.26, 1.05]s
                # vs batched [1.31, 1.43, 1.30]s — a slight win with much
                # flatter variance, value-identical aggregates (sums over
                # every column type incl. decimal/timestamp).  Re-measured
                # r11 after the from_arrays rewrite below: tuple median
                # 0.85 s vs batched 0.79 s — still a modest, flat win.  Kept
                # because the per-record pickle hand-off is the part that
                # grows with records-per-task, while the batch build is
                # one columnar conversion per 4096 records.  Only the
                # FAILFAST path batches — one iterator cannot mix tuples
                # and batches, and the PERMISSIVE/DROPMALFORMED recovery
                # below yields per-record tuples by construction (its
                # cost is the rescan, not the hand-off).
                if self.arrow_batch > 0 and names:
                    import pyarrow as pa

                    from pyspark.sql.pandas.types import to_arrow_schema

                    pa_schema = to_arrow_schema(self.schema)
                    rows_in = _iter_rows(fh, self.row_tag, compiled)
                    while True:
                        batch = list(itertools.islice(rows_in, self.arrow_batch))
                        if not batch:
                            return
                        cols = [list(c) for c in zip(*batch)]
                        for i, fn in fixes:
                            cols[i] = [fn(v) for v in cols[i]]
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)],
                            schema=pa_schema,
                        )
                yield from rows(fh)
                return
            # non-FAILFAST: stream optimistically (zero overhead while the
            # file is well-formed).  On the first parse/cast error, switch
            # to record-resync recovery below instead of abandoning the
            # rest of the file.
            n_ok = 0
            it = rows(fh)
            while True:
                try:
                    rec = next(it)
                except StopIteration:
                    return
                except Exception:  # noqa: BLE001 — malformed XML / bad cast
                    break
                n_ok += 1
                yield rec
        # Recovery pass (Spark XML reader parity: drop ONLY the malformed
        # record, keep reading).  A broken expat stream cannot be resumed,
        # so re-scan the raw bytes for row-tag start offsets and parse each
        # [start_i, start_{i+1}) slice as a standalone document; slices that
        # fail are dropped (DROPMALFORMED) or emitted as one triage row each
        # (PERMISSIVE: nulls + `_corrupt_file` if declared).  The first
        # ``n_ok`` recovered records were already emitted by the streaming
        # pass and are skipped.  The offset scan is CHUNKED (O(1 MiB)
        # memory, preserving the bounded-memory iterparse design on large
        # corrupt files) and skips `<!--...-->` / `<![CDATA[...]]>` spans,
        # so row-tag tokens inside comments or CDATA are not false resync
        # points; per-record slices are then seek-read individually, so
        # peak memory is the largest single record, never the file.
        import io
        import os as _os

        starts = _scan_row_tag_offsets(partition.path, self.row_tag)
        size = _os.path.getsize(partition.path)
        ok = 0
        with open(partition.path, "rb") as fh:
            for i, off in enumerate(starts):
                end = starts[i + 1] if i + 1 < len(starts) else size
                fh.seek(off)
                chunk = fh.read(end - off)
                it = _iter_rows(io.BytesIO(chunk), self.row_tag, compiled)
                try:
                    rec = next(it)
                except Exception:  # noqa: BLE001 — incl. StopIteration: no record
                    if self.mode == "PERMISSIVE" and ok >= n_ok:
                        yield triage_row()
                    continue
                ok += 1
                if ok <= n_ok:
                    continue  # already emitted before the error
                try:
                    yield fix(rec)
                except Exception:  # noqa: BLE001 — bad cast in recovery
                    if self.mode == "PERMISSIVE":
                        yield triage_row()


def _scan_row_tag_offsets(
    path: str, row_tag: str, chunk_size: int = 1 << 20
) -> list[int]:
    """Absolute byte offsets of row-tag start tokens, found with a CHUNKED
    scan (memory is O(chunk_size), never O(file)) that tracks
    ``<!--...-->`` and ``<![CDATA[...]]>`` spans across chunk boundaries so
    tokens inside them are not reported — those are exactly the false
    resync points a raw regex over the whole file would hit.

    Decisions are only made up to ``len(buf) - overlap`` until EOF, so a
    token or row-tag match straddling a chunk boundary is always seen whole
    on the next pass (overlap bounds the namespace-prefix length, as any
    scanner without unbounded lookbehind must)."""
    import re as _re

    pat = _re.compile(
        rb"<(?:[A-Za-z_][\w.-]*:)?" + _re.escape(row_tag.encode()) + rb"[\s/>]"
    )
    overlap = max(len(row_tag.encode()) + 96, 128)
    offsets: list[int] = []
    buf = b""
    base = 0  # absolute file offset of buf[0]
    state = 0  # 0 = markup, 1 = inside comment, 2 = inside CDATA
    with open(path, "rb") as fh:
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


def _constant(value):
    return lambda _v: value


def _localizer(tz, inner: Callable | None) -> Callable:
    def fn(v):
        if inner is not None:
            v = inner(v)
        if isinstance(v, _dt.datetime) and v.tzinfo is None:
            v = v.replace(tzinfo=tz)
        return v

    return fn


def _coercer(dt) -> Callable | None:
    """Raw attribute string -> declared type (None when untyped)."""
    from pyspark.sql import types as T

    from xmlstreamprocessor_spark.plans.spec import (
        _conv_nbool,
        _conv_ndate,
        _conv_ndecimal,
        _conv_nint,
    )

    if isinstance(dt, (T.LongType, T.IntegerType)):
        conv = _conv_nint
    elif isinstance(dt, T.DecimalType):
        conv = _conv_ndecimal
    elif isinstance(dt, T.BooleanType):
        conv = _conv_nbool
    elif isinstance(dt, T.TimestampType):
        conv = _conv_ndate
    else:
        return None  # untyped: values pass through

    def f(v):
        return conv(v) if isinstance(v, str) else v

    return f


def _schema_spec(schema: StructType) -> CompiledSpec:
    """Build an extraction spec from a plain Spark schema: each field reads
    the child element of that name, falling back to the attribute of the
    same name (element wins, via X.coalesce)."""
    from pyspark.sql import types as T

    from xmlstreamprocessor_spark.plans.spec import X

    def _long_conv(e):
        return int(e.text) if e.text and e.text.strip() else None

    fields = {}
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.DecimalType):
            base = X.ndecimal(f.name)
        elif isinstance(dt, T.LongType):
            base = X.custom(f.name, _long_conv, T.LongType())
        elif isinstance(dt, T.IntegerType):
            base = X.nint(f.name)
        elif isinstance(dt, T.BooleanType):
            base = X.nbool(f.name)
        elif isinstance(dt, T.TimestampType):
            base = X.ndate(f.name)
        elif isinstance(dt, T.StringType):
            base = X.string(f.name)
        else:
            raise ValueError(
                f"xspxml schema path cannot express field {f.name}: {dt}; "
                "pass a specPickle option instead"
            )
        fields[f.name] = X.coalesce(base, X.attr(f.name))
    return compile_spec(Struct("*", fields))


def register_xml_source(spark) -> None:
    """Register the ``xspxml`` format on this session."""
    # the reader implements pushFilters(); Spark refuses to instantiate it
    # unless python-source pushdown is on (runtime-settable SQL conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(XmlDataSource)


class XmlSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the ``xspxml`` source: the offset is the set of
    files already ingested (path -> size), so each micro-batch reads exactly
    the files that appeared since the last one — the same exactly-once
    file-discovery contract as Spark's built-in file stream source, with the
    extraction kernel applied in place."""

    def __init__(self, schema: StructType, options: dict):
        self._reader = XmlSourceReader(schema, options)
        # the simple stream reader's (rows, offset) contract wants plain
        # tuples (the engine deep-copies and pickles them per batch) —
        # force the tuple path regardless of the batch option
        self._reader.arrow_batch = 0

    def initialOffset(self) -> dict:
        return {"files": {}}

    def _list(self) -> dict:
        import os

        out = {}
        for p in self._reader.partitions():
            try:
                out[p.path] = os.path.getsize(p.path)
            except OSError:
                continue
        return out

    def read(self, start: dict):
        seen = start.get("files", {})
        now = self._list()
        new_files = [p for p in sorted(now) if p not in seen]
        # materialized list, not a generator: the engine deep-copies the
        # (rows, offset) pair when prefetching
        rows = [
            r for path in new_files for r in self._reader.read(_FilePartition(path))
        ]
        return rows, {"files": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = start.get("files", {})
        target = end.get("files", {})
        for path in sorted(target):
            if path not in seen:
                yield from self._reader.read(_FilePartition(path))

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# Writers: the inverse of the reader — rows out as XML part files
# ---------------------------------------------------------------------------


def _xml_scalar(v) -> str:
    """Serialize one scalar so the reader's converters round-trip it
    (bool -> true/false for _conv_nbool; timestamp -> ISO-T
    'yyyy-MM-ddTHH:mm:ss[.ffffff]', the only _conv_ndate format that
    accepts fractional seconds; everything else via str())."""
    import datetime as _dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    return str(v)


import re as _re

# XML 1.0 cannot represent C0 control characters (other than tab/LF/CR)
# even as entity references — and its Char production (§2.2) also
# excludes the non-characters U+FFFE/U+FFFF and the surrogate code
# points (which Python str can hold unpaired, e.g. from
# surrogateescape-decoded bytes).  Writing any of them produces a file
# every conforming parser (including this source's own reader) rejects.
# Fail at WRITE time with the offending tag named, not at some later
# read (FAILFAST culture).
# ONE class string defines XML 1.0's unrepresentable characters; both
# compiled forms derive from it so they cannot drift apart (code-review
# r12: after the escape fusion the standalone regex survives only as
# the contract pin the writer tests assert against).
_XML_ILLEGAL_CLASS = "\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff\ufffe\uffff"
_XML_ILLEGAL = _re.compile(f"[{_XML_ILLEGAL_CLASS}]")

# FUSED escape + validity scan (r11 verdict #5): ONE regex pass per value
# matches both the escapable characters and the XML-1.0-illegal class, so
# clean strings cost a single C-level scan — the r11 layout (a standalone
# _XML_ILLEGAL.search plus saxutils.escape's three str.replace passes plus
# the &#13; entity pass) walked every string up to five times, an
# A/B-isolated ~10% surcharge on the xspxml round-trips.  The substitution
# callback only fires on matches (rare by construction).
# \r goes out as a character reference: a literal CR in element content
# is line-ending-NORMALIZED to \n by every conforming parser (XML 1.0
# §2.11) — silent corruption — while &#13; survives normalization and
# reads back as \r exactly.
_XML_SPECIAL = _re.compile(f"[&<>\r{_XML_ILLEGAL_CLASS}]")
_XML_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;", "\r": "&#13;"}


def _escape_checked(tag: str, s: str) -> str:
    """Escape element content, rejecting XML-1.0-unrepresentable
    characters (C0 controls other than tab/LF/CR, lone surrogates, and
    the non-characters U+FFFE/U+FFFF — the Char production, §2.2) with
    the offending tag named.  Fail at WRITE time, not at some later
    read (FAILFAST culture)."""
    def repl(m):
        r = _XML_ESC.get(m.group())
        if r is None:
            raise ValueError(
                f"column/tag {tag!r} contains U+{ord(m.group()):04X}, "
                "which XML 1.0 cannot represent; strip or replace "
                "control characters before writing format('xspxml') "
                r"(e.g. regexp_replace(col, '[\x00-\x08\x0b\x0c"
                r"\x0e-\x1f]', ''))"
            )
        return r

    return _XML_SPECIAL.sub(repl, s)


def _serialize_value(buf: list, tag: str, v) -> None:
    if v is None:
        return  # omitted tag reads back as null — missing->default semantics
    if isinstance(v, dict):  # struct field (Row.asDict'd)
        buf.append(f"<{tag}>")
        for k, sv in v.items():
            _serialize_value(buf, k, sv)
        buf.append(f"</{tag}>")
    elif isinstance(v, (list, tuple)):  # array: container tag wraps items
        buf.append(f"<{tag}>")
        for item in v:
            _serialize_value(buf, "item", item)
        buf.append(f"</{tag}>")
    else:
        buf.append(f"<{tag}>{_escape_checked(tag, _xml_scalar(v))}</{tag}>")


def write_rows_xml(rows, names: list[str], path: str, row_tag: str, root_tag: str):
    """Stream an iterator of row DICTS (nested values as plain
    dict/list/scalars) to one XML file with O(row) memory."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(f"<{root_tag}>\n")
        for d in rows:
            buf: list[str] = []
            for n in names:
                _serialize_value(buf, n, d.get(n))
            fh.write(f"<{row_tag}>{''.join(buf)}</{row_tag}>\n")
        fh.write(f"</{root_tag}>\n")




def _part_seg(name: str, v) -> str:
    """One ``key=value`` path segment (hive layout); null and separator
    characters use the same spellings Spark's file sinks use."""
    if v is None:
        sv = "__HIVE_DEFAULT_PARTITION__"
    else:
        sv = _xml_scalar(v).replace("%", "%25").replace("/", "%2F").replace("=", "%3D")
    return f"{name}={sv}"


class _XmlCommit(WriterCommitMessage):
    """staging_dir plus (staged, final) path pairs — one pair per
    (task, partition-combo) file."""

    def __init__(self, staging_dir: str, pairs: list):
        self.staging_dir = staging_dir
        self.pairs = pairs


class _XmlWriterBase:
    """Shared task-side write + driver-side staged-rename commit.

    Each TASK stages its part files in its own ``<path>/.staging-<token>/``
    dir and commit renames them into place, so readers never observe a
    half-written job (the FileOutputCommitter-v1 contract). The staging
    token is derived per task, never stored on the instance: the framework
    pickles the DataSource and constructs a fresh writer in every worker
    AND in the commit-runner process (python_streaming_sink_runner.py
    calls ``data_source.streamWriter(...)`` itself), so instance state
    does NOT flow from write() to commit() — only the commit messages do.
    Commit therefore derives every staging dir from the message paths.
    A failed task attempt leaves its staged dir behind; dot-dirs are
    invisible to the reader's glob (include_hidden=False), and overwrite
    commits sweep them.

    ``option("partitionBy", "a,b")`` lays files out hive-style
    (``<path>/a=v1/b=v2/part-*.xml``); partition columns are carried by
    the PATH, not the XML (the reader folds them back in), matching
    Spark's file sinks.  Scale: one open file per distinct partition
    combo per task — repartition by the partition columns first so each
    task sees few combos, exactly as with the parquet writer.
    """

    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xspxml writer needs .option('path', ...) or save(path)")
        self.row_tag = options.get("rowTag", "row")
        self.root_tag = options.get("rootTag", "rows")
        names = [f.name for f in schema.fields]
        pby = options.get("partitionBy") or options.get("partitionby")
        self.part_cols = [c.strip() for c in pby.split(",")] if pby else []
        missing = [c for c in self.part_cols if c not in names]
        if missing:
            raise ValueError(f"partitionBy columns not in schema: {missing}")
        self.names = [n for n in names if n not in self.part_cols]

    def _write_partition(self, dicts) -> _XmlCommit:
        """Task-side write body over an iterator of row DICTS (the Arrow
        batch writer feeds ``RecordBatch.to_pylist()`` dicts, the
        streaming row writer feeds ``Row.asDict(recursive=True)``)."""
        import os
        import uuid

        token = uuid.uuid4().hex[:16]
        staging = os.path.join(self.path, f".staging-{token}")
        os.makedirs(staging, exist_ok=True)
        if not self.part_cols:
            staged = os.path.join(staging, f"part-{token}.xml")
            write_rows_xml(dicts, self.names, staged, self.row_tag, self.root_tag)
            return _XmlCommit(
                staging, [(staged, os.path.join(self.path, f"part-{token}.xml"))]
            )

        handles: dict[str, object] = {}  # rel dir -> open file
        pairs: list = []
        try:
            for d in dicts:
                rel = os.path.join(
                    *[_part_seg(c, d.get(c)) for c in self.part_cols]
                )
                fh = handles.get(rel)
                if fh is None:
                    os.makedirs(os.path.join(staging, rel), exist_ok=True)
                    staged = os.path.join(staging, rel, f"part-{token}.xml")
                    fh = open(staged, "w", encoding="utf-8")
                    fh.write(f"<{self.root_tag}>\n")
                    handles[rel] = fh
                    pairs.append(
                        (staged, os.path.join(self.path, rel, f"part-{token}.xml"))
                    )
                buf: list[str] = []
                for n in self.names:
                    _serialize_value(buf, n, d.get(n))
                fh.write(f"<{self.row_tag}>{''.join(buf)}</{self.row_tag}>\n")
        finally:
            for fh in handles.values():
                fh.write(f"</{self.root_tag}>\n")
                fh.close()
        return _XmlCommit(staging, pairs)

    def _finalize(self, messages) -> None:
        import os
        import shutil

        for m in messages:
            if m is not None:
                for staged, final in m.pairs:
                    os.makedirs(os.path.dirname(final), exist_ok=True)
                    os.replace(staged, final)
                shutil.rmtree(m.staging_dir, True)

    def _abort(self, messages) -> None:
        import shutil

        for m in messages or []:
            if m is not None:
                shutil.rmtree(m.staging_dir, True)


class XmlBatchWriter(_XmlWriterBase, DataSourceArrowWriter):
    """Batch writer on the ARROW writer API: each task receives PyArrow
    ``RecordBatch``es and converts them with ``to_pylist()`` (one C-level
    pass producing plain dicts — timestamps as datetime, decimals as
    Decimal, structs as dicts, arrays as lists, exactly the shapes
    ``_serialize_value`` renders) instead of per-row-pickled Spark Rows.

    Honest measurement (round 10): the switch is NOT a wall win at
    driver scale — 150k orders rows serialize in ~1 s single-threaded
    either way, and the first-write wall (7.1 s at 32 tasks) is the
    one-time Python worker-pool warmup, identical on both paths
    (steady-state 32-task write: ~1.1 s).  Arrow is kept as the
    idiomatic Spark-4 batch exchange (no per-row pickle on the JVM
    side); the streaming sink keeps the row API, whose commit-runner
    contract is pinned by tests."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        super().__init__(schema, options)
        self.overwrite = overwrite

    def write(self, iterator) -> _XmlCommit:
        return self._write_partition(
            d for batch in iterator for d in batch.to_pylist()
        )

    def commit(self, messages) -> None:
        import glob
        import os
        import shutil

        if self.overwrite:
            keep = {f for m in messages if m is not None for _, f in m.pairs}
            for old in glob.glob(
                os.path.join(self.path, "**", "part-*.xml"), recursive=True
            ):
                if old not in keep:
                    os.remove(old)
            staging_keep = {m.staging_dir for m in messages if m is not None}
            for d in glob.glob(os.path.join(self.path, ".staging-*")):
                if d not in staging_keep:
                    shutil.rmtree(d, True)
        self._finalize(messages)

    def abort(self, messages) -> None:
        self._abort(messages)


class XmlStreamWriter(_XmlWriterBase, DataSourceStreamWriter):
    """Micro-batch sink: each batch's part files are staged then renamed in
    commit(batchId), so a crashed batch leaves no visible partial output and
    a replayed batch (same epoch after recovery) just re-stages."""

    def write(self, iterator) -> _XmlCommit:
        return self._write_partition(
            r.asDict(recursive=True) for r in iterator
        )

    def commit(self, messages, batchId: int) -> None:
        self._finalize(messages)

    def abort(self, messages, batchId: int) -> None:
        self._abort(messages)
