"""Declarative XML extraction specs, compiled into generated Python kernels —
the analogue of the reference's expression-tree schema language and its
``Expression.Compile`` step.

Reference parity map (kulalexey/XmlStreamProcessor, ``Parser.cs``):

* ``X.struct(tag, fields)``      == ``INode.Type<T>(tag, lambda)``      (Parser.cs:456-458, 211-255)
* ``X.array(tag, inner)``        == ``INode.Array<T>(tag, lambda)``     (Parser.cs:460-462, 257-316)
* ``X.int_/nint/nbool/ndecimal/ndate/string``
                                  == the six scalar parsers              (Parser.cs:15-95)
* ``X.attr(name)``               == ``INode.Attribute(name)``           (Parser.cs:410-418)
* ``X.tag()``                    == ``INode.Tag()``                     (Parser.cs:402-405, 477-481)
* ``X.custom(tag, fn, dtype)``   == ``INode.Custom<T>(tag, parser)``    (Parser.cs:318-331)
* expression nodes (coalesce, arithmetic, concat)
                                  == pure C# expressions in the lambda   (Test1.cs:187-231)
* wildcard tag patterns ("*", "pre*post")
                                  == wildcard ElementSchema keys         (Parser.cs:175-187)

Semantics locked to the reference (verified by golden tests F1-F6):

* first-occurrence-wins for repeated scalar children (Parser.cs:224-228)
* missing non-null int -> 0 (default(int), Parser.cs:531-536); other missing
  scalars -> null
* decimal: unparseable -> null (TryParse, Parser.cs:79-83)
* string: mixed content serialized back into the value (Parser.cs:44-49)
* array: one output record per matching child, document order, slots reset
  per emit (Parser.cs:272-277)
* unknown tags skipped without materialization (Parser.cs:194-202)

Compilation mirrors the reference's two phases (slot layout and row
constructor built once at ``CreateParser``, Parser.cs:105-209, 359-499;
per record only slot fills).  ``compile_spec`` turns the spec tree into a
Spark ``StructType`` plus the Python SOURCE of one specialised function per
struct/array scope, and ``exec``s it once per compiled instance (after
unpickling too).  Each generated
function takes an element and does, straight-line:

* attribute and ``Tag()`` reads;
* one pass over the children, dispatched on the tag: exact names through a
  dict, wildcard patterns in declaration order behind a bounded tag->branch
  memo (``_MATCH_MEMO_MAX``); each branch holds the inlined typed conversion
  with its null/raise rule and first-occurrence-wins guard;
* missing-tag defaults, then the field expressions (coalesce, concat,
  arithmetic, literals) as plain Python with unchanged null rules.

The root scope returns a tuple in schema order, which the Spark surfaces
turn into columns; the public dict results zip it with the field names.
Nested structs return dicts and arrays lists, as before.
The namespace mode (``strict_ns``) is fixed when the source is generated.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import hashlib
import linecache
import xml.etree.ElementTree as ET
from collections.abc import Callable
from typing import Any

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# tag pattern matching (Parser.cs:175-187): exact name first, then patterns
# containing a single '*' matched as prefix+suffix. "*" alone matches any tag.
#
# Namespace handling: the DEFAULT matches the reference, which compares on
# reader.LocalName only — namespaces ignored (Parser.cs:133, 166) — so two
# elements differing only in namespace are the same tag.  The opt-in STRICT
# mode (compile_spec(..., strict_ns=True)) matches on the full Clark-notation
# name ("{uri}local", ElementTree's encoding), so colliding local names stay
# distinct; spec patterns are then written in Clark notation too.
# ---------------------------------------------------------------------------


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def match_pattern(pattern: str, name: str) -> bool:
    if "*" not in pattern:
        return pattern == name
    pre, _, post = pattern.partition("*")
    return (
        len(name) >= len(pre) + len(post)
        and name.startswith(pre)
        and name.endswith(post)
    )


# ---------------------------------------------------------------------------
# scalar text -> value converters, with the reference's null/default rules.
# The generated kernels inline these contracts; the functions stay as their
# specification and for the xspxml schema-path coercions.
# ---------------------------------------------------------------------------


class ExtractionError(Exception):
    """Parity with the reference's wrapped ApplicationException
    ("Exception while parsing node '{name}'", Parser.cs:146-149)."""


def _conv_int(text: str | None) -> int:
    # IntParser (Parser.cs:26-32): Convert.ToInt32 — empty text throws.
    if text is None or text.strip() == "":
        raise ExtractionError("empty text for non-null int")
    return int(text.strip())


def _conv_nint(text: str | None) -> int | None:
    if text is None or text.strip() == "":
        return None
    return int(text.strip())


def _conv_nbool(text: str | None) -> bool | None:
    if text is None or text.strip() == "":
        return None
    t = text.strip().lower()
    if t in ("true", "1"):
        return True
    if t in ("false", "0"):
        return False
    raise ExtractionError(f"bad bool text {text!r}")


def _conv_ndecimal(text: str | None) -> _decimal.Decimal | None:
    # NullDecimalParser (Parser.cs:69-84): TryParse — unparseable -> null.
    if text is None or text.strip() == "":
        return None
    try:
        return _decimal.Decimal(text.strip())
    except _decimal.InvalidOperation:
        return None


_DATE_FORMATS = (
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y",
)


def _conv_ndate(text: str | None) -> _dt.datetime | None:
    if text is None or text.strip() == "":
        return None
    t = text.strip()
    try:
        return _dt.datetime.fromisoformat(t)
    except ValueError:
        pass
    for fmt in _DATE_FORMATS:
        try:
            return _dt.datetime.strptime(t, fmt)
        except ValueError:
            continue
    raise ExtractionError(f"bad datetime text {text!r}")


def serialize_element(elem) -> str:
    """Serialize an element the way .NET ``XmlWriter`` does for
    ``ReadOuterXml`` — self-closing empty elements rendered ``<tag />``
    (golden outputs in Test1.cs:261-270)."""
    # always the PLAIN local name: a Clark "{uri}tag" would not be
    # well-formed markup, so string folding stays namespace-agnostic even
    # under strict-ns matching (ET drops the original prefix anyway)
    name = elem.tag.rsplit("}", 1)[-1]
    attrs = "".join(f' {k}="{v}"' for k, v in elem.attrib.items())
    inner = _inner_xml(elem)
    if inner == "":
        return f"<{name}{attrs} />"
    return f"<{name}{attrs}>{inner}</{name}>"


def _inner_xml(elem) -> str:
    parts = [elem.text or ""]
    for child in elem:
        parts.append(serialize_element(child))
        parts.append(child.tail or "")
    return "".join(parts)


def _conv_string(elem) -> str | None:
    """StringParser (Parser.cs:34-56): mixed content (child elements) is
    serialized back into the string; plain text returned as-is; empty -> ""."""
    if len(elem) > 0:
        return _inner_xml(elem)
    if elem.text is None:
        return ""
    return elem.text


# ---------------------------------------------------------------------------
# spec nodes
# ---------------------------------------------------------------------------


class Spec:
    """Base class for all extraction-spec expression nodes."""

    def dtype(self) -> T.DataType:
        raise NotImplementedError

    nullable: bool = True

    # -- expression sugar (Test1.cs:190-218: arithmetic / concat in schema) --
    def __add__(self, other: Any) -> "Spec":
        other = _as_spec(other)
        if isinstance(self.dtype(), T.StringType) or isinstance(
            other.dtype(), T.StringType
        ):
            return Concat(self, other)
        return BinOp("+", self, other)

    def __radd__(self, other: Any) -> "Spec":
        return _as_spec(other).__add__(self)

    def __mul__(self, other: Any) -> "Spec":
        return BinOp("*", self, _as_spec(other))

    __rmul__ = __mul__

    def __sub__(self, other: Any) -> "Spec":
        return BinOp("-", self, _as_spec(other))

    # slots this node reads in the CURRENT element scope. Nested struct/array
    # scopes own their children; they surface here as a single slot.
    def refs(self) -> list["_Slot"]:
        raise NotImplementedError


def _as_spec(v: Any) -> Spec:
    return v if isinstance(v, Spec) else Lit(v)


class _Slot(Spec):
    """A leaf that reads one tag/attribute/tag-name of the current element —
    the analogue of a ParserData slot (Parser.cs:516-537).  ``kind`` is one of
    element/attr/tag."""

    _ids = iter(range(1, 1 << 30))

    def __init__(self, kind: str, pattern: str | None, dt: T.DataType, nullable=True):
        self.slot_id = next(self._ids)
        self.kind = kind
        self.pattern = pattern
        self._dtype = dt
        self.nullable = nullable

    def dtype(self) -> T.DataType:
        return self._dtype

    def refs(self) -> list["_Slot"]:
        return [self]

    def default(self) -> Any:
        """Value when the tag never appears — default(T) (Parser.cs:531-536)."""
        return None


class _ScalarSlot(_Slot):
    """Typed element text; ``conv`` is one of the ``_conv_*`` contracts."""

    def __init__(self, pattern, dt, conv, nullable=True, default=None):
        super().__init__("element", pattern, dt, nullable)
        self._conv = conv
        self._default = default

    def default(self):
        return self._default


class _StringSlot(_Slot):
    def __init__(self, pattern):
        super().__init__("element", pattern, T.StringType())


class _AttrSlot(_Slot):
    def __init__(self, name):
        super().__init__("attr", name, T.StringType())


class _TagSlot(_Slot):
    def __init__(self):
        super().__init__("tag", None, T.StringType())


class _CustomSlot(_Slot):
    """Custom escape hatch (Parser.cs:318-331): arbitrary fn(element)->value."""

    def __init__(self, pattern, fn: Callable[[Any], Any], dt: T.DataType):
        super().__init__("element", pattern, dt)
        self.fn = fn


class Struct(_Slot):
    """One record built from one element (TypeParser, Parser.cs:211-255)."""

    def __init__(self, pattern: str, fields: dict[str, Spec]):
        self.fields = dict(fields)
        dt = T.StructType(
            [
                T.StructField(name, f.dtype(), f.nullable)
                for name, f in self.fields.items()
            ]
        )
        super().__init__("element", pattern, dt)


class Arr(_Slot):
    """Per-matching-child record stream (ArrayParser, Parser.cs:257-316):
    under the container element, every child matching one of ``inner``'s
    top-level slots emits one output, in document order, with all other
    slots at their defaults (slot reset per emit, Parser.cs:272-277)."""

    def __init__(self, pattern: str, inner: Spec):
        self.inner = inner
        super().__init__("element", pattern, T.ArrayType(inner.dtype(), True))


# ---------------------------------------------------------------------------
# expression nodes (pure projections over slots — Test1.cs:187-231)
# ---------------------------------------------------------------------------


class Lit(Spec):
    def __init__(self, value: Any):
        self.value = value

    def dtype(self):
        if isinstance(self.value, bool):
            return T.BooleanType()
        if isinstance(self.value, int):
            return T.IntegerType()
        if isinstance(self.value, float):
            return T.DoubleType()
        if isinstance(self.value, _decimal.Decimal):
            return T.DecimalType(38, 18)
        return T.StringType()

    def refs(self):
        return []


class BinOp(Spec):
    """Nullable arithmetic with C# ``int?`` semantics: null op x -> null."""

    def __init__(self, op: str, left: Spec, right: Spec):
        self.op, self.left, self.right = op, left, right

    def dtype(self):
        lt, rt = self.left.dtype(), self.right.dtype()
        for t in (lt, rt):
            if isinstance(t, T.DoubleType):
                return T.DoubleType()
        for t in (lt, rt):
            if isinstance(t, T.DecimalType):
                return t
        return T.IntegerType()

    def refs(self):
        return self.left.refs() + self.right.refs()


class Concat(Spec):
    """C# string ``+``: null operands treated as empty string."""

    def __init__(self, *parts: Spec):
        self.parts = [_as_spec(p) for p in parts]

    def dtype(self):
        return T.StringType()

    def refs(self):
        return [r for p in self.parts for r in p.refs()]


class Coalesce(Spec):
    """C# ``??`` over alternative tags (Test1.cs:187-209)."""

    def __init__(self, *alts: Spec):
        self.alts = [_as_spec(a) for a in alts]

    def dtype(self):
        return self.alts[0].dtype()

    def refs(self):
        return [r for a in self.alts for r in a.refs()]


# ---------------------------------------------------------------------------
# public constructor namespace
# ---------------------------------------------------------------------------


class X:
    """Spec constructors. ``X.struct("sample2", {...})`` is the analogue of
    ``q => q.Type("sample2", a => new Sample {...})``."""

    @staticmethod
    def int_(tag: str) -> Spec:
        # non-null int: missing tag -> 0 (default(int), Parser.cs:531-536)
        return _ScalarSlot(tag, T.IntegerType(), _conv_int, nullable=False, default=0)

    @staticmethod
    def nint(tag: str) -> Spec:
        return _ScalarSlot(tag, T.IntegerType(), _conv_nint)

    @staticmethod
    def nbool(tag: str) -> Spec:
        return _ScalarSlot(tag, T.BooleanType(), _conv_nbool)

    @staticmethod
    def ndecimal(tag: str) -> Spec:
        return _ScalarSlot(tag, T.DecimalType(38, 18), _conv_ndecimal)

    @staticmethod
    def ndate(tag: str) -> Spec:
        return _ScalarSlot(tag, T.TimestampType(), _conv_ndate)

    @staticmethod
    def string(tag: str) -> Spec:
        return _StringSlot(tag)

    @staticmethod
    def attr(name: str) -> Spec:
        return _AttrSlot(name)

    @staticmethod
    def tag() -> Spec:
        return _TagSlot()

    @staticmethod
    def struct(tag: str, fields: dict[str, Spec]) -> Struct:
        return Struct(tag, fields)

    @staticmethod
    def array(tag: str, inner: Spec) -> Arr:
        return Arr(tag, inner)

    @staticmethod
    def custom(tag: str, fn: Callable[[Any], Any], dtype: T.DataType) -> Spec:
        return _CustomSlot(tag, fn, dtype)

    @staticmethod
    def coalesce(*alts: Spec) -> Spec:
        return Coalesce(*alts)

    @staticmethod
    def concat(*parts: Spec) -> Spec:
        return Concat(*parts)

    @staticmethod
    def lit(value: Any) -> Spec:
        return Lit(value)


# ---------------------------------------------------------------------------
# code generation: spec tree -> Python source of specialised kernels
# ---------------------------------------------------------------------------

# The tag->branch memo of each dispatch scope is bounded, so adversarial
# streams of distinct tag names can't grow it without limit; past the cap,
# unseen names are resolved by the same ordered scan, just not remembered.
_MATCH_MEMO_MAX = 4096

_UNSET = object()  # "slot not filled yet": parsed values may themselves be None


def _resolver(patterns: list[str], memo: dict, strict: bool) -> Callable[[str], int]:
    """Tag -> branch index (-1: skip) for tags the exact-name dict misses:
    exact name first, then wildcard patterns in declaration order
    (Parser.cs:168-187).  Results are memoized per raw tag up to the cap."""

    def resolve(tag: str) -> int:
        name = tag if strict else tag.rsplit("}", 1)[-1]
        k = next((k for k, p in enumerate(patterns) if p == name), -1)
        if k < 0:
            k = next(
                (
                    k
                    for k, p in enumerate(patterns)
                    if "*" in p and match_pattern(p, name)
                ),
                -1,
            )
        if len(memo) < _MATCH_MEMO_MAX:
            memo[tag] = k
        return k

    return resolve


def _parse_error(strict: bool) -> Callable[[Any, Exception], ExtractionError]:
    def err(elem, exc: Exception) -> ExtractionError:
        name = elem.tag if strict else elem.tag.rsplit("}", 1)[-1]
        return ExtractionError(f"Exception while parsing node '{name}': {exc}")

    return err


def _unique(refs: list[_Slot]) -> list[_Slot]:
    seen: dict[int, _Slot] = {}
    for s in refs:
        seen.setdefault(s.slot_id, s)
    return list(seen.values())


class _Codegen:
    """Emits one ``def`` per struct/array scope into ``self.defs``; the
    objects the source refers to (memos, custom functions, literals) live in
    ``self.env``, which becomes the functions' globals."""

    def __init__(self, strict: bool):
        self.strict = strict
        self.defs: list[str] = []
        self.memos: list[dict] = []
        self.env: dict[str, Any] = {
            "_U": _UNSET,
            "_EE": ExtractionError,
            "_Dec": _decimal.Decimal,
            "_InvOp": _decimal.InvalidOperation,
            "_fromiso": _dt.datetime.fromisoformat,
            "_ndate": _conv_ndate,
            "_inner": _inner_xml,
            "_perr": _parse_error(strict),
        }
        self._n = 0
        self._fns: dict[int, str] = {}
        self._tables: dict[int, tuple[str, str, str]] = {}

    def _name(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}{self._n}"

    def _const(self, obj: Any, prefix: str = "_k") -> str:
        name = self._name(prefix)
        self.env[name] = obj
        return name

    def _local(self, var: str) -> str:
        """Expression for the matching name of the tag held in ``var``."""
        if self.strict:
            return var
        return f"({var}.rsplit('}}', 1)[-1] if '}}' in {var} else {var})"

    def _default(self, slot: _Slot) -> str:
        d = slot.default()
        return "None" if d is None else self._const(d)

    # -- child dispatch -----------------------------------------------------

    def _dispatch(self, scope: int, slots: list[_Slot], ind: str) -> list[str]:
        """Lines setting ``k`` to the branch of child tag ``t``: one dict
        lookup for exact names, then the bounded memo, then the resolver.
        A pattern holding '}' can never equal a local name, so it stays out
        of the exact dict unless names are compared in Clark form.  The
        tables are shared by every function generated for one scope."""
        if scope not in self._tables:
            exact: dict[str, int] = {}
            for k, s in enumerate(slots):
                p = s.pattern
                if "*" not in p and (self.strict or "}" not in p):
                    exact.setdefault(p, k)
            memo: dict[str, int] = {}
            self.memos.append(memo)
            resolve = _resolver([s.pattern for s in slots], memo, self.strict)
            self._tables[scope] = (
                self._const(exact, "_x"),
                self._const(memo, "_m"),
                self._const(resolve, "_r"),
            )
        x, m, r = self._tables[scope]
        return [
            f"{ind}k = {x}.get(t)",
            f"{ind}if k is None:",
            f"{ind}    k = {m}.get(t)",
            f"{ind}    if k is None:",
            f"{ind}        k = {r}(t)",
        ]

    # -- element parsers ----------------------------------------------------

    def _parse(self, slot: _Slot, v: str, ind: str) -> list[str]:
        """Lines assigning the value of element slot ``slot``, read from
        child element ``c``, to variable ``v``."""
        if isinstance(slot, Struct):
            return [f"{ind}{v} = {self.struct_fn(slot)}(c)"]
        if isinstance(slot, Arr):
            return [f"{ind}{v} = {self.arr_fn(slot)}(c)"]
        if isinstance(slot, _CustomSlot):
            return [f"{ind}{v} = {self._const(slot.fn, '_f')}(c)"]
        if isinstance(slot, _StringSlot):
            return [f"{ind}{v} = _inner(c) if len(c) else (c.text or '')"]
        if not isinstance(slot, _ScalarSlot):
            raise TypeError(f"cannot compile slot {type(slot).__name__}")
        conv = slot._conv
        if conv is _conv_int or conv is _conv_nint:
            empty = (
                f"{v} = None"
                if conv is _conv_nint
                else "raise _EE('empty text for non-null int')"
            )
            body = [
                "s = c.text",
                "if s is not None:",
                "    s = s.strip()",
                "if s:",
                "    try:",
                f"        {v} = int(s)",
                "    except ValueError as err:",
                "        raise _perr(c, err) from err",
                "else:",
                f"    {empty}",
            ]
        elif conv is _conv_ndecimal:
            body = [
                "s = c.text",
                "if s is not None:",
                "    s = s.strip()",
                "if s:",
                "    try:",
                f"        {v} = _Dec(s)",
                "    except _InvOp:",
                f"        {v} = None",
                "else:",
                f"    {v} = None",
            ]
        elif conv is _conv_nbool:
            body = [
                "s = c.text",
                "u = s.strip().lower() if s is not None else ''",
                "if not u:",
                f"    {v} = None",
                "elif u == 'true' or u == '1':",
                f"    {v} = True",
                "elif u == 'false' or u == '0':",
                f"    {v} = False",
                "else:",
                "    raise _EE('bad bool text ' + repr(s))",
            ]
        elif conv is _conv_ndate:
            # ISO text on the fast path; anything else takes the full
            # format chain, which raises the contract's error on a miss
            body = [
                "s = c.text",
                "u = s.strip() if s is not None else ''",
                "if u:",
                "    try:",
                f"        {v} = _fromiso(u)",
                "    except ValueError:",
                f"        {v} = _ndate(s)",
                "else:",
                f"    {v} = None",
            ]
        else:
            raise TypeError(f"cannot compile converter {conv!r}")
        return [ind + line for line in body]

    # -- expressions --------------------------------------------------------

    def _expr(self, node: Spec, vars: dict[int, str], lines: list[str], ind: str) -> str:
        """Append lines computing ``node`` over the scope's slot variables;
        returns the expression (a variable or constant) holding its value.
        Evaluation order and laziness follow the reference semantics:
        operands left to right, coalesce alternatives only while null."""
        if isinstance(node, _Slot):
            return vars[node.slot_id]
        if isinstance(node, Lit):
            return "None" if node.value is None else self._const(node.value)
        x = self._name("x")
        if isinstance(node, BinOp):
            if node.op not in ("+", "-", "*"):
                raise ValueError(node.op)
            a = self._expr(node.left, vars, lines, ind)
            b = self._expr(node.right, vars, lines, ind)
            lines.append(
                f"{ind}{x} = None if {a} is None or {b} is None else {a} {node.op} {b}"
            )
        elif isinstance(node, Concat):
            parts = [self._expr(p, vars, lines, ind) for p in node.parts]
            joined = " + ".join(f"('' if {p} is None else str({p}))" for p in parts)
            lines.append(f"{ind}{x} = {joined or repr('')}")
        elif isinstance(node, Coalesce):
            lines.append(f"{ind}{x} = None")
            for alt in node.alts:
                lines.append(f"{ind}if {x} is None:")
                v = self._expr(alt, vars, lines, ind + "    ")
                lines.append(f"{ind}    {x} = {v}")
        else:
            raise TypeError(f"cannot compile spec node {type(node).__name__}")
        return x

    # -- scopes -------------------------------------------------------------

    def _child_loop(self, scope: int, elems: list[_Slot], branch) -> list[str]:
        """``for c in e:`` over the children, running the branch of the slot
        each child's tag selects; when every pattern is "*" the first slot
        takes every child, with no lookup."""
        lines = ["    for c in e:", "        t = c.tag"]
        if all(s.pattern == "*" for s in elems):
            return lines + branch(elems[0], "        ")
        lines += self._dispatch(scope, elems, "        ")
        for k, s in enumerate(elems):
            lines.append(f"        {'if' if k == 0 else 'elif'} k == {k}:")
            lines += branch(s, "            ")
        return lines

    def row_fn(self, root: Struct) -> str:
        """``def`` for the top-level struct: element -> tuple in schema
        order (the row a Spark surface emits)."""
        return self.struct_fn(root, row=True)

    def struct_fn(self, st: Struct, row: bool = False) -> str:
        """``def`` for one struct scope: element -> dict (a nested struct
        value), or -> tuple for the root ``row``.  Children are matched
        once, first occurrence wins."""
        if st.slot_id in self._fns:
            return self._fns[st.slot_id]
        fname = self._fns[st.slot_id] = self._name("_s")
        refs = _unique([s for f in st.fields.values() for s in f.refs()])
        vars = {s.slot_id: self._name("v") for s in refs}
        elems = [s for s in refs if s.kind == "element"]
        lines = [f"def {fname}(e):"]
        for s in refs:
            if s.kind == "attr":
                lines.append(f"    {vars[s.slot_id]} = e.get({s.pattern!r})")
            elif s.kind == "tag":
                lines.append("    t = e.tag")
                lines.append(f"    {vars[s.slot_id]} = {self._local('t')}")

        def first(s: _Slot, ind: str) -> list[str]:
            v = vars[s.slot_id]
            return [f"{ind}if {v} is _U:", *self._parse(s, v, ind + "    ")]

        if elems:
            lines.append("    " + " = ".join(vars[s.slot_id] for s in elems) + " = _U")
            lines += self._child_loop(st.slot_id, elems, first)
            for s in elems:
                v = vars[s.slot_id]
                lines.append(f"    if {v} is _U:")
                lines.append(f"        {v} = {self._default(s)}")
        outs = [self._expr(f, vars, lines, "    ") for f in st.fields.values()]
        if row:
            lines.append(f"    return ({''.join(o + ', ' for o in outs)})")
        else:
            items = ", ".join(f"{n!r}: {o}" for n, o in zip(st.fields, outs))
            lines.append(f"    return {{{items}}}")
        self.defs.append("\n".join(lines))
        return fname

    def arr_fn(self, arr: Arr) -> str:
        """``def`` for one array scope: container element -> list, one item
        per matching child."""
        if arr.slot_id in self._fns:
            return self._fns[arr.slot_id]
        fname = self._fns[arr.slot_id] = self._name("_a")
        refs = _unique(arr.inner.refs())
        vars = {s.slot_id: self._name("v") for s in refs}
        elems = [s for s in refs if s.kind == "element"]
        lines = [f"def {fname}(e):"]
        for s in refs:
            if s.kind == "attr":  # container attributes are in scope
                lines.append(f"    {vars[s.slot_id]} = e.get({s.pattern!r})")

        def emit(s: _Slot, ind: str) -> list[str]:
            # this slot parsed, every other slot reset to its default
            out = self._parse(s, vars[s.slot_id], ind)
            for o in refs:
                if o.kind == "element" and o is not s:
                    out.append(f"{ind}{vars[o.slot_id]} = {self._default(o)}")
                elif o.kind == "tag":
                    out.append(f"{ind}{vars[o.slot_id]} = {self._local('t')}")
            item = self._expr(arr.inner, vars, out, ind)
            return out + [f"{ind}out.append({item})"]

        lines.append("    out = []")
        if elems:
            lines += self._child_loop(arr.slot_id, elems, emit)
        lines.append("    return out")
        self.defs.append("\n".join(lines))
        return fname

    def build(self, fname: str) -> Callable[[Any], Any]:
        """Exec the generated source and return the named function."""
        src = self.source()
        # keep the generated source visible to tracebacks; naming the file
        # by its digest keeps one entry per distinct kernel, however often
        # tasks recompile it
        filename = f"<xsp-kernel-{hashlib.sha1(src.encode()).hexdigest()[:12]}>"
        linecache.cache[filename] = (len(src), None, src.splitlines(True), filename)
        env = dict(self.env)
        exec(compile(src, filename, "exec"), env)
        return env[fname]

    def source(self) -> str:
        return "\n\n".join(self.defs) + "\n"


# ---------------------------------------------------------------------------
# compile + single-document execution (the unit the distributed shredder maps)
# ---------------------------------------------------------------------------


class _Compiled:
    """Shared lifecycle of the compile products: the generated kernels are
    built lazily, once per instance, and never pickled — an unpickled
    instance (executor side, or the xspxml reader's plain ``pickle``)
    regenerates them on first use."""

    _kernel: Callable[[Any], Any] | None = None  # also after unpickling

    def __init__(self, pattern: str, strict_ns: bool):
        self._pattern = pattern
        self.strict_ns = strict_ns

    def _generate(self, gen: _Codegen) -> str:  # pragma: no cover - abstract
        raise NotImplementedError

    def kernel(self) -> Callable[[Any], Any]:
        """The generated kernel, built on first call."""
        if self._kernel is None:
            gen = _Codegen(self.strict_ns)
            fname = self._generate(gen)
            self._memos = gen.memos
            self._kernel = gen.build(fname)
        return self._kernel

    def source(self) -> str:
        """The generated Python source (for inspection and debugging)."""
        gen = _Codegen(self.strict_ns)
        self._generate(gen)
        return gen.source()

    def matches(self, tag: str) -> bool:
        """Does an element with this tag match the root pattern?"""
        if tag == self._pattern and (self.strict_ns or "}" not in tag):
            return True
        name = tag if self.strict_ns else tag.rsplit("}", 1)[-1]
        return match_pattern(self._pattern, name)

    def __getstate__(self):
        state = dict(self.__dict__)
        state.pop("_kernel", None)
        state.pop("_memos", None)
        return state


class CompiledSpec(_Compiled):
    """Compile-once product, mirroring the reference's two-phase lifecycle
    (schema extraction at CreateParser time, Parser.cs:110-115; per-record
    work is one call of the generated row function)."""

    def __init__(self, root: Struct, strict_ns: bool = False):
        if not isinstance(root, Struct):
            raise TypeError("top-level spec must be X.struct(...)")
        super().__init__(root.pattern, strict_ns)
        self.root = root
        self.schema: T.StructType = root.dtype()
        self.names: list[str] = [f.name for f in self.schema.fields]

    def _generate(self, gen: _Codegen) -> str:
        return gen.row_fn(self.root)

    def extract_row(self, elem) -> tuple | None:
        """One record as a tuple in schema order; None if the root
        pattern does not match."""
        return self.kernel()(elem) if self.matches(elem.tag) else None

    def extract_element(self, elem) -> dict[str, Any] | None:
        row = self.extract_row(elem)
        return None if row is None else dict(zip(self.names, row))

    def extract_string(self, xml: str) -> dict[str, Any] | None:
        return self.extract_element(ET.fromstring(xml))


class CompiledArraySpec(_Compiled):
    """``ParserTool.CreateArrayParser`` (Parser.cs:341-345): the root element
    is the container; one output value per matching child, document order."""

    def __init__(self, container_pattern: str, inner: Spec, strict_ns: bool = False):
        super().__init__(container_pattern, strict_ns)
        self.arr = Arr(container_pattern, inner)
        self.element_type = inner.dtype()

    def _generate(self, gen: _Codegen) -> str:
        return gen.arr_fn(self.arr)

    def extract_element(self, elem) -> list[Any] | None:
        """The items (struct items as dicts); None if the container
        pattern does not match."""
        return self.kernel()(elem) if self.matches(elem.tag) else None

    def extract_string(self, xml: str) -> list[Any] | None:
        return self.extract_element(ET.fromstring(xml))


def compile_spec(root: Struct, strict_ns: bool = False) -> CompiledSpec:
    """``strict_ns=False`` (default) reproduces the reference's
    LocalName-only matching; ``True`` matches full Clark-notation names
    ("{uri}local") so colliding local names in different namespaces are
    NOT silently merged — write spec patterns in Clark notation then."""
    return CompiledSpec(root, strict_ns=strict_ns)


def compile_array_spec(
    container_pattern: str, inner: Spec, strict_ns: bool = False
) -> CompiledArraySpec:
    return CompiledArraySpec(container_pattern, inner, strict_ns=strict_ns)

