"""Reference interpreter for extraction specs — the test oracle.

A direct, unoptimised walk of the spec tree that fills one slot table per
element scope and evaluates every field expression over it (the reference's
``TypeParser``/``ArrayParser`` loop, Parser.cs:119-316).  The engine runs the
generated kernels of ``plans.spec`` instead; the differential tests check the
two against each other, row for row and error for error.

The namespace mode is an explicit argument here, so the oracle has no state.
"""

from __future__ import annotations

from typing import Any

from xmlstreamprocessor_spark.plans.spec import (
    Arr,
    BinOp,
    Coalesce,
    Concat,
    ExtractionError,
    Lit,
    Struct,
    _AttrSlot,
    _conv_string,
    _CustomSlot,
    _ScalarSlot,
    _Slot,
    _StringSlot,
    _TagSlot,
    match_pattern,
)


def _name(tag: str, strict: bool) -> str:
    return tag if strict else tag.rsplit("}", 1)[-1]


def _match_slot(slots: list[_Slot], name: str) -> _Slot | None:
    # exact match first, then wildcard patterns in declaration order
    # (Parser.cs:168-187)
    for s in slots:
        if s.pattern == name:
            return s
    for s in slots:
        if "*" in (s.pattern or "") and match_pattern(s.pattern, name):
            return s
    return None


def parse_slot(slot: _Slot, elem, strict: bool) -> Any:
    if isinstance(slot, Struct):
        return eval_struct(slot, elem, strict)
    if isinstance(slot, Arr):
        return eval_arr(slot, elem, strict)
    if isinstance(slot, _ScalarSlot):
        try:
            return slot._conv(elem.text)
        except ExtractionError:
            raise
        except Exception as e:
            raise ExtractionError(
                f"Exception while parsing node '{_name(elem.tag, strict)}': {e}"
            ) from e
    if isinstance(slot, _StringSlot):
        return _conv_string(elem)
    if isinstance(slot, _AttrSlot):
        return elem.attrib.get(slot.pattern)
    if isinstance(slot, _TagSlot):
        return _name(elem.tag, strict)
    if isinstance(slot, _CustomSlot):
        return slot.fn(elem)
    raise TypeError(type(slot).__name__)


def eval_expr(node, slots: dict[int, Any]) -> Any:
    if isinstance(node, _Slot):
        return slots.get(node.slot_id)
    if isinstance(node, Lit):
        return node.value
    if isinstance(node, BinOp):
        left, right = eval_expr(node.left, slots), eval_expr(node.right, slots)
        if left is None or right is None:
            return None
        if node.op == "+":
            return left + right
        if node.op == "-":
            return left - right
        if node.op == "*":
            return left * right
        raise ValueError(node.op)
    if isinstance(node, Concat):
        vals = [eval_expr(p, slots) for p in node.parts]
        return "".join("" if v is None else str(v) for v in vals)
    if isinstance(node, Coalesce):
        for a in node.alts:
            v = eval_expr(a, slots)
            if v is not None:
                return v
        return None
    raise TypeError(type(node).__name__)


def eval_struct(struct: Struct, elem, strict: bool) -> dict[str, Any]:
    """Attribute and tag slots first, then one pass over the children with
    first-occurrence-wins (Parser.cs:224-228), missing slots defaulted."""
    refs = [s for f in struct.fields.values() for s in f.refs()]
    elem_slots = [s for s in refs if s.kind == "element"]
    slots: dict[int, Any] = {}
    for s in refs:
        if s.kind in ("attr", "tag"):
            slots[s.slot_id] = parse_slot(s, elem, strict)
    for child in elem:
        slot = _match_slot(elem_slots, _name(child.tag, strict))
        if slot is None or slot.slot_id in slots:
            continue
        slots[slot.slot_id] = parse_slot(slot, child, strict)
    for s in elem_slots:
        if s.slot_id not in slots:
            slots[s.slot_id] = s.default()
    return {name: eval_expr(f, slots) for name, f in struct.fields.items()}


def eval_arr(arr: Arr, elem, strict: bool) -> list[Any]:
    """One output per matching child, document order, every other slot reset
    to its default for each emit (Parser.cs:272-277)."""
    refs = arr.inner.refs()
    elem_slots = [s for s in refs if s.kind == "element"]
    base = {s.slot_id: s.default() for s in elem_slots}
    for s in refs:
        if s.kind == "attr":  # container attributes are in scope
            base[s.slot_id] = parse_slot(s, elem, strict)
    out = []
    for child in elem:
        name = _name(child.tag, strict)
        slot = _match_slot(elem_slots, name)
        if slot is None:
            continue
        slots = dict(base)
        slots[slot.slot_id] = parse_slot(slot, child, strict)
        for s in refs:
            if s.kind == "tag":
                slots[s.slot_id] = name
        out.append(eval_expr(arr.inner, slots))
    return out


def extract(root: Struct, elem, strict: bool = False) -> dict[str, Any] | None:
    if not match_pattern(root.pattern, _name(elem.tag, strict)):
        return None
    return eval_struct(root, elem, strict)


def extract_array(arr: Arr, elem, strict: bool = False) -> list[Any] | None:
    if not match_pattern(arr.pattern, _name(elem.tag, strict)):
        return None
    return eval_arr(arr, elem, strict)
