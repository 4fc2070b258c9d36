"""The benchmark's own model of the subscription filter grammar, used to
derive which event ids each subscriber must receive.

Written from the grammar's specification, not imported from the
program, so a routing defect in the daemon cannot also hide in the
expectation:

    filter  := field op literal      field := [a-z.-]+ (dots walk the payload)
    op      := = | >= | <= | < | >
    literal := 'text'  -> string     YYYY-MM-DD or YYYYMMDD -> date
             | anything int() takes -> int

A missing path or a payload value of the wrong JSON type never matches;
a date filter reads a string value and matches only if it parses as an
ISO date.  Filters of one subscription AND together; none matches all.
"""

from __future__ import annotations

import datetime
import operator
import re
from collections.abc import Callable
from dataclasses import dataclass

_FILTER = re.compile(r"^([a-z.-]+)(=|>=|<=|<|>)(.*)$")
_DATE = re.compile(r"^(\d{4})-?(\d{2})-?(\d{2})$")
_OPS = {
    "=": operator.eq,
    ">=": operator.ge,
    "<=": operator.le,
    "<": operator.lt,
    ">": operator.gt,
}


def _date(text: str) -> datetime.date | None:
    m = _DATE.match(text)
    if not m:
        return None
    try:
        return datetime.date(int(m[1]), int(m[2]), int(m[3]))
    except ValueError:
        return None


@dataclass(frozen=True)
class Filter:
    """One parsed filter; calling it on a payload dict says whether the
    payload matches."""

    path: tuple[str, ...]
    op: str
    kind: str  # "string", "date" or "int"
    value: str | int | datetime.date

    def __call__(self, payload: dict) -> bool:
        node = payload
        for key in self.path:
            if not isinstance(node, dict) or key not in node:
                return False
            node = node[key]
        compare = _OPS[self.op]
        if self.kind == "int":
            return type(node) is int and compare(node, self.value)
        if not isinstance(node, str):
            return False
        if self.kind == "string":
            return compare(node, self.value)
        day = _date(node)
        return day is not None and compare(day, self.value)


def compile_filter(text: str) -> Filter:
    """Filter text -> Filter; ValueError if the text is not in the grammar."""
    m = _FILTER.match(text)
    if not m:
        raise ValueError(f"invalid filter {text!r}")
    path, op, literal = tuple(m[1].split(".")), m[2], m[3]
    if len(literal) >= 2 and literal[0] == literal[-1] == "'":
        return Filter(path, op, "string", literal[1:-1])
    day = _date(literal)
    if day is not None:
        return Filter(path, op, "date", day)
    return Filter(path, op, "int", int(literal))


def subscription(subsystem: str, filters) -> Callable[[str, dict], bool]:
    """(event subsystem, payload) -> does this subscription receive it."""
    preds = [compile_filter(f) for f in filters]

    def receives(event_subsystem: str, payload: dict) -> bool:
        return event_subsystem == subsystem and all(p(payload) for p in preds)

    return receives
