"""Trigger-expression grammar — mee's ``parseTrigger`` re-expressed.

The reference (`modules/handlers/__init__.py:10-52`) parses a handler
config string into a CDC-op bitmask with three forms:

* ``ALL``                     → every op
* ``X|Y`` (or a single ``X``) → the named ops
* ``~X``                      → every op except X

and anything else parses to "never fires" (bitmask 0). The reference
evals the rewritten expression against INSERT=1/UPDATE=2/DELETE=4; here
the result is the op-name tuple feeding a DataFrame ``isin`` filter —
same semantics, declarative form, no eval. Closes the F3 gap: round 1
hardcoded the op mapping but not the grammar itself.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

OPS: tuple[str, ...] = ("INSERT", "UPDATE", "DELETE")

_ALL_RE = re.compile(r"^\s*ALL\s*$", re.I)
_NOT_RE = re.compile(r"^\s*~\s*(INSERT|UPDATE|DELETE)\s*$", re.I)
_OR_RE = re.compile(
    r"^\s*(INSERT|UPDATE|DELETE)(\s*\|\s*(INSERT|UPDATE|DELETE))*\s*$", re.I)
_KEYWORD_RE = re.compile(r"(INSERT|UPDATE|DELETE)", re.I)


def parse_trigger(expr: str) -> tuple[str, ...]:
    """Trigger string → ops it fires on (canonical order, deduped).

    Mirrors the reference truth table exactly, including the fallthrough:
    an unparseable expression fires on NOTHING (reference returns 0).
    """
    if _ALL_RE.match(expr):
        return OPS
    m = _NOT_RE.match(expr)
    if m:
        neg = m.group(1).upper()
        return tuple(o for o in OPS if o != neg)
    if _OR_RE.match(expr):
        named = {w.upper() for w in _KEYWORD_RE.findall(expr)}
        return tuple(o for o in OPS if o in named)
    return ()


def trigger_filter(op_col: Column, expr: str) -> Column:
    """Boolean column: does ``op_col`` fire under ``expr``?

    An empty op set is a constant false (Catalyst folds the whole branch
    away), matching the reference's bitmask-0 'handler never fires'."""
    ops = parse_trigger(expr)
    if not ops:
        return F.lit(False)
    return op_col.isin(list(ops))
