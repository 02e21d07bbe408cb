"""Plan constants as SQL text.

A literal collection built from Column objects (``F.lit`` per value,
``isin`` over a list, ``create_map`` over literals) costs the driver
several Py4J round trips per value: each ``F.lit``, each ``.cast`` and
PySpark's call-site capture around every call. Rendered as SQL text, the
same collection is one ``F.expr`` (or one string ``filter``) whatever its
size, and Catalyst parses it to the same plan: ``IN (...)`` stays an
``In`` predicate the parquet scan pushes down, and ``map(...)`` folds to
the same literal map.

Only numbers the engine computed go in: every value passes through
``int()`` or ``float()`` here, so no user string reaches SQL text. Each
literal is typed for the column it meets, so no cast is planned:
``int`` as digits, ``bigint`` as ``<digits>L``, and ``double`` as
``repr(x) + "D"``, the shortest text that parses back to the same
float64, so values survive bit for bit.
"""

from __future__ import annotations

import math

_INT_BOUNDS = {"int": 2**31, "bigint": 2**63}


def sql_literal(value, sql_type: str) -> str:
    """SQL text of one number typed ``int``, ``bigint`` or ``double``, or
    of a sequence of them typed ``array<...>``."""
    if sql_type in _INT_BOUNDS:
        v = int(value)
        if not -_INT_BOUNDS[sql_type] <= v < _INT_BOUNDS[sql_type]:
            raise ValueError(f"{v} is out of range for {sql_type}")
        return f"{v}L" if sql_type == "bigint" else str(v)
    if sql_type == "double":
        v = float(value)
        if not math.isfinite(v):
            raise ValueError(f"{v} has no SQL double literal")
        return repr(v) + "D"
    if sql_type.startswith("array<") and sql_type.endswith(">"):
        return f"array({sql_list(value, sql_type[6:-1])})"
    raise ValueError(f"unsupported SQL literal type {sql_type!r}")


def sql_list(values, sql_type: str) -> str:
    """Comma-separated SQL literals, for ``IN (...)`` and ``array(...)``."""
    return ", ".join(sql_literal(v, sql_type) for v in values)


def sql_map(mapping: dict, key_type: str, value_type: str) -> str:
    """``map(k, v, ...)`` SQL text over ``mapping`` in key order."""
    return "map({})".format(
        ", ".join(
            f"{sql_literal(k, key_type)}, {sql_literal(v, value_type)}"
            for k, v in sorted(mapping.items())
        )
    )
