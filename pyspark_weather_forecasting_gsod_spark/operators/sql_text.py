"""SQL expression text for hot-path projections.

Building a projection as a tree of Column calls costs several py4j round
trips per node: every ``F.col`` captures its Python call site in the JVM,
and every Column method (``alias``, ``isNull``, ``over`` ...) does the same.
The fast GSOD pipeline made ~5,200 round trips per run that way, and
building its plan took longer than Spark took to analyze, optimize and plan
it. ``DataFrame.selectExpr`` ships a whole projection as strings in one
call, and the parser produces the same expressions, so the optimized plan
is unchanged. Every name and value that goes into such text passes through
``quote_ident`` or ``sql_literal``.
"""

from __future__ import annotations

import datetime
import math
from collections.abc import Sequence
from decimal import Decimal

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def quote_ident(name: str) -> str:
    """``name`` as one backticked identifier (an embedded backtick is
    doubled), so spaces, dots, keywords and function names stay a plain
    top-level column reference."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: object) -> str:
    """``value`` as a SQL literal of the type ``F.lit(value)`` gives it.

    A float is DOUBLE (``9999.9D``; a bare ``9999.9`` would parse as a
    DECIMAL), NaN and ±inf are casts; an int is INT or, outside the int32
    range, BIGINT; a string is quoted with ``\\`` and ``'`` escaped."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if _INT_MIN <= value <= _INT_MAX:
            return str(value)
        if _LONG_MIN <= value <= _LONG_MAX:
            return f"{value}L"
        raise ValueError(f"integer {value} does not fit in a BIGINT")
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        return f"{value!r}D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, Decimal):
        return f"{value}BD"
    if isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        return f"DATE'{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def window_sql(
    group_by: str | Sequence[str],
    order_by: str | Sequence[str],
    rows: tuple[int, int] | None = None,
) -> str:
    """``OVER`` clause body: ``PARTITION BY .. ORDER BY ..`` (ascending,
    nulls first, as ``Window.orderBy`` on bare columns), plus a ROWS frame
    from ``rows[0]`` to ``rows[1]`` relative to the current row."""
    group = [group_by] if isinstance(group_by, str) else list(group_by)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    text = (
        "PARTITION BY " + ", ".join(map(quote_ident, group))
        + " ORDER BY " + ", ".join(map(quote_ident, order))
    )
    if rows is not None:
        text += f" ROWS BETWEEN {_bound(rows[0])} AND {_bound(rows[1])}"
    return text


def _bound(offset: int) -> str:
    if offset == 0:
        return "CURRENT ROW"
    return f"{abs(offset)} {'PRECEDING' if offset < 0 else 'FOLLOWING'}"
