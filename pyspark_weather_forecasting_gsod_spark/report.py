"""Route reports: the engine's auto operators say which regime they took.

Every router that picks a strategy from a probe of its input calls
``record`` once per decision. The record goes to the ``spark_graft``
logger at INFO, so it is silent unless a caller turns that logger on, and
it carries the decision as attributes (``operator``, ``route``,
``probes``) for a handler or a test to read without parsing the message.
"""

from __future__ import annotations

import logging

logger = logging.getLogger("spark_graft")


def record(operator: str, route: str, **probes) -> None:
    """Report that ``operator`` took ``route``. Each probe is the value the
    decision read, or a ``(value, cap)`` pair when it was held against a
    cap."""
    if not logger.isEnabledFor(logging.INFO):
        return
    shown = " ".join(
        f"{k}={v[0]}/{v[1]}" if isinstance(v, tuple) else f"{k}={v}"
        for k, v in probes.items()
    )
    logger.info(
        "%s -> %s %s", operator, route, shown,
        extra={"operator": operator, "route": route, "probes": probes},
    )
