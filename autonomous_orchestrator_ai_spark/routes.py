"""Route records: one structured log record per cost-routed plan choice.

Several operators pick a plan from a pre-flight estimate: the LSH guard
cap, the bounded-transient slice counts, the payload pin, the exact or
LSH cluster-safe split, the similarity screen's multiprobe and rescore
routes, and the BPE driver or distributed merge loop. Each reports the
choice through ``record_route``, which emits one INFO record on the
``autonomous_orchestrator_ai_spark.routes`` logger and returns the choice,
so the call site stays one expression. The structured fields ride on the
record as ``record.route``: ``name``, ``inputs`` (the measured quantities
the estimate is priced from), ``estimate``, ``budget`` and ``chosen``.

The package attaches no handler and never logs at WARNING or above, so
with the default logging configuration nothing is printed. A caller that
wants the records attaches a handler to ``LOGGER`` and sets it to INFO
(``tools/profile_query.py`` does; tests use pytest's ``caplog``). Code
never routes by reading the log: every decision reaches its caller by
return value.
"""

from __future__ import annotations

import logging
from typing import Any, TypeVar

LOGGER = logging.getLogger(__name__)

T = TypeVar("T")


def record_route(
    name: str, *, inputs: dict[str, Any], estimate: Any, budget: Any, chosen: T
) -> T:
    """Emit the route record of one decision and return ``chosen``."""
    route = dict(name=name, inputs=inputs, estimate=estimate, budget=budget, chosen=chosen)
    LOGGER.info(
        "route %s: chose %r (estimate %r, budget %r)",
        name, chosen, estimate, budget, extra={"route": route},
    )
    return chosen
