"""The unit of work the benchmark times, and the round schedule."""

from __future__ import annotations

import random
from collections.abc import Callable, Iterator
from dataclasses import dataclass


@dataclass
class Op:
    """One operation as the engine sees it.

    ``run(probe)`` performs the op and returns its result rows; it marks
    its phases with ``probe.phase(...)`` and runs actions through
    ``probe.collect(df)``. ``expect()`` gives the rows a correct engine
    returns; it is called only after the timed phase. An op without
    ``expect`` is correct when it does not raise.
    """

    kind: str
    family: str
    run: Callable
    expect: Callable[[], list] | None = None
    exec_kind: str | None = None
    is_write: bool = False
    is_read: bool = False


ORDER_SEED = 0


def rounds(kinds) -> Iterator[str]:
    """Endless stream of op kinds: every round runs each of ``kinds`` once,
    in one fixed order (a shuffle with a constant seed), so a run that
    completes a round has timed every kind. The order is not seeded: an
    op's cost depends on what ran before it (the first heavy op after
    the warm-up pays 2-4 s more on analytics; a read after a SPARQL update
    pays for the update on write_mix), and with a seeded order the same
    kind read up to 2x apart from seed to seed. Metrics weight each kind
    by its share of the workload's declared mix (``report.end_to_end``)."""
    order = list(kinds)
    random.Random(ORDER_SEED).shuffle(order)
    while True:
        yield from order
