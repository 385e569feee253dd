"""One fixed-point loop for the distributed iterative operators.

Each round builds the next state lazily, marks it
``localCheckpoint(eager=False)`` and runs the round's one Spark action,
the probe: the job that computes the probe value also stores the
state, so a round costs one result job and every round's lineage is
truncated. (Without truncation the plan grows each round and driver
analysis dominates: 2 s → 4 s → 11 s per round, measured on connected
components.)
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame, Any], DataFrame],
    probe: Callable[[DataFrame, DataFrame], Any],
    max_rounds: int,
    *,
    until: Callable[[Any], bool] | None = None,
    value: Any = None,
) -> tuple[DataFrame, list]:
    """Up to ``max_rounds`` rounds of ``state = step(state, value)``,
    where ``value`` is the previous round's probe (the argument in round
    one) and ``probe(new, old)`` runs one action over the new state.

    With ``until``, stops after the first probe value it accepts and
    raises ``RuntimeError`` if ``max_rounds`` pass first: an unconverged
    state is never returned. Without it, runs exactly ``max_rounds``.
    Returns the final state and the per-round probe values."""
    trace: list = []
    for _ in range(max_rounds):
        # local: a lost executor loses the round's blocks; where a run
        # must survive that, a reliable checkpoint() dir is the swap
        new = step(state, value).localCheckpoint(eager=False)
        value = probe(new, state)
        trace.append(value)
        state = new
        if until is not None and until(value):
            return state, trace
    if until is not None:
        raise RuntimeError(
            f"no fixed point after {max_rounds} rounds (last probe "
            f"{value!r}); raise the round limit"
        )
    return state, trace
