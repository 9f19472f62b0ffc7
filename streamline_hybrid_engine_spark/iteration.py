"""The driver-side iteration primitive — the Flink ``iterate`` /
``iterateDelta`` analog (SURVEY §1.1) the package's loops run on.

The rule it encodes is D-Streams' (PAPERS.md, SOSP'13): checkpoint every
round, so lineage stays bounded and a lost round recomputes
deterministically from the last checkpoint. Here that is one
``localCheckpoint`` per round, and three rules fix when each one runs,
because at fixture scale a round costs job launches, not data:

- Every round's checkpoint is lazy. Its blocks land inside the first job
  that reads them (the next round's, or the probe's), never in a
  checkpoint job of its own.
- ``until`` is answered by a full ``count()`` over the round's
  checkpointed frame, not a ``limit(1)`` that may stop early and leave the
  rest to a second job. So one job both materializes the round and
  answers the probe.
- A persisted input handed over as ``release`` is unpersisted after the
  loop, once the last round is materialized: a probed round already is,
  and an unprobed last round is checkpointed eagerly. A fully lazy chain
  would otherwise recompute everything that cache held.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate(
    step: Callable[[DataFrame], DataFrame],
    state: DataFrame,
    rounds: int,
    until: Callable[[DataFrame], DataFrame] | None = None,
    release: DataFrame | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` for at most ``rounds`` rounds.

    ``until`` maps a round's checkpointed state to the rows that round
    changed. Like a Flink termination criterion, the loop stops after the
    first round where there are none. Returns the final state and whether
    ``until`` stopped the loop (always ``False`` without it)."""
    for i in range(rounds):
        eager = release is not None and until is None and i == rounds - 1
        state = step(state).localCheckpoint(eager=eager)
        if until is not None and until(state).count() == 0:
            settled = True
            break
    else:
        settled = False
    if release is not None:
        release.unpersist()
    return state, settled
