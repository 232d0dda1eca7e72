"""The one round loop behind the iterative graph operators.

An operator supplies only its round ``step`` (and, for a fixpoint, its
``until`` probe); :func:`iterate` owns what every such loop needs:

- **flat lineage** — each round's state is pinned with an eager
  ``localCheckpoint``, so round N's plan does not embed rounds 1..N-1;
- **no leaked checkpoints** — the checkpoint of the state a round replaces
  is released at once, so a call leaves one pinned frame (its result)
  whatever its round count;
- **termination** — with ``until`` the loop stops as soon as the probe
  holds and RAISES when ``rounds`` run out first (a partial fixpoint is a
  silently wrong answer); without it, exactly ``rounds`` rounds run.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

#: ``(step.__qualname__, rounds run)`` per :func:`iterate` call, in call
#: order, so the bench can report how many rounds each entry used.
ROUNDS: list[tuple[str, int]] = []


def _release(df: DataFrame) -> None:
    # DataFrame.unpersist() does not reach a local checkpoint: its blocks
    # belong to the RDD under the LogicalRDD plan.
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    until: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``state = step(state, i)`` for ``i = 1..rounds`` and return the
    final state. ``until(prev, new)`` (one driver-side scalar probe) ends
    the loop early; if it never holds, ``RuntimeError``. The caller's
    ``state`` is never released."""
    ran, done = 0, False
    for ran in range(1, rounds + 1):
        new = step(state, ran).localCheckpoint(eager=True)
        done = until is not None and until(state, new)
        if ran > 1:  # round 1 replaced the caller's frame
            _release(state)
        state = new
        if done:
            break
    ROUNDS.append((step.__qualname__, ran))
    if until is not None and not done:
        raise RuntimeError(
            f"{step.__qualname__}: no fixpoint within max_rounds={rounds}"
        )
    return state
