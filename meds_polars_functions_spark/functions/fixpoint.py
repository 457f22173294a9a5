"""Driver for iterative operators that run a step until its state stops
changing (k-core, both connected-components forms).

Each state is cut with a LAZY ``localCheckpoint``: nothing is computed
when the cut is taken. The convergence probe is what fills it — a
full-table aggregate computes every partition of the checkpoint RDD, so
the next step reads stored blocks and the plan stays one step deep, at
one driver job per round. A probe that touched only some partitions
(``limit``, ``sample``) would leave the cut half filled and the next
step would recompute the whole lineage. That is why ``probe`` is a list
of aggregate Columns and not a callable: a Column cannot hold a
``limit`` or ``sample``, and ``fixpoint`` rejects anything else.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Sequence[Column],
    max_iter: int,
    what: str,
) -> DataFrame:
    """Apply ``step`` until the one-row ``state.agg(*probe)`` is unchanged.

    Returns the first state whose probe row equals its predecessor's —
    a materialized checkpoint, so the caller may release any cache that
    ``step`` reads. The probe must be a sound change test for ``step``
    (e.g. a sum under a monotone update). Raises ``RuntimeError`` after
    ``max_iter`` steps without a fixpoint: a state that is not the
    fixpoint is a wrong answer, not an approximate one.
    """
    if not all(isinstance(c, Column) for c in probe):
        raise TypeError(f"{what}: probe must be a list of aggregate Columns")
    state = state.localCheckpoint(eager=False)
    prev = state.agg(*probe).collect()[0]
    for _ in range(max_iter):
        state = step(state).localCheckpoint(eager=False)
        row = state.agg(*probe).collect()[0]
        if row == prev:
            return state
        prev = row
    raise RuntimeError(
        f"{what} did not reach a fixpoint in {max_iter} iterations"
    )
