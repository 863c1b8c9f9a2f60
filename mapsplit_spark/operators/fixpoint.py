"""One convergence driver for the iterative operators — the reference's
retry-until-no-progress loop (MapSplit.java:772-790).  A round's delta
is checkpointed and counted in ONE Spark job (the count rides the eager
``localCheckpoint`` as an ``Observation``, filled with 0 on empty
inputs), so no round pays a separate ``isEmpty``/``count`` probe.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def checkpoint_count(df: DataFrame,
                     where: Column | None = None) -> tuple[DataFrame, int]:
    """→ (eager localCheckpoint of ``df``, its row count — only rows
    matching ``where`` if given), both from one job."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count_if(where)
    return df.observe(obs, n.alias("n")).localCheckpoint(eager=True), obs.get["n"]


def fixpoint(step, state, max_iters: int, what: str):
    """Run ``step(state) -> (state, n_changed)`` until a round changes
    nothing; past ``max_iters`` rounds raise instead of returning a
    silently truncated result."""
    n = None
    for i in range(1, max_iters + 1):
        t0 = time.perf_counter()
        state, n = step(state)
        log.info("%s round %d: %d changed in %.2f s",
                 what, i, n, time.perf_counter() - t0)
        if n == 0:
            return state
    raise RuntimeError(
        f"{what} did not converge within max_iters={max_iters} rounds: the "
        f"last round changed {n} rows, so the result is not converged; "
        f"raise max_iters rather than accept a silently truncated result"
    )
