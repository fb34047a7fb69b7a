"""Eager iteration for the driver-side loops (relation and 'newer'
closures, connected components, kNN coverage ladders): each round
checkpoints a frame and reads the rows it added or changed as an
``Observation`` metric on that checkpoint job, so no separate
``isEmpty``/``count`` probe job runs."""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

S = TypeVar("S")


def checkpoint_count(df: DataFrame,
                     changed: Column | None = None) -> tuple[DataFrame, int]:
    """Eagerly ``localCheckpoint`` ``df``.  → (the checkpointed frame, its
    row count), or the count of rows where ``changed`` holds, observed on
    the checkpoint job."""
    obs = Observation()
    n = F.count(F.lit(1) if changed is None else F.when(changed, 1))
    out = df.observe(obs, n.alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


def fixed_point(name: str, step: Callable[[int, S], tuple[S, int]], state: S,
                max_iters: int, cap_name: str) -> S:
    """Run ``state, delta = step(i, state)`` for rounds i = 0, 1, … and
    return the state of the first round whose delta is 0.  After
    ``max_iters`` rounds with work left, raise RuntimeError naming the
    loop, each round's delta and the cap: a capped result is truncated."""
    deltas = []
    for i in range(max_iters):
        state, delta = step(i, state)
        deltas.append(delta)
        if delta == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge within {max_iters} rounds "
        f"(per-round deltas: {deltas}); raise {cap_name} rather than "
        f"accept a truncated result"
    )
