"""Lineage truncation and the fixpoint driver for vertex-state loops.

Iterative DataFrame programs are the classic Spark failure mode
(SURVEY.md §4): without truncation the logical plan compounds per
iteration and Catalyst analysis/planning time explodes. Plain
``localCheckpoint`` is NOT sufficient here: the ``LogicalRDD`` it creates
carries origin statistics/constraints/ordering captured from the parent
plan, and when the checkpointed frame is referenced more than once per
step (scatter + delta joins) that carried state itself compounds —
empirically the ``localCheckpoint`` *call* doubles in cost per iteration
from ~iteration 18 on a 3-node graph (measured on Spark 4.1.2).

:func:`truncate_lineage` fixes this by re-wrapping the checkpointed RDD
in a **fresh, bare** ``LogicalRDD`` via ``internalCreateDataFrame`` — no
origin stats, no constraints, no captured ordering — which keeps
per-iteration planning cost constant. Falls back to plain
``localCheckpoint`` where the internal API is unavailable (e.g. Spark
Connect).

:func:`fixpoint` is the one loop the single-frame kernels (HITS, Katz,
LeaderRank, the stationary walks, components, LPA, k-core) share: each
turn is ONE Spark job — the eager checkpoint of the next state, with the
turn's convergence scalars observed on that same job.
"""

from __future__ import annotations

import math
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from propagon_spark.errors import NumericError
from propagon_spark.progress import SILENT, Progress

# deserialized columnar cache: the serialized level costs ~1.5x to build
# and ~3.5x per re-read at 2e8 rows (measured; see BENCH/BASELINE.md) -
# iterative kernels re-read their persisted frames every pass
STORAGE = StorageLevel.MEMORY_AND_DISK_DESER


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` (localCheckpoint) and return a frame whose plan
    is a bare leaf over the checkpointed blocks. O(1) plan size no matter
    how it is composed downstream."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = ck._jdf  # noqa: SLF001 — classic-mode internal API
        jclean = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jclean, spark)
    except Exception:  # Spark Connect or API drift — degraded but correct
        return ck


def count_changed(new: str, old: str) -> Column:
    """Rows whose value moved this turn: the integer stop test of the
    label kernels (components, LPA, k-core), 0 at the fixpoint."""
    return F.sum(F.when(F.col(new) != F.col(old), 1).otherwise(0))


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], tuple[DataFrame, dict[str, Column]]],
    *,
    phase: str,
    done: Callable[[dict], bool],
    max_turns: int | None = None,
    prog: Progress = SILENT,
    counter: str = "iteration",
    release: Iterable[DataFrame] = (),
) -> tuple[DataFrame, int]:
    """Iterate ``state ← step(state)`` until ``done`` or ``max_turns``.

    ``step(state)`` returns the next frame (the state's columns plus any
    helper columns, e.g. the previous value as ``old``) and a dict of
    scalar aggregate expressions over that frame. Each turn the driver
    observes those scalars on the job that checkpoints the frame, keeps
    only the state's columns, raises :class:`NumericError` if a scalar is
    null or not finite, reports ``{counter: turn, **scalars}`` to
    ``prog`` and stops once ``done(row)`` is true. Scalars named with a
    leading underscore are guard inputs for ``done`` only and stay out of
    the progress row. ``release`` frames are unpersisted however the loop
    ends. Returns the final state and the number of turns run.
    """
    cols = state.columns
    turn = 0
    prog.start(phase, total=max_turns)
    try:
        while max_turns is None or turn < max_turns:
            turn += 1
            nxt, scalars = step(state)
            obs = Observation()
            state = truncate_lineage(
                nxt.observe(obs, *(e.alias(k) for k, e in scalars.items()))
                .select(*cols)
            )
            row = {counter: turn, **obs.get}
            bad = {k: v for k, v in row.items() if v is None or not math.isfinite(v)}
            if bad:
                raise NumericError(f"{phase} diverged at {counter} {turn}: {bad}")
            prog.iteration(
                phase, {k: v for k, v in row.items() if not k.startswith("_")}
            )
            if done(row):
                break
        prog.finish()
    finally:
        for df in release:
            df.unpersist()
    return state, turn
