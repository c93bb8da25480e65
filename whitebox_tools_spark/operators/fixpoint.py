"""The one driver for the iterative DataFrame fixpoints (SURVEY.md §2.8).

The global-propagation tools (depression filling, flow accumulation,
watershed labelling, stream orders, cost distance, mass fluxes, path
closures) are a lazy DataFrame step iterated until the state stops
changing. ``fixpoint`` owns the whole round: the loop, the stats-free
checkpoint, the convergence probe, the round cap and the cap report.
A site supplies only its step body and one of the probes below:

- ``unchanged(key, *cols)``: a value fixpoint, the keyed state stops
  changing;
- ``none_left(cond)``: no row of the new state matches ``cond`` (the
  watershed's unresolved rows);
- ``same_count``: a growing set stops growing.

Two shapes are built on the same loop: ``closure`` (a frontier walk
that stops when a round adds no row) and ``pointer_reach`` (the walk
along a functional successor graph by pointer doubling).

Every run logs to ``whitebox_tools_spark.fixpoint``: one DEBUG record
(name, rounds, converged, wall seconds) and, when it stops at its cap
unconverged, one WARNING naming the fixpoint and the cap.
"""

from __future__ import annotations

import logging
import math
import operator
import time
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("whitebox_tools_spark.fixpoint")

# lazy steps per checkpoint + probe (see ``fixpoint``)
BATCH = 2

Probe = Callable[[DataFrame, DataFrame], bool]


def checkpoint_nostats(df: DataFrame) -> DataFrame:
    """localCheckpoint that DROPS inherited size statistics.

    Dataset.localCheckpoint preserves the child plan's sizeInBytes
    estimate, and a pointer-jumping round self-joins the evolving frame —
    the join estimate is the PRODUCT of both sides, so the inherited
    statistic SQUARES every round. Its bit-length doubles per round; by
    ~16 rounds Catalyst's stats arithmetic is multiplying million-bit
    BigIntegers on the driver and each round takes exponentially longer
    (observed: 0.5 s -> 27 s per batch on a 500-node graph). Rebuilding
    the frame over the checkpointed InternalRow RDD resets the estimate
    to the session default; explicit size_hint broadcasts (not AQE
    stats) drive the join strategy inside these loops anyway."""
    ck = df.localCheckpoint(eager=True)
    jdf = ck._jdf
    spark = df.sparkSession
    rdd = jdf.queryExecution().toRdd()
    new_jdf = spark._jsparkSession.internalCreateDataFrame(rdd, jdf.schema(), False)
    return DataFrame(new_jdf, spark)


def warn_cap(name: str, max_rounds: int) -> None:
    """The cap report: ``name`` stopped at ``max_rounds`` unconverged, so
    its result is partial."""
    log.warning(
        "%s: not converged after %d rounds; the result is partial, raise its cap",
        name, max_rounds,
    )


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    stop: Probe,
    max_rounds: int,
) -> DataFrame:
    """Iterate ``state = step(state)`` until ``stop(new, old)`` holds, at
    most ``max_rounds`` steps; returns the last state.

    BATCH steps run lazily, then the new state is checkpointed
    (``checkpoint_nostats``) and probed against the state BATCH steps
    earlier — one materialization and one probe action per batch, and
    the probe always reads the checkpointed frame. The last batch is cut
    short so that no more than ``max_rounds`` steps ever run.

    Batching is safe: the step is a fixed function of the state, so a
    state that repeats two steps apart (x[t+2] == x[t]) cycles between
    x[t] and x[t+1] for ever; if the step sequence ever becomes constant,
    that cycle is already constant, i.e. x[t] is the fixpoint. The step
    past the fixpoint leaves it unchanged, so converged results equal
    those of a probe after every step."""
    t0 = time.perf_counter()
    rounds, done = 0, False
    while not done and rounds < max_rounds:
        nxt = state
        for _ in range(min(BATCH, max_rounds - rounds)):
            nxt = step(nxt)
            rounds += 1
        nxt = checkpoint_nostats(nxt)
        done = stop(nxt, state)
        state = nxt
    if not done:
        warn_cap(name, max_rounds)
    log.debug(
        "%s: %d rounds, converged=%s, %.3f s",
        name, rounds, done, time.perf_counter() - t0,
    )
    return state


def unchanged(key: str | list[str], *cols: str) -> Probe:
    """Value-fixpoint probe: no row, matched on ``key``, changed any of
    ``cols``."""

    def stop(new: DataFrame, old: DataFrame) -> bool:
        diff = reduce(operator.or_, [F.col(f"n.{c}") != F.col(f"o.{c}") for c in cols])
        return new.alias("n").join(old.alias("o"), key).where(diff).limit(1).count() == 0

    return stop


def none_left(cond: Column) -> Probe:
    """Probe: no row of the new state matches ``cond``."""
    return lambda new, old: new.where(cond).limit(1).count() == 0


def same_count(new: DataFrame, old: DataFrame) -> bool:
    """Probe for a growing set: the step added no row."""
    return new.count() == old.count()


_FRESH = "_fixpoint_fresh"


def closure(
    name: str,
    seeds: DataFrame,
    expand: Callable[[DataFrame, DataFrame], DataFrame],
    max_rounds: int,
) -> DataFrame:
    """Frontier closure: grow ``seeds`` by ``expand(frontier, known)``
    until a round adds no row. ``frontier`` holds the rows the last round
    added (the seeds at first), ``known`` every row so far; ``expand``
    returns the new rows, with ``seeds``' columns, none of them already
    in ``known``. The state is one frame whose rows carry a fresh flag,
    so a round is a single checkpoint and its probe is ``none_left``."""
    fresh = F.col(_FRESH)

    def step(s: DataFrame) -> DataFrame:
        known = s.drop(_FRESH)
        new = expand(s.where(fresh).drop(_FRESH), known)
        return known.withColumn(_FRESH, F.lit(False)).unionByName(
            new.withColumn(_FRESH, F.lit(True))
        )

    seeded = seeds.withColumn(_FRESH, F.lit(True))
    return fixpoint(name, seeded, step, none_left(fresh), max_rounds).drop(_FRESH)


_HOP = "_fixpoint_hop"


def pointer_reach(
    name: str,
    start: DataFrame,
    succ: DataFrame,
    max_steps: int,
    carry: str | None = None,
) -> DataFrame:
    """Every ``(src, cur[, carry])`` on the walk from each ``start`` row
    ``(src, cur[, carry])`` along the functional successor graph
    ``succ(id, nxt[, carry])`` (one row per node; terminal nodes
    self-loop with carry 0), within fewer than ``2**ceil(log2(max_steps))``
    steps; one row per (src, cur). ``carry`` is summed along the walk.

    Pointer doubling: the state holds the reach rows and the jump table
    (each node's 2^k-step successor, flagged as hops). A step advances
    every row by one jump — reach rows are added, hop rows replaced — so
    the walk closes in log2(path length) rounds, not one per cell."""
    hop = F.col(_HOP)
    c = F.col(carry) if carry else F.lit(0.0)
    reach = start.select("src", "cur", c.alias("c"), F.lit(False).alias(_HOP))
    jumps = succ.select(
        F.col("id").alias("src"), F.col("nxt").alias("cur"), c.alias("c"), F.lit(True).alias(_HOP)
    )

    def step(s: DataFrame) -> DataFrame:
        j = s.where(hop).select(
            F.col("src").alias("mid"), F.col("cur").alias("nxt"), F.col("c").alias("jc")
        )
        advanced = s.join(j, F.col("cur") == F.col("mid")).select(
            "src", F.col("nxt").alias("cur"), (F.col("c") + F.col("jc")).alias("c"), _HOP
        )
        # one row per (src, cur): sums of the same walk split at other
        # jumps may differ in the last float bit, and must not count as
        # new rows
        merged = s.where(~hop).unionByName(advanced)
        return merged.groupBy("src", "cur", _HOP).agg(F.min("c").alias("c"))

    def stop(new: DataFrame, old: DataFrame) -> bool:
        return same_count(new.where(~hop), old.where(~hop))

    rounds = math.ceil(math.log2(max(2, max_steps)))
    out = fixpoint(name, reach.unionByName(jumps), step, stop, rounds).where(~hop)
    return out.select("src", "cur", F.col("c").alias(carry)) if carry else out.select("src", "cur")
