"""Distributed graph primitives for the iterative raster family
(SURVEY.md §2.8).

connected_components: hash-to-min label propagation with pointer jumping
(label-of-label shortcutting), so convergence is O(log diameter) driver
rounds instead of O(diameter) — each round is two shuffles
(neighbour-min + jump), run on the fixpoint driver (operators/fixpoint.py).
This is the standard large-scale CC recipe (two-phase hash-to-min)
expressed as plain DataFrame joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.fixpoint import fixpoint, unchanged


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node: str = "id",
    max_rounds: int = 60,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over undirected ``edges(a, b)``.

    Returns (node, comp) with comp = min node id in the component.
    ``nodes`` supplies isolated vertices too.

    When the node count fits ``broadcast_threshold`` (a (long, long)
    label frame of 2M rows is ~32 MB), every per-round join broadcasts
    the label side, so a round costs ONE shuffle (the neighbour-min
    groupBy) instead of four — the checkpointed frames carry no
    statistics, so AQE cannot discover this itself. Above the threshold
    the general shuffle-join path runs unchanged (the label frame scales
    with the graph and must never be broadcast at 100-TB node counts).
    """
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)

    labels = nodes.select(F.col(node).alias("node"), F.col(node).alias("comp"))
    labels = labels.localCheckpoint(eager=True)

    small = labels.count() <= broadcast_threshold
    hint = F.broadcast if small else (lambda df: df)

    def step(lab: DataFrame) -> DataFrame:
        lab_b = hint(lab)
        nbr_min = (
            sym.join(lab_b, sym.b == lab_b.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        prop = (
            lab.join(hint(nbr_min), lab.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jumping: comp <- comp(comp)
        parent = prop.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        return (
            prop.join(hint(parent), prop.comp == parent.p_node, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("p_comp"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        )

    return fixpoint(
        "connected_components", labels, step, unchanged("node", "comp"), max_rounds
    )


def size_hint(df: DataFrame, small: bool) -> DataFrame:
    """Explicit broadcast hint for per-round fixpoint joins: checkpointed
    frames carry no statistics, so without the hint every round pays a
    full shuffle write before AQE can re-plan the read side. Gate
    ``small`` on a KNOWN bound (grid cell count, node count) — never
    broadcast a frame that scales with the 100-TB input."""
    return F.broadcast(df) if small else df
