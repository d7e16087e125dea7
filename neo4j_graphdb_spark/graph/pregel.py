"""Frontier min-relaxation: the superstep loop behind BFS, Bellman-Ford
and min-id flooding (SURVEY.md §4).

Catalyst has no fixpoint operator, so iteration lives in a Python driver
loop (the one place SURVEY.md licenses imperative control flow). Each
superstep is pure DataFrame algebra over a state table
``(keys…, id, value)``:

    messages = improved ⋈ edges → value + addend
    state'   = (state ∪ messages) → min per (keys…, id)

Only the rows that improved last round send messages — Pregelix's
live-frontier join (PAPERS.md). A row that did not improve has already
relaxed its out-edges, so frontier relaxation equals full relaxation at
every round count, and a round cap keeps its k-round meaning.

Each round is one lazily cut lineage (``localCheckpoint(eager=False)``)
and one Spark action: the ``count`` of improved rows materializes the
checkpoint and answers the exit, which fires only when no row improved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _min_relax(
    seeds: DataFrame,
    edges: DataFrame,
    value: str,
    max_rounds: int,
    keys: tuple[str, ...] = (),
    addend: Column | None = None,
    emit_seeds: bool = True,
) -> DataFrame:
    """Monotone min-relaxation from ``seeds(keys…, id, value)`` over
    ``edges(src, dst, …)``; returns ``(keys…, id, value)``.

    * ``addend``: edge-column expression added to the sender's value
      (``F.lit(1)`` for BFS, the weight for Bellman-Ford); ``None``
      floods the value itself (min-id labels, which may be strings). A
      key reached only by null messages is listed with a null value.
    * ``emit_seeds=False`` keeps the seeds out of the known set: a seed
      re-reached through a cycle reports the cycle's length.
    """
    by = [*keys, "id"]
    e = edges.select(
        "src", "dst", *([] if addend is None else [addend.alias("_w")])
    ).localCheckpoint(eager=False)
    msg = F.col(value) if addend is None else F.col(value) + F.col("_w")
    frontier = seeds.select(*by, value).localCheckpoint(eager=False)
    state = frontier if emit_seeds else frontier.limit(0)
    for _ in range(max_rounds):
        msgs = frontier.join(e, frontier["id"] == e["src"]).select(
            *keys, F.col("dst").alias("id"), F.lit(None).alias("_old"), msg.alias("_m")
        )
        # one shuffle merges the messages into the state: per (keys…, id)
        # the known value and the least message
        state = (
            state.select(*by, F.col(value).alias("_old"), F.lit(None).alias("_m"))
            .unionByName(msgs)
            .groupBy(*by)
            .agg(F.min("_old").alias("_old"), F.min("_m").alias("_m"))
            .select(
                *by,
                F.least("_old", "_m").alias(value),
                # a message strictly below the known value, or the first one
                F.coalesce(F.col("_m") < F.col("_old"), F.col("_m").isNotNull())
                .alias("_improved"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = state.filter("_improved")
        if frontier.count() == 0:
            break
    return state.select(*by, value)
