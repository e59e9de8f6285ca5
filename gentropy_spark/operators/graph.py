"""Iterative graph operators (SURVEY §2 — ontology/index support).

Re-expresses the reference's ontology ancestor expansion
(/root/reference/src/gentropy/dataset/biosample_index.py — ancestor /
descendant closure over the biosample ontology) as a distributed BFS:
repeated equi-joins of the frontier against the edge table until the
frontier drains. Each iteration is one shuffle on the join key; depth
is bounded by the ontology height (log-scale), so the loop count is
small and the per-iteration work is fully distributed — the standard
Spark pattern for transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gentropy_spark.session import track_local_checkpoint


def transitive_closure(
    edges: DataFrame,
    max_depth: int = 20,
) -> DataFrame:
    """All (child, ancestor, depth) pairs reachable through the edges.

    ``edges`` must be acyclic (ontologies are). The edge table is
    persisted once (reused every iteration); each frontier is
    ``localCheckpoint``-ed so (a) the per-iteration ``isEmpty`` probe
    and the final union read materialised partitions instead of
    re-deriving every prior join — the naive lineage makes iteration k
    cost O(k) joins, O(depth²) overall — and (b) the result's lineage
    is bounded regardless of depth. On a long-lived cluster job,
    swap ``localCheckpoint`` (executor-local storage) for a reliable
    ``checkpoint`` directory to keep fault tolerance.

    Raises RuntimeError if reachability extends beyond ``max_depth``
    instead of silently truncating (the r2 behavior — a closure that
    quietly misses deep ancestors corrupts every downstream
    enrichment): callers with deeper graphs must raise ``max_depth``.
    """
    edges = edges.select("child", "parent").persist()
    frontier = track_local_checkpoint(
        edges.select(
            F.col("child"), F.col("parent").alias("ancestor"), F.lit(1).alias("depth")
        ),
        eager=True,
    )
    parts = [frontier]
    exhausted = True
    for _ in range(max_depth - 1):
        nxt = track_local_checkpoint(
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.child"))
            .select(
                F.col("f.child"),
                F.col("e.parent").alias("ancestor"),
                (F.col("f.depth") + 1).alias("depth"),
            ),
            eager=True,
        )
        if nxt.isEmpty():
            exhausted = False
            break
        parts.append(nxt)
        frontier = nxt
    if exhausted:
        probe = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.child"))
        )
        if not probe.isEmpty():
            edges.unpersist()
            raise RuntimeError(
                f"transitive_closure: reachability exceeds max_depth={max_depth}; "
                f"raise max_depth (result would silently miss deep ancestors)"
            )
    edges.unpersist()
    closure = parts[0]
    for p in parts[1:]:
        closure = closure.unionByName(p)
    return closure
