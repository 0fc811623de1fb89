"""Bounded recursive tree expansion (reply threads).

The reference walks a reply tree with a Postgres recursive CTE bounded at
depth 8 (reference: engine/post_storage.py:303-309). Spark 4 has recursive
CTE support in SQL, but the depth bound here is a small constant, so an
iterative self-join loop is both simpler and gives Catalyst a fully static
plan per level (each level is one broadcast-able equi-join on
``parent_authorperm``).

Scale: each iteration joins the (small) frontier against the child index;
with ``child_col`` as the join key the frontier side is broadcast, so the
whole walk is depth × one broadcast join — no shuffles of the big table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import sql_word


def expand_tree(
    edges: DataFrame,
    roots: DataFrame,
    id_col: str,
    parent_col: str,
    max_depth: int = 8,
    acyclic: bool = True,
) -> DataFrame:
    """Return all rows of ``edges`` reachable from ``roots`` by following
    ``parent_col -> id_col`` child links, up to ``max_depth`` levels,
    plus a ``depth`` column (roots = 0).

    ``roots`` must contain ``id_col``. With ``acyclic=True`` (reply trees
    are trees — a node has one parent) the already-seen anti-join is
    skipped: each level is exactly ONE broadcast hash join against the
    cached edge set, and the per-level early-exit count doubles as the
    frontier materialization, so the whole walk is max_depth small jobs
    with no lineage blow-up.
    """
    relink = f"`{sql_word(id_col)}` AS `{sql_word(parent_col)}`"
    edges = edges.select(F.col(id_col), F.col(parent_col))
    edges.persist()
    frontier = roots.select(F.col(id_col)).distinct().withColumn("depth", F.lit(0))
    levels = [frontier]
    seen = frontier
    try:
        for level in range(1, max_depth + 1):
            # one-parse SQL text per level (r13): same trees as the old
            # per-Column select/alias chain, paid max_depth times per walk
            children = (
                edges.join(
                    F.broadcast(
                        frontier.selectExpr(relink)
                    ),
                    on=parent_col,
                    how="inner",
                )
                .selectExpr(id_col)
                .withColumn("depth", F.lit(level))
            )
            # acyclic (tree) edges: a node has exactly one parent and the
            # frontier is duplicate-free by induction, so each child id
            # appears once — the per-level .distinct() the r11 walk ran was
            # a no-op that cost one full shuffle per level (8 Exchanges on
            # thread_tree). The cyclic path still dedups via seen/distinct.
            if not acyclic:
                children = (
                    children.distinct()
                    .join(seen.select(id_col), on=id_col, how="left_anti")
                    .withColumn("depth", F.lit(level))
                )
            # materialize each frontier once, distributed (no driver
            # collect — a level can be huge): localCheckpoint truncates the
            # growing lineage so level N doesn't recompute levels 1..N-1
            children = children.localCheckpoint(eager=True)
            if children.isEmpty():
                break
            frontier = children
            levels.append(frontier)
            if not acyclic:
                seen = seen.unionByName(frontier)
        result = levels[0]
        for lvl in levels[1:]:
            result = result.unionByName(lvl)
        return result
    finally:
        edges.unpersist()
