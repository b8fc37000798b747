"""Iterative graph operators.

`transitive_closure` is the distributed Spark rendering of the reference
doctor's `WITH RECURSIVE role_hierarchy` query (reference
rust/src/doctor.rs:58-83): an iterative frontier-join fixpoint, for edge
lists too large for the driver (suite q20). The doctor itself asks one
question of a pg_auth_members-sized edge list, which roles reach
`schemamap`, and answers it with `reaching`: one collect, then a driver-side
walk, instead of a few Spark jobs per fixpoint round.

Scale notes:
- each round is ONE shuffled equi-join on the frontier (which shrinks as the
  fixpoint approaches) plus a distinct; the accumulated closure is
  localCheckpoint()ed every round to truncate lineage — without that, plan
  depth grows linearly with graph diameter and planning cost quadratically.
- `max_iterations` bounds runaway growth on cyclic graphs; dedup against the
  accumulator makes cycles terminate naturally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    a: str = "i",
    b: str = "j",
    max_iterations: int = 30,
) -> DataFrame:
    """Undirected connected components by min-label propagation: every node
    ends with group_id = the smallest node id reachable from it.

    The canonical use: collapse near-duplicate PAIRS (from jaccard/minhash/
    simhash) into dedup GROUPS, keeping one representative per group.

    Each round: labels join edges (one shuffle), min per node, compare-and-
    stop; localCheckpoint truncates lineage. Rounds ≈ component diameter —
    for near-dup clusters (small, dense) this converges in 2-3 rounds.
    """
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break
    if not converged:
        # silent truncation would split one true component into several
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations (component diameter too large) — raise max_iterations"
        )
    return labels.select(F.col("node"), F.col("label").alias("group_id"))


def reaching(pairs, target) -> list:
    """Every src with a path of 1..n edges to `target`, over driver-held
    (src, dst) pairs: the srcs `transitive_closure` pairs with `target`,
    sorted as `orderBy` sorts them (null first). Walks the edges backwards
    from `target`; the seen-set makes cycles terminate. A null node ends a
    path, since the closure's equi-join never matches it."""
    preds: dict = {}
    for src, dst in pairs:
        preds.setdefault(dst, []).append(src)
    seen: set = set()
    stack = list(preds.get(target, ()))
    while stack:
        node = stack.pop()
        if node in seen:
            continue
        seen.add(node)
        if node is not None:
            stack.extend(preds.get(node, ()))
    return sorted(seen, key=lambda n: (n is not None, n))


def transitive_closure(
    edges: DataFrame,
    src: str = "member",
    dst: str = "roleof",
    max_iterations: int = 30,
) -> DataFrame:
    """All (src, dst) pairs reachable via 1..n hops. Output columns = (src, dst)."""
    base = edges.select(src, dst).distinct()
    acc = base.localCheckpoint()
    frontier = acc

    for _ in range(max_iterations):
        stepped = (
            frontier.alias("f")
            .join(base.alias("e"), F.col(f"f.{dst}") == F.col(f"e.{src}"))
            .select(F.col(f"f.{src}").alias(src), F.col(f"e.{dst}").alias(dst))
            .distinct()
        )
        new = stepped.join(acc, on=[src, dst], how="left_anti").localCheckpoint()
        if new.isEmpty():
            return acc
        acc = acc.unionByName(new).localCheckpoint()
        frontier = new
    raise RuntimeError(
        f"transitive_closure did not reach a fixpoint in {max_iterations} "
        f"iterations (path length exceeds the bound) — raise max_iterations"
    )


def transitive_closure_sql(edges: DataFrame, src: str = "member", dst: str = "roleof") -> DataFrame:
    """Native recursive-CTE rendering of the same closure (Spark 4 supports
    WITH RECURSIVE): the engine manages iteration and lineage itself, which
    removes the driver-side loop and the per-round localCheckpoint.

    Spark 4.1 only allows UNION ALL in the recursive member, so the CTE
    enumerates PATHS and the outer SELECT DISTINCT collapses them to pairs —
    correct and terminating on DAGs (role hierarchies are acyclic), but a
    cyclic graph would recurse to spark.sql.cteRecursionLevelLimit and fail;
    use the iterative transitive_closure (cycle-safe via anti-join dedup)
    when cycles are possible."""
    spark = edges.sparkSession
    view = "__closure_edges"
    edges.select(src, dst).distinct().createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE closure({src}, {dst}) AS (
              SELECT {src}, {dst} FROM {view}
              UNION ALL
              SELECT c.{src}, e.{dst}
              FROM closure c JOIN {view} e ON c.{dst} = e.{src}
            )
            SELECT DISTINCT {src}, {dst} FROM closure
            """
        )
    finally:
        # the view is resolved into the returned plan at analysis time;
        # dropping it keeps the catalog clean for the caller's session
        spark.catalog.dropTempView(view)
