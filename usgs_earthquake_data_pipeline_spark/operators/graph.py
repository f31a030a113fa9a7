"""Graph analytics over relational edges: weighted PageRank.

Complements the other iterative operators (``clustering.kmeans_lloyd``
— fixed-round ML training; ``dedup.resolve_dup_clusters`` —
converge-to-fixpoint label propagation) with the third canonical
iterative shape: damped random-walk scoring over an edge list.

Spark shape per iteration: one equi-join of the rank table onto the
edge list (both hash-partitioned on the source key) + one aggregate
keyed by destination — exchange volume is |edges| contributions and
|nodes| ranks, never quadratic. Ranks carry through a ``.localCheckpoint``
every few rounds in long runs to truncate lineage (the two-round form
used by the catalog entry doesn't need it).

Determinism: contributions are doubles, so cross-engine bit equality
holds only after rounding — the catalog entry rounds to 6 decimals,
the same convention the regression/avg entries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, materialize_lazy, release


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 2,
    checkpoint_every: int | None = 8,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns
    ``(node, rank)`` for every node appearing as source or target.

    ``rank_{t+1}(v) = (1-d) + d * Σ_{(u,v)} rank_t(u) * w(u,v) / out_w(u)``

    Nodes with no in-edges settle at ``1 - damping``; dangling mass is
    not redistributed (the common simplified form — the oracle encodes
    the identical rule). Ranks start at 1.0.

    ``checkpoint_every``: eager ``localCheckpoint`` of the rank table
    every N rounds.  Each round's plan embeds the previous round's
    join+agg, so unchecked lineage depth is O(iterations) — fine at
    the gated 2, quadratic re-analysis pain at PageRank's real 20-50.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    # materialize the loop-invariant frames once (lazy localCheckpoint,
    # computed inside the first action): `nodes` is referenced every
    # round (the rank rebuild) plus the init, and `contrib_edges` every
    # round — un-materialized, each reference re-executed the caller's
    # whole edge-build subtree (for the catalog entry: the
    # orders⋈lineitem aggregate, ~5 evaluations at iterations=2).
    # r13 optimization round, guide §2.4.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).transform(materialize_lazy)
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize_lazy)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    contrib_edges = e.join(outw, "src").transform(materialize_lazy)
    pinned = None
    for it in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("ow")).alias("c"))
        )
        ranks = nodes.join(
            contribs.select(F.col("dst").alias("node"), "c"), "node", "left"
        ).select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.transform(materialize)
            if pinned is not None:
                release(pinned)
            pinned = ranks
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count of an undirected graph — 1-row result.

    The naive edge-cube join explodes on hub nodes (a node of degree d
    contributes d^2 wedges). The standard scale fix (Suri &
    Vassilvitskii, WWW'11 MapReduce triangle counting) orients every
    edge from the (degree, id)-smaller endpoint to the larger: each
    triangle is then counted exactly once at its lowest-degree corner,
    and every node's out-degree — hence its wedge contribution — is
    bounded by ~sqrt(2m), turning the hub blow-up into a uniform
    spread. Orientation changes intermediate sizes only, never the
    count (the oracle uses plain id-ordering and must agree).

    Three shuffles: degree aggregation, the wedge join on the middle
    node, and the wedge-closing join on the (x, z) pair.
    """
    # canonical undirected edge set (dedup both directions + self-loops)
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    # r13 optimization round: `oriented` is referenced THREE times
    # below (two wedge sides + the closing join) and its lineage holds
    # the canon distinct + two degree joins — un-materialized, Spark
    # re-evaluated that subtree per reference (30 parquet scans in the
    # entry's plan; each reference re-ran the upstream edge build).
    # One LAZY localCheckpoint (computed inside the first action, the
    # same device the DBSCAN/label-propagation operators use) makes it
    # a single stage shared by all three consumers: interleaved A/B at
    # sf0.1 (noop sink, median of 5) 9.1 s -> 8.3 s, identical count —
    # a modest local win; the real payoff is structural (the upstream
    # edge-build subtree runs once instead of three times, which at
    # 100 TB is the difference between one shuffle of the edge list
    # and three). Lineage truncation also keeps the plan bounded if
    # callers chain it.
    oriented = oriented.transform(materialize_lazy)
    wedges = (
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
        .join(
            oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z")),
            "y",
        )
        .select("x", "z")
    )
    # inner join (not leftsemi, which would collapse duplicate wedges)
    # of the wedge MULTISET against the distinct edge set — preserves
    # each wedge's contribution exactly. A pre-aggregation of wedge
    # multiplicities was tried and measured SLOWER (19.2 s vs 15.5 s
    # at sf0.1): duplicate (x, z) wedges come from different middle
    # nodes and rarely collocate within a map task, so the "combine
    # before shuffle" step added an exchange without shrinking one.
    closed = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z")),
        ["x", "z"],
    )
    return closed.agg(F.count("*").alias("n_triangles"))
