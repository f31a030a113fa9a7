"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The iterative-ML shape on Spark, expressed as ONE declarative
DataFrame chain (no driver-side collect between rounds):

- **init**: centroids = the first ``k`` vectors by id — deterministic,
  no RNG (the same rule IVF's coarse quantizer uses, so this operator
  is its drop-in centroid refiner; see ``similarity.ivf_topk``).
- **assign**: the k centroids collapse to a one-row array attached to
  every row by a broadcast nested-loop join; each row picks its
  nearest centroid with a pure ``array_sort`` argmin expression — the
  corpus is never exploded, windowed, or shuffled for assignment.
- **update**: one ``groupBy(list_id)`` per round; map-side partial
  aggregation means the exchange carries k x dim decimal partial sums
  per map task — independent of corpus size.

Determinism across engines (the oracle contract): distances are sums
of per-component squared differences cast to DECIMAL — exact, so
summation order cannot perturb the argmin — with ties broken by list
id; centroid means are exact DECIMAL sums divided in double. Every
derived number is therefore bit-identical between Spark and the
DuckDB oracle's unrolled-SQL twin.

At 100 TB: per round = one broadcast of k x dim doubles + one
key-shuffle bounded by k x dim, both independent of corpus size.
Lineage grows linearly with rounds; cap iterations (2-10 is the
useful range for IVF refinement) or checkpoint between rounds for
long trainings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release


def _sq_dist_decimal(a: Column, b: Column) -> Column:
    """Exact squared Euclidean distance: per-component squared diffs
    (double) cast to decimal and summed — order-independent, so both
    engines agree on every comparison the argmin makes."""
    # scale 12 on BOTH engines (oracle uses DECIMAL(30,12) terms): the
    # per-term rounding point is part of the cross-engine contract.
    # The merge re-casts because Spark widens decimal addition
    # (32,12 + 20,12 -> 33,12) and aggregate() needs a fixed acc type;
    # sums here stay < 10^3 so the cast never truncates.
    terms = F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast("decimal(20,12)"))
    return F.aggregate(
        terms,
        F.lit(0).cast("decimal(32,12)"),
        lambda acc, t: (acc + t).cast("decimal(32,12)"),
    )


def _sq_dist_double(a: Column, b: Column) -> Column:
    """float64 squared Euclidean distance — the production fast path:
    plain double fold, ~the cheapest arithmetic codegen emits, at the
    cost of summation-order sensitivity in the last ulp. Assignment
    ties between two centroids within that ulp are broken by list_id
    either way; on real (non-adversarial) embeddings the argmin is
    identical to the decimal path (asserted on the bench tables in
    tests/test_maintenance.py)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _nearest_list_id(vec: Column, *, exact: bool = True) -> Column:
    """Pure-expression argmin over the broadcast ``__cents`` array:
    sort (distance asc, list_id asc), take the head. No explode, no
    window, no shuffle. ``exact=True`` ranks by the decimal distance
    (order-independent — the cross-engine oracle contract);
    ``exact=False`` ranks in float64 (the production fast path: the
    decimal fold is interpreted, the double fold is codegen)."""
    dist = _sq_dist_decimal if exact else _sq_dist_double
    ranked = F.array_sort(
        F.transform(
            "__cents",
            lambda c: F.struct(
                dist(vec, c["c"]).alias("d"),
                c["list_id"].alias("list_id"),
            ),
        ),
        lambda l, r: F.when(l["d"] < r["d"], F.lit(-1))
        .when(l["d"] > r["d"], F.lit(1))
        .otherwise((l["list_id"] - r["list_id"]).cast("int")),
    )
    return F.element_at(ranked, 1)["list_id"]


def kmeans_lloyd(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    dim: int = 64,
    exact: bool = True,
    checkpoint_every: int | None = 8,
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds; return one row per surviving
    cluster: ``(list_id, n_members, centroid)`` with the centroid mean
    rounded to 6 decimals (``+ 0.0`` normalizes any ``-0.0``).

    A cluster that loses all members simply disappears (its centroid
    cannot be recomputed) — the same semantics the SQL twin has.

    ``exact=True`` (default — the oracle entries' configuration)
    assigns with order-independent decimal distances; ``exact=False``
    assigns in float64, the production fast path (identical
    assignments on the bench tables, proven in
    tests/test_maintenance.py; the update step's decimal sums stay —
    they are the map-side partial aggregate, not the hot loop).

    ``checkpoint_every``: eager ``localCheckpoint`` of the k-row
    centroid table every N rounds — at the gated 2 iterations the
    plan is shallow, but production Lloyd runs 20-100 rounds and the
    unchecked lineage (each round embeds the previous round's
    crossJoin+agg) makes Catalyst re-analysis quadratic in rounds.
    k rows per checkpoint: the materialization is free.
    """
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    w = Window.orderBy("id")
    cents = (
        vecs.orderBy("id")
        .limit(k)
        .select(F.row_number().over(w).alias("list_id"), F.col("v").alias("c"))
    )
    assigned = pinned = None
    for it in range(iterations):
        cent_arr = F.broadcast(
            cents.agg(F.collect_list(F.struct("list_id", "c")).alias("__cents"))
        )
        assigned = vecs.crossJoin(cent_arr).select(
            "id",
            "v",
            _nearest_list_id(F.col("v"), exact=exact).alias("list_id"),
        )
        # exact per-dimension decimal sums -> double means
        sums = assigned.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("v", i + 1).cast("decimal(28,10)")).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        cents = sums.select(
            "list_id",
            F.array(
                *[(F.col(f"s{i}").cast("double") / F.col("n")) for i in range(dim)]
            ).alias("c"),
            "n",
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            cents = cents.transform(materialize)
            if pinned is not None:
                release(pinned)
            pinned = cents
    return (
        cents.select(
            "list_id",
            F.col("n").alias("n_members"),
            F.transform("c", lambda x: F.round(x, 6) + F.lit(0.0)).alias("centroid"),
        )
        .orderBy("list_id")
    )
