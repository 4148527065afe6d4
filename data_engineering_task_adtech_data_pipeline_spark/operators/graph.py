"""Graph algorithms over DataFrame edge lists.

``dedup.connected_components`` / ``connected_components_star`` cover the
closure family; this module holds the iterative-propagation family —
weighted PageRank (Page et al. 1999), driver-controlled iterations over
pure DataFrame joins (the Pregel-without-Pregel shape Spark executes
well: each superstep is one join + one aggregation).

Engine-exact numerics (the battery contract): every per-edge
contribution is rounded to 12 dp and summed as DECIMAL(28,12), and each
iteration's rank is re-rounded to 12 dp — float summation order can
never leak into the result, so an external SQL oracle reproduces every
iteration bit-for-bit.

Reference analog: none (extension) — the reference has no graph
operators; this generalizes its delta-propagation idea
(``dags/track_delta.py``) to arbitrary edge lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import accumulators_exact
from .chunking import checkpoint

_DEC = "decimal(28,12)"


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank on a directed edge list; returns
    ``(node, rank, out_weight)`` for every node appearing as source or
    destination. Dangling nodes (no out-edges) redistribute their mass
    uniformly, the standard correction — without it rank mass leaks and
    the result depends on how many dangling nodes the corpus happens to
    have.

    Scale shape (100 TB of edges): nodes/out-weights are computed once
    and persisted; each iteration is one equi-join of the current rank
    onto the edge list (shuffle on src), one aggregation (shuffle on
    dst), and a 1-row dangling-mass aggregate (broadcast back) — Spark's
    canonical iterative-join plan with nothing driver-sized but the
    dangling scalar. ``n_iter`` is driver-controlled; lineage is
    re-rooted each round from small materialized rank tables, not an
    ever-growing chain.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("__src"),
        F.col(dst_col).alias("__dst"),
        w.alias("__w"),
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .distinct()
    )
    out_w = e.groupBy(F.col("__src").alias("node")).agg(
        F.sum("__w").alias("out_weight")
    )
    base = nodes.join(out_w, "node", "left").select(
        "node", F.coalesce("out_weight", F.lit(0.0)).alias("out_weight")
    )
    base = base.persist()
    e = e.persist()
    try:
        # one agg per frame materializes the persists AND validates the
        # precondition: every EDGE weight must be non-negative — a
        # negative-weight edge leaks/corrupts rank mass through the
        # dangling/contribution split even when the node's SUM stays
        # positive (e.g. +2/-1), and canceling weights (+1/-1) would
        # silently demote a connected node to dangling, so the guard
        # checks the per-edge minimum, not the per-node out_weight
        # (review r7; the original ADVICE-r6 guard only caught sums)
        # ONE job materializes BOTH persists and collects all three
        # scalars (optimization rounds 14/15, guide §1.2 "remove
        # passes"): the guard min, the node count, and the dangling-node
        # count (round 15 — it seeds the iteration-0 dangling mass below
        # so no per-round dangling job is needed). Guard semantics
        # unchanged (review r7).
        guard = (
            e.agg(F.min("__w").alias("__minw"))
            .crossJoin(
                base.agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.count(
                        F.when(F.col("out_weight") == 0.0, 1)
                    ).alias("__nd"),
                )
            )
            .first()
        )
        minw, n, n_dangling = guard["__minw"], guard["__n"], guard["__nd"]
        if minw is not None and minw < 0:
            raise ValueError(
                "pagerank: negative edge weight (min weight = "
                f"{minw}) — weights must be >= 0, or rank mass leaks "
                "through the dangling/contribution split"
            )
        if n == 0:
            # empty edge list (e.g. every document is a single word):
            # an empty typed frame, not a driver-side ZeroDivisionError
            return base.select(
                "node", F.lit(0.0).alias("rank"), "out_weight"
            )
        # each round ends in an EAGER localCheckpoint: the round's joins
        # actually run against the persisted base/edges, and the next
        # round's lineage re-roots at a materialized rank table instead
        # of an ever-growing join chain (the canonical Spark iterative
        # pattern; n_iter joins, not a 2^n_iter plan). The INIT rank is a
        # constant projection of the already-persisted base — no
        # checkpoint job of its own (round 14): iteration 1's join reads
        # base from cache either way. Round 15 (guide §1.2, VERDICT #5):
        # rank frames CARRY out_weight, so the per-round rank-with-base
        # join disappears, and each round's dangling mass arrives as an
        # exact DECIMAL(28,12) literal instead of a per-round agg job +
        # broadcast build — iteration 0's is n_dangling * the constant
        # init rank (decimal multiply == the old SUM over identical
        # decimals), later ones ride the round's checkpoint via
        # observe() (the connected-components discipline). Values are
        # bit-identical: the literal is the same decimal the old __dm
        # column held, cast to double in the same expression.
        init = round(1.0 / n, 12)
        rank = base.select(
            "node", F.lit(init).alias("rank"), "out_weight"
        )
        # exact: every iteration-0 rank is the SAME double literal, so
        # SUM(CAST(rank AS DEC(28,12))) over dangling rows ==
        # CAST(rank AS DEC(28,12)) * n_dangling, folded at plan time
        dm = (F.lit(init).cast(_DEC) * F.lit(n_dangling)).cast(_DEC)
        # observe() metrics ride accumulators, which a resubmitted stage
        # can double-apply after a shuffle-fetch failure on a real
        # cluster — and here the metric feeds rank VALUES, not just a
        # convergence probe. The observed fast path is therefore gated
        # to single-JVM local masters (the bench/oracle regime, where
        # stage resubmission cannot occur); clusters, local-cluster
        # included, take a retry-exact 1-row agg job over the
        # just-checkpointed rank instead (r14 ADVICE on the closure
        # checksum, applied with a stricter rule here).
        observed = accumulators_exact(
            edges.sparkSession.sparkContext.master
        )
        dangling_sum = F.coalesce(
            F.sum(
                F.when(F.col("out_weight") == 0.0, F.col("rank")).cast(_DEC)
            ),
            F.lit(0).cast(_DEC),
        ).alias("__dm")
        for _ in range(n_iter):
            contrib = (
                rank.where(F.col("out_weight") > 0.0)
                .join(e, rank["node"] == e["__src"])
                .select(
                    F.col("__dst").alias("node"),
                    F.round(
                        F.col("rank") * F.col("__w") / F.col("out_weight"),
                        12,
                    )
                    .cast(_DEC)
                    .alias("__c"),
                )
                .groupBy("node")
                .agg(F.sum("__c").alias("__in"))
            )
            new_rank = base.join(contrib, "node", "left").select(
                "node",
                F.round(
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(
                            F.col("__in").cast("double"), F.lit(0.0)
                        )
                        + dm.cast("double") / F.lit(float(n))
                    ),
                    12,
                ).alias("rank"),
                "out_weight",
            )
            if observed:
                from pyspark.sql import Observation

                obs = Observation()
                rank = checkpoint(new_rank.observe(obs, dangling_sum))
                dm = F.lit(obs.get["__dm"]).cast(_DEC)
            else:
                rank = checkpoint(new_rank)
                row = rank.where(F.col("out_weight") == 0.0).agg(
                    dangling_sum
                ).first()
                dm = F.lit(row["__dm"]).cast(_DEC)
        if n_iter <= 0:
            # materialize the init frame so the returned rows do not
            # depend on the persisted base released in `finally` (the
            # loop's own checkpoints already guarantee this otherwise)
            rank = checkpoint(rank)
        return rank.select("node", "rank", "out_weight")
    finally:
        base.unpersist()
        e.unpersist()


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by ``edges`` (direction, weights and duplicates ignored; self-loops
    dropped). Returns ``(node, n_triangles)`` for every node in at least
    one triangle.

    Algorithm: the degree-ordered orientation ("node-iterator++",
    Schank & Wagner 2005; the shape GraphX/Giraph use at scale). Each
    undirected edge is oriented from its lower endpoint to its higher
    endpoint under the total order (degree, node); a triangle is a
    directed path a→b→c closed by the oriented edge a→c, so every
    triangle is found EXACTLY once with no post-hoc dedup.

    Scale shape: orientation bounds every node's out-degree by O(sqrt(m))
    on any graph (the classic arboricity argument), which is what keeps
    the path join's fan-out polynomial on power-law graphs — the naive
    undirected wedge join explodes on hub nodes; this one cannot. Three
    hash equi-joins + one explode + one aggregation, all integer exact,
    no window, no driver state.
    """
    # Eager localCheckpoint (optimization round 14): `e` feeds deg AND
    # the two orientation joins, `ori` feeds all three legs of the path
    # join — without materialization every reference re-ran the upstream
    # edge derivation (for the corpus word graph: the full text explode),
    # 3x each; per-branch pruning blocks ReuseExchange (measured zero),
    # and a lazy persist races its own concurrent broadcast builds.
    # Round 15 re-adjudicated both alternatives under the interleaved
    # same-box protocol and KEPT this form: the r14-committed "q107
    # regression" (1.39->2.27 s) does not reproduce interleaved
    # (r13-lazy vs r14-checkpoint = 0.935x normalized,
    # plans/r15/ab_start), a size-gated lazy variant measured 1.11x
    # SLOWER and an eager persist()+count() variant 1.14x slower
    # (plans/r15/ab_q90_q107.json, ab_q107_persist.json) — the
    # checkpoint's task count is 5x lower than the cached-scan form (80
    # vs 451). Block lifetime: both checkpoints are registered with
    # chunking and freed by the harness's per-query release_persisted();
    # executor loss invalidates them — acceptable for a single-query
    # intermediate, documented rather than traded for the
    # measured-slower persist (r14 ADVICE).
    e = checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ori = checkpoint(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("o")
        )
        .select(F.col("o.a").alias("a"), F.col("o.b").alias("b"))
    )
    t2 = ori.select(F.col("a").alias("b"), F.col("b").alias("c"))
    t3 = ori.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tris = ori.join(t2, "b").join(t3, ["a", "c"])
    return (
        tris.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
