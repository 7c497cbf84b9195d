"""Transitive closure by distance-tracked path doubling — the Spark-native
answer to deep recursive chains.

The reference's deep-taxonomy benchmark
(kolibrie/examples/sparql_syntax/knowledge_graph/deep_taxonomy.rs:71-95,
the EYE `test-dl.ttl` workload) drives the generic semi-naive rule

    (X type C) ∧ (C subClassOf D) → (X type D)

to fixpoint.  Semi-naive evaluation needs one round per chain LEVEL — a
depth-100k taxonomy is 100k delta joins, which is fine for an in-memory
engine with microsecond joins but catastrophic on Spark where every round
is a scheduled job with a shuffle.

Naive path doubling (R ∪ R⋈R per round) converges in ⌈log₂ d⌉ rounds but
re-derives every pair once per split point: on a depth-d chain the final
join emits Θ(d³) intermediate rows before dedup.  We instead track the
SHORTEST distance and join only against the "hop frontier"

    H_k = { (x, y) : shortest-dist(x, y) = 2^k },

    R_{k+1} = min-dist( R_k ∪ (R_k ⋈ H_k) ),   H from R by filter.

Every shortest distance m ∈ (2^k, 2^{k+1}] decomposes UNIQUELY as
(m − 2^k) + 2^k through a vertex whose shortest distance to the target is
exactly 2^k (a shorter one would contradict m minimal), so each closure
pair is derived exactly once per round it can first appear — join output
is proportional to the NEW pairs, total work O(|closure|) across all
⌈log₂ d⌉ rounds.  Each round is one equi-join plus one min aggregation,
checkpointed eagerly through fixpoint's ``_checkpoint`` with H_{k+1}
flagged ``__new``: the checkpoint job's observed count of H_{k+1} ends the
loop, as no pair can lie farther than an empty frontier (a shortest path
past 2^{k+1} passes a vertex at exactly 2^{k+1}).  Cycles converge too
(min-dist is bounded by |V|).

Trade-off (documented for the 100 TB read): the closure itself is the
output — a K-vertex chain yields K²/2 pairs.  Use this when ancestor sets
are the requested result or the diameter is large; for shallow hierarchies
the Reasoner's semi-naive fixpoint (``fixpoint.fixpoint``) touches fewer
total tuples.  SPARQL's var-var ``p+`` path is this closure.

Delta-only checkpointing was tried and measured SLOWER here (r8, VERDICT
r7 task #4; numbers in BASELINE.md): two formulations — (a) per-round
anti-join isolating the new pairs, (b) the cheaper min-merge + `dist >
hop` filter, which needs no anti-join because known pairs always carry
dist <= hop while candidates carry > hop — with delta blocks written to a
scratch parquet dir (union-of-localCheckpoint blocks is not an option:
>2 references to the growing union trip a Catalyst relation-dedup bug,
`key not found: src#N`).  Both lost ~20-45% at sf0.1 and sf1 because
`localCheckpoint` persists to DESERIALIZED EXECUTOR MEMORY: writing the
full closure is nearly free on local[*], while the parquet round-trips
add real encode/decode and job overhead.  On a cluster whose checkpoint
store is remote (S3/HDFS reliable checkpointing), formulation (b) is the
one to revive — same single shuffle per round as this code, |delta|
instead of |closure| written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kolibrie_spark.reasoner.fixpoint import _NEW, _checkpoint, round_metrics


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    keep_distance: bool = False,
) -> DataFrame:
    """All pairs (src, dst) with dst reachable from src via ≥1 edge.
    Converges in ⌊log₂ diameter⌋ + 1 rounds (distance-tracked doubling).

    Each round is one eager checkpoint of the min-distance pairs with the
    next frontier (``dist == 2*hop``) flagged ``__new``; the loop ends when
    the checkpoint job observes an empty frontier, so it runs no count.
    `max_iter` is a runaway bound, not a tuning knob: 25 doublings cover a
    diameter of 2**25 ≈ 33M, far past any real hierarchy.  Raises if not
    converged by then.  With `keep_distance` the result carries a `dist`
    column = shortest hop count.
    """
    seed = edges.select(F.col(src), F.col(dst)).dropDuplicates()
    metrics = round_metrics()
    reach, rows, new = _checkpoint(
        seed.withColumn("dist", F.lit(1).cast("long")).withColumn(_NEW, F.lit(True)), None, metrics
    )
    hop = 1  # the flagged frontier H_k: pairs at shortest distance exactly 2^k
    for _ in range(max_iter):
        if new == 0:
            break
        a, b = reach.alias("a"), reach.filter(F.col(_NEW)).alias("b")
        stepped = a.join(b, F.col(f"a.{dst}") == F.col(f"b.{src}")).select(
            F.col(f"a.{src}").alias(src),
            F.col(f"b.{dst}").alias(dst),
            (F.col("a.dist") + F.col("b.dist")).alias("dist"),
        )
        hop *= 2
        merged = (
            reach.select(src, dst, "dist")
            .unionByName(stepped)
            .groupBy(src, dst)
            .agg(F.min("dist").alias("dist"))
            .withColumn(_NEW, F.col("dist") == hop)
        )
        reach, rows, new = _checkpoint(merged, rows, metrics)
    else:
        if new:
            raise RuntimeError(
                f"transitive_closure did not converge in {max_iter} doublings"
            )
    return reach.select(src, dst, *(["dist"] if keep_distance else []))


def ancestors_via_closure(
    instances: DataFrame,
    subclass_edges: DataFrame,
    inst_col: str = "s",
    type_col: str = "o",
    sub_col: str = "s",
    sup_col: str = "o",
) -> DataFrame:
    """Deep-taxonomy type inference, closure-first: materialize the
    subClassOf closure by doubling, then ONE join instances ⋈ closure gives
    every derived (instance, type) — the same answer the rule
    (X type C) ∧ (C subClassOf D) → (X type D) reaches at fixpoint
    (deep_taxonomy.rs:71-95), in log rounds instead of depth rounds.

    Returns the DERIVED pairs only (the direct types are the input).
    """
    closure = transitive_closure(subclass_edges, src=sub_col, dst=sup_col)
    return (
        instances.select(
            F.col(inst_col).alias("__inst"), F.col(type_col).alias("__direct")
        )
        .join(closure, F.col("__direct") == F.col(sub_col))
        .select(F.col("__inst").alias(inst_col), F.col(sup_col).alias(type_col))
        .dropDuplicates()
    )
