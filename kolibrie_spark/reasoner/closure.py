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
both plain shuffles AQE can re-plan, with `localCheckpoint` truncating
lineage exactly like the label-propagation loop in operators/dedup.py.
Cycles converge too (min-dist is bounded by |V|; H empties past the
diameter).

Trade-off (documented for the 100 TB read): the closure itself is the
output — a K-vertex chain yields K²/2 pairs.  Use this when ancestor sets
are the requested result or the diameter is large; for shallow hierarchies
the Reasoner's semi-naive fixpoint (reasoner/fixpoint.py:241) touches
fewer total tuples.

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


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    keep_distance: bool = False,
    known_diameter: int | None = None,
) -> DataFrame:
    """All pairs (src, dst) with dst reachable from src via ≥1 edge.
    Converges in ⌈log₂ diameter⌉ rounds (distance-tracked doubling).

    `max_iter` is a runaway bound, not a tuning knob: 25 doublings cover a
    diameter of 2**25 ≈ 33M, far past any real hierarchy.  Raises if not
    converged by then.  With `keep_distance` the result carries a `dist`
    column = shortest hop count.

    `known_diameter` skips the per-round convergence count: when the
    caller can bound the longest shortest-path (e.g. chains bounded by
    group size), exactly ⌈log₂ d⌉ doubling rounds run with no counting
    actions — one job per checkpoint instead of two.
    """
    reach = (
        edges.select(F.col(src), F.col(dst))
        .dropDuplicates()
        .withColumn("dist", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    if known_diameter is not None:
        if known_diameter < 1:
            raise ValueError("known_diameter must be >= 1")
        rounds = max(0, (known_diameter - 1).bit_length())  # ceil(log2(d))
        hop = 1
        for _ in range(rounds):
            a = reach.alias("a")
            b = reach.filter(F.col("dist") == hop).alias("b")
            stepped = a.join(b, F.col(f"a.{dst}") == F.col(f"b.{src}")).select(
                F.col(f"a.{src}").alias(src),
                F.col(f"b.{dst}").alias(dst),
                (F.col("a.dist") + F.col("b.dist")).alias("dist"),
            )
            reach = (
                reach.unionByName(stepped)
                .groupBy(src, dst)
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
            hop *= 2
        return reach if keep_distance else reach.select(src, dst)
    n = reach.count()
    hop = 1  # H_k = pairs at shortest distance exactly 2^k
    for _ in range(max_iter):
        # past the diameter the frontier is empty, stepped adds nothing and
        # the count check below breaks — no separate isEmpty action needed
        frontier = reach.filter(F.col("dist") == hop)
        a, b = reach.alias("a"), frontier.alias("b")
        stepped = a.join(b, F.col(f"a.{dst}") == F.col(f"b.{src}")).select(
            F.col(f"a.{src}").alias(src),
            F.col(f"b.{dst}").alias(dst),
            (F.col("a.dist") + F.col("b.dist")).alias("dist"),
        )
        # Lazy mark + count. This is NOT one action per doubling: under
        # AQE the lazy checkpoint already runs the plan's shuffle stages
        # at call time, and the count then runs one more job that
        # computes (and persists) every partition. The count is what
        # makes the lazy mark safe here: the next round consumes `reach`
        # twice (a-side and frontier), and by then it is fully persisted.
        reach = (
            reach.unionByName(stepped)
            .groupBy(src, dst)
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)  # truncate lineage each doubling
        )
        grown = reach.count()
        hop *= 2
        if grown == n:
            break
        n = grown
    else:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iter} doublings"
        )
    return reach if keep_distance else reach.select(src, dst)


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
