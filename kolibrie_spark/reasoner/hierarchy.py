"""Hierarchical multi-level reasoner (reference
datalog/src/reasoning_experimental.rs:17-306).

Four ordered reasoning levels — Base (ground facts), Deductive (logical
inference), Abductive (hypotheses), MetaReasoning (higher-order) — each
backed by its own :class:`~kolibrie_spark.reasoner.fixpoint.Reasoner`
fact store. Rules attach to a level; *cross-level* rules read facts from
a declared list of dependency levels and write conclusions into their
target level.

Semantics mirrored from the reference:

- ``add_rule_at_level`` registers the rule both inside the level's own
  reasoner and as a cross-level rule whose dependencies are
  ``[Base] + [level]`` (reasoning_experimental.rs:61-80).
- ``hierarchical_inference`` walks levels in order Base → Deductive →
  Abductive → MetaReasoning; per level it first runs the level's own
  semi-naive fixpoint, then applies each cross-level rule targeting the
  level **once** (a single pass, not a fixpoint — rs:86-159), in
  insertion order, re-collecting dependency facts before each rule so
  earlier conclusions feed later rules.
- A two-premise cross-level rule must bind its premises to two
  *distinct* facts (the ``i == j { continue; }`` guard, rs:185);
  cross-level rules with >2 premises yield nothing (rs:202-204).
- ``get_fact_certainty`` maps the first (lowest) level containing the
  fact to 1.0 / 0.9 / 0.6 / 0.4, else 0.0 (rs:288-305).

Spark-first shape: each level's facts are a DataFrame; a cross-level
rule application is a union of the dependency levels' DataFrames
followed by one equi-join per premise pair (Catalyst broadcasts the tiny
sides), with the distinct-fact guard expressed as a struct inequality
filter. In-level fixpoints reuse the delta-driven semi-naive engine.
The per-rule single-pass discipline keeps each step one bounded join —
no unbounded recursion outside the in-level fixpoint.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field
from enum import IntEnum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark.reasoner.fixpoint import FACT_COLS, Reasoner
from kolibrie_spark.reasoner.rule import Rule
from kolibrie_spark.schema import local_df
from kolibrie_spark.sparql.ast import Iri, Lit, TriplePattern, Var


class ReasoningLevel(IntEnum):
    """Ordered levels (reasoning_experimental.rs:18-23)."""

    BASE = 0
    DEDUCTIVE = 1
    ABDUCTIVE = 2
    META_REASONING = 3


#: certainty assigned to a fact by the level that holds it (rs:295-300)
LEVEL_CERTAINTY = {
    ReasoningLevel.BASE: 1.0,
    ReasoningLevel.DEDUCTIVE: 0.9,
    ReasoningLevel.ABDUCTIVE: 0.6,
    ReasoningLevel.META_REASONING: 0.4,
}


@dataclass
class HierarchicalRule:
    """A rule bound to a target level with dependency levels
    (reasoning_experimental.rs:26-31). ``priority`` is carried but — as
    in the reference — never used for ordering; rules apply in
    insertion order."""

    rule: Rule
    level: ReasoningLevel
    priority: int = 1
    dependencies: list[ReasoningLevel] = field(default_factory=list)


def _term_lit(term) -> str | None:
    if isinstance(term, (Iri, Lit)):
        return term.value
    return None


def _statically_empty(df: DataFrame) -> bool:
    """True when the optimizer already knows ``df`` has no rows (an empty
    LocalRelation) — a driver-side plan check, so the caller can skip the
    seed-probe job entirely for levels that never received facts (r12,
    guide §1.2: the cheapest job is the one not launched).  False on any
    doubt; the caller then falls back to ``take(1)``."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return (
            plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().isEmpty()
        )
    except Exception:
        return False


def _match_premise(facts: DataFrame, pat: TriplePattern, idx: int) -> DataFrame:
    """Rows matching one premise; carries the source fact as struct
    ``__f{idx}`` so the distinct-fact guard can compare origins.  When the
    fact set carries a ``__lvl`` tag (union of dependency levels), the
    struct includes it: the reference concatenates per-level fact lists,
    so the same triple held at two levels occupies two indices and CAN
    bind both premises of a 2-premise rule (``i == j`` compares indices,
    not content — reasoning_experimental.rs:185)."""
    df = facts
    cols, seen = [], {}
    for pos, term in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
        if isinstance(term, Var):
            if term.name in seen:
                df = df.filter(F.col(pos) == F.col(seen[term.name]))
            else:
                seen[term.name] = pos
                cols.append(F.col(pos).alias(term.name))
        else:
            df = df.filter(F.col(pos) == F.lit(_term_lit(term)))
    ident = ["__lvl", "s", "p", "o"] if "__lvl" in df.columns else ["s", "p", "o"]
    cols.append(F.struct(*ident).alias(f"__f{idx}"))
    return df.select(*cols)


def apply_rule_single_pass(facts: DataFrame, rule: Rule) -> DataFrame | None:
    """One non-recursive application of a 1- or 2-premise rule over a
    fact set, with the reference's distinct-fact guard for two premises
    (reasoning_experimental.rs:161-208). Returns the derived (s, p, o)
    rows, or None for unsupported premise arity."""
    n = len(rule.premise)
    if n == 1:
        bound = _match_premise(facts, rule.premise[0], 0)
    elif n == 2:
        left = _match_premise(facts, rule.premise[0], 0)
        right = _match_premise(facts, rule.premise[1], 1)
        shared = sorted((set(left.columns) & set(right.columns)) - {"__f0", "__f1"})
        joined = left.join(right, on=shared, how="inner") if shared else left.crossJoin(right)
        bound = joined.filter(F.col("__f0") != F.col("__f1"))
    else:
        warnings.warn(f"unsupported cross-level rule premise length: {n}")
        return None

    var_cols = {c for c in bound.columns if not c.startswith("__f")}
    parts = []
    for concl in rule.conclusion:
        proj, ok = [], True
        for pos, term in (("s", concl.s), ("p", concl.p), ("o", concl.o)):
            if isinstance(term, Var):
                if term.name not in var_cols:
                    ok = False  # unbound conclusion var -> no facts (rs:246-252)
                    break
                proj.append(F.col(term.name).alias(pos))
            else:
                proj.append(F.lit(_term_lit(term)).alias(pos))
        if ok:
            parts.append(bound.select(*proj))
    if not parts:
        return None
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.dropDuplicates()


class ReasoningHierarchy:
    """Coordinates the four per-level reasoners
    (reasoning_experimental.rs:34-306)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.levels: dict[ReasoningLevel, Reasoner] = {
            lvl: Reasoner(spark) for lvl in ReasoningLevel
        }
        self.cross_level_rules: list[HierarchicalRule] = []

    # ---------------------------------------------------------- building
    def add_fact_at_level(
        self, level: ReasoningLevel, subject: str, predicate: str, obj: str
    ) -> None:
        self.levels[level].add_triples([(subject, predicate, obj)])

    def add_rule_at_level(self, level: ReasoningLevel, rule: Rule, priority: int = 1) -> None:
        """Registers in the level's own reasoner AND as a cross-level
        rule depending on Base (+ the level itself when not Base), as in
        reasoning_experimental.rs:61-80."""
        self.levels[level].add_rule(rule)
        deps = [ReasoningLevel.BASE]
        if level != ReasoningLevel.BASE:
            deps.append(level)
        self.cross_level_rules.append(HierarchicalRule(rule, level, priority, deps))

    def add_cross_level_rule(self, rule: HierarchicalRule) -> None:
        self.cross_level_rules.append(rule)

    # --------------------------------------------------------- inference
    def _dependency_facts(
        self,
        deps: list[ReasoningLevel],
        distinct_cache: dict | None = None,
        known_distinct: set | None = None,
    ) -> DataFrame:
        """Union of the dependency levels' facts, each row tagged with its
        level.  Per-level dedup only — a triple held at two levels stays
        two rows, matching the reference's concatenated per-level lists
        (a 2-premise rule may bind the same triple from two levels; the
        distinct-fact guard compares (level, s, p, o)).

        r12 (guide §2.4, remove shuffles): the per-level dedup shuffle is
        skipped for levels ``hierarchical_inference`` knows are already
        duplicate-free (``known_distinct``), and the tagged/deduped frame
        of every other level is memoized in ``distinct_cache`` across the
        rules of one inference walk (BASE alone used to pay its dedup
        once per cross-level rule)."""
        out = local_df(self.spark, [], FACT_COLS).withColumn(
            "__lvl", F.lit(-1)
        )
        for lvl in deps:
            if distinct_cache is not None and lvl in distinct_cache:
                tagged = distinct_cache[lvl]
            else:
                facts = self.levels[lvl].facts
                if known_distinct is None or lvl not in known_distinct:
                    facts = facts.dropDuplicates()
                tagged = facts.withColumn("__lvl", F.lit(int(lvl)))
                if distinct_cache is not None:
                    distinct_cache[lvl] = tagged
            out = out.unionByName(tagged)
        return out

    def hierarchical_inference(self) -> dict[ReasoningLevel, DataFrame]:
        """Processes levels in order; per level: in-level semi-naive
        fixpoint, then single-pass cross-level rules in insertion order
        (reasoning_experimental.rs:86-159). Returns the newly inferred
        facts per level as DataFrames — no driver round-trip, unlike the
        reference's Vec<Triple>; deltas are checkpointed so the chained
        unions do not stack lineage."""
        all_inferred: dict[ReasoningLevel, DataFrame] = {}
        # r12 shuffle bookkeeping for _dependency_facts: a level whose
        # facts are still the pristine empty seed is trivially
        # duplicate-free, and it STAYS duplicate-free under this loop's
        # own writes (each `fresh` is distinct and anti-joined against
        # the level, so unions stay disjoint).  Externally-assigned fact
        # sets are deduped once and memoized until the level changes.
        known_distinct: set = {
            lvl
            for lvl, kg in self.levels.items()
            if kg.facts is getattr(kg, "_empty_seed", None)
        }
        distinct_cache: dict = {}
        for level in ReasoningLevel:
            kg = self.levels[level]
            # in-level fixpoint is a no-op without rules or without any
            # seed facts (cross-level writes land AFTER this step, as in
            # the reference's processing order) — skip the jobs then.
            seeded = kg.facts is not getattr(kg, "_empty_seed", None)
            if (
                kg.rules
                and seeded
                and not _statically_empty(kg.facts)
                and kg.facts.take(1)
            ):
                before = kg.facts
                kg.materialize()
                new = kg.facts.join(before, on=["s", "p", "o"], how="left_anti")
                new = new.localCheckpoint(eager=True)
                known_distinct.discard(level)
                distinct_cache.pop(level, None)
            else:
                new = local_df(self.spark, [], FACT_COLS)

            for hrule in [r for r in self.cross_level_rules if r.level == level]:
                avail = self._dependency_facts(
                    hrule.dependencies, distinct_cache, known_distinct
                )
                derived = apply_rule_single_pass(avail, hrule.rule)
                if derived is None:
                    continue
                # derived is already distinct and anti-joined against the
                # level's facts, so a plain union stays duplicate-free;
                # one checkpoint per rule bounds the lineage.  LAZY (r12,
                # guide §5/§3.3): eager=True paid a full blocking job per
                # rule (measured 1.7s each on the hierarchy gate); lazy
                # still truncates the plan for every later reference —
                # which matters: a persist()-only variant produced a
                # 1688-line final plan (160 Exchanges) whose planning
                # time alone cost more than the jobs it saved.  Under AQE
                # the lazy checkpoint does execute the fragment's shuffle
                # stages at call time (~1.1s/rule here vs 1.7 eager) —
                # the best of the three measured variants.
                if kg.facts is getattr(
                    kg, "_empty_seed", None
                ) or _statically_empty(kg.facts):
                    # r12: anti-join and union against a provably-empty
                    # fact set are identities — the derived rows ARE the
                    # level (and `derived` is already distinct)
                    fresh = derived.localCheckpoint(eager=False)
                    kg.facts = fresh
                else:
                    fresh = derived.join(
                        kg.facts, on=["s", "p", "o"], how="left_anti"
                    )
                    fresh = fresh.localCheckpoint(eager=False)
                    kg.facts = kg.facts.unionByName(fresh)
                distinct_cache.pop(level, None)
                new = new.unionByName(fresh)
            all_inferred[level] = new
        return all_inferred

    def infer_collected(self) -> dict[ReasoningLevel, list[tuple[str, str, str]]]:
        """hierarchical_inference with the reference's concrete-triples
        return shape (reasoning_experimental.rs:86 returns Vec<Triple>).
        Collects every inferred triple to the driver — for non-toy levels
        use :meth:`hierarchical_inference`, which returns the per-level
        DataFrames without materializing them driver-side."""
        return {
            lvl: sorted(tuple(r) for r in df.collect())
            for lvl, df in self.hierarchical_inference().items()
        }

    # ----------------------------------------------------------- queries
    def query_hierarchy(
        self,
        level: ReasoningLevel | None = None,
        subject: str | None = None,
        predicate: str | None = None,
        obj: str | None = None,
    ) -> list[tuple[ReasoningLevel, tuple[str, str, str]]]:
        """Pattern query over one level or, in level order, all
        (reasoning_experimental.rs:266-286)."""
        search = [level] if level is not None else list(ReasoningLevel)
        out = []
        for lvl in search:
            for triple in self.levels[lvl].query_abox(subject, predicate, obj):
                out.append((lvl, triple))
        return out

    def get_fact_certainty(self, fact: tuple[str, str, str]) -> float:
        """Certainty of the first (lowest) level holding the fact
        (reasoning_experimental.rs:288-305)."""
        for lvl in ReasoningLevel:
            df = self.levels[lvl].facts
            hit = df.filter(
                (F.col("s") == fact[0]) & (F.col("p") == fact[1]) & (F.col("o") == fact[2])
            )
            if hit.take(1):
                return LEVEL_CERTAINTY[lvl]
        return 0.0

    def facts_with_certainty(self) -> DataFrame:
        """All facts as one DataFrame ``(level, s, p, o, certainty)``,
        each fact attributed to its lowest holding level (first-wins, as
        get_fact_certainty). Distributed shape of the example's
        'certainty analysis' loop (hierarchy_reasoning_advanced.rs:95-110):
        a union + min-level aggregation instead of a per-fact scan."""
        parts = []
        for lvl in ReasoningLevel:
            parts.append(
                self.levels[lvl].facts.select(
                    F.lit(int(lvl)).alias("level_no"), "s", "p", "o"
                )
            )
        union = parts[0]
        for x in parts[1:]:
            union = union.unionByName(x)
        first = union.groupBy("s", "p", "o").agg(F.min("level_no").alias("level_no"))
        cert = F.create_map(
            *[x for lvl, c in LEVEL_CERTAINTY.items() for x in (F.lit(int(lvl)), F.lit(c))]
        )
        return first.select(
            F.col("level_no"), "s", "p", "o", cert[F.col("level_no")].alias("certainty")
        )
