"""Forward/backward chaining over a facts DataFrame.

Reference algorithms re-expressed as DataFrame plans:
- naive fixpoint (datalog/src/reasoning/materialisation/my_naive.rs:74):
  apply all rules to all facts until no growth;
- semi-naive (semi_naive.rs:89): delta-driven — each round joins the
  last round's delta against the full fact set in every premise position;
- negation-as-failure: LEFT ANTI join against the instantiated negated
  pattern (single stratum, shared/src/rule.rs semantics);
- provenance semirings (shared/src/provenance.rs:18-60): a ``tag`` column
  flows through the joins — ⊗ combines premise tags within a derivation,
  ⊕ merges alternative derivations of the same fact per round;
- backward chaining (reasoning/backward_chaining.rs:150): driver-side
  goal-directed resolution issuing DataFrame probes per subgoal.

The engine's DataFrame fixpoints run one loop, ``fixpoint``. Its callers:
- the four ``Reasoner.materialize*`` methods, keyed on ``(s, p, o)``
  (provenance tags keep their first merged value; repairs filter each
  round through ``admit``);
- the ground-endpoint ``+``/``*`` property-path BFS
  (``sparql/compiler.py``), keyed on the reached node;
- the cross-window SDS+ recompute (``streaming/cross_window.py``), naive,
  with the expiry as the tag, merged by max.
``closure.transitive_closure`` keeps its own doubling loop (its step needs
the hop) but checkpoints through the same ``_checkpoint``.

Scale notes: with small inputs a round costs Spark jobs, stages and tasks,
not data, so: the fact set is ONE local checkpoint with a boolean ``__new``
column (the delta is ``facts.filter(__new)``); dedup and the anti-join
against old facts are one ``groupBy(key)`` over derived ∪ facts; the delta
is broadcast while its known row count fits
``spark.sql.autoBroadcastJoinThreshold``; and the round is checkpointed
EAGERLY under an ``Observation`` of its total and new row counts, so the
emptiness test runs no job of its own.
Rounds are capped by ``max_iter``; running out raises ``RuntimeError``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark import compare
from kolibrie_spark.reasoner.rule import FilterCondition, Rule, check_rule_safety
from kolibrie_spark.schema import local_df
from kolibrie_spark.sparql.ast import Iri, Lit, TriplePattern, Var

FACTS_SCHEMA = "s string, p string, o string"
TAGGED_SCHEMA = "s string, p string, o string, tag double"
FACT_COLS = ["s", "p", "o"]
FACT_ROWS_PER_PARTITION = 100_000  # of a round's fact-set checkpoint
_ROW_BYTES = 256  # assumed per fact row, against the broadcast threshold
_NEW = "__new"


# ------------------------------------------------------------- semirings
@dataclass(frozen=True)
class Semiring:
    """⊗ combines premises in one derivation; ⊕ merges alternative
    derivations. Mirrors the reference's AddMultProbability (⊗ = product,
    ⊕ = noisy-OR) and MinMaxProbability (⊗ = min, ⊕ = max)."""

    name: str

    def times(self, a: Column, b: Column) -> Column:
        if self.name == "addmult":
            return a * b
        return F.least(a, b)

    def plus_agg(self, col: Column) -> Column:
        if self.name == "addmult":
            # noisy-OR over the group: 1 - prod(1 - t). A tag of exactly 1.0
            # would hit log(0) -> NULL (and sum() skips NULLs, silently
            # dropping the certain derivation), so saturate the group first.
            return F.when(F.max(col) >= 1.0, F.lit(1.0)).otherwise(
                1.0 - F.exp(F.sum(F.log(1.0 - col)))
            )
        return F.max(col)


ADD_MULT = Semiring("addmult")
MIN_MAX = Semiring("minmax")


def _term_value(t) -> str:
    if isinstance(t, Iri) or isinstance(t, Lit):
        return t.value
    raise TypeError(f"not a constant term: {t!r}")


def _scan(facts: DataFrame, pat: TriplePattern, tagged: bool) -> DataFrame:
    df = facts
    out, seen, conds = [], {}, []
    for pos, term in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
        if isinstance(term, Var):
            if term.name in seen:
                conds.append(F.col(pos) == F.col(seen[term.name]))
            else:
                seen[term.name] = pos
                out.append(F.col(pos).alias(term.name))
        else:
            conds.append(F.col(pos) == F.lit(_term_value(term)))
    for c in conds:
        df = df.filter(c)
    if tagged:
        out.append(F.col("tag").alias(f"__tag_{id(pat)}"))
    return df.select(*out) if out else df.select()


def _join_premises(scans: list[DataFrame]) -> DataFrame:
    df = scans[0]
    for nxt in scans[1:]:
        shared = sorted(
            (set(df.columns) & set(nxt.columns)) - {c for c in df.columns if c.startswith("__tag_")}
        )
        df = df.join(nxt, on=shared, how="inner") if shared else df.crossJoin(nxt)
    return df


def _apply_filters(df: DataFrame, filters: list[FilterCondition]) -> DataFrame:
    """Conjunction of conditions; conditions sharing an or_group id came
    from one ``FILTER (a || b)`` and OR together (SPARQL semantics — the
    reference's datalog evaluator drops OR'ed rule filters entirely,
    rules.rs:133-163, which we deliberately do not mirror)."""

    def cond(f: FilterCondition):
        if f.variable not in df.columns:
            return F.lit(False)
        return compare.compare(F.col(f.variable), f.operator, F.lit(f.value))

    groups: dict[int, object] = {}
    for f in filters:
        if f.or_group is None:
            df = df.filter(cond(f))
        else:
            c = cond(f)
            groups[f.or_group] = c if f.or_group not in groups else (groups[f.or_group] | c)
    for c in groups.values():
        df = df.filter(c)
    return df


def _apply_negation(df: DataFrame, facts: DataFrame, rule: Rule) -> DataFrame:
    for pat in rule.negative_premise:
        neg = _scan(facts.select("s", "p", "o"), pat, tagged=False)
        join_vars = sorted(set(df.columns) & set(neg.columns))
        if join_vars:
            df = df.join(neg, on=join_vars, how="left_anti")
        else:
            # ground negated pattern: empty result iff the fact exists
            df = df.join(neg.limit(1), how="left_anti", on=F.lit(True))
    return df


def _instantiate(df: DataFrame, patterns: list[TriplePattern], tag_col: Column | None) -> DataFrame:
    parts = []
    for pat in patterns:
        cols = []
        for pos, term in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
            if isinstance(term, Var):
                cols.append(F.col(term.name).alias(pos))
            else:
                cols.append(F.lit(_term_value(term)).alias(pos))
        if tag_col is not None:
            cols.append(tag_col.alias("tag"))
        parts.append(df.select(*cols))
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def apply_rule(
    facts: DataFrame,
    rule: Rule,
    semiring: Semiring | None = None,
    delta: DataFrame | None = None,
) -> DataFrame:
    """One rule application. With ``delta``, a semi-naive step: the union
    over premise positions of (delta at position i) ⋈ (facts elsewhere)."""
    tagged = semiring is not None

    def one(pos_delta: int | None) -> DataFrame:
        scans = [
            _scan(delta if (pos_delta is not None and i == pos_delta) else facts, p, tagged)
            for i, p in enumerate(rule.premise)
        ]
        df = _join_premises(scans)
        df = _apply_filters(df, rule.filters)
        df = _apply_negation(df, facts, rule)
        tag = None
        if tagged:
            tag_cols = [c for c in df.columns if c.startswith("__tag_")]
            tag = functools.reduce(semiring.times, [F.col(c) for c in tag_cols])
        return _instantiate(df, rule.conclusion, tag)

    if delta is None:
        return one(None)
    out = one(0)
    for i in range(1, len(rule.premise)):
        out = out.unionByName(one(i))
    return out


# Full annotation IRI: the reference's tag stores encode the predicate as
# http://www.w3.org/ns/prob#value (shared/src/tag_store.rs:94), so reference
# scripts with PREFIX prob: <http://www.w3.org/ns/prob#> match it.
PROB_PREDICATE = "http://www.w3.org/ns/prob#value"


def materialize_tags_as_rdfstar(
    store, tagged_facts: DataFrame, predicate: str = PROB_PREDICATE
) -> None:
    """Write provenance tags into the store as RDF-star annotations:
    ``<< s p o >> prob:value "0.56"`` (reference reasoning.rs:84-93 via
    tag_store.rs:88-111).  `predicate` lets callers emit the explanation
    predicates of encode_as_rdf_star_with_explanation (tag_store.rs:119+,
    e.g. prob:proofCount) from the same (s, p, o, tag) frame."""
    from kolibrie_spark import rdfstar

    qid = rdfstar.qt_id_col(F.col("s"), F.col("p"), F.col("o"))
    quoted = tagged_facts.select(
        qid.alias("qid"),
        F.col("s").alias("qs"),
        F.col("p").alias("qp"),
        F.col("o").alias("qo"),
    )
    store.insert_quoted(quoted)
    annotations = tagged_facts.select(
        qid.alias("s"),
        F.lit(predicate).alias("p"),
        F.col("tag").cast("string").alias("o"),
        F.lit(None).cast("string").alias("g"),
    )
    store.insert(annotations, graphs=[])  # default graph only


def _checkpoint(df: DataFrame, known_rows: int | None) -> tuple[DataFrame, int, int]:
    """One round's fact set as an eager local checkpoint, with its total
    and ``__new`` row counts read from an observation of the same job.
    ``known_rows`` (the previous round's size) sets the partition count."""
    if known_rows is not None:
        df = df.coalesce(max(1, -(-known_rows // FACT_ROWS_PER_PARTITION)))
    obs = Observation()
    df = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.count(F.when(F.col(_NEW), 1)).alias("new")
    )
    facts = df.localCheckpoint(eager=True)
    metrics = obs.get
    return facts, metrics["rows"], metrics["new"]


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame | None],
    key: list[str],
    max_iter: int,
    merge: Callable[[Column, Column], Column] | None = None,
    admit: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """The engine's one DataFrame fixpoint loop (see the module notes).

    The fact set has the ``key`` columns, plus ``tag`` when a ``merge`` is
    given. ``step(facts, delta)`` returns the round's derived rows (same
    columns), or None when nothing can ever be derived; ``delta`` is the
    last round's new rows, so a semi-naive step joins it and a naive step
    ignores it. Each round merges derived (src 1) ∪ facts (src 0) in one
    ``groupBy(key)``: ``merge(tag, old)`` aggregates the group's tags given
    its old tag (NULL for a key with no old row). A key is new when it had
    no old row or its merged tag differs from its old tag. ``admit``
    filters the merged rows before the checkpoint. Duplicate seed keys
    merge with ``merge(tag, NULL)``; a unique seed row keeps its tag.

    Returns the facts without ``__new`` and ``(facts_rows, new_rows)`` per
    round, entry 0 being the seed. Raises ``RuntimeError`` if rows are still
    new after ``max_iter`` rounds."""
    cols = key + (["tag"] if merge else [])
    if merge:
        one = F.count(F.lit(1)) == 1
        tag = F.when(one, F.max("tag")).otherwise(merge(F.col("tag"), F.lit(None)))
        seed = seed.groupBy(*key).agg(tag.alias("tag"))
    else:
        seed = seed.select(*cols).dropDuplicates()
    facts, rows, new = _checkpoint(seed.withColumn(_NEW, F.lit(True)), None)
    rounds = [(rows, new)]
    threshold = seed.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    for _ in range(max_iter):
        if new == 0:
            break
        delta = facts.filter(F.col(_NEW))
        if new * _ROW_BYTES <= threshold:  # -1 disables broadcasts
            delta = F.broadcast(delta)
        derived = step(facts, delta)
        if derived is None:
            break
        src = F.col("__src")
        fresh = F.min(src) == 1
        aggs = [fresh.alias(_NEW)]
        if merge:
            old = F.max(F.when(src == 0, F.col("tag")))
            tag = merge(F.col("tag"), old)
            aggs = [(fresh | ~tag.eqNullSafe(old)).alias(_NEW), tag.alias("tag")]
        merged = (
            derived.withColumn("__src", F.lit(1))
            .unionByName(facts.select(*cols, F.lit(0).alias("__src")))
            .groupBy(*key)
            .agg(*aggs)
        )
        if admit is not None:
            merged = admit(merged)
        facts, rows, new = _checkpoint(merged, rows)
        rounds.append((rows, new))
    else:
        if new:
            raise RuntimeError(
                f"fixpoint did not converge in max_iter={max_iter} rounds: "
                f"the last round derived {new} new facts"
            )
    return facts.select(*cols), rounds


class Reasoner:
    """Facts + rules with materialization (reference datalog/src/reasoning.rs).

    After a materialization, ``rounds`` lists ``(facts_rows, new_rows)``
    per round: entry 0 is the deduplicated seed (all rows new), and the
    last entry holds the final fact count."""

    def __init__(self, spark: SparkSession, facts: DataFrame | None = None):
        self.spark = spark
        self.facts = facts if facts is not None else local_df(spark, [], FACT_COLS)
        # identity of the pristine empty seed: callers that only need to
        # know "was this reasoner ever given facts?" can compare against
        # this instead of paying a take(1) job on an empty RDD (r12)
        self._empty_seed = None if facts is not None else self.facts
        self.rules: list[Rule] = []
        self.constraints: list[Rule] = []
        self.rounds: list[tuple[int, int]] = []

    # -------------------------------------------------------------- input
    def add_triples(self, rows: list[tuple[str, str, str]]) -> None:
        new = local_df(self.spark, rows, FACT_COLS)
        self.facts = self.facts.unionByName(new).dropDuplicates()

    def add_rule(self, rule: Rule) -> None:
        check_rule_safety(rule)
        self.rules.append(rule)

    def add_constraint(self, rule: Rule) -> None:
        """A constraint is a rule whose conclusion marks a violation
        (reference reasoning.rs:132-186)."""
        self.constraints.append(rule)

    # -------------------------------------------------------- fixpoints
    def materialize_naive(self, max_iter: int = 50) -> DataFrame:
        """Naive fixpoint: every round applies all rules to all facts."""
        self.facts = self._fixpoint(self.facts, naive=True, max_iter=max_iter)
        return self.facts

    def materialize(self, max_iter: int = 50) -> DataFrame:
        """Semi-naive fixpoint (the default, like the reference): every
        round joins the last round's new facts against the fact set."""
        self.facts = self._fixpoint(self.facts, naive=False, max_iter=max_iter)
        return self.facts

    def infer(self, s: str, p: str, o: str) -> bool:
        return (
            self.facts.filter(
                (F.col("s") == s) & (F.col("p") == p) & (F.col("o") == o)
            ).limit(1).count()
            > 0
        )

    def _fixpoint(
        self,
        seed: DataFrame,
        naive: bool,
        max_iter: int,
        semiring: Semiring | None = None,
        admit=None,
    ) -> DataFrame:
        """Every ``materialize*`` method on the kernel, keyed on
        ``(s, p, o)``: a round derives from the delta in each premise
        position, or from all facts when ``naive``. With a ``semiring`` a
        new fact's tag is the ⊕ of the round's derivations and an old fact
        keeps its tag, so it is never new again."""

        def step(facts: DataFrame, delta: DataFrame) -> DataFrame | None:
            if not self.rules:
                return None
            return functools.reduce(DataFrame.unionByName, [
                apply_rule(facts, rule, semiring, None if naive else delta) for rule in self.rules
            ])

        merge = (lambda tag, old: F.coalesce(old, semiring.plus_agg(tag))) if semiring else None
        facts, self.rounds = fixpoint(seed, step, FACT_COLS, max_iter, merge, admit)
        return facts

    # ---------------------------------------------------------- provenance
    def materialize_with_provenance(
        self, tagged_facts: DataFrame, semiring: Semiring, max_iter: int = 25
    ) -> DataFrame:
        """Tagged fixpoint: (s,p,o,tag). Each round derives from all facts;
        alternative derivations of a new fact merge with ⊕, and a fact
        already held keeps its tag — re-deriving the same paths next round
        must not re-accumulate evidence (the reference's saturating tagged
        semi-naive, provenance_semi_naive.rs:210-330). Duplicate seed rows
        merge with ⊕. Iterates until no new fact appears; raises
        ``RuntimeError`` if that takes more than ``max_iter`` rounds."""
        return self._fixpoint(tagged_facts, naive=True, max_iter=max_iter, semiring=semiring)

    # ------------------------------------------------------- constraints
    def check_constraints(self) -> DataFrame:
        """Violations: instantiated conclusions of constraint rules."""
        out = None
        for c in self.constraints:
            d = apply_rule(self.facts, c)
            out = d if out is None else out.unionByName(d)
        if out is None:
            return local_df(self.spark, [], FACT_COLS)
        return out.dropDuplicates()

    def repair(self, max_removals: int = 4) -> list[set[tuple[str, str, str]]]:
        """Minimal repairs (reference semi_naive_with_repairs.rs:11 /
        reasoning.rs:132-186): smallest sets of base facts whose removal
        clears every constraint violation. Search runs driver-side over the
        facts that *support* violations (small by construction); candidate
        subsets are re-checked with the DataFrame pipeline."""
        import itertools

        violations = self.check_constraints()
        if violations.isEmpty():
            return []
        # support set: base facts matched by any constraint premise
        support: set[tuple[str, str, str]] = set()
        for c in self.constraints:
            for pat in c.premise:
                # recover full triples for matched bindings
                matched = apply_rule(self.facts, Rule(premise=[pat], conclusion=[pat]))
                support |= {tuple(r) for r in matched.dropDuplicates().collect()}
        support_list = sorted(support)
        base = self.facts
        repairs: list[set] = []
        for k in range(1, max_removals + 1):
            for subset in itertools.combinations(support_list, k):
                if any(r <= set(subset) for r in repairs):
                    continue  # supersets of a found repair aren't minimal
                trial = Reasoner(self.spark)
                remove = local_df(self.spark, list(subset), FACT_COLS)
                trial.facts = base.exceptAll(remove)
                trial.constraints = self.constraints
                if trial.check_constraints().isEmpty():
                    repairs.append(set(subset))
            if repairs:
                break  # all repairs of minimal cardinality found
        return repairs

    def materialize_with_repairs(self, max_iter: int = 50) -> DataFrame:
        """Inconsistency-tolerant materialization (reference
        semi_naive_with_repairs.rs:11): an inconsistent base is first
        replaced by its largest minimal repair (fewest removals,
        deterministic tie-break), then the semi-naive fixpoint runs while
        refusing derived facts that would (re)introduce a constraint
        violation.

        Divergence (documented): the reference admits candidate facts one
        at a time in HashSet iteration order — nondeterministic when two
        new facts violate jointly. Here every derived fact participating
        in a violation is dropped per round: deterministic and
        order-independent."""
        if not self.check_constraints().isEmpty():
            repairs = self.repair()
            if repairs:
                best = sorted(repairs, key=lambda r: (len(r), sorted(r)))[0]
                rm = local_df(self.spark, sorted(best), FACT_COLS)
                self.facts = self.facts.join(
                    rm, on=["s", "p", "o"], how="left_anti"
                )

        def admit(merged: DataFrame) -> DataFrame:
            """Drop the new facts that instantiate a constraint premise
            within a violation over the merged fact set."""
            if not self.constraints:
                return merged
            support = functools.reduce(DataFrame.unionByName, [
                apply_rule(merged, replace(c, conclusion=c.premise))
                for c in self.constraints
            ])
            return merged.join(
                support.withColumn(_NEW, F.lit(True)), on=["s", "p", "o", _NEW], how="left_anti"
            )

        self.facts = self._fixpoint(self.facts, naive=False, max_iter=max_iter, admit=admit)
        return self.facts

    # ------------------------------------------------------------- queries
    def query_abox(
        self, s: str | None = None, p: str | None = None, o: str | None = None
    ) -> list[tuple[str, str, str]]:
        """Triples matching the optional constants (reference
        python/src/py_knowledge_graph.rs::query_abox)."""
        df = self.facts
        for col, val in (("s", s), ("p", p), ("o", o)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        return sorted(tuple(r) for r in df.dropDuplicates().collect())

    def query_with_repairs(self, pattern: TriplePattern) -> list[dict[str, str]]:
        """Inconsistency-tolerant query under IAR semantics (reference
        reasoning/repairs.rs:10): bindings that hold in EVERY minimal
        repair (facts minus one minimal removal set). A consistent store
        degenerates to a plain pattern query."""
        removals = self.repair()
        answer_sets: list[set] = []
        for removal in removals or [set()]:
            facts = self.facts
            if removal:
                rm = local_df(self.spark, sorted(removal), FACT_COLS)
                facts = facts.join(rm, on=["s", "p", "o"], how="left_anti")
            rows = _scan(facts, pattern, tagged=False).dropDuplicates().collect()
            answer_sets.append({tuple(sorted(r.asDict().items())) for r in rows})
        common = set.intersection(*answer_sets) if answer_sets else set()
        return [dict(t) for t in sorted(common)]

    # -------------------------------------------------- backward chaining
    def backward_chain(
        self, goal: TriplePattern, max_depth: int = 8
    ) -> list[dict[str, str]]:
        """Goal-directed resolution returning bindings
        (reference reasoning/backward_chaining.rs:150). Driver-side control
        with DataFrame probes per subgoal — suitable for selective goals."""
        return self._solve(goal, {}, max_depth)

    def _solve(self, goal: TriplePattern, binding: dict, depth: int) -> list[dict]:
        if depth <= 0:
            return []
        g = self._substitute(goal, binding)
        results: list[dict] = []
        # facts matching the goal
        rows = _scan(self.facts, g, tagged=False).dropDuplicates().collect()
        for row in rows:
            results.append({**binding, **row.asDict()})
        if not any(isinstance(t, Var) for t in (g.s, g.p, g.o)):
            if rows:
                return [dict(binding)]
        # rules whose conclusion unifies with the goal
        for rule in self.rules:
            for concl in rule.conclusion:
                theta = self._unify(concl, g)
                if theta is None:
                    continue
                partials = [theta]
                for prem in rule.premise:
                    nxt: list[dict] = []
                    for b in partials:
                        nxt.extend(self._solve(prem, b, depth - 1))
                    partials = nxt
                    if not partials:
                        break
                for b in partials:
                    out = dict(binding)
                    for t_goal, t_concl in ((g.s, concl.s), (g.p, concl.p), (g.o, concl.o)):
                        if isinstance(t_goal, Var):
                            val = (
                                b.get(t_concl.name)
                                if isinstance(t_concl, Var)
                                else _term_value(t_concl)
                            )
                            if val is not None:
                                out[t_goal.name] = val
                    results.append(out)
        # dedup
        seen, uniq = set(), []
        for r in results:
            k = tuple(sorted(r.items()))
            if k not in seen:
                seen.add(k)
                uniq.append(r)
        return uniq

    @staticmethod
    def _substitute(pat: TriplePattern, binding: dict) -> TriplePattern:
        def sub(t):
            if isinstance(t, Var) and t.name in binding:
                return Lit(binding[t.name])
            return t

        return TriplePattern(sub(pat.s), sub(pat.p), sub(pat.o))

    @staticmethod
    def _unify(concl: TriplePattern, goal: TriplePattern) -> dict | None:
        """Bindings for the rule's variables from the goal's constants."""
        theta: dict[str, str] = {}
        for tc, tg in ((concl.s, goal.s), (concl.p, goal.p), (concl.o, goal.o)):
            if isinstance(tc, Var):
                if not isinstance(tg, Var):
                    val = _term_value(tg)
                    if tc.name in theta and theta[tc.name] != val:
                        return None
                    theta[tc.name] = val
            else:
                if not isinstance(tg, Var) and _term_value(tc) != _term_value(tg):
                    return None
        return theta
