"""Forward/backward chaining over a facts DataFrame.

Reference algorithms re-expressed as Spark plans:
- naive fixpoint (datalog/src/reasoning/materialisation/my_naive.rs:74):
  apply all rules to all facts until no growth;
- semi-naive (semi_naive.rs:89): delta-driven — each round joins the
  last round's delta against the full fact set in every premise position;
- negation-as-failure: NOT EXISTS against the instantiated negated
  pattern (single stratum, shared/src/rule.rs semantics);
- provenance semirings (shared/src/provenance.rs:18-60): a ``tag`` column
  flows through the joins — ⊗ combines premise tags within a derivation,
  ⊕ merges alternative derivations of the same fact per round;
- backward chaining (reasoning/backward_chaining.rs:150): driver-side
  goal-directed resolution issuing one pattern probe per subgoal.

Rules run only as compiled rule text: ``compile_rules`` turns a rule
program (rules, semiring, naive or semi-naive) into ONE Spark SQL text over
the views ``{facts}`` and ``{delta}`` (every premise-position branch,
filter, negation, conclusion and ⊗ tag), its constants named parameters
(``:c0``), so no term is quoted. A fixpoint compiles once and each round
runs ``spark.sql(text, args, facts=…, delta=…)``: the same plan built from
Column calls costs ~700 py4j round trips per round. Constraints, repairs,
pattern probes and the ML rule bindings run the same text.

The engine's fixpoints run one loop, ``fixpoint``. Its callers:
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
against old facts are one ``groupBy(key)`` over derived ∪ facts, its
aggregate built once per ``fixpoint`` call; the delta is broadcast while
its known row count fits ``spark.sql.autoBroadcastJoinThreshold``; and the
round is checkpointed EAGERLY under an ``Observation`` of its total and new
row counts, so the emptiness test runs no job of its own. That job runs
under a fixed plan (``conf.scoped_conf``): AQE off, which runs each shuffle
stage as a job, and ⌈rows / ``FACT_ROWS_PER_PARTITION``⌉ shuffle partitions
from the last observed row count, never ``spark.sql.shuffle.partitions``
(200 by default: 4-6× slower here).
Rounds are capped by ``max_iter``; running out raises ``RuntimeError``.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark.compare import compare_sql
from kolibrie_spark.conf import scoped_conf
from kolibrie_spark.reasoner.rule import Rule, check_rule_safety
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

    def times_sql(self, tags: list[str]) -> str:
        if len(tags) == 1:
            return tags[0]
        return " * ".join(tags) if self.name == "addmult" else f"least({', '.join(tags)})"

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


# ----------------------------------------------------- compiled rule text
@dataclass(frozen=True)
class RuleText:
    """A rule program as one Spark SQL text over the views ``{facts}`` and
    ``{delta}``, with the name of each constant's parameter."""

    sql: str
    params: dict[str, str]

    def run(self, facts: DataFrame, delta: DataFrame | None = None) -> DataFrame:
        args = {name: value for value, name in self.params.items()}
        return facts.sparkSession.sql(self.sql, args, facts=facts, delta=delta)


def _param(params: dict[str, str], value: str) -> str:
    return ":" + params.setdefault(value, f"c{len(params)}")


def _body(rule: Rule, sources: list[str], params: dict[str, str]) -> tuple[str, dict[str, str]]:
    """``FROM … WHERE …`` of one rule body, premise i read from the view
    ``sources[i]`` as ``t{i}``, and the column each variable binds to."""

    def match(alias: str, pat: TriplePattern, bound: dict[str, str]) -> list[str]:
        conds = []
        for pos, term in zip(FACT_COLS, (pat.s, pat.p, pat.o)):
            col = f"{alias}.{pos}"
            if not isinstance(term, Var):
                conds.append(f"{col} = {_param(params, _term_value(term))}")
            elif term.name in bound:
                conds.append(f"{col} = {bound[term.name]}")
            else:
                bound[term.name] = col
        return conds

    binds: dict[str, str] = {}
    conds = [c for i, pat in enumerate(rule.premise) for c in match(f"t{i}", pat, binds)]
    # conditions sharing an or_group came from one ``FILTER (a || b)`` and
    # OR together (SPARQL semantics; the reference's datalog evaluator drops
    # OR'ed rule filters, rules.rs:133-163, which we do not mirror)
    ors: dict[int, list[str]] = {}
    for f in rule.filters:
        c = "FALSE"
        if f.variable in binds:
            c = compare_sql(binds[f.variable], f.operator, _param(params, f.value))
        if f.or_group is None:
            conds.append(c)
        else:
            ors.setdefault(f.or_group, []).append(c)
    conds += ["(" + " OR ".join(group) + ")" for group in ors.values()]
    for j, pat in enumerate(rule.negative_premise):
        neg = match(f"n{j}", pat, dict(binds))
        neg_where = " AND ".join(neg or ["TRUE"])
        conds.append(f"NOT EXISTS (SELECT 1 FROM {{facts}} n{j} WHERE {neg_where})")
    froms = ", ".join(f"{{{src}}} t{i}" for i, src in enumerate(sources))
    return f"FROM {froms} WHERE {' AND '.join(conds) or 'TRUE'}", binds


def _conclusion_term(term, binds: dict[str, str], params: dict[str, str]) -> str:
    if isinstance(term, Var) and term.name not in binds:
        raise ValueError(f"unbound conclusion variable ?{term.name}")
    return binds[term.name] if isinstance(term, Var) else _param(params, _term_value(term))


def compile_rules(
    rules: list[Rule], semiring: Semiring | None = None, semi_naive: bool = False
) -> RuleText:
    """One application of every rule as one SQL text with columns s, p, o
    (and ``tag``, the ⊗ of the premise tags, under a ``semiring``): a
    SELECT per rule, conclusion and, when ``semi_naive``, premise position
    read from ``{delta}`` (the rest from ``{facts}``), UNION ALL'ed."""
    params: dict[str, str] = {}
    selects = []
    for rule in rules:
        n = len(rule.premise)
        for k in range(n) if semi_naive else [None]:
            sources = ["delta" if i == k else "facts" for i in range(n)]
            body, binds = _body(rule, sources, params)
            tag = [semiring.times_sql([f"t{i}.tag" for i in range(n)]) + " AS tag"] if semiring else []
            for pat in rule.conclusion:
                cols = [f"{_conclusion_term(t, binds, params)} AS {pos}"
                        for pos, t in zip(FACT_COLS, (pat.s, pat.p, pat.o))]
                selects.append(f"SELECT {', '.join(cols + tag)} {body}")
    return RuleText("\nUNION ALL\n".join(selects), params)


def compile_bindings(rule: Rule) -> RuleText:
    """The bindings of a rule body over ``{facts}``: one column per
    variable of its premises, named after the variable."""
    params: dict[str, str] = {}
    body, binds = _body(rule, ["facts"] * len(rule.premise), params)
    cols = ", ".join(f"{col} AS `{var}`" for var, col in binds.items())
    return RuleText(f"SELECT {cols} {body}", params)


def _match(facts: DataFrame, pat: TriplePattern) -> list[dict[str, str]]:
    """The distinct bindings of one pattern's variables over ``facts``."""
    rows = compile_rules([Rule([pat], [pat])]).run(facts).dropDuplicates().collect()
    names = [(i, t.name) for i, t in enumerate((pat.s, pat.p, pat.o)) if isinstance(t, Var)]
    return [{name: r[i] for i, name in names} for r in rows]


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


def round_metrics() -> list[Column]:
    """The total and ``__new`` row counts a checkpoint job observes."""
    return [F.count(F.lit(1)).alias("rows"), F.count(F.when(F.col(_NEW), 1)).alias("new")]


def _checkpoint(
    df: DataFrame, known_rows: int | None, metrics: list[Column]
) -> tuple[DataFrame, int, int]:
    """One round's fact set as an eager local checkpoint, and its total and
    ``__new`` row counts observed (``metrics``) in the same job. Given the
    previous round's ``known_rows`` it runs under a fixed plan (module
    notes); a seed, whose rows nobody has counted, under the session's."""
    obs = Observation()
    df = df.observe(obs, *metrics)
    width = None if known_rows is None else max(1, -(-known_rows // FACT_ROWS_PER_PARTITION))
    scope = nullcontext() if width is None else scoped_conf(df.sparkSession, {
        "spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": str(width),
    })
    with scope:
        facts = df.localCheckpoint(eager=True)
    observed = obs.get
    return facts, observed["rows"], observed["new"]


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
    cols = [F.col(c) for c in key + (["tag"] if merge else [])]
    keys, metrics = cols[:len(key)], round_metrics()
    src, is_new = F.col("__src"), F.col(_NEW)
    fresh = F.min(src) == 1
    aggs = [fresh.alias(_NEW)]
    if merge:
        single = F.count(F.lit(1)) == 1
        tag = F.when(single, F.max("tag")).otherwise(merge(F.col("tag"), F.lit(None)))
        seed = seed.groupBy(*keys).agg(tag.alias("tag"))
        old = F.max(F.when(src == 0, F.col("tag")))
        tag = merge(F.col("tag"), old)
        aggs = [(fresh | ~tag.eqNullSafe(old)).alias(_NEW), tag.alias("tag")]
    else:
        seed = seed.select(*cols).dropDuplicates()
    one, zero = F.lit(1), F.lit(0)
    facts, rows, new = _checkpoint(seed.withColumn(_NEW, F.lit(True)), None, metrics)
    rounds = [(rows, new)]
    threshold = seed.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    for _ in range(max_iter):
        if new == 0:
            break
        delta = facts.filter(is_new)
        if new * _ROW_BYTES <= threshold:  # -1 disables broadcasts
            delta = F.broadcast(delta)
        derived = step(facts, delta)
        if derived is None:
            break
        merged = (
            derived.withColumn("__src", one)
            .unionByName(facts.drop(_NEW).withColumn("__src", zero))
            .groupBy(*keys)
            .agg(*aggs)
        )
        if admit is not None:
            merged = admit(merged)
        facts, rows, new = _checkpoint(merged, rows, metrics)
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

        text = compile_rules(self.rules, semiring, semi_naive=not naive) if self.rules else None

        def step(facts: DataFrame, delta: DataFrame) -> DataFrame | None:
            return None if text is None else text.run(facts, delta)

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
        if not self.constraints:
            return local_df(self.spark, [], FACT_COLS)
        return compile_rules(self.constraints).run(self.facts).dropDuplicates()

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
        matched = compile_rules([
            Rule(premise=[pat], conclusion=[pat]) for c in self.constraints for pat in c.premise
        ]).run(self.facts)
        support_list = sorted({tuple(r) for r in matched.dropDuplicates().collect()})
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

        support = compile_rules([replace(c, conclusion=c.premise) for c in self.constraints])

        def admit(merged: DataFrame) -> DataFrame:
            """Drop the new facts that instantiate a constraint premise
            within a violation over the merged fact set."""
            return merged.join(
                support.run(merged).withColumn(_NEW, F.lit(True)),
                on=["s", "p", "o", _NEW],
                how="left_anti",
            )

        admit = admit if self.constraints else None
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
            answer_sets.append({tuple(sorted(b.items())) for b in _match(facts, pattern)})
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
        rows = _match(self.facts, g)
        for row in rows:
            results.append({**binding, **row})
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
