"""SparqlEngine — the top-level facade (reference: SparqlDatabase +
QueryEngine, kolibrie/src/sparql_database.rs:172-188 and query_engine.rs:22-163).

Usage::

    engine = SparqlEngine(spark)
    engine.add_triples([("ex:alice", "ex:age", "25")])
    df = engine.query("SELECT ?s WHERE { ?s <ex:age> ?a . FILTER(?a > 20) }")
    rows = engine.execute(...)   # list[list[str]], reference exec_query shape
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from kolibrie_spark.sparql import ast
from kolibrie_spark.sparql.compiler import Compiler, CompileError
from kolibrie_spark.sparql.parser import parse_query
from kolibrie_spark.sparql.update import execute_update
from kolibrie_spark.store import QuadStore

_log = logging.getLogger(__name__)


class DerivedFacts:
    """Lazy handle over a derived-facts DataFrame returned by PROB rule
    registration.  Mirrors the reference API's ``Vec<Triple>`` (iteration,
    ``in``, ``==`` against a list) WITHOUT materializing on the driver at
    registration time — the facts are inserted into the store distributed,
    and the triple list is only collected if a caller explicitly iterates
    (test convenience / small rule heads).  Large derived sets should be
    consumed via ``.df`` or ``.count()``."""

    def __init__(self, df: DataFrame):
        self.df = df.select("s", "p", "o")
        self._rows: list[tuple] | None = None

    def _materialize(self) -> list[tuple]:
        if self._rows is None:
            self._rows = [(r.s, r.p, r.o) for r in self.df.collect()]
        return self._rows

    def count(self) -> int:
        return self.df.count() if self._rows is None else len(self._rows)

    def __iter__(self):
        return iter(self._materialize())

    def __len__(self) -> int:
        return len(self._materialize())

    def __contains__(self, item) -> bool:
        return item in self._materialize()

    def __getitem__(self, i):
        return self._materialize()[i]

    def __eq__(self, other) -> bool:
        if isinstance(other, DerivedFacts):
            other = other._materialize()
        if isinstance(other, (list, tuple, set)):
            mine = self._materialize()
            return set(mine) == set(other) if isinstance(other, set) else mine == list(other)
        return NotImplemented

    def __repr__(self) -> str:  # no collect: repr must stay cheap
        n = "?" if self._rows is None else str(len(self._rows))
        return f"<DerivedFacts rows={n} (lazy)>"


class SparqlEngine:
    def __init__(self, spark: SparkSession, store: QuadStore | None = None):
        self.spark = spark
        self.store = store if store is not None else QuadStore(spark)
        self.rules: list = []
        self.models: dict = {}
        self.neural_relations: dict = {}
        # MODEL / NEURAL RELATION / TRAIN declarations parsed from query
        # text (reference SparqlDatabase registries, neural_relations.rs)
        self.ml_model_decls: dict = {}
        self.neural_relation_decls: dict = {}
        self.neural_materialized: dict = {}

    # ------------------------------------------------------------ loading
    def add_triples(self, rows: list[tuple]) -> None:
        """rows of (s,p,o) or (s,p,o,g)."""
        self.store.add_quads(rows)

    def load_file(
        self, path: str, fmt: str | None = None, distributed: bool = False
    ) -> None:
        """Load the file(s) ``path`` names; ``fmt`` defaults to the
        extension.  The default parses on the driver, matching the
        reference's synchronous ``load`` for small interactive files;
        ``distributed=True`` routes through ``QuadStore.load_distributed``
        (one distributed reader per syntax family), so the triples are
        never collected on the driver."""
        from kolibrie_spark import rdfio

        if distributed:
            self.store.load_distributed(path, fmt=fmt)
            return
        rdfio.load_into(self.store, path, fmt=fmt)

    def parse_data(self, text: str, fmt: str = "turtle") -> None:
        from kolibrie_spark import rdfio

        rdfio.parse_into(self.store, text, fmt=fmt)

    # ------------------------------------------------------------ queries
    def query(self, text: str) -> DataFrame:
        """SPARQL SELECT → DataFrame (lazy; caller collects)."""
        if "ML.PREDICT" in text.upper().split("{")[0]:
            return self.ml_predict(text)
        q = parse_query(text)
        c = Compiler(self.store)
        if q.construct is not None:
            return c.compile_construct(q.construct)
        if q.ask is not None:
            return c.compile_ask(q.ask)
        if q.describe is not None:
            return c.compile_describe(q.describe)
        if q.select is None:
            raise CompileError("not a SELECT query — use update()")
        return c.compile_select(q.select)

    def update(self, text: str) -> None:
        q = parse_query(text)
        if q.update is None:
            raise CompileError("not an update — use query()")
        execute_update(self.store, q.update)

    def handle_update(self, text: str) -> str:
        """Legacy HTTP update contract (SparqlDatabase::handle_update,
        sparql_database.rs:2047-2063): standard forms report changed-quad
        counts; the historical standalone ``INSERT { ... }`` /
        ``DELETE { ... }`` data aliases (parser.rs:1864-1915, lenient
        bare-token terms) answer the short success text callers compare
        exactly; anything else is 'Update Failed'."""
        from kolibrie_spark.sparql.parser import ParseError

        try:
            q = parse_query(text)
        except ParseError:
            q = None
        if q is not None and q.update is not None:
            try:
                s = execute_update(self.store, q.update, with_summary=True)
            except Exception:
                # the reference answers 'Update Failed' for ANY failed
                # update (sparql_database.rs:2047-2063) — runtime Spark
                # errors (AnalysisException, Py4J) keep the plain-text
                # contract too, not just compile errors.  Log the real
                # exception first so internal bugs (AttributeError in the
                # compiler, …) are not swallowed invisibly (ADVICE r8),
                # then fall through to the compat-alias executor exactly
                # like the reference does after a failed standard update
                # (sparql_database.rs:2059-2062).
                _log.debug(
                    "standard-form update failed; trying data alias",
                    exc_info=True,
                )
            else:
                return (
                    f"Update Successful (inserted {s.inserted_quads}, "
                    f"deleted {s.deleted_quads})"
                )
        try:
            if self._update_data_alias(text):
                return "Update Successful"
        except Exception:
            # the alias executor can hit the same runtime errors; the
            # plain-text contract holds for it too
            _log.debug("data-alias update failed", exc_info=True)
        return "Update Failed"

    def _update_data_alias(self, text: str) -> bool:
        """Standalone ``INSERT {quads}`` / ``DELETE {quads}`` with nothing
        after the block = INSERT DATA / DELETE DATA (reference
        parser.rs:1864-1872, 1909-1917).  Terms may be bare tokens — the
        reference's lexical term grammar admits any dictionary token, so
        ``INSERT { s p o }`` stores the triple (s, p, o) verbatim
        (examples/http_test/http_check.rs)."""
        import re

        from kolibrie_spark.sparql.parser import ParseError

        m = re.match(r"^\s*(INSERT|DELETE)\s*\{(.*)\}\s*$", text, re.S | re.I)
        if not m:
            return False
        kind, body = m.group(1).upper(), m.group(2)
        try:
            q = parse_query(f"{kind} DATA {{{body}}}")
            if q.update is not None:
                execute_update(self.store, q.update)
                return True
        except (ParseError, CompileError):
            pass
        # lenient bare-token terms: IRIs, quoted literals (optional lang
        # tag) or whitespace runs, '.' separating statements
        tokens = re.findall(
            r'"(?:[^"\\]|\\.)*"(?:@[\w-]+)?|<[^>]*>|[^\s.]+|\.', body
        )

        def _untok(tok: str) -> str:
            if tok.startswith("<") and tok.endswith(">"):
                return tok[1:-1]
            lit = re.match(r'^"((?:[^"\\]|\\.)*)"(?:@([\w-]+))?$', tok)
            if lit:
                val = lit.group(1).replace('\\"', '"').replace("\\\\", "\\")
                return f"{val}@{lit.group(2)}" if lit.group(2) else val
            return tok

        triples: list[tuple[str, str, str, None]] = []
        stmt: list[str] = []
        for tok in tokens + ["."]:
            if tok == ".":
                if not stmt:
                    continue
                if len(stmt) != 3:
                    return False
                triples.append((*(_untok(t) for t in stmt), None))
                stmt = []
            else:
                if tok.startswith(("?", "$")):
                    return False  # parser.rs rejects variables in data
                if kind == "DELETE" and tok.startswith("_:"):
                    return False  # and blank nodes in DELETE DATA
                stmt.append(tok)
        if not triples:
            return False
        if kind == "INSERT":
            self.store.add_quads(triples)
        else:
            self.store.delete_quads(triples)
        return True

    def execute(self, text: str) -> list[list[str]]:
        """Parse + run; SELECT returns rows of strings (reference
        exec_query shape, python/src/py_query_builder.rs:59-136)."""
        q = parse_query(text)
        if q.update is not None:
            execute_update(self.store, q.update)
            return []
        df = self.query(text)
        return [
            ["" if v is None else str(v) for v in row]
            for row in df.collect()
        ]

    def explain(self, text: str) -> str:
        """Our plan + Spark's formatted physical plan (reference
        QueryEngine::explain, query_engine.rs:86-116)."""
        q = parse_query(text)
        if q.select is None:
            return "<update>"
        df = Compiler(self.store).compile_select(q.select)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # -------------------------------------------------------------- rules
    def register_rule(self, text: str) -> list:
        """``RULE :Name [PROB(...)] :- CONSTRUCT { ... } WHERE { ... }``
        (reference parser.rs:3098-3199 + PROB grammar parser.rs:2845-3095).

        Without PROB, the rule is registered and later run by
        :meth:`materialize`; returns []. With ``PROB(provenance=hybrid,
        threshold=...)`` the rule is processed immediately like the
        reference's ``process_rule_definition``: lineage-materialize,
        evaluate each inferred fact under the annotation's HybridConfig,
        insert the facts plus RDF-star ``prob:*`` annotations, and return
        the inferred triples. Recursive hybrid rules are rejected."""
        import re as _re

        from kolibrie_spark.reasoner.hybrid import parse_prob_annotation
        from kolibrie_spark.reasoner.n3_parser import _parse_patterns, parse_filter_clauses
        from kolibrie_spark.reasoner.rule import Rule, check_rule_safety

        head = _re.search(r"RULE\s+\S+\s*", text, _re.I)
        if head is None:
            raise ValueError("expected RULE :Name [PROB(...)] :- CONSTRUCT { ... } WHERE { ... }")
        # PREFIX declarations before RULE extend the store's prefix map for
        # this rule's patterns
        prefixes = dict(self.store.prefixes)
        for pm in _re.finditer(
            r"PREFIX\s+([A-Za-z_][\w\-]*)?:\s*<([^<>\s]*)>", text[: head.start()], _re.I
        ):
            prefixes[pm.group(1) or ""] = pm.group(2)
        rest = text[head.end():]
        ann = None
        if _re.match(r"PROB\s*\(", rest, _re.I):
            ann, rest = parse_prob_annotation(rest)
        if _re.match(r"\s*:-\s*(RSTREAM|ISTREAM|DSTREAM|FROM)\b", rest, _re.I):
            # streaming (RSP) rule — lowered to a windowed registration
            # whose emissions materialize the CONSTRUCT template
            # (reference parser.rs:3098-3199 RSP path)
            from kolibrie_spark.streaming.rules import register_streaming_rule

            return register_streaming_rule(self, text)
        # combined RULE + ML.PREDICT form (reference parse_standalone_rule's
        # ml_predict clause, examples/combination/combination_ml.rs:69-91):
        # the trailing clause is split off, the rule registers normally, and
        # the prediction DataFrame is returned for the caller to materialize
        ml_text = None
        mlm = _re.search(r"ML\.PREDICT\s*\(", rest, _re.I)
        if mlm is not None:
            ml_text = text[: head.start()] + rest[mlm.start():]  # keep PREFIXes
            rest = rest[: mlm.start()]
        m = _re.match(
            r"\s*:-\s*CONSTRUCT\s*\{(.*?)\}\s*WHERE\s*\{(.*)\}\s*\.?\s*$",
            rest,
            _re.S | _re.I,
        )
        if m is None:
            raise ValueError("expected RULE :Name [PROB(...)] :- CONSTRUCT { ... } WHERE { ... }")
        concl_src, where_src = m.group(1), m.group(2)
        filters, where_src = parse_filter_clauses(where_src)
        rule = Rule(
            premise=_parse_patterns(where_src, prefixes),
            conclusion=_parse_patterns(concl_src, prefixes),
            filters=filters,
            prob=ann,
        )
        check_rule_safety(rule)
        if ann is not None and ann.combination == "hybrid":
            return self._process_hybrid_rule(rule, ann.hybrid_config)
        if ann is not None:
            return self._process_provenance_rule([rule], ann)
        if ml_text is not None:
            from kolibrie_spark.ml.predict import parse_ml_predict
            from kolibrie_spark.reasoner.rule import pattern_variables

            spec = parse_ml_predict(ml_text)
            concl_vars = {v for pat in rule.conclusion for v in pattern_variables(pat)}
            if spec.output_var in concl_vars:
                # change-conclusion form: the ML OUTPUT variable binds the
                # CONSTRUCT template, one instantiation per prediction row
                # (combination_ml_change_conclusion.rs:439-505)
                return self._materialize_ml_rule(rule, ml_text, spec.output_var)
            self.rules.append(rule)
            return self.ml_predict(ml_text)
        self.rules.append(rule)
        return []

    def _materialize_ml_rule(self, rule, ml_text: str, out_var: str) -> list:
        """Instantiate a rule's CONSTRUCT template from its WHERE bindings
        JOINED with the ML.PREDICT rows on their shared anchor variable —
        the reference's create_ml_enhanced_triples
        (combination_ml_change_conclusion.rs:439-505): predictions that do
        not satisfy the WHERE filters are dropped by the join, the OUTPUT
        variable supplies the predicted object value, constants pass
        through.  Inserts the derived facts and returns them."""
        from pyspark.sql import functions as F

        from kolibrie_spark.reasoner.fixpoint import _term_value, compile_bindings
        from kolibrie_spark.reasoner.rule import pattern_variables
        from kolibrie_spark.sparql.ast import Var

        pred_df = self.ml_predict(ml_text)
        facts = self.store.quads.filter(F.col("g").isNull()).select("s", "p", "o")
        bound = dict.fromkeys(v for pat in rule.premise for v in pattern_variables(pat))
        shared = [v for v in bound if v in pred_df.columns and v != out_var]
        if not shared:
            raise ValueError(
                "RULE + ML.PREDICT with an OUTPUT-bound conclusion needs a "
                "shared anchor variable between WHERE and INPUT"
            )
        bind = compile_bindings(rule).run(facts)
        joined = bind.join(
            pred_df.select(*shared, out_var).dropDuplicates(shared), on=shared
        )
        parts = []
        for pat in rule.conclusion:
            cols = []
            for term in (pat.s, pat.p, pat.o):
                if isinstance(term, Var):
                    if term.name == out_var:
                        cols.append(F.col(out_var).cast("string"))
                    elif term.name in joined.columns:
                        cols.append(F.col(term.name))
                    else:
                        raise ValueError(f"unbound conclusion variable ?{term.name}")
                else:
                    cols.append(F.lit(_term_value(term)))
            parts.append(
                joined.select(cols[0].alias("s"), cols[1].alias("p"), cols[2].alias("o"))
            )
        derived = parts[0]
        for extra in parts[1:]:
            derived = derived.unionByName(extra)
        derived = (
            derived.dropDuplicates()
            .join(facts, on=["s", "p", "o"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        self.store.insert(
            derived.select("s", "p", "o", F.lit(None).cast("string").alias("g")),
            graphs=[],
        )
        return [(r.s, r.p, r.o) for r in derived.collect()]

    def register_rule_batch(self, texts: list[str]) -> list:
        """Shared-lineage batch registration of PROB rules — the reference's
        ``execute_sdd_rule_batch`` pattern (provenance_feedback_loop.rs:
        157-196): every rule joins ONE reasoner/provenance evaluation, so a
        fact derivable by several rules gets a single combined tag (e.g.
        P((t∧p)∨(h∧p))) and one prob:proofCount over the merged lineage,
        instead of per-rule annotations.  All rules must carry the same
        PROB combination."""
        import re as _re

        from kolibrie_spark.reasoner.hybrid import parse_prob_annotation
        from kolibrie_spark.reasoner.n3_parser import _parse_patterns, parse_filter_clauses
        from kolibrie_spark.reasoner.rule import Rule, check_rule_safety

        rules, anns = [], []
        for text in texts:
            head = _re.search(r"RULE\s+\S+\s*", text, _re.I)
            if head is None:
                raise ValueError("expected RULE :Name PROB(...) :- CONSTRUCT { ... } WHERE { ... }")
            prefixes = dict(self.store.prefixes)
            for pm in _re.finditer(
                r"PREFIX\s+([A-Za-z_][\w\-]*)?:\s*<([^<>\s]*)>", text[: head.start()], _re.I
            ):
                prefixes[pm.group(1) or ""] = pm.group(2)
            rest = text[head.end():]
            if not _re.match(r"PROB\s*\(", rest, _re.I):
                raise ValueError("register_rule_batch requires PROB(...) rules")
            ann, rest = parse_prob_annotation(rest)
            m = _re.match(
                r"\s*:-\s*CONSTRUCT\s*\{(.*?)\}\s*WHERE\s*\{(.*)\}\s*\.?\s*$",
                rest, _re.S | _re.I,
            )
            if m is None:
                raise ValueError("expected RULE :Name PROB(...) :- CONSTRUCT { ... } WHERE { ... }")
            concl_src, where_src = m.group(1), m.group(2)
            filters, where_src = parse_filter_clauses(where_src)
            rule = Rule(
                premise=_parse_patterns(where_src, prefixes),
                conclusion=_parse_patterns(concl_src, prefixes),
                filters=filters,
                prob=ann,
            )
            check_rule_safety(rule)
            rules.append(rule)
            anns.append(ann)
        if len({a.combination for a in anns}) != 1:
            raise ValueError("register_rule_batch rules must share one PROB combination")
        return self._process_provenance_rule(rules, anns[0])

    def _process_provenance_rule(self, rules, ann) -> "DerivedFacts | list":
        """Non-hybrid PROB variants (reference parser.rs:3785-3930), over
        one rule or a shared-lineage batch (provenance_feedback_loop.rs):

        - ``minmax``/``min``/``boolean`` → tagged semi-naive fixpoint with
          the (min, max) semiring (boolean degenerates to it with all-1.0
          tags), run DISTRIBUTED via reasoner/fixpoint;
        - ``addmult``/``independent`` → same with (product, noisy-OR);
        - ``wmc``/``sdd`` → exact lineage probability per inferred fact via
          the Shannon-expansion counter (the reference's WMC/SDD provenance
          — both are exact, differing only in compilation backend);
        - ``topk`` → k most-probable-proof lower bound, k from the
          threshold field (default 5).

        All variants insert the inferred facts plus RDF-star
        ``prob:value`` tag annotations.  The distributed variants return a
        :class:`DerivedFacts` lazy handle (list semantics on demand, no
        driver materialization at registration); the hybrid-counter
        variants (wmc/sdd/topk) return the plain triple list their
        driver-side evaluator already holds — that path is bounded by the
        premise-predicate semi-join in :meth:`hybrid_evaluator`."""
        from pyspark.sql import functions as F

        from kolibrie_spark.reasoner.fixpoint import (
            ADD_MULT,
            MIN_MAX,
            TAGGED_SCHEMA,
            Reasoner as _R,
            materialize_tags_as_rdfstar,
        )

        comb = ann.combination
        if comb in ("minmax", "min", "boolean", "addmult", "independent"):
            semiring = ADD_MULT if comb in ("addmult", "independent") else MIN_MAX
            base = self.store.quads.filter(F.col("g").isNull()).select("s", "p", "o")
            if self.store.prob_seeds:
                seeds_df = self.spark.createDataFrame(
                    [(s, p, o, t) for (s, p, o), t in self.store.prob_seeds.items()],
                    TAGGED_SCHEMA,
                )
                tagged = base.join(seeds_df, on=["s", "p", "o"], how="left").select(
                    "s", "p", "o", F.coalesce(F.col("tag"), F.lit(1.0)).alias("tag")
                )
            else:
                tagged = base.withColumn("tag", F.lit(1.0))
            r = _R(self.spark)
            r.rules = list(rules)
            out = r.materialize_with_provenance(tagged, semiring)
            derived = out.join(base, on=["s", "p", "o"], how="left_anti").localCheckpoint(
                eager=True
            )
            self.store.insert(
                derived.select("s", "p", "o", F.lit(None).cast("string").alias("g")),
                graphs=[],  # default graph only: skip graph-discovery job
            )
            materialize_tags_as_rdfstar(self.store, derived)
            # facts are already inserted distributed; hand back a LAZY view
            # so a large derived set is never forced onto the driver unless
            # the caller explicitly iterates it
            return DerivedFacts(derived)

        if comb in ("wmc", "sdd", "topk"):
            ev = self.hybrid_evaluator(rules=list(rules))
            inferred = ev.inferred()
            if comb == "topk":
                k = int(ann.threshold) if ann.threshold else 5
                tags = {f: ev.topk_lower_bound(f, k=k) for f in inferred}
            else:
                tags = {f: ev.probability(f) for f in inferred}
            if inferred:
                self.add_triples(list(inferred))
                tagged = self.spark.createDataFrame(
                    [(s, p, o, t) for (s, p, o), t in tags.items()], TAGGED_SCHEMA
                )
                materialize_tags_as_rdfstar(self.store, tagged)
                if comb in ("wmc", "sdd"):
                    # explanation superset of encode_as_rdf_star
                    # (tag_store.rs:119-240): prob:proofCount — DNF clause
                    # count for wmc, satisfying-model count for sdd
                    counter = ev.proof_count if comb == "wmc" else ev.model_count
                    counts = self.spark.createDataFrame(
                        [(s, p, o, float(counter((s, p, o)))) for (s, p, o) in inferred],
                        TAGGED_SCHEMA,
                    ).withColumn("tag", F.col("tag").cast("int"))
                    materialize_tags_as_rdfstar(
                        self.store, counts,
                        predicate="http://www.w3.org/ns/prob#proofCount",
                    )
            return inferred

        raise ValueError(f"unknown PROB provenance {comb!r}")

    def _process_hybrid_rule(self, rule, config) -> list:
        """Reference process_rule_definition for hybrid rules
        (hybrid_materialisation.rs:25-177 + hybrid.rs annotations)."""
        from kolibrie_spark.reasoner.hybrid import (
            annotate_results_rdfstar,
            validate_hybrid_rules,
        )

        validate_hybrid_rules([rule])  # raises on predicate recursion
        ev = self.hybrid_evaluator(rules=[rule])
        inferred = ev.inferred()
        results = {fact: ev.evaluate(fact, config) for fact in inferred}
        if inferred:
            self.add_triples(list(inferred))
        annotate_results_rdfstar(self.store, results)
        return inferred

    def add_rules_n3(self, text: str) -> None:
        """N3-logic rules: ``{ premise } => { conclusion } .``"""
        from kolibrie_spark.reasoner.n3_parser import parse_n3_rules

        self.rules.extend(parse_n3_rules(text))

    def materialize(self) -> int:
        """Forward-chain registered rules over the default graph and insert
        the derived facts (reference materializes rule conclusions into the
        store, parser.rs:3420+). Returns the number of new quads."""
        from pyspark.sql import functions as F

        from kolibrie_spark.reasoner.fixpoint import Reasoner as _R

        if not self.rules:
            return 0
        facts = self.store.quads.filter(F.col("g").isNull()).select("s", "p", "o")
        r = _R(self.spark, facts)
        r.rules = list(self.rules)
        out = r.materialize()
        new = r.rounds[-1][0] - r.rounds[0][0]  # fact rows after - before
        if new > 0:
            self.store.replace_quads(
                out.withColumn("g", F.lit(None).cast("string")).unionByName(
                    self.store.quads.filter(F.col("g").isNotNull())
                )
            )
        return new

    # -------------------------------------------------------- probabilistic
    def add_prob_seed(self, s: str, p: str, o: str, prob: float) -> None:
        """Probability seed for a ground fact (reference
        sparql_database.rs:419-439); the fact itself is added to the store."""
        self.store.prob_seeds[(s, p, o)] = float(prob)
        self.add_triples([(s, p, o)])

    def hybrid_evaluator(self, rules=None):
        """Driver-side probabilistic evaluator over the store's seeds and
        the engine's rules (SURVEY §2.10 hybrid layer — compute-on-small-
        data: deterministic facts stay in DataFrames, only seed-derived
        lineage is evaluated here).

        The deterministic fact set is bounded by a premise-predicate
        semi-join: only default-graph facts whose predicate appears in some
        rule premise are collected to the driver (a full-graph collect
        would OOM the driver at scale). Variable premise predicates are
        rejected, as in the reference's hybrid layer
        (hybrid_materialisation.rs:65-75)."""
        from pyspark.sql import functions as F

        from kolibrie_spark.reasoner.probabilistic import HybridEvaluator
        from kolibrie_spark.sparql.ast import Var

        rules = rules if rules is not None else list(self.rules)
        preds: set[str] = set()
        for rule in rules:
            for pat in list(rule.premise) + list(rule.negative_premise):
                if isinstance(pat.p, Var):
                    raise ValueError(
                        f"variable predicate ?{pat.p.name} prevents bounded "
                        "fact collection for hybrid evaluation"
                    )
                preds.add(pat.p.value)
        base = self.store.quads.filter(F.col("g").isNull()).select("s", "p", "o")
        base = base.filter(F.col("p").isin(sorted(preds))) if preds else base.limit(0)
        deterministic = {
            (r.s, r.p, r.o)
            for r in base.collect()
            if (r.s, r.p, r.o) not in self.store.prob_seeds
        }
        ev = HybridEvaluator(
            dict(self.store.prob_seeds),
            rules,
            deterministic_facts=deterministic,
            exclusive_groups=dict(self.store.prob_groups),
        )
        ev.materialize()
        return ev

    def add_tagged_triple(self, s: str, p: str, o: str, prob: float) -> None:
        """Reference SparqlDatabase::add_tagged_triple alias."""
        self.add_prob_seed(s, p, o, prob)

    def add_exclusive_seed(
        self, group_id: int, s: str, p: str, o: str, prob: float
    ) -> None:
        """Annotated-disjunction seed: exactly one member of ``group_id`` is
        true, P(member) = prob (reference SeedSnapshot::register_exclusive,
        hybrid.rs:201-221). Member probabilities of a group should sum
        to 1."""
        self.add_prob_seed(s, p, o, prob)
        self.store.prob_groups[(s, p, o)] = int(group_id)

    def evaluate_probability(self, s: str, p: str, o: str, config=None):
        """Hybrid escalation result for one fact (reference
        LineageMaterialization::evaluate)."""
        ev = self.hybrid_evaluator()
        return ev.evaluate((s, p, o), config)

    # ----------------------------------------------------------------- ML
    def register_model(self, name: str, fn) -> None:
        """Model = callable(features: pandas.DataFrame) -> predictions, or
        any object with .predict (reference registers Candle/Python models,
        sparql_database.rs model registry)."""
        self.models[name] = fn

    def ml_predict(self, text: str) -> DataFrame:
        """``ML.PREDICT(MODEL "name", INPUT { SELECT ... }, OUTPUT ?var)``
        → input rows with the prediction bound to the output variable."""
        from kolibrie_spark.ml.predict import parse_ml_predict, run_ml_predict

        spec = parse_ml_predict(text)
        if spec.model not in self.models:
            raise CompileError(f"unknown model {spec.model!r}")
        input_df = Compiler(self.store).compile_select(spec.input_select)
        return run_ml_predict(input_df, self.models[spec.model], spec.output_var)

    def train_neural_relation(
        self,
        predicate: str,
        data_query: str,
        anchor_var: str,
        feature_vars: list[str],
        label_var: str,
        model=None,
    ):
        """``TRAIN NEURAL RELATION`` (reference execute_ml_train.rs): fit a
        model on the data query's rows, register the relation, materialize
        its predictions as ordinary predicate facts."""
        from kolibrie_spark.ml.neural import NeuralRelation, TinyMLP

        df = self.query(data_query)
        rel = NeuralRelation(
            predicate=predicate,
            anchor_col=anchor_var,
            feature_cols=list(feature_vars),
            model=model or TinyMLP(),
        )
        rel.train(df, label_var)
        rel.materialize(self.store, df.drop(label_var))
        self.neural_relations[predicate] = rel
        return rel

    # --------------------------------------------------------------- UDFs
    def register_udf(self, name: str, fn) -> None:
        """string→string closure callable from BIND (reference
        sparql_database.rs:2130-2135)."""
        self.store.udfs[name] = F.udf(fn, StringType())

    # ---------------------------------------------------------- streaming
    def has_windowing_operations(self, text: str) -> bool:
        """Query-kind sniffing (reference QueryEngine::has_windowing_operations,
        query_engine.rs:118-136)."""
        upper = text.upper()
        return "REGISTER" in upper and "WINDOW" in upper

    def register_stream_query(self, text: str, consumer=None, **kw):
        """RSP-QL registration → a live RSPEngine fed via add_to_stream
        (reference QueryEngine routes windowed queries to the RSP layer)."""
        from kolibrie_spark.streaming.engine import RSPEngine

        return RSPEngine(
            self.spark, text, static_store=self.store, consumer=consumer, **kw
        )

    # --------------------------------------------------------------- misc
    def execute_query(self, text: str):
        """Unified entry (reference QueryEngine::execute, query_engine.rs:22-163):
        windowed registrations return an RSPEngine; MODEL / NEURAL RELATION /
        TRAIN programs run through the neural runtime (returning the trailing
        ML.PREDICT DataFrame when present); everything else runs as
        SELECT/update."""
        from kolibrie_spark.ml.program import execute_neural_program, is_neural_program

        if self.has_windowing_operations(text):
            return self.register_stream_query(text)
        if is_neural_program(text):
            return execute_neural_program(self, text)
        if "ML.PREDICT" in text.upper().split("{")[0]:
            return self.ml_predict(text)
        return self.execute(text)

    def stats(self) -> dict:
        """Dataset statistics (reference QueryEngine::stats)."""
        from pyspark.sql import functions as F

        row = self.store.quads.agg(
            F.count(F.lit(1)).alias("quads"),
            F.count_distinct("s").alias("subjects"),
            F.count_distinct("p").alias("predicates"),
            F.count_distinct("o").alias("objects"),
            F.count_distinct("g").alias("named_graphs"),
        ).first()
        return {
            "quads": row.quads,
            "subjects": row.subjects,
            "predicates": row.predicates,
            "objects": row.objects,
            "named_graphs": row.named_graphs,
            "quoted_triples": self.store.quoted.count(),
            "rules": len(self.rules),
            "models": sorted(self.models),
        }

    def triple_count(self) -> int:
        return self.store.triple_count()

    def builder(self):
        from kolibrie_spark.builder import QueryBuilder

        return QueryBuilder(self.store)
