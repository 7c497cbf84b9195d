"""Port of the reference's deep-taxonomy benchmark
(kolibrie/examples/sparql_syntax/knowledge_graph/deep_taxonomy.rs — the EYE
`deep-taxonomy` workload): a depth-N rdfs:subClassOf chain, one instance at
the bottom, the type-inference rule

    (X type C) ∧ (C subClassOf D) → (X type D)

run to fixpoint.  Two engines under test:

- the generic semi-naive Reasoner (deep_taxonomy.rs:71-108 parity), at a
  depth it can finish in test time;
- the Spark-first path-doubling closure (reasoner/closure.py), which must
  (a) agree with the rule engine exactly and (b) finish a depth-200 chain
  in ~log2(200)=8 doublings where semi-naive would need 200 rounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kolibrie_spark.reasoner import (
    Reasoner,
    Rule,
    ancestors_via_closure,
    transitive_closure,
)
from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def _taxonomy_triples(depth: int) -> list[tuple[str, str, str]]:
    """test-dl.ttl shape: C0 ⊑ C1 ⊑ ... ⊑ C{depth}, instance i ∈ C0."""
    rows = [(f"urn:C{k}", SUBCLASS, f"urn:C{k + 1}") for k in range(depth)]
    rows.append(("urn:i", RDF_TYPE, "urn:C0"))
    return rows


TYPE_RULE = Rule(
    premise=[
        TriplePattern(Var("x"), Iri(RDF_TYPE), Var("c")),
        TriplePattern(Var("c"), Iri(SUBCLASS), Var("d")),
    ],
    conclusion=[TriplePattern(Var("x"), Iri(RDF_TYPE), Var("d"))],
)


def test_semi_naive_matches_reference_counts(spark):
    """deep_taxonomy.rs:97-116 reports `inferred_facts.len()` — for a
    depth-d chain with one instance the fixpoint derives exactly d new
    (i, type, Ck) facts, k=1..d."""
    depth = 12
    r = Reasoner(spark)
    r.add_triples(_taxonomy_triples(depth))
    r.add_rule(TYPE_RULE)
    out = r.materialize(max_iter=depth + 2)
    derived = (
        out.filter((F.col("s") == "urn:i") & (F.col("p") == RDF_TYPE))
        .select("o")
        .collect()
    )
    assert {row.o for row in derived} == {f"urn:C{k}" for k in range(depth + 1)}


def test_doubling_closure_agrees_with_semi_naive(spark):
    depth = 12
    triples = _taxonomy_triples(depth)
    facts = spark.createDataFrame(triples, ["s", "p", "o"])

    r = Reasoner(spark)
    r.add_triples(triples)
    r.add_rule(TYPE_RULE)
    rule_types = {
        row.o
        for row in r.materialize(max_iter=depth + 2)
        .filter((F.col("s") == "urn:i") & (F.col("p") == RDF_TYPE))
        .select("o")
        .collect()
    }

    derived = ancestors_via_closure(
        facts.filter(F.col("p") == RDF_TYPE),
        facts.filter(F.col("p") == SUBCLASS),
    )
    closure_types = {row.o for row in derived.collect()} | {"urn:C0"}
    assert closure_types == rule_types


def test_doubling_handles_depth_200_in_log_rounds(spark):
    """Depth 200: semi-naive would need 200 delta rounds; doubling must
    converge in ⌈log2(200)⌉ = 8 (max_iter=9 allows the no-growth probe)."""
    depth = 200
    facts = spark.createDataFrame(_taxonomy_triples(depth), ["s", "p", "o"])
    edges = facts.filter(F.col("p") == SUBCLASS)
    closure = transitive_closure(edges, src="s", dst="o", max_iter=9)
    # chain closure size: depth+1 choose 2
    assert closure.count() == (depth + 1) * depth // 2
    # instance gets every ancestor type
    derived = ancestors_via_closure(facts.filter(F.col("p") == RDF_TYPE), edges)
    assert derived.count() == depth


def test_doubling_converges_on_cycles(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    closure = transitive_closure(edges, max_iter=5)
    # 3-cycle: every vertex reaches every vertex (incl. itself)
    assert closure.count() == 9


def test_doubling_raises_on_max_iter_exhausted(spark):
    edges = spark.createDataFrame(
        [(f"n{k}", f"n{k + 1}") for k in range(40)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(edges, max_iter=2)  # diameter 40 needs ~6


def _chain_pairs(depth: int) -> set[tuple[str, str]]:
    return {(f"urn:C{a}", f"urn:C{b}") for a in range(depth + 1) for b in range(a + 1, depth + 1)}


def test_doubling_round_count_pin(spark):
    """Round k joins the frontier at distance 2**k and flags the pairs at
    2**(k+1); the loop ends on the first empty flagged frontier. Depth 37
    fills distances 2..64 in 6 rounds, so max_iter=6 converges and
    max_iter=5 still holds a non-empty frontier. A depth-32 chain (a power
    of two) and a 3-cycle give the exact closure."""
    def edges(depth):
        facts = spark.createDataFrame(_taxonomy_triples(depth), ["s", "p", "o"])
        return facts.filter(F.col("p") == SUBCLASS).select(
            F.col("s").alias("src"), F.col("o").alias("dst")
        )

    got = transitive_closure(edges(37), max_iter=6)
    assert {(r.src, r.dst) for r in got.collect()} == _chain_pairs(37)
    with pytest.raises(RuntimeError, match="did not converge in 5 doublings"):
        transitive_closure(edges(37), max_iter=5)

    got = transitive_closure(edges(32), keep_distance=True).collect()
    assert {(r.src, r.dst) for r in got} == _chain_pairs(32)
    assert all(int(r.dst[5:]) - int(r.src[5:]) == r.dist for r in got)

    cycle = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    got = transitive_closure(cycle, keep_distance=True)
    assert sorted(tuple(r) for r in got.collect()) == [
        ("a", "a", 3), ("a", "b", 1), ("a", "c", 2),
        ("b", "a", 2), ("b", "b", 3), ("b", "c", 1),
        ("c", "a", 1), ("c", "b", 2), ("c", "c", 3),
    ]
