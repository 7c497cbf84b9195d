"""Cross-window SDS+ reasoning — ports datalog/tests/cross_window_tests.rs
basics: window-annotated predicates, cross-window derivation, α-expiry,
naive vs incremental equivalence. Plus the RETRIEVE clause, CLI, constraint
repairs, and provenance tag materialization."""

from kolibrie_spark.reasoner.rule import Rule
from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var
from kolibrie_spark.streaming.cross_window import (
    IncrementalSdsPlus,
    Sds,
    WindowedTriple,
    annotate_predicate,
    naive_sds_plus,
    strip_window_prefix,
)

W1, W2, OUT = "http://w1/", "http://w2/", "http://out/"


def cross_rule():
    # w1:temp high ∧ w2:co2 high (same room) => out:alert
    return Rule(
        premise=[
            TriplePattern(Var("r"), Iri(annotate_predicate(W1, "temp")), Iri("high")),
            TriplePattern(Var("r"), Iri(annotate_predicate(W2, "co2")), Iri("high")),
        ],
        conclusion=[
            TriplePattern(Var("r"), Iri(annotate_predicate(OUT, "alert")), Iri("on"))
        ],
    )


def mk_sds():
    sds = Sds(output_iris={OUT})
    sds.set_window(W1, 10, [WindowedTriple("room1", "temp", "high", 5)])
    sds.set_window(W2, 20, [WindowedTriple("room1", "co2", "high", 8)])
    return sds


def test_annotate_and_strip():
    a = annotate_predicate(W1, "temp")
    assert a == "http://w1/temp"
    assert strip_window_prefix(a, [W1, W2]) == (W1, "temp")
    assert strip_window_prefix("http://elsewhere/x", [W1]) is None


def test_cross_window_derivation():
    out = naive_sds_plus([cross_rule()], mk_sds(), now=9)
    assert out[OUT] == [("room1", "alert", "on")]


def test_alpha_expiry_evicts_premise():
    # at now=15 the w1:temp fact (event 5, α=10) has expired => no alert
    out = naive_sds_plus([cross_rule()], mk_sds(), now=15)
    assert OUT not in out


def test_incremental_matches_naive():
    rules = [cross_rule()]
    inc = IncrementalSdsPlus(rules)
    for now in (9, 12, 15, 20):
        sds = mk_sds()
        assert inc.update(sds, now).get(OUT) == naive_sds_plus(rules, sds, now).get(
            OUT
        ), f"divergence at now={now}"


def test_derived_expiry_is_min_of_premises():
    inc = IncrementalSdsPlus([cross_rule()])
    out = inc.update(mk_sds(), now=9)
    assert out[OUT]
    # derived fact expiry = min(5+10, 8+20) = 15: gone at now=15 even if
    # the windows report stale content
    empty_sds = Sds(output_iris={OUT})
    assert inc.update(empty_sds, now=15).get(OUT) is None


def test_indexed_match_equals_scan_matcher():
    """r12 optimization pin: the hash-indexed `_match` must return exactly
    the binding/support set of the original O(F^2) scanner — randomized
    differential over patterns with constants, repeated variables, and
    unknown term types (which must match nothing)."""
    import random

    from kolibrie_spark.sparql.ast import Lit
    from kolibrie_spark.streaming.cross_window import _match

    def match_scan(rule, facts):
        # the pre-r12 reference scanner, verbatim
        results = [({}, [])]
        items = list(facts.keys())
        for pat in rule.premise:
            nxt = []
            for binding, used in results:
                for f in items:
                    b = dict(binding)
                    ok = True
                    for term, val in zip((pat.s, pat.p, pat.o), f):
                        if isinstance(term, Var):
                            if b.get(term.name, val) != val:
                                ok = False
                                break
                            b[term.name] = val
                        elif isinstance(term, (Iri, Lit)):
                            if term.value != val:
                                ok = False
                                break
                        else:
                            ok = False
                            break
                    if ok:
                        nxt.append((b, used + [f]))
            results = nxt
            if not results:
                break
        return results

    def norm(results):
        return sorted(
            (tuple(sorted(b.items())), tuple(sorted(u))) for b, u in results
        )

    rng = random.Random(7)
    subjects = [f"s{i}" for i in range(10)]
    preds = [f"p{i}" for i in range(4)]
    objs = [f"o{i}" for i in range(10)]
    var_names = ["x", "y", "z", "x"]  # repeated names exercise self-joins

    def term():
        r = rng.random()
        if r < 0.45:
            return Var(rng.choice(var_names))
        if r < 0.75:
            return Iri(rng.choice(preds + subjects))
        return Lit(rng.choice(objs))

    for trial in range(150):
        facts = {}
        for _ in range(rng.randrange(1, 35)):
            facts[
                (rng.choice(subjects), rng.choice(preds), rng.choice(objs))
            ] = 99
        rule = Rule(
            premise=[
                TriplePattern(term(), term(), term())
                for _ in range(rng.randrange(1, 4))
            ],
            conclusion=[TriplePattern(Var("x"), Iri("c"), Var("z"))],
        )
        assert norm(_match(rule, facts)) == norm(match_scan(rule, facts)), (
            f"trial {trial}"
        )

    class Unknown:  # unknown term type: both matchers must reject
        pass

    rule = Rule(
        premise=[TriplePattern(Unknown(), Iri("p0"), Var("x"))],
        conclusion=[TriplePattern(Var("x"), Iri("c"), Var("x"))],
    )
    facts = {("s0", "p0", "o0"): 5}
    assert _match(rule, facts) == [] == match_scan(rule, facts)


# ---------------------------------------------------------- RETRIEVE clause
def test_retrieve_clause(spark):
    from kolibrie_spark.store import QuadStore
    from kolibrie_spark.streaming.rspql import parse_retrieve, resolve_streams

    clause = parse_retrieve(
        "RETRIEVE EVERY ACTIVE STREAM ?s FROM <urn:catalog> "
        "WITH { ?s <urn:type> <urn:TrafficStream> . }"
    )
    assert clause.mode == "EVERY" and clause.variable == "s"
    catalog = QuadStore.from_rows(
        spark,
        [
            ("urn:stream1", "urn:type", "urn:TrafficStream", "urn:catalog"),
            ("urn:stream2", "urn:type", "urn:TrafficStream", "urn:catalog"),
            ("urn:stream3", "urn:type", "urn:ParkingStream", "urn:catalog"),
        ],
    )
    assert resolve_streams(spark, catalog, clause) == ["urn:stream1", "urn:stream2"]
    some = parse_retrieve(
        "RETRIEVE SOME ACTIVE STREAM ?s FROM <urn:catalog> "
        "WITH { ?s <urn:type> <urn:TrafficStream> . }"
    )
    assert resolve_streams(spark, catalog, some) == ["urn:stream1"]


# ------------------------------------------------------------------- CLI
def test_cli_one_shot(tmp_path, capsys):
    from kolibrie_spark.cli import main

    f = tmp_path / "d.nt"
    f.write_text(
        '<urn:a> <urn:p> "1" .\n<urn:b> <urn:p> "5" .\n'
    )
    rc = main(
        [
            "--file", str(f),
            "--query", "SELECT ?s WHERE { ?s <urn:p> ?o . FILTER(?o > 2) }",
            "--master", "local[2]",
        ]
    )
    assert rc == 0
    assert capsys.readouterr().out.strip() == "urn:b"


def test_cli_distributed_load(tmp_path, capsys):
    """--distributed routes the CLI load through the chunk-parallel bulk
    readers (VERDICT r10 task #7) — including a gz-compressed Turtle-star
    file with an annotation, which the streaming path must keep
    queryable via the RDF-star builtins."""
    import gzip

    from kolibrie_spark.cli import main

    f = tmp_path / "d.ttl.gz"
    ttl = (
        "@prefix ex: <urn:x#> .\n"
        'ex:a ex:p "1" {| ex:certainty "0.9" |} .\n'
        'ex:b ex:p "5" .\n'
    )
    f.write_bytes(gzip.compress(ttl.encode()))
    rc = main(
        [
            "--file", str(f),
            "--distributed",
            "--query",
            "SELECT ?o WHERE { ?t <urn:x#certainty> ?o }",
            "--master", "local[2]",
        ]
    )
    assert rc == 0
    assert capsys.readouterr().out.strip() == "0.9"


# ------------------------------------------------------ repairs + prov tags
def test_constraint_repairs(spark):
    from kolibrie_spark.reasoner import Reasoner, Rule as R

    r = Reasoner(spark)
    r.add_triples(
        [("alice", "role", "professor"), ("alice", "role", "student")]
    )
    r.add_constraint(
        R(
            premise=[
                TriplePattern(Var("x"), Iri("role"), Iri("professor")),
                TriplePattern(Var("x"), Iri("role"), Iri("student")),
            ],
            conclusion=[TriplePattern(Var("x"), Iri("violates"), Iri("excl"))],
        )
    )
    repairs = r.repair()
    # two minimal repairs: drop either role fact
    assert sorted(sorted(s) for s in repairs) == [
        [("alice", "role", "professor")],
        [("alice", "role", "student")],
    ]


def test_provenance_tags_materialize_as_rdfstar(spark, engine):
    from kolibrie_spark.reasoner.fixpoint import materialize_tags_as_rdfstar

    tagged = spark.createDataFrame(
        [("ex:a", "ex:rel", "ex:c", 0.56)], "s string, p string, o string, tag double"
    )
    materialize_tags_as_rdfstar(engine.store, tagged)
    got = engine.execute(
        "SELECT ?t WHERE { << <ex:a> <ex:rel> <ex:c> >> <http://www.w3.org/ns/prob#value> ?t }"
    )
    assert got == [["0.56"]]


def test_dataframe_path_matches_naive_and_incremental(spark):
    """naive == incremental == dataframe on the citybench-style scenario
    (VERDICT r1 #9: the DataFrame-backed path for large windows)."""
    from kolibrie_spark.streaming.cross_window import dataframe_sds_plus

    rules = [cross_rule()]
    inc = IncrementalSdsPlus(rules)
    for now in (9, 12, 15, 20):
        sds = mk_sds()
        naive = naive_sds_plus(rules, sds, now)
        assert dataframe_sds_plus(spark, rules, sds, now) == naive, f"now={now}"
        assert inc.update(sds, now).get(OUT) == naive.get(OUT), f"now={now}"


def test_dataframe_path_multihop_with_static(spark):
    """Two-hop derivation chain through a static fact — exercises multiple
    fixpoint rounds and the never-expiring static sentinel."""
    from kolibrie_spark.streaming.cross_window import dataframe_sds_plus

    rules = [
        # w1:temp high ∧ static located-in => out:zone_warm
        Rule(
            premise=[
                TriplePattern(Var("r"), Iri(annotate_predicate(W1, "temp")), Iri("high")),
                TriplePattern(Var("r"), Iri("locatedIn"), Var("z")),
            ],
            conclusion=[
                TriplePattern(Var("z"), Iri(annotate_predicate(OUT, "zone_warm")), Iri("yes"))
            ],
        ),
        # zone_warm ∧ w2:co2 high in same zone => out:evacuate (2nd round)
        Rule(
            premise=[
                TriplePattern(Var("z"), Iri(annotate_predicate(OUT, "zone_warm")), Iri("yes")),
                TriplePattern(Var("z"), Iri(annotate_predicate(W2, "co2")), Iri("high")),
            ],
            conclusion=[
                TriplePattern(Var("z"), Iri(annotate_predicate(OUT, "evacuate")), Iri("now"))
            ],
        ),
    ]
    sds = Sds(output_iris={OUT})
    sds.set_window(W1, 10, [WindowedTriple("room1", "temp", "high", 5)])
    sds.set_window(W2, 20, [WindowedTriple("zoneA", "co2", "high", 8)])
    sds.static_triples.append(("room1", "locatedIn", "zoneA"))
    got = dataframe_sds_plus(spark, rules, sds, now=9)
    naive = naive_sds_plus(rules, sds, now=9)
    assert got == naive
    assert ("zoneA", "evacuate", "now") in got[OUT]
    # at now=15 the temp premise expired -> whole chain gone, both paths
    assert dataframe_sds_plus(spark, rules, sds, now=15) == naive_sds_plus(
        rules, sds, now=15
    )


def _growth_rules():
    """alert is first derived from the short-lived w1 fact (expiry 11) and
    re-derived in round 2 through co2seen (expiry 105); evacuate follows
    alert, so its expiry grows one round later."""
    def rule(premise, conclusion):
        return Rule(
            premise=[TriplePattern(Var("r"), Iri(p), Iri(o)) for p, o in premise],
            conclusion=[TriplePattern(Var("r"), Iri(p), Iri(o)) for p, o in conclusion],
        )

    temp, co2 = annotate_predicate(W1, "temp"), annotate_predicate(W2, "co2")
    alert, seen = annotate_predicate(OUT, "alert"), annotate_predicate(OUT, "co2seen")
    evacuate = annotate_predicate(OUT, "evacuate")
    return [
        rule([(temp, "high")], [(alert, "on")]),
        rule([(co2, "high")], [(seen, "yes")]),
        rule([(seen, "yes")], [(alert, "on")]),
        rule([(alert, "on"), (seen, "yes")], [(evacuate, "now")]),
    ]


def _growth_sds():
    sds = Sds(output_iris={OUT})
    sds.set_window(W1, 10, [WindowedTriple("room1", "temp", "high", 1)])
    sds.set_window(W2, 100, [WindowedTriple("room1", "co2", "high", 5)])
    return sds


def test_dataframe_path_takes_grown_expiry(spark):
    """A fact re-derived with a later expiry is new again, so the expiries
    (not just the fact set) equal the driver-side fixpoint's."""
    from kolibrie_spark.streaming.cross_window import (
        _annotated_facts,
        _dataframe_fixpoint,
        _fixpoint,
        dataframe_sds_plus,
    )

    rules, sds = _growth_rules(), _growth_sds()
    facts = _annotated_facts(sds, now=9)
    expected = _fixpoint(rules, facts)
    assert expected[("room1", annotate_predicate(OUT, "alert"), "on")] == 105
    assert expected[("room1", annotate_predicate(OUT, "evacuate"), "now")] == 105
    assert _dataframe_fixpoint(spark, rules, facts, max_iter=20) == expected
    assert dataframe_sds_plus(spark, rules, sds, now=9) == naive_sds_plus(rules, sds, now=9)


def test_dataframe_path_raises_when_out_of_rounds(spark):
    import pytest

    from kolibrie_spark.streaming.cross_window import dataframe_sds_plus

    with pytest.raises(RuntimeError, match="max_iter=1 "):
        dataframe_sds_plus(spark, _growth_rules(), _growth_sds(), now=9, max_iter=1)
