"""The reasoner's fixpoint kernel (``Reasoner._fixpoint``) against a Python
model of the same round semantics.

The model keeps facts in a dict and runs one round at a time: every
binding of a rule's positive premises (constants, repeated variables,
FILTER conjuncts and OR groups, negation against the current facts) is one
derivation per conclusion; semi-naive rounds keep only bindings that use a
fact new in the last round. Over seeded random graphs with cycles,
self-loops and two predicates, ``materialize`` and ``materialize_naive``
must hold the model's fact set and report the model's per-round
``(facts, new)`` counts in ``Reasoner.rounds``. Tagged runs compare
addmult/minmax tags with Python-computed values on small DAGs, and one run
checks the repairs admit filter.
"""

from __future__ import annotations

import functools
import math
import random
from collections import defaultdict

import pytest

from kolibrie_spark.reasoner import Reasoner, Rule
from kolibrie_spark.reasoner.fixpoint import ADD_MULT, MIN_MAX, TAGGED_SCHEMA
from kolibrie_spark.reasoner.rule import FilterCondition
from kolibrie_spark.schema import local_df
from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var


def V(n):
    return Var(n)


def I(v):  # noqa: E743
    return Iri(v)


def P(s, p, o):
    return TriplePattern(s, p, o)


# ------------------------------------------------------------ the model
def _unify(pat, fact, b):
    b = dict(b)
    for term, val in zip((pat.s, pat.p, pat.o), fact):
        if isinstance(term, Var):
            if b.setdefault(term.name, val) != val:
                return None
        elif term.value != val:
            return None
    return b


def _ground(pat, b):
    return tuple(b[t.name] if isinstance(t, Var) else t.value for t in (pat.s, pat.p, pat.o))


def _num(v):
    try:
        return float(v)
    except ValueError:
        return None


def _holds(f: FilterCondition, b) -> bool:
    if f.variable not in b:
        return False
    left, right = b[f.variable], f.value
    if f.operator in ("=", "!="):
        return (left == right) == (f.operator == "=")
    ln, rn = _num(left), _num(right)
    if ln is None or rn is None:
        return False
    return {"<": ln < rn, "<=": ln <= rn, ">": ln > rn, ">=": ln >= rn}[f.operator]


def _filters_ok(filters, b) -> bool:
    groups = defaultdict(list)
    for f in filters:
        groups[f.or_group if f.or_group is not None else ("and", id(f))].append(_holds(f, b))
    return all(any(g) for g in groups.values())


def _solutions(rule, facts):
    """(binding, premise facts) of the rule over ``facts``."""
    out = [({}, ())]
    for pat in rule.premise:
        out = [
            (b2, used + (f,))
            for b, used in out
            for f in sorted(facts)
            if (b2 := _unify(pat, f, b)) is not None
        ]
    return [
        (b, used)
        for b, used in out
        if _filters_ok(rule.filters, b)
        and not any(_ground(n, b) in facts for n in rule.negative_premise)
    ]


def _times(semiring, a, b):
    return a * b if semiring is ADD_MULT else min(a, b)


def _plus(semiring, ts):
    if semiring is MIN_MAX or len(ts) == 1:
        return max(ts)
    if max(ts) >= 1.0:
        return 1.0
    return 1.0 - math.prod(1.0 - t for t in ts)


def model(seed, rules, semi, semiring=None, constraints=()):
    """Fixpoint of ``rules`` over ``seed`` (triples, or (triple, tag)
    pairs with a semiring): the facts dict and the per-round counts."""
    if semiring:
        merged = defaultdict(list)
        for f, t in seed:
            merged[f].append(t)
        facts = {f: _plus(semiring, ts) for f, ts in merged.items()}
    else:
        facts = dict.fromkeys(seed)
    delta = set(facts)
    rounds = [(len(facts), len(facts))]
    while delta:
        derivs = defaultdict(list)
        for rule in rules:
            for b, used in _solutions(rule, facts):
                if semi and not delta.intersection(used):
                    continue
                tag = functools.reduce(
                    lambda a, c: _times(semiring, a, c), [facts[u] for u in used]
                ) if semiring else None
                for c in rule.conclusion:
                    derivs[_ground(c, b)].append(tag)
        new = {
            f: _plus(semiring, ts) if semiring else None
            for f, ts in derivs.items()
            if f not in facts
        }
        if constraints:
            cand = {**facts, **new}
            support = {
                _ground(p, b)
                for c in constraints
                for b, _ in _solutions(c, cand)
                for p in c.premise
            }
            new = {f: t for f, t in new.items() if f not in support}
        facts.update(new)
        delta = set(new)
        rounds.append((len(facts), len(new)))
    return facts, rounds


# ------------------------------------------------------------- the data
NODES = [f"n{i}" for i in range(6)]

RULES = [
    # transitivity: cycles and self-loops close over several rounds
    Rule(premise=[P(V("x"), I("p"), V("y")), P(V("y"), I("p"), V("z"))],
         conclusion=[P(V("x"), I("p"), V("z"))]),
    # constants in premise and conclusion
    Rule(premise=[P(V("x"), I("q"), I("n0"))], conclusion=[P(I("n0"), I("q"), V("x"))]),
    # repeated variable
    Rule(premise=[P(V("x"), I("p"), V("x"))], conclusion=[P(V("x"), I("loop"), I("yes"))]),
    # FILTER: an OR group plus a plain conjunct
    Rule(
        premise=[P(V("x"), I("w"), V("v"))],
        filters=[
            FilterCondition("v", ">", "6", or_group=1),
            FilterCondition("v", "=", "n3", or_group=1),
            FilterCondition("x", "!=", "n1"),
        ],
        conclusion=[P(V("x"), I("heavy"), V("v"))],
    ),
    # negation against facts the other rules keep deriving
    Rule(
        premise=[P(V("x"), I("p"), V("y"))],
        negative_premise=[P(V("y"), I("q"), V("x"))],
        conclusion=[P(V("x"), I("r"), V("y"))],
    ),
    # two conclusions
    Rule(premise=[P(V("x"), I("r"), V("y"))],
         conclusion=[P(V("y"), I("rinv"), V("x")), P(V("x"), I("q"), V("y"))]),
]


def random_graph(seed: int) -> list[tuple[str, str, str]]:
    """p and q edges with cycles and self-loops, w values (numeric and
    not), and a few repeated rows."""
    rng = random.Random(seed)
    rows = [(rng.choice(NODES), "p", rng.choice(NODES)) for _ in range(7)]
    rows += [(rng.choice(NODES), "q", rng.choice(NODES)) for _ in range(3)]
    rows += [("n2", "p", "n2"), ("n3", "q", "n0")]
    rows += [(n, "w", rng.choice(["2", "7", "9", "n3", "x"])) for n in NODES[:4]]
    return rows + rng.sample(rows, 3)


def _facts(spark, rows):
    return local_df(spark, rows, ["s", "p", "o"])


@pytest.mark.parametrize("seed", [11, 12])
def test_materialize_and_naive_match_model(spark, seed):
    rows = random_graph(seed)
    want_semi, rounds_semi = model(rows, RULES, semi=True)
    want_naive, rounds_naive = model(rows, RULES, semi=False)
    assert set(want_semi) == set(want_naive)
    for method, rounds in (("materialize", rounds_semi), ("materialize_naive", rounds_naive)):
        r = Reasoner(spark, _facts(spark, rows))
        r.rules = list(RULES)
        got = [tuple(x) for x in getattr(r, method)().collect()]
        assert len(got) == len(set(got)), method  # set semantics
        assert set(got) == set(want_semi), method
        assert r.rounds == rounds, method


def random_dag(seed: int):
    rng = random.Random(seed)
    edges = {(f"n{i}", "p", f"n{j}") for i in range(5) for j in range(i + 1, 5) if rng.random() < 0.5}
    edges |= {("n0", "p", "n1"), ("n1", "p", "n2")}
    return [(e, rng.choice([0.5, 0.8, 0.9, 1.0])) for e in sorted(edges)]


TAG_RULES = [
    Rule(premise=[P(V("x"), I("p"), V("y")), P(V("y"), I("p"), V("z"))],
         conclusion=[P(V("x"), I("p"), V("z"))]),
    Rule(premise=[P(V("x"), I("p"), V("y"))], negative_premise=[P(V("y"), I("p"), V("x"))],
         conclusion=[P(V("x"), I("q"), V("y"))]),
]


@pytest.mark.parametrize("semiring", [ADD_MULT, MIN_MAX], ids=["addmult", "minmax"])
def test_provenance_tags_match_model(spark, semiring):
    seed = random_dag(5)
    seed.append((seed[0][0], 0.5))  # a repeated seed fact merges with ⊕
    want, rounds = model(seed, TAG_RULES, semi=False, semiring=semiring)
    r = Reasoner(spark)
    r.rules = list(TAG_RULES)
    tagged = spark.createDataFrame([(*f, t) for f, t in seed], TAGGED_SCHEMA)
    got = {(x.s, x.p, x.o): x.tag for x in r.materialize_with_provenance(tagged, semiring).collect()}
    assert got.keys() == want.keys()
    for f, t in want.items():
        assert got[f] == pytest.approx(t, abs=1e-9), f
    assert r.rounds == rounds


def test_repairs_admit_filter_matches_model(spark):
    rng = random.Random(7)
    rows = {(rng.choice(NODES), "p", rng.choice(NODES)) for _ in range(8)}
    rows |= {("n0", "p", "n1"), ("n1", "p", "n0"), ("n4", "q", "n5")}
    rows = sorted((s, p, o) for s, p, o in rows if s != o)  # a consistent seed
    constraints = [
        Rule(premise=[P(V("x"), I("p"), V("x"))], conclusion=[P(V("x"), I("bad"), V("x"))]),
        Rule(premise=[P(V("x"), I("p"), V("y")), P(V("y"), I("q"), V("x"))],
             conclusion=[P(V("x"), I("bad"), V("y"))]),
    ]
    rules = RULES[:1] + [Rule(premise=[P(V("x"), I("p"), V("y"))], conclusion=[P(V("y"), I("q"), V("x"))])]
    want, rounds = model(rows, rules, semi=True, constraints=constraints)
    r = Reasoner(spark, _facts(spark, rows))
    r.rules, r.constraints = rules, constraints
    got = {tuple(x) for x in r.materialize_with_repairs().collect()}
    assert got == set(want)
    assert r.rounds == rounds
    assert ("n0", "p", "n0") not in got  # derivable, but refused


TYPE, SUB = "type", "sub"
TYPE_RULE = Rule(premise=[P(V("x"), I(TYPE), V("c")), P(V("c"), I(SUB), V("d"))],
                 conclusion=[P(V("x"), I(TYPE), V("d"))])


def _chain(levels: int):
    return [(f"C{k}", SUB, f"C{k + 1}") for k in range(levels - 1)] + [("i", TYPE, "C0")]


@pytest.mark.parametrize("method", ["materialize", "materialize_naive"])
def test_max_iter_exhaustion_raises(spark, method):
    """An 11-level chain needs 10 deriving rounds; 5 must raise, naming
    max_iter and the last round's new-row count, not return 6 types."""
    r = Reasoner(spark, _facts(spark, _chain(11)))
    r.add_rule(TYPE_RULE)
    with pytest.raises(RuntimeError, match=r"max_iter=5 .* 1 new facts"):
        getattr(r, method)(max_iter=5)
    r = Reasoner(spark, _facts(spark, _chain(11)))
    r.add_rule(TYPE_RULE)
    out = getattr(r, method)(max_iter=11)
    assert out.filter("s = 'i'").count() == 11


def test_duplicate_seed_rows_are_one_fact(spark):
    rows = _chain(3) + _chain(3)[:2]
    r = Reasoner(spark, _facts(spark, rows))
    r.add_rule(TYPE_RULE)
    got = [tuple(x) for x in r.materialize().collect()]
    assert sorted(got) == sorted(set(_chain(3)) | {("i", TYPE, "C1"), ("i", TYPE, "C2")})
    assert r.rounds[0] == (3, 3) and r.rounds[-1] == (5, 0)
