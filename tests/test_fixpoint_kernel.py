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
import sys
import threading
import time
from collections import defaultdict

import pytest

from kolibrie_spark.reasoner import Reasoner, Rule
from kolibrie_spark.conf import scoped_conf
from kolibrie_spark.reasoner.fixpoint import ADD_MULT, MIN_MAX, TAGGED_SCHEMA, compile_rules
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


# ------------------------------------------------- compiled rule text
ODD = "it's \\ a \"quoted\" ünïcødé ∀ term"

TEXT_RULES = [
    # constants with a quote, a backslash, double quotes and non-ASCII, in
    # premise and conclusion
    Rule(premise=[P(V("x"), I(ODD), V("y"))], conclusion=[P(V("y"), I(ODD + "'"), I(ODD))]),
    # a variable repeated inside one pattern
    Rule(premise=[P(V("x"), I("p"), V("x"))], conclusion=[P(V("x"), I("self"), I("yes"))]),
    # premises with no shared variable: a cross join
    Rule(premise=[P(V("a"), I("q"), V("b")), P(V("c"), I("w"), V("d"))],
         conclusion=[P(V("a"), I("cross"), V("d"))]),
    # two OR groups, each with a numeric comparison that a non-numeric
    # side makes false (v < "zz"; x >= "-1" over node names), and a plain
    # conjunct
    Rule(
        premise=[P(V("x"), I("w"), V("v"))],
        filters=[
            FilterCondition("v", "=", "n3", or_group=1),
            FilterCondition("v", "<", "zz", or_group=1),
            FilterCondition("v", "!=", "2"),
            FilterCondition("x", ">=", "-1", or_group=2),
            FilterCondition("x", "!=", "n1", or_group=2),
        ],
        conclusion=[P(V("x"), I("picked"), V("v"))],
    ),
    # a numeric comparison over values not all numeric
    Rule(premise=[P(V("x"), I("w"), V("v"))], filters=[FilterCondition("v", ">", "6")],
         conclusion=[P(V("x"), I("heavy"), V("v"))]),
    # ground negation: of a fact that is always there, and of one never there
    Rule(premise=[P(V("x"), I("p"), V("y"))], negative_premise=[P(I("n3"), I("q"), I("n0"))],
         conclusion=[P(V("x"), I("never"), V("y"))]),
    Rule(premise=[P(V("x"), I("p"), V("y"))], negative_premise=[P(I("n9"), I(ODD), I("n9"))],
         conclusion=[P(V("x"), I("always"), V("y"))]),
    # variable negation, and a two-pattern conclusion
    Rule(
        premise=[P(V("x"), I("p"), V("y")), P(V("y"), I("p"), V("z"))],
        negative_premise=[P(V("z"), I("q"), V("x"))],
        conclusion=[P(V("x"), I("p2"), V("z")), P(V("z"), I("p2inv"), V("x"))],
    ),
]


def _one_step(rules, facts, delta, semiring):
    """One application of ``rules`` as the multiset the compiled text
    returns: one row per binding and conclusion, and with a ``delta`` one
    per premise position whose fact is in the delta."""
    out = []
    for rule in rules:
        for b, used in _solutions(rule, facts):
            reads = [None] if delta is None else [k for k, u in enumerate(used) if u in delta]
            tag = functools.reduce(
                lambda a, c: _times(semiring, a, c), [facts[u] for u in used]
            ) if semiring else None
            for _ in reads:
                for c in rule.conclusion:
                    out.append(_ground(c, b) + ((round(tag, 12),) if semiring else ()))
    return sorted(out)


@pytest.mark.parametrize("semi", [False, True], ids=["naive", "semi"])
@pytest.mark.parametrize("semiring", [None, ADD_MULT, MIN_MAX], ids=["plain", "addmult", "minmax"])
def test_rule_text_matches_driver_evaluation(spark, semiring, semi):
    rows = sorted(set(random_graph(21))) + [
        ("n1", ODD, "n2"), ("n2", ODD, ODD), ("n4", "w", "1e1"), ("n5", "w", "-3"),
        ("n6", "w", "n3"), ("n1", "w", "n3"), ("n7", "w", "x"),
    ]
    rng = random.Random(3)
    # tags include exactly 1.0; about half the facts are in the delta
    facts = {f: rng.choice([0.25, 0.5, 0.9, 1.0]) for f in rows}
    delta = {f for f in rows if rng.random() < 0.5} | {("n1", ODD, "n2")}
    df = spark.createDataFrame(
        [(*f, t, f in delta) for f, t in facts.items()],
        "s string, p string, o string, tag double, __new boolean",
    )
    text = compile_rules(TEXT_RULES, semiring, semi_naive=semi)
    got = sorted(
        tuple(r[:3]) + ((round(r[3], 12),) if semiring else ())
        for r in text.run(df, df.filter("__new")).collect()
    )
    assert got == _one_step(TEXT_RULES, facts, delta if semi else None, semiring)
    assert ODD not in text.sql  # constants travel as parameters
    preds = {r[1] for r in got}
    assert {"cross", "self", "picked", "heavy", "always", "p2", "p2inv", ODD + "'"} <= preds
    assert "never" not in preds
    assert {(r[0], r[2]) for r in got if r[1] == "picked"} == {("n6", "n3")}


def _stage_tasks(sc, group):
    time.sleep(0.5)  # job events reach the status store asynchronously
    st = sc.statusTracker()
    return [
        info.numTasks
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
        if (info := st.getStageInfo(sid)) is not None
    ]


def test_rounds_run_row_sized_plan_and_restore_settings(spark):
    """With the session at 200 shuffle partitions, no stage of a
    semi-naive materialization runs 200 tasks (the round's width comes
    from its rows), and AQE and the shuffle width read back unchanged
    after a run, after a run that exhausts max_iter, and after an
    exception inside a scope."""
    aqe, width = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    sc = spark.sparkContext
    before = {k: spark.conf.get(k) for k in (aqe, width)}
    try:
        spark.conf.set(width, "200")
        want = {aqe: spark.conf.get(aqe), width: "200"}
        sc.setJobGroup("fixed-plan-rounds", "fixpoint rounds")
        try:
            r = Reasoner(spark, _facts(spark, _chain(9)))
            r.add_rule(TYPE_RULE)
            assert r.materialize().count() == 9 + 8
        finally:
            sc.setJobGroup("idle", "idle")
        tasks = _stage_tasks(sc, "fixed-plan-rounds")
        assert tasks and max(tasks) < 200, tasks
        assert {k: spark.conf.get(k) for k in want} == want
        r = Reasoner(spark, _facts(spark, _chain(11)))
        r.add_rule(TYPE_RULE)
        with pytest.raises(RuntimeError, match="max_iter=3"):
            r.materialize(max_iter=3)
        assert {k: spark.conf.get(k) for k in want} == want
        with pytest.raises(ZeroDivisionError):
            with scoped_conf(spark, {aqe: "false", width: "1"}):
                assert spark.conf.get(width) == "1"
                1 / 0
        assert {k: spark.conf.get(k) for k in want} == want
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_scoped_conf_serializes_threads(spark):
    """Eight threads enter scopes at once: inside its scope each reads its
    own value, and the session's value is back at the end."""
    key = "spark.sql.shuffle.partitions"
    before, errors = spark.conf.get(key), []

    def worker(i):
        for _ in range(20):
            with scoped_conf(spark, {key: str(100 + i)}):
                if spark.conf.get(key) != str(100 + i):
                    errors.append(i)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert spark.conf.get(key) == before
