"""Property paths (`+`, `*`, inverse, alternative, sequence) against a
Python reachability model on seeded random digraphs with cycles,
self-loops, two predicates and one named graph. The ground-endpoint forms
run the fixpoint kernel's BFS, the var-var `+` runs closure doubling."""

from __future__ import annotations

import random
import time
from collections import Counter

import pytest

from kolibrie_spark import SparqlEngine

P, Q, G = "ex:p", "ex:q", "ex:g"


def _random_edges(rng: random.Random, nodes: list[str], n: int) -> set[tuple[str, str]]:
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(n)}
    edges.add((nodes[0], nodes[0]))  # a self-loop
    edges |= {(nodes[1], nodes[2]), (nodes[2], nodes[3]), (nodes[3], nodes[1])}  # a cycle
    return edges


def _closure(edges: set[tuple[str, str]]) -> set[tuple[str, str]]:
    succ: dict[str, set[str]] = {}
    for s, o in edges:
        succ.setdefault(s, set()).add(o)
    pairs = set()
    for start in succ:
        seen, todo = set(), list(succ[start])
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo.extend(succ.get(n, ()))
        pairs |= {(start, n) for n in seen}
    return pairs


def _from(pairs, a):
    return sorted(o for s, o in pairs if s == a)


def _to(pairs, b):
    return sorted(s for s, o in pairs if o == b)


@pytest.mark.parametrize("seed", [7, 19])
def test_paths_match_reachability_model(spark, seed):
    rng = random.Random(seed)
    nodes = [f"ex:n{i}" for i in range(9)]
    p, q, named = (_random_edges(rng, nodes, 11) for _ in range(3))
    quads = [(s, P, o, None) for s, o in p] + [(s, Q, o, None) for s, o in q]
    quads += [(s, P, o, G) for s, o in named]
    engine = SparqlEngine(spark)
    engine.add_triples(quads)

    def select(text):
        return sorted(tuple(r) if len(r) > 1 else r[0] for r in engine.execute(text))

    def ask(text):
        return engine.query(text).collect()[0].ask

    plus, alt = _closure(p), _closure(p | q)
    a = nodes[1]
    b = rng.choice(sorted({o for _, o in plus}))
    lone = "ex:lone"  # in no edge
    assert select(f"SELECT ?x ?y WHERE {{ ?x <{P}>+ ?y }}") == sorted(plus)
    assert select(f"SELECT ?x WHERE {{ <{a}> <{P}>+ ?x }}") == _from(plus, a)
    assert select(f"SELECT ?x WHERE {{ ?x <{P}>+ <{b}> }}") == _to(plus, b)
    for s, o in [(a, b), (b, a), (a, a), (nodes[0], nodes[0]), (lone, a), (a, lone)]:
        assert ask(f"ASK {{ <{s}> <{P}>+ <{o}> }}") == ((s, o) in plus), (s, o)
    assert select(f"SELECT ?x WHERE {{ <{a}> <{P}>* ?x }}") == sorted(set(_from(plus, a)) | {a})
    assert select(f"SELECT ?x WHERE {{ <{lone}> <{P}>* ?x }}") == [lone]
    assert select(f"SELECT ?x WHERE {{ <{lone}> <{P}>+ ?x }}") == []
    assert select(f"SELECT ?x ?y WHERE {{ ?x ^<{P}>+ ?y }}") == sorted((o, s) for s, o in plus)
    assert select(f"SELECT ?x WHERE {{ <{b}> ^<{P}>+ ?x }}") == _to(plus, b)
    assert select(f"SELECT ?x ?y WHERE {{ ?x (<{P}>|<{Q}>)+ ?y }}") == sorted(alt)
    assert select(f"SELECT ?x WHERE {{ <{a}> (<{P}>|<{Q}>)+ ?x }}") == _from(alt, a)
    # a sequence is a join: one solution per intermediate node
    seq = Counter((x, z) for x, y in plus for y2, z in q if y == y2)
    assert select(f"SELECT ?x ?z WHERE {{ ?x <{P}>+/<{Q}> ?z }}") == sorted(seq.elements())
    assert select(f"SELECT ?z WHERE {{ <{a}> <{P}>+/<{Q}> ?z }}") == sorted(
        z for (x, z) in seq.elements() if x == a
    )
    in_g = _closure(named)
    assert select(f"SELECT ?x WHERE {{ GRAPH <{G}> {{ <{a}> <{P}>+ ?x }} }}") == _from(in_g, a)
    assert select(f"SELECT ?x ?y WHERE {{ GRAPH <{G}> {{ ?x <{P}>+ ?y }} }}") == sorted(in_g)


def test_ground_path_runs_few_jobs(spark):
    """A 16-link `<a> p+ ?x` is one kernel round per link; the lazy-mark +
    count BFS it replaced ran 98 Spark jobs on this query."""
    engine = SparqlEngine(spark)
    engine.add_triples([(f"ex:n{i}", P, f"ex:n{i + 1}") for i in range(16)])
    text = f"SELECT ?x WHERE {{ <ex:n0> <{P}>+ ?x }}"
    engine.execute(text)  # warm-up
    sc = spark.sparkContext
    sc.setJobGroup("path-plus-jobs", "ground p+ path")
    try:
        got = engine.execute(text)
    finally:
        sc.setJobGroup("idle", "idle")
    time.sleep(0.5)  # job events reach the status store asynchronously
    assert sorted(r[0] for r in got) == sorted(f"ex:n{i}" for i in range(1, 17))
    assert len(sc.statusTracker().getJobIdsForGroup("path-plus-jobs")) <= 70
