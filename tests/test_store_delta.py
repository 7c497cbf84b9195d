"""The quad store's driver-side delta (store.py) against a Python set model.

Seeded random sequences of SPARQL Updates — INSERT/DELETE DATA,
INSERT…WHERE, DELETE WHERE and DELETE…INSERT…WHERE, each WHERE reading the
pre-update state — run through the engine and through a plain set of
quads; the visible quads, the named-graph catalog and the quoted-triple
table must agree.  The sequences re-insert deleted triples, delete absent
ones, write named graphs, empty a graph by DELETE, instantiate quoted-triple
templates and allocate one fresh blank node per solution.  A second run
lowers the compaction bound so compaction fires mid-sequence, through both
the delta-overflow and the large-change path.
"""

import random
import time

import pytest

from kolibrie_spark import SparqlEngine
from kolibrie_spark import store as store_mod
from kolibrie_spark.rdfstar import qt_id
from kolibrie_spark.schema import QUADS_SCHEMA, local_df
from kolibrie_spark.store import QuadStore

S = [f"ex:s{i}" for i in range(4)]
P = [f"ex:p{i}" for i in range(3)]
O = ["0", "1", "2"]
G = [None, "ex:g0", "ex:g1"]
BN, VAL, SRC = "ex:bn", "ex:val", "ex:src"


def _quad_text(q):
    s, p, o, _g = q
    return f'<{s}> <{p}> "{o}" .'


def _data_block(quads):
    parts = [_quad_text(q) for q in quads if q[3] is None]
    for g in sorted({q[3] for q in quads if q[3] is not None}):
        inner = " ".join(_quad_text(q) for q in quads if q[3] == g)
        parts.append(f"GRAPH <{g}> {{ {inner} }}")
    return "{ " + " ".join(parts) + " }"


def _in_graph(g, pattern):
    return pattern if g is None else f"GRAPH <{g}> {{ {pattern} }}"


class Model:
    """Quads as a Python set; blank-node inserts as (subject, value) pairs,
    one per solution; quoted triples as (qid, s, p, o) rows."""

    def __init__(self):
        self.quads: set[tuple] = set()
        self.graphs: set[str] = set()
        self.blank_pairs: list[tuple[str, str]] = []
        self.quoted: set[tuple] = set()

    def insert(self, quads):
        self.quads |= set(quads)
        self.graphs |= {q[3] for q in quads if q[3] is not None}

    def solutions(self, p, g):
        return sorted({(s, o) for (s, pp, o, gg) in self.quads if pp == p and gg == g})


def _random_quad(rng):
    return (rng.choice(S), rng.choice(P), rng.choice(O), rng.choice(G))


def _step(rng, model: Model, engine) -> None:
    """One random update, applied to the engine and the model."""
    kind = rng.choice(
        ["insert_data", "insert_data", "delete_data", "reinsert", "insert_where",
         "delete_where", "empty_graph", "delete_insert_where", "quoted", "blank"]
    )
    pa, pb = rng.choice(P), rng.choice(P)
    ga, gb = rng.choice(G), rng.choice(G)
    if kind == "insert_data":
        quads = [_random_quad(rng) for _ in range(rng.randint(1, 4))]
        engine.update("INSERT DATA " + _data_block(quads))
        model.insert(quads)
    elif kind == "delete_data":
        present = sorted(model.quads, key=str)
        quads = rng.sample(present, min(2, len(present))) + [_random_quad(rng)]
        engine.update("DELETE DATA " + _data_block(quads))
        model.quads -= set(quads)
    elif kind == "reinsert":
        present = sorted(model.quads, key=str)
        if not present:
            return
        q = rng.choice(present)
        engine.update("DELETE DATA " + _data_block([q]))
        model.quads.discard(q)
        engine.update("INSERT DATA " + _data_block([q]))
        model.insert([q])
    elif kind == "insert_where":
        sols = model.solutions(pa, ga)
        engine.update(
            f"INSERT {{ {_in_graph(gb, f'?s <{pb}> ?o')} }} "
            f"WHERE {{ {_in_graph(ga, f'?s <{pa}> ?o')} }}"
        )
        model.insert([(s, pb, o, gb) for s, o in sols])
    elif kind == "delete_where":
        engine.update(f"DELETE WHERE {{ {_in_graph(ga, f'?s <{pa}> ?o')} }}")
        model.quads -= {q for q in model.quads if q[1] == pa and q[3] == ga}
    elif kind == "empty_graph":
        g = rng.choice(G[1:])
        engine.update(f"DELETE WHERE {{ GRAPH <{g}> {{ ?s ?p ?o }} }}")
        model.quads -= {q for q in model.quads if q[3] == g}
    elif kind == "delete_insert_where":
        sols = model.solutions(pa, None)
        engine.update(
            f"DELETE {{ ?s <{pa}> ?o }} INSERT {{ ?s <{pb}> ?o }} WHERE {{ ?s <{pa}> ?o }}"
        )
        model.quads -= {(s, pa, o, None) for s, o in sols}
        model.insert([(s, pb, o, None) for s, o in sols])
    elif kind == "quoted":
        sols = model.solutions(pa, None)
        engine.update(f'INSERT {{ << ?s <{pa}> ?o >> <{SRC}> "w" }} WHERE {{ ?s <{pa}> ?o }}')
        model.insert([(qt_id(s, pa, o), SRC, "w", None) for s, o in sols])
        model.quoted |= {(qt_id(s, pa, o), s, pa, o) for s, o in sols}
    else:  # blank
        sols = model.solutions(pa, None)
        engine.update(
            f"INSERT {{ ?s <{BN}> _:b . _:b <{VAL}> ?o }} WHERE {{ ?s <{pa}> ?o }}"
        )
        model.blank_pairs += sols


def _assert_matches(model: Model, store: QuadStore) -> None:
    got = [tuple(r) for r in store.quads.collect()]
    assert len(got) == len(set(got)), "duplicate quads: set semantics broken"
    assert store.triple_count() == len(got)
    plain = {q for q in got if q[1] not in (BN, VAL)}
    assert plain == model.quads
    subj = {q[2]: q[0] for q in got if q[1] == BN}
    val = {q[0]: q[2] for q in got if q[1] == VAL}
    assert len(subj) == sum(q[1] == BN for q in got)  # one fresh node per solution
    assert subj.keys() == val.keys()
    assert sorted((subj[b], val[b]) for b in subj) == sorted(model.blank_pairs)
    assert {tuple(r) for r in store.quoted.collect()} == model.quoted
    # a graph emptied by DELETE keeps its identity in the catalog
    assert {r.g for r in store.named_graph_names().collect()} == model.graphs


def _run(spark, seed: int, n_ops: int) -> QuadStore:
    rng = random.Random(seed)
    model = Model()
    # a checkpointed base, so the view's key filter hides base quads
    base = sorted({_random_quad(rng) for _ in range(12)}, key=str)
    store = QuadStore(spark, quads=local_df(spark, base, QUADS_SCHEMA).localCheckpoint())
    store.register_graphs({q[3] for q in base if q[3] is not None})
    engine = SparqlEngine(spark, store)
    model.insert(base)
    for i in range(n_ops):
        _step(rng, model, engine)
        if i % 8 == 7:
            _assert_matches(model, engine.store)
    _assert_matches(model, engine.store)
    return engine.store


@pytest.mark.parametrize("seed", [11, 12])
def test_random_updates_match_set_model(spark, seed):
    store = _run(spark, seed, 28)
    assert store.compactions == 0  # the default bound holds these deltas


def test_random_updates_match_set_model_with_compaction(spark, monkeypatch):
    monkeypatch.setattr(store_mod, "COMPACT_ROWS", 3)
    store = _run(spark, 13, 28)
    assert store.compactions > 0
    assert store.delta_rows <= 3


def test_data_forms_run_no_spark_job(spark):
    store = QuadStore(spark, quads=spark.range(4).selectExpr(
        "cast(id as string) s", "'ex:p' p", "'o' o", "cast(null as string) g"
    ).localCheckpoint())
    engine = SparqlEngine(spark, store)
    sc = spark.sparkContext
    sc.setJobGroup("delta-data-forms", "DATA forms")
    try:
        engine.update('INSERT DATA { <ex:a> <ex:p> "1" . GRAPH <ex:g> { <ex:a> <ex:p> "2" } }')
        engine.update('DELETE DATA { <0> <ex:p> "o" . <ex:absent> <ex:p> "x" }')
        engine.store.quads  # building the view is planning only
    finally:
        sc.setJobGroup("idle", "idle")
    time.sleep(0.5)  # job events reach the status store asynchronously
    assert sc.statusTracker().getJobIdsForGroup("delta-data-forms") == []
    assert store.delta_rows == 4
    assert sorted(tuple(r) for r in store.quads.collect()) == [
        ("1", "ex:p", "o", None), ("2", "ex:p", "o", None), ("3", "ex:p", "o", None),
        ("ex:a", "ex:p", "1", None), ("ex:a", "ex:p", "2", "ex:g"),
    ]


def test_view_is_the_base_while_delta_is_empty(spark):
    base = spark.range(3).selectExpr("cast(id as string) s", "'p' p", "'o' o", "cast(null as string) g")
    store = QuadStore(spark, quads=base)
    assert store.quads is base
    store.add_quads([("x", "p", "o")])
    assert store.quads is not base
    store.replace_quads(base, materialize=False)  # the setter clears the delta
    assert store.quads is base and store.delta_rows == 0


def test_bounded_take_restores_the_limit_setting_under_threads(spark):
    """``_take`` raises a session setting for one action; concurrent calls
    must leave it as they found it and each still see every row."""
    import sys
    import threading

    key = "spark.sql.limit.initialNumPartitions"
    before = spark.conf.get(key)
    df = spark.range(40).repartition(4)
    got, errors = [], []

    def work():
        try:
            for _ in range(3):
                got.append(len(store_mod._take(df, 100)))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and got == [40] * 24
    assert spark.conf.get(key) == before
