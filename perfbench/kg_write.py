"""kg_write: seeded SPARQL Updates, each followed by a read of what it
touched, over a customer+orders store.

One operation is one update plus its read-back, the unit a client that
writes and then confirms waits for.  The forms rotate through a fixed
six-step cycle (INSERT DATA, INSERT...WHERE, DELETE DATA, INSERT DATA,
INSERT...WHERE, DELETE WHERE), so every seed runs the same mix and the
benchmark-owned notes and flags grow by one each per cycle.  The seed picks
the customers, nations, balance thresholds and payloads.

Expected results are replayed after the timed region: a Python set models
the benchmark-owned triples (read-your-writes and delete visibility), and
DuckDB on the generated parquet gives the customer rows and the targets of
each INSERT...WHERE.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np

import datagen

NOTE = "urn:bench#note"
RATING = "urn:bench#rating"
FLAG = "urn:bench#flag"
TABLES = ["customer", "orders"]
CYCLE = ["insert_data", "insert_where", "delete_data", "insert_data", "insert_where", "delete_where"]
CUSTOMER_PROPS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


@dataclass
class Op:
    kind: str
    update: str
    read: str
    subject: int | None = None  # customer key an update/read-back names
    triples: tuple = ()  # benchmark-owned triples the DATA forms add or remove
    flag: str | None = None
    nation: int | None = None
    threshold: float | None = None


def _point_read(c: int) -> str:
    return f"SELECT ?p ?o WHERE {{ <urn:customer:{c}> ?p ?o }}"


def plan(seed: int, n_customers: int, n_ops: int, stream: int = 1) -> list[Op]:
    """The first ``n_ops`` operations for ``seed``; a run executes a prefix."""
    rng = np.random.default_rng([seed, stream])
    notes: list[tuple[int, str]] = []
    flags: list[str] = []
    ops: list[Op] = []
    for i in range(n_ops):
        kind = CYCLE[i % len(CYCLE)]
        if kind == "insert_data":
            c = int(rng.integers(n_customers))
            note = (f"urn:customer:{c}", NOTE, f"n{i}")
            rating = (f"urn:customer:{c}", RATING, str(int(rng.integers(1, 6))))
            notes.append((c, f"n{i}"))
            body = " . ".join(f'<{s}> <{p}> "{o}"' for s, p, o in (note, rating))
            ops.append(Op(kind, f"INSERT DATA {{ {body} }}", _point_read(c), c, (note, rating)))
        elif kind == "delete_data":
            c, note = notes.pop(int(rng.integers(len(notes))))
            triple = (f"urn:customer:{c}", NOTE, note)
            ops.append(Op(
                kind, f'DELETE DATA {{ <{triple[0]}> <{NOTE}> "{note}" }}',
                _point_read(c), c, (triple,),
            ))
        elif kind == "insert_where":
            nation = int(rng.integers(25))
            threshold = round(float(rng.uniform(0.0, 9000.0)), 2)
            flag = f"f{i}"
            flags.append(flag)
            ops.append(Op(
                kind,
                f'INSERT {{ ?c <{FLAG}> "{flag}" }} WHERE {{ '
                f"?c <urn:customer#c_nationkey> <urn:nation:{nation}> . "
                f"?c <urn:customer#c_acctbal> ?b . FILTER(?b > {threshold}) }}",
                f'SELECT ?c WHERE {{ ?c <{FLAG}> "{flag}" }}',
                flag=flag, nation=nation, threshold=threshold,
            ))
        else:  # delete_where
            flag = flags.pop(int(rng.integers(len(flags))))
            ops.append(Op(
                kind,
                f'DELETE WHERE {{ ?c <{FLAG}> "{flag}" }}',
                f"SELECT ?f (COUNT(?c) AS ?k) WHERE {{ ?c <{FLAG}> ?f }} GROUP BY ?f",
                flag=flag,
            ))
    return ops


class KgWrite:
    name = "kg_write"

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.sf = 0.001 if smoke else 0.01
        self.n_customers = datagen.sizes(self.sf)["customer"]
        self.ops = plan(seed, self.n_customers, 2000)

    def make_inputs(self, data_dir: str) -> None:
        datagen.write_tables(datagen.make_tables(self.sf, self.seed, TABLES), data_dir)
        self.data_dir = data_dir

    def build(self, spark) -> None:
        """Triplify the tables into an in-memory (checkpointed) quad store,
        the form every update leaves it in."""
        from kolibrie_spark.store import QuadStore
        from kolibrie_spark.tables import load_table
        from kolibrie_spark.triplify import triplify

        parts = [triplify(load_table(spark, self.data_dir, t), t) for t in TABLES]
        quads = parts[0]
        for p in parts[1:]:
            quads = quads.unionByName(p)
        self.store = QuadStore(spark, quads=quads.localCheckpoint(eager=True))
        self.base = self.store.quads

    def warmup(self, tracer) -> None:
        """One cycle of operations drawn from a separate seed stream, run
        through the same calls as the measured ones, then the store is reset
        to the built quads.  Latency keeps falling over the first operations
        of a fresh JVM; the measured loop should start past that."""
        from kolibrie_spark.store import QuadStore

        for op in plan(self.seed, self.n_customers, len(CYCLE), stream=2):
            self.run(op, tracer)
        self.store = QuadStore(self.store.spark, quads=self.base)

    def _update(self, text: str, tracer) -> None:
        from kolibrie_spark.sparql.parser import parse_query
        from kolibrie_spark.sparql.update import execute_update

        with tracer.span("parser.parse"):
            q = parse_query(text)
        with tracer.span("update.exec"):
            execute_update(self.store, q.update)

    def _read(self, text: str, tracer) -> list[tuple]:
        from kolibrie_spark.sparql.compiler import Compiler
        from kolibrie_spark.sparql.parser import parse_query

        with tracer.span("parser.parse"):
            q = parse_query(text)
        with tracer.span("compiler.compile"):
            df = Compiler(self.store).compile_select(q.select)
        with tracer.span("exec.action"):
            return [tuple(r) for r in df.collect()]

    def run(self, op: Op, tracer) -> list[tuple]:
        self._update(op.update, tracer)
        return self._read(op.read, tracer)

    def op_kind(self, op: Op) -> str:
        return op.kind

    def expected(self, ops: list[Op]) -> list[list[tuple]]:
        import duckdb

        con = duckdb.connect()
        try:
            cust = f"'{os.path.join(self.data_dir, 'customer.parquet')}'"

            def base(c: int) -> list[tuple]:
                row = con.execute(
                    f"SELECT {', '.join(CUSTOMER_PROPS)} FROM {cust} WHERE c_custkey = ?", [c]
                ).fetchone()
                vals = dict(zip(CUSTOMER_PROPS, row))
                vals["c_nationkey"] = f"urn:nation:{vals['c_nationkey']}"
                return [(f"urn:customer#{k}", v) for k, v in vals.items()]

            owned: set[tuple[str, str, str]] = set()
            out = []
            for op in ops:
                if op.kind == "insert_data":
                    owned.update(op.triples)
                elif op.kind == "delete_data":
                    owned.difference_update(op.triples)
                elif op.kind == "insert_where":
                    keys = con.execute(
                        f"SELECT c_custkey FROM {cust} WHERE c_nationkey = ? AND c_acctbal > ?",
                        [op.nation, op.threshold],
                    ).fetchall()
                    owned.update((f"urn:customer:{k}", FLAG, op.flag) for (k,) in keys)
                else:
                    owned = {t for t in owned if not (t[1] == FLAG and t[2] == op.flag)}
                if op.kind in ("insert_data", "delete_data"):
                    s = f"urn:customer:{op.subject}"
                    out.append(base(op.subject) + [(p, o) for (ts, p, o) in owned if ts == s])
                elif op.kind == "insert_where":
                    out.append([(s,) for (s, p, o) in owned if p == FLAG and o == op.flag])
                else:
                    counts = Counter(o for (_s, p, o) in owned if p == FLAG)
                    out.append(list(counts.items()))
            self.owned = owned
            return out
        finally:
            con.close()

    def report_lines(self, ops: list[Op], lat_ms: list[float]) -> list[str]:
        return []

    def final_check(self) -> bool:
        """The store holds exactly the base quads plus the modelled
        benchmark-owned triples: no write leaked or duplicated a quad."""
        return self.store.triple_count() == self.base.count() + len(self.owned)

    def layer_counts(self, results: list) -> dict:
        return {
            "setup.store_quads": self.base.count(),
            "exec.rows": sum(len(r) for r in results),
            "store.quads_end": self.store.triple_count(),
        }
