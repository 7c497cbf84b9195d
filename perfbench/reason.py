"""reason: semi-naive materialization of partOf transitivity on two rule
programs, run in turn.

``wide`` is the orders -> customer -> nation -> region hierarchy (one partOf
edge per foreign key): few rounds over many edges, so it stresses join
volume.  ``deep`` is chains of part keys, about 8 links each, laid out by
the seed: few edges over more rounds, so it stresses the per-round job
overhead.  One operation is one ``Reasoner.materialize`` of one program plus
the count of its result.

The closure has a closed form: an order reaches 3 ancestors, a customer 2, a
nation 1, and a chain of k nodes holds k(k-1)/2 ordered pairs.  After the
timed region the count of every operation is checked against it, and each
program's last derived fact set is compared, for a seeded sample of nodes,
with the ancestors computed in Python.
"""

from __future__ import annotations

import numpy as np

import datagen

PART_OF = "urn:ex#partOf"
RULE = f"{{ ?a <{PART_OF}> ?b . ?b <{PART_OF}> ?c . }} => {{ ?a <{PART_OF}> ?c . }} ."
TABLES = ["nation", "customer", "orders"]
PROGRAMS = ("wide", "deep")
WARMUP_ROUNDS = 2


class Reason:
    name = "reason"

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.sf = 0.001 if smoke else 0.005
        self.chains, self.depth = (4, 8) if smoke else (16, 8)
        self.ops = [PROGRAMS[i % 2] for i in range(1000)]

    def make_inputs(self, data_dir: str) -> None:
        """The edges of both programs, in memory: this workload loads no
        parquet."""
        tables = datagen.make_tables(self.sf, self.seed, TABLES)
        o, c, n = tables["orders"], tables["customer"], tables["nation"]
        wide = [
            (f"urn:orders:{k}", f"urn:customer:{v}")
            for k, v in zip(o.column("o_orderkey").to_pylist(), o.column("o_custkey").to_pylist())
        ]
        wide += [
            (f"urn:customer:{k}", f"urn:nation:{v}")
            for k, v in zip(c.column("c_custkey").to_pylist(), c.column("c_nationkey").to_pylist())
        ]
        wide += [
            (f"urn:nation:{k}", f"urn:region:{v}")
            for k, v in zip(n.column("n_nationkey").to_pylist(), n.column("n_regionkey").to_pylist())
        ]
        # a seeded permutation of part keys cut into chains whose lengths
        # vary by a few links around ``depth``
        rng = np.random.default_rng([self.seed, 2])
        lengths = self.depth + rng.integers(-2, 3, self.chains)
        keys = rng.permutation(int(lengths.sum()) + self.chains)
        deep: list[tuple[str, str]] = []
        chain_sizes = []
        pos = 0
        for k in lengths:
            nodes = [f"urn:part:{p}" for p in keys[pos:pos + k + 1]]
            pos += k + 1
            chain_sizes.append(len(nodes))
            deep += list(zip(nodes, nodes[1:]))
        self.edges = {"wide": wide, "deep": deep}
        self.closure_size = {
            "wide": 3 * o.num_rows + 2 * c.num_rows + n.num_rows,
            "deep": sum(k * (k - 1) // 2 for k in chain_sizes),
        }
        self.parent = dict(wide + deep)
        self.sample = {}
        for prog, edges in self.edges.items():
            picks = rng.choice(len(edges), size=min(16, len(edges)), replace=False)
            self.sample[prog] = sorted({edges[i][0] for i in picks})

    def build(self, spark) -> None:
        """Each program's edges as a fact set."""
        from kolibrie_spark.reasoner.fixpoint import FACTS_SCHEMA

        self.facts = {
            prog: spark.createDataFrame([(s, PART_OF, o) for s, o in edges], FACTS_SCHEMA)
            .localCheckpoint(eager=True)
            for prog, edges in self.edges.items()
        }
        self.spark = spark

    def warmup(self, tracer) -> None:
        """Parse the rule and materialize each program ``WARMUP_ROUNDS``
        times: the first materialization after the JVM starts takes about
        three times as long as a warm one, the second still about 1.2x."""
        from kolibrie_spark.reasoner.n3_parser import parse_n3_rules

        with tracer.span("reasoner.parse"):
            self.rules = parse_n3_rules(RULE)
        self.last = {}
        for _ in range(WARMUP_ROUNDS):
            for prog in PROGRAMS:
                self.run(prog, tracer)

    def run(self, prog: str, tracer) -> int:
        from kolibrie_spark.reasoner.fixpoint import Reasoner

        r = Reasoner(self.spark, self.facts[prog])
        for rule in self.rules:
            r.add_rule(rule)
        with tracer.span("reasoner.materialize"):
            self.last[prog] = r.materialize()
        with tracer.span("exec.action"):
            return self.last[prog].count()

    def op_kind(self, prog: str) -> str:
        return prog

    def ancestors(self, node: str) -> list[str]:
        out = []
        while node in self.parent:
            node = self.parent[node]
            out.append(node)
        return out

    def expected(self, ops: list[str]) -> list[int]:
        return [self.closure_size[prog] for prog in ops]

    def report_lines(self, ops: list[str], lat_ms: list[float]) -> list[str]:
        derived = sum(self.closure_size[p] - len(self.edges[p]) for p in ops)
        return [f"facts_per_s = {derived / (sum(lat_ms) / 1e3):.6g} 1/s "
                f"(n={len(ops)} materializations, {derived} derived facts)"]

    def final_check(self) -> bool:
        """Each program's last materialization holds exactly the ancestors
        of the sampled nodes (one extra job each, outside the timed
        region)."""
        from pyspark.sql import functions as F

        for prog, facts in self.last.items():
            got = sorted(
                (r.s, r.o)
                for r in facts.filter(F.col("s").isin(self.sample[prog])).collect()
            )
            if got != sorted((s, a) for s in self.sample[prog] for a in self.ancestors(s)):
                return False
        return True

    def layer_counts(self, results: list) -> dict:
        return {
            "setup.store_quads": sum(f.count() for f in self.facts.values()),
            "exec.rows": len(results),
            "reasoner.facts_out": sum(results) / max(1, len(results)),
        }
