"""SPARQL Update execution (the reference's six forms).

Reference: execute_query.rs:523-884 — INSERT DATA, DELETE DATA,
INSERT…WHERE, DELETE…WHERE, DELETE…INSERT…WHERE, DELETE WHERE. The WHERE
clause is evaluated once against the pre-mutation store; deletions apply
before insertions; blank-node labels in INSERT templates allocate a fresh
blank node per solution (execute_query.rs:854-865); instantiated quads with
unbound variables are skipped (RDF legality of the instantiated term set).

Spark shape: the ground forms (INSERT/DELETE DATA) are edits of the store's
driver-side delta and run no Spark job.  For the WHERE forms the WHERE
compiles to a bindings DataFrame over the pre-update view (the same
compiler as SELECT); one ``inline`` turns every solution into its
instantiated delete and insert quads, tagged, and ``QuadStore.apply``
collects them in one action — or, past the store's bound, compacts them
into a new base.  Set semantics come from the store (see store.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolibrie_spark import rdfstar
from kolibrie_spark.sparql import ast
from kolibrie_spark.sparql.compiler import Bindings, Compiler, CompileError, DatasetView
from kolibrie_spark.store import OP, QUAD_COLS


def _collect_quoted(term: ast.Term, acc: list[ast.QuotedTriple]) -> None:
    if isinstance(term, ast.QuotedTriple):
        for t in (term.s, term.p, term.o):
            _collect_quoted(t, acc)
        acc.append(term)


def _register_ground_quoted(compiler: Compiler, terms) -> None:
    """Ground quoted triples used as terms must exist in the surrogate table
    (the reference interns them in its QuotedTripleStore on parse)."""
    acc: list[ast.QuotedTriple] = []
    for t in terms:
        _collect_quoted(t, acc)
    rows = []
    for qt in acc:
        s, p, o = (compiler._ground_term_value(x) for x in (qt.s, qt.p, qt.o))
        rows.append((s, p, o))
    if rows:
        rdfstar.register_quoted(compiler.store, rows)


@dataclass
class UpdateSummary:
    """Actually-changed quad counts (reference execute_query.rs:41-43,
    868-884 — inserts that were new, deletes that existed)."""

    inserted_quads: int = 0
    deleted_quads: int = 0


def execute_update(
    store, op: ast.UpdateOp, with_summary: bool = False
) -> UpdateSummary | None:
    """Apply ``op``.  With ``with_summary`` the store is counted around
    each mutation (set semantics make the count delta exactly the
    reference's changed-quad tally); the default skips those jobs."""
    compiler = Compiler(store)
    before = store.triple_count() if with_summary else 0

    if isinstance(op, (ast.InsertData, ast.DeleteData)):
        terms = [t for (s, p, o, _g) in op.quads for t in (s, p, o)]
        _register_ground_quoted(compiler, terms)
        rows = [
            (
                compiler._ground_term_value(s),
                compiler._ground_term_value(p),
                compiler._ground_term_value(o),
                g,
            )
            for (s, p, o, g) in op.quads
        ]
        if isinstance(op, ast.InsertData):
            store.add_quads(rows)
            if with_summary:
                return UpdateSummary(inserted_quads=store.triple_count() - before)
        else:
            store.delete_quads(rows)
            if with_summary:
                return UpdateSummary(deleted_quads=before - store.triple_count())
        return None

    if isinstance(op, ast.Modify):
        view = DatasetView(store, [], [])
        bindings = compiler.compile_group(op.where, view, active_graph=None)
        changes = _changes(
            compiler,
            bindings,
            [("d", op.delete_template, False), ("i", op.insert_template, True)],
        )
        if changes is None:
            return UpdateSummary() if with_summary else None
        if not with_summary:
            store.apply(changes)
            return None
        # pinned, so both halves come from one evaluation of the WHERE
        changes = changes.localCheckpoint(eager=True)
        store.apply(changes.filter(F.col(OP) == "d"))
        after_delete = store.triple_count()
        store.apply(changes.filter(F.col(OP) != "d"))
        return UpdateSummary(
            inserted_quads=store.triple_count() - after_delete,
            deleted_quads=before - after_delete,
        )

    raise CompileError(f"unsupported update {op!r}")


def _template_term_col(
    compiler: Compiler,
    df: DataFrame,
    term: ast.Term,
    fresh_blanks: bool,
    quoted: list[tuple[Column, Column, Column, Column]],
) -> Column:
    """Column expression instantiating a template term per solution row.

    Quoted triples (possibly nested, possibly containing variables) become
    their deterministic surrogate id, and the corresponding
    (qid, qs, qp, qo) columns are accumulated in ``quoted`` for the
    surrogate table — per-solution annotation like
    ``INSERT { << ?s :p ?o >> :certainty "0.9" } WHERE {...}``."""
    if isinstance(term, ast.Var):
        if term.name in df.columns:
            return F.col(term.name)
        return F.lit(None).cast("string")
    if isinstance(term, ast.BlankNode) and fresh_blanks:
        return F.concat(F.lit(f"_:{term.label}_"), F.col("__sol_id"))
    if isinstance(term, ast.QuotedTriple):
        s = _template_term_col(compiler, df, term.s, fresh_blanks, quoted)
        p = _template_term_col(compiler, df, term.p, fresh_blanks, quoted)
        o = _template_term_col(compiler, df, term.o, fresh_blanks, quoted)
        qid = rdfstar.qt_id_col(s, p, o)
        quoted.append((qid, s, p, o))
        return qid
    return F.lit(compiler._ground_term_value(term))


def _changes(
    compiler: Compiler,
    bindings: Bindings,
    templates: list[tuple[str, list[ast.TemplateQuad], bool]],
) -> DataFrame | None:
    """Instantiate ``(tag, template, fresh_blanks)`` templates over the
    solutions as one change frame (``QuadStore.apply``): a row per
    solution and template quad, tagged, plus a 'q' row per quoted triple
    of a non-delete template.  None when every template is empty.

    Every solution row is expanded once, so a fresh blank-node suffix
    (``uuid()``, one per solution — the same label within a solution maps
    to the same blank node, execute_query.rs:854-865) is evaluated once and
    shared by all of that solution's quads."""
    if not any(template for _tag, template, _fresh in templates):
        return None
    df = bindings.df
    if any(
        fresh and isinstance(t, ast.BlankNode)
        for _tag, template, fresh in templates
        for tq in template
        for t in (tq.s, tq.p, tq.o)
    ):
        df = df.withColumn("__sol_id", F.expr("uuid()"))

    def entry(tag: str, *cols: Column) -> Column:
        named = [c.cast("string").alias(n) for c, n in zip(cols, QUAD_COLS)]
        return F.struct(F.lit(tag).alias(OP), *named)

    entries = []
    for tag, template, fresh in templates:
        quoted: list[tuple[Column, Column, Column, Column]] = []
        for tq in template:
            spo = [
                _template_term_col(compiler, df, t, fresh, quoted)
                for t in (tq.s, tq.p, tq.o)
            ]
            entries.append(entry(tag, *spo, F.lit(tq.g)))
        if tag != "d":
            entries += [entry("q", *cols) for cols in quoted]
    rows = df.select(F.inline(F.array(*entries)))
    # instantiations with unbound components are illegal RDF → skipped
    return rows.filter(
        F.col("s").isNotNull()
        & F.col("p").isNotNull()
        & F.col("o").isNotNull()
        & ((F.col(OP) != "q") | F.col("g").isNotNull())
    )


def _instantiate(
    compiler: Compiler,
    bindings: Bindings,
    template: list[ast.TemplateQuad],
    fresh_blanks: bool,
) -> tuple[DataFrame | None, DataFrame | None]:
    """One template over the solutions, as (quads_df, quoted_rows_df);
    the latter is None when the template holds no quoted triple."""
    rows = _changes(compiler, bindings, [("i", template, fresh_blanks)])
    if rows is None:
        return None, None
    quads = rows.filter(F.col(OP) == "i").select(*QUAD_COLS).dropDuplicates()
    if not any(
        isinstance(t, ast.QuotedTriple) for tq in template for t in (tq.s, tq.p, tq.o)
    ):
        return quads, None
    quoted = (
        rows.filter(F.col(OP) == "q")
        .select(*(F.col(c).alias(n) for c, n in zip(QUAD_COLS, ["qid", "qs", "qp", "qo"])))
        .dropDuplicates()
    )
    return quads, quoted
