"""SPARQL AST → Spark DataFrame compiler.

Where the reference runs a Volcano-style binding-passing interpreter over
hash indexes (streamertail_optimizer/execution/engine.rs:288-672), we emit a
single declarative DataFrame plan and let Catalyst + AQE do what Streamertail
does by hand: join ordering/commutation (optimizer.rs:326-343), join
algorithm choice (optimizer.rs:345-373 — whose four "algorithms" all execute
identically anyway), scan selection (optimizer.rs:579-603 — predicate
pushdown), and cardinality estimation (stats/database_stats.rs — CBO/AQE
runtime stats). SURVEY.md §4 documents the equivalence in detail.

Semantics compiled here:
- BGP = per-pattern filtered scans of the quads table, natural-joined on
  shared variables (multiset/bag semantics: engine.rs:376-395).
- FILTER with the reference's lexical/try-numeric comparisons (compare.py),
  applied at group scope (Selection above the group, utils.rs:402-517).
- BIND(CONCAT/udf/TRIPLE/SUBJECT/PREDICATE/OBJECT), VALUES with UNDEF
  (compatible-mapping join, engine.rs:1137-1160), GRAPH fixed/var including
  empty-graph binding (engine.rs:846-916), UNION as unionByName with missing
  columns (engine.rs:328-339), uncorrelated sub-SELECT materialized once
  (engine.rs:416-426, 685-719), RDF-star quoted patterns (rdfstar.py).
- SELECT-level GROUP BY + SUM/MIN/MAX/AVG/COUNT over f64-parsed values with
  non-grouped projected vars carried as first-of-group
  (execute_query.rs:404-475), ORDER BY numeric-else-lexical
  (execute_query.rs:477-499), DISTINCT on the projection
  (execute_query.rs:291-300), LIMIT/OFFSET.
- Unbound projected variables decode to "" (execute_query.rs:306-317).

Scale notes: every construct lowers to DataFrame ops that shuffle only on
join/group keys; VALUES blocks are driver-side literals (Catalyst broadcasts
them); the quoted-triples surrogate table joins broadcast under AQE. The only
non-equi join is the UNDEF compatible join, which by construction only sees
small solution sequences (VALUES rows / heterogeneous UNION branches).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark import compare, rdfstar
from kolibrie_spark.reasoner.closure import transitive_closure
from kolibrie_spark.reasoner.fixpoint import fixpoint
from kolibrie_spark.schema import local_df
from kolibrie_spark.sparql import ast


_STRING_FUNCS = {
    "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "CONTAINS", "STRSTARTS",
    "STRENDS", "REPLACE", "REGEX", "COALESCE", "IF", "BOUND",
    "ABS", "ROUND", "CEIL", "FLOOR",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
}


class CompileError(ValueError):
    pass


class Bindings:
    """A solution sequence: a DataFrame whose columns are the in-scope
    variables, plus the set of columns that may hold NULL (= SPARQL UNDEF).

    Tracking maybe-null columns lets the common all-bound case compile to a
    plain equi-join and reserves the compatible-mapping expansion for the
    rare UNDEF case (which only VALUES and heterogeneous UNIONs produce)."""

    def __init__(self, df: DataFrame, maybe_null: frozenset[str] | set[str] = frozenset()):
        self.df = df
        self.maybe_null = frozenset(maybe_null)

    @property
    def vars(self) -> set[str]:
        return set(self.df.columns)


def unit_bindings(spark: SparkSession) -> Bindings:
    """The solution sequence containing exactly the empty mapping."""
    return Bindings(spark.range(1).select())


def join_bindings(left: Bindings, right: Bindings) -> Bindings:
    """SPARQL compatible-mapping join of two solution sequences.

    No shared vars  -> cross join (cardinality-preserving: a zero-column side
    still multiplies by its row count, which is how ground-pattern existence
    checks work).
    Shared, all bound -> natural equi-join (Catalyst picks broadcast/SMJ).
    Shared, maybe-UNDEF -> null-is-wildcard theta join with coalesced output
    (reference engine.rs:1137-1160). Only small sequences reach this path.
    """
    shared = sorted(left.vars & right.vars)
    if not shared:
        if not right.vars and not left.vars:
            return Bindings(left.df.crossJoin(right.df).select())
        df = left.df.crossJoin(right.df)
        return Bindings(df, left.maybe_null | right.maybe_null)

    nullable_shared = [c for c in shared if c in left.maybe_null or c in right.maybe_null]
    out_null = (left.maybe_null | right.maybe_null) - set(shared)
    if not nullable_shared:
        return Bindings(left.df.join(right.df, on=shared, how="inner"), out_null)

    l = left.df.alias("__l")
    # the UNDEF side is by construction a small solution sequence (VALUES
    # rows / a union branch) — broadcast it so the null-wildcard theta join
    # plans as BroadcastNestedLoop instead of a CartesianProduct
    r = F.broadcast(right.df.alias("__r"))
    conds = []
    for c in shared:
        lc, rc = F.col(f"__l.{c}"), F.col(f"__r.{c}")
        if c in nullable_shared:
            conds.append(lc.isNull() | rc.isNull() | (lc == rc))
        else:
            conds.append(lc == rc)
    joined = l.join(r, on=functools.reduce(lambda a, b: a & b, conds), how="inner")
    sel: list[Column] = []
    still_null: set[str] = set(out_null)
    for c in sorted(left.vars | right.vars):
        if c in left.vars and c in right.vars:
            sel.append(F.coalesce(F.col(f"__l.{c}"), F.col(f"__r.{c}")).alias(c))
            if c in left.maybe_null and c in right.maybe_null:
                still_null.add(c)
        elif c in left.vars:
            sel.append(F.col(f"__l.{c}").alias(c))
        else:
            sel.append(F.col(f"__r.{c}").alias(c))
    return Bindings(joined.select(*sel), frozenset(still_null))


def _compat_cond(shared: list[str], nullable_shared: list[str]):
    """Compatible-mapping join condition over aliased sides __l/__r
    (null = UNDEF = wildcard on the nullable columns)."""
    conds = []
    for c in shared:
        lc, rc = F.col(f"__l.{c}"), F.col(f"__r.{c}")
        if c in nullable_shared:
            conds.append(lc.isNull() | rc.isNull() | (lc == rc))
        else:
            conds.append(lc == rc)
    return functools.reduce(lambda a, b: a & b, conds) if conds else F.lit(True)


def leftjoin_bindings(left: Bindings, right: Bindings) -> Bindings:
    """SPARQL OPTIONAL: keep every left solution, extend with compatible
    right solutions where they exist (left outer join). Right-only
    variables become maybe-UNDEF. The common all-bound case is a plain
    equi left join (Catalyst picks broadcast/SMJ); the UNDEF-wildcard and
    no-shared-vars cases take the theta path with the (small) right side
    broadcast."""
    shared = sorted(left.vars & right.vars)
    nullable_shared = [c for c in shared if c in left.maybe_null or c in right.maybe_null]
    right_only = sorted(right.vars - left.vars)
    if shared and not nullable_shared:
        df = left.df.join(right.df, on=shared, how="left")
        return Bindings(
            df, left.maybe_null | set(right_only) | (right.maybe_null - set(shared))
        )
    l = left.df.alias("__l")
    r = F.broadcast(right.df.alias("__r"))
    joined = l.join(r, on=_compat_cond(shared, nullable_shared), how="left")
    sel: list[Column] = []
    still_null: set[str] = set(right_only)
    for c in sorted(left.vars | right.vars):
        if c in left.vars and c in right.vars:
            sel.append(F.coalesce(F.col(f"__l.{c}"), F.col(f"__r.{c}")).alias(c))
            if c in left.maybe_null:
                still_null.add(c)
        elif c in left.vars:
            sel.append(F.col(f"__l.{c}").alias(c))
            if c in left.maybe_null:
                still_null.add(c)
        else:
            sel.append(F.col(f"__r.{c}").alias(c))
    return Bindings(joined.select(*sel), frozenset(still_null))


def minus_bindings(left: Bindings, right: Bindings) -> Bindings:
    """SPARQL MINUS: drop left solutions that are compatible with some
    right solution AND share at least one mutually-bound variable
    (disjoint domains remove nothing). All-bound case = hash anti-join."""
    shared = sorted(left.vars & right.vars)
    if not shared:
        return left
    nullable_shared = [c for c in shared if c in left.maybe_null or c in right.maybe_null]
    if not nullable_shared:
        df = left.df.join(right.df.select(*shared), on=shared, how="left_anti")
        return Bindings(df, left.maybe_null)
    compat = _compat_cond(shared, nullable_shared)
    overlap = functools.reduce(
        lambda a, b: a | b,
        [F.col(f"__l.{c}").isNotNull() & F.col(f"__r.{c}").isNotNull() for c in shared],
    )
    l = left.df.alias("__l")
    r = F.broadcast(right.df.select(*shared).alias("__r"))
    return Bindings(l.join(r, on=compat & overlap, how="left_anti"), left.maybe_null)


def exists_bindings(left: Bindings, right: Bindings, negated: bool) -> Bindings:
    """FILTER [NOT] EXISTS: keep (drop) left solutions having a compatible
    right solution — a semi (anti) join; with no shared variables the test
    degenerates to 'right is non-empty'."""
    how = "left_anti" if negated else "left_semi"
    shared = sorted(left.vars & right.vars)
    if not shared:
        l = left.df.alias("__l")
        r = F.broadcast(right.df.limit(1).select().alias("__r"))
        return Bindings(l.join(r, on=F.lit(True), how=how), left.maybe_null)
    nullable_shared = [c for c in shared if c in left.maybe_null or c in right.maybe_null]
    if not nullable_shared:
        df = left.df.join(right.df.select(*shared), on=shared, how=how)
        return Bindings(df, left.maybe_null)
    l = left.df.alias("__l")
    r = F.broadcast(right.df.select(*shared).alias("__r"))
    return Bindings(
        l.join(r, on=_compat_cond(shared, nullable_shared), how=how), left.maybe_null
    )


class DatasetView:
    """FROM / FROM NAMED visibility (reference engine.rs:31-209):
    - FROM graphs form the *replacement* default graph: their RDF merge,
      deduplicated (engine.rs:994-1023, dataset_index.rs:207-221).
    - FROM NAMED restricts which named graphs GRAPH sees.
    - FROM NAMED alone => empty default graph."""

    def __init__(self, store, from_graphs: list[str], from_named: list[str]):
        self.store = store
        self.from_graphs = from_graphs
        self.from_named = from_named

    def default_df(self) -> DataFrame:
        q = self.store.quads
        if self.from_graphs:
            return (
                q.filter(F.col("g").isin(self.from_graphs))
                .select("s", "p", "o")
                .dropDuplicates()
                .withColumn("g", F.lit(None).cast("string"))
            )
        if self.from_named:
            return q.filter(F.lit(False))
        return q.filter(F.col("g").isNull())

    def named_df(self) -> DataFrame:
        q = self.store.quads
        if self.from_named:
            return q.filter(F.col("g").isin(self.from_named))
        if self.from_graphs:
            # dataset clause present without FROM NAMED => no named graphs
            return q.filter(F.lit(False))
        return q.filter(F.col("g").isNotNull())

    def named_graph_names(self) -> DataFrame:
        if self.from_named:
            return local_df(self.store.spark, [(g,) for g in self.from_named], ["g"])
        if self.from_graphs:
            return local_df(self.store.spark, [], ["g"])
        return self.store.named_graph_names()


class Compiler:
    def __init__(self, store):
        self.store = store
        self.spark = store.spark

    # ---------------------------------------------------------------- entry
    def compile_select(self, q: ast.SelectQuery) -> DataFrame:
        view = DatasetView(self.store, q.from_graphs, q.from_named)
        b = self.compile_group(q.where, view, active_graph=None)
        if q.trailing_values is not None and not self._query_aggregates(q):
            # no aggregation: joining the query-level VALUES onto the
            # group result is spec order (§18.2.4.5) already
            b = join_bindings(b, self._values(q.trailing_values))
        return self._apply_modifiers(q, b)

    @staticmethod
    def _query_aggregates(q: ast.SelectQuery) -> bool:
        return bool(
            q.group_by
            or q.having is not None
            or any(isinstance(i, ast.Aggregate) for i in q.select)
        )

    def compile_construct(self, q: "ast.ConstructQuery") -> DataFrame:
        """CONSTRUCT (SPARQL 1.1 extension): the WHERE bindings instantiate
        the template via the same distributed machinery as SPARQL Update
        templates; instantiations with unbound components are skipped
        (illegal RDF) and the result is a deduplicated (s, p, o, g) graph.
        Quoted-triple template terms surface as their surrogate ids; the
        accompanying surrogate rows are registered in the store so the
        ids remain dereferenceable."""
        from kolibrie_spark.sparql.update import _instantiate

        view = DatasetView(self.store, q.from_graphs, q.from_named)
        b = self.compile_group(q.where, view, active_graph=None)
        quads, quoted = _instantiate(self, b, q.template, fresh_blanks=False)
        if quads is None:
            raise CompileError("CONSTRUCT needs a non-empty template")
        if quoted is not None:
            self.store.insert_quoted(quoted)
        return quads

    def compile_ask(self, q: "ast.AskQuery") -> DataFrame:
        """ASK (SPARQL 1.1 extension): one boolean row, lazily — LIMIT 1
        stops the scan at the first solution."""
        view = DatasetView(self.store, q.from_graphs, q.from_named)
        b = self.compile_group(q.where, view, active_graph=None)
        return (
            b.df.limit(1)
            .agg(F.count(F.lit(1)).alias("__c"))
            .select((F.col("__c") > 0).alias("ask"))
        )

    def compile_describe(self, q: "ast.DescribeQuery") -> DataFrame:
        """DESCRIBE (SPARQL 1.1 extension): simple subject-outbound
        description of ground IRIs over the default graph — a
        partition-prunable IN-filter scan."""
        values = [self._ground_term_value(t) for t in q.iris]
        view = DatasetView(self.store, [], [])
        return (
            view.default_df()
            .filter(F.col("s").isin(values))
            .select("s", "p", "o")
            .dropDuplicates()
        )

    # ----------------------------------------------------solution modifiers
    def _apply_modifiers(self, q: ast.SelectQuery, b: Bindings) -> DataFrame:
        df = b.df
        aggs = [i for i in q.select if isinstance(i, ast.Aggregate)]
        plain = [i.name for i in q.select if isinstance(i, ast.Var)]
        pexprs = [i for i in q.select if isinstance(i, ast.ProjExpr)]
        group_vars = [v.name for v in q.group_by]

        if aggs or group_vars:
            agg_exprs = [self._agg_expr(a, df) for a in aggs]
            # non-grouped, non-aggregated projected vars carried as
            # first-of-group (reference execute_query.rs:466-471)
            # vars absent from the pattern stay ABSENT (unbound), not
            # null-valued columns — a manufactured NULL column would
            # equi-join against a trailing VALUES binding and drop rows
            agg_exprs += [
                F.first(self._var_col(df, v)).alias(v)
                for v in plain
                if v not in group_vars and v in df.columns
            ]
            hidden: list[ast.Aggregate] = []
            if q.having is not None:
                # aggregates inside HAVING compile as hidden agg columns
                # (reusing a projected aggregate's alias when one matches),
                # filtered after the groupBy and dropped before projection
                having_expr, extra = self._rewrite_having(q.having, aggs, "__having")
                agg_exprs += [self._agg_expr(a, df) for a in extra]
                hidden += extra
            # expression projections in aggregation context: aggregate
            # calls inside the expression compile the same way as HAVING
            pexpr_rewritten: list[tuple[str, ast.Expr]] = []
            for i, pe in enumerate(pexprs):
                rewritten, extra = self._rewrite_having(pe.expr, aggs, f"__px{i}")
                agg_exprs += [self._agg_expr(a, df) for a in extra]
                hidden += extra
                pexpr_rewritten.append((pe.alias, rewritten))
            gcols = [self._var_col(df, v).alias(v) for v in group_vars]
            df = df.groupBy(*gcols).agg(*agg_exprs) if gcols else df.agg(*agg_exprs)
            if q.having is not None:
                df = df.filter(
                    self.compile_expr(having_expr, Bindings(df), as_bool=True)
                )
            if q.trailing_values is not None:
                # spec §18.2.4.5: the query-level VALUES joins AFTER
                # grouping/aggregation (and HAVING), before projection
                # expressions — ADVICE r6: the old fold-into-WHERE
                # placement made GROUP BY group over the VALUES join,
                # which is non-conformant
                df = join_bindings(
                    Bindings(df), self._values(q.trailing_values)
                ).df
            for alias, rewritten in pexpr_rewritten:
                df = df.withColumn(
                    alias,
                    self.compile_expr(rewritten, Bindings(df)).cast("string"),
                )
            if hidden:
                df = df.drop(*[a.alias for a in hidden])
        elif pexprs:
            for pe in pexprs:
                df = df.withColumn(
                    pe.alias,
                    self.compile_expr(pe.expr, Bindings(df)).cast("string"),
                )

        if q.star:
            out_cols = sorted(b.vars) if not (aggs or group_vars) else list(df.columns)
        else:
            out_cols = [
                i.name if isinstance(i, ast.Var) else i.alias for i in q.select
            ]

        if q.order_by and not q.distinct:
            keys: list[Column] = []
            for var, asc in q.order_by:
                keys.extend(self._order_key_cols(df, var, asc))
            df = df.orderBy(*keys)

        numeric_out = {
            a.alias for a in aggs if a.func not in ("GROUP_CONCAT", "SAMPLE")
        }
        proj: list[Column] = []
        for c in out_cols:
            if c in df.columns:
                col = F.col(c)
                if c not in numeric_out:
                    # unbound decodes to "" (execute_query.rs:306-317)
                    col = F.coalesce(col, F.lit(""))
                proj.append(col.alias(c))
            else:
                proj.append(F.lit("").alias(c))
        df = df.select(*proj)

        if q.distinct:
            # dedup first, then sort — sorting before dropDuplicates loses the
            # ordering. SPARQL requires DISTINCT's ORDER BY vars be projected;
            # a non-projected key cannot be honored post-dedup, so reject it.
            df = df.dropDuplicates()
            if q.order_by:
                keys = []
                for var, asc in q.order_by:
                    if isinstance(var, ast.Var) and var.name not in df.columns:
                        raise CompileError(
                            f"ORDER BY ?{var.name} with SELECT DISTINCT requires "
                            "the variable to be projected"
                        )
                    keys.extend(self._order_key_cols(df, var, asc))
                df = df.orderBy(*keys)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _var_col(self, df: DataFrame, name: str) -> Column:
        return F.col(name) if name in df.columns else F.lit(None).cast("string")

    def _order_key_cols(self, df: DataFrame, key, asc: bool) -> list[Column]:
        """Sort keys for an ORDER BY entry: a bare variable keeps the
        numeric-else-lexical contract; an expression key (SPARQL 1.1
        extension) compiles over the current columns and sorts the same
        way."""
        if isinstance(key, ast.Var):
            return compare.order_keys(self._var_col(df, key.name), asc)
        col = self.compile_expr(key, Bindings(df)).cast("string")
        return compare.order_keys(col, asc)

    def _rewrite_having(
        self, e: ast.Expr, aggs: list[ast.Aggregate], prefix: str = "__having"
    ) -> tuple[ast.Expr, list[ast.Aggregate]]:
        """Replace aggregate calls inside a HAVING constraint with variable
        references: a call matching a projected aggregate reuses its alias;
        otherwise a hidden aggregate column is added (returned in the
        second element) and dropped after the filter."""
        extra: list[ast.Aggregate] = []

        def walk(x: ast.Expr) -> ast.Expr:
            if isinstance(x, ast.FuncCall) and x.name in (
                "SUM", "MIN", "MAX", "AVG", "COUNT", "GROUP_CONCAT", "SAMPLE"
            ):
                if len(x.args) == 1 and isinstance(x.args[0], ast.TermExpr) \
                        and isinstance(x.args[0].term, ast.Var):
                    argv = x.args[0].term.name
                else:
                    raise CompileError(
                        f"HAVING {x.name}(...) takes a single variable"
                    )
                for a in aggs:
                    if a.func == x.name and a.arg is not None \
                            and a.arg.name == argv and not a.distinct:
                        return ast.TermExpr(ast.Var(a.alias))
                hidden = ast.Aggregate(
                    func=x.name, arg=ast.Var(argv),
                    alias=f"{prefix}_{len(extra)}",
                )
                extra.append(hidden)
                return ast.TermExpr(ast.Var(hidden.alias))
            if isinstance(x, ast.Cmp):
                return ast.Cmp(walk(x.left), x.op, walk(x.right))
            if isinstance(x, ast.And):
                return ast.And(walk(x.left), walk(x.right))
            if isinstance(x, ast.Or):
                return ast.Or(walk(x.left), walk(x.right))
            if isinstance(x, ast.Not):
                return ast.Not(walk(x.expr))
            if isinstance(x, ast.Arith):
                return ast.Arith(x.op, walk(x.left), walk(x.right))
            return x

        return walk(e), extra

    def _agg_expr(self, a: ast.Aggregate, df: DataFrame) -> Column:
        if a.func == "COUNT":
            if a.arg is None:
                return F.count(F.lit(1)).alias(a.alias)
            c = self._var_col(df, a.arg.name)
            return (F.count_distinct(c) if a.distinct else F.count(c)).alias(a.alias)
        if a.arg is None:
            raise CompileError(f"{a.func}(*) is not defined")
        if a.func == "GROUP_CONCAT":
            # SPARQL leaves GROUP_CONCAT order implementation-defined; this
            # engine DEFINES it as sorted-by-value so the result is
            # deterministic across partitionings and engines
            c = self._var_col(df, a.arg.name).cast("string")
            coll = F.collect_set(c) if a.distinct else F.collect_list(c)
            return F.array_join(F.array_sort(coll), a.separator).alias(a.alias)
        if a.func == "SAMPLE":
            # deterministic SAMPLE: the minimum value (any stable choice
            # satisfies SPARQL; min is reproducible and oracle-checkable)
            c = self._var_col(df, a.arg.name)
            return F.min(c).alias(a.alias)
        # numeric aggregation over f64-parsed values; non-numeric rows are
        # skipped because try_cast yields NULL (execute_query.rs:432-464)
        c = compare.num(self._var_col(df, a.arg.name))
        if a.distinct:
            if a.func != "SUM":
                raise CompileError(f"DISTINCT {a.func} not in the fragment")
            return F.sum_distinct(c).alias(a.alias)
        fn = {"SUM": F.sum, "MIN": F.min, "MAX": F.max, "AVG": F.avg}[a.func]
        return fn(c).alias(a.alias)

    # -------------------------------------------------------- group pattern
    def compile_group(
        self,
        group: ast.Group,
        view: DatasetView,
        active_graph: ast.Iri | ast.Var | None,
    ) -> Bindings:
        # b stays None until the first contributing element: seeding with the
        # unit sequence would wrap every query in a needless cross join
        # (observed as a BroadcastNestedLoopJoin at the head of each plan)
        b: Bindings | None = None

        def absorb(nxt: Bindings) -> None:
            nonlocal b
            b = nxt if b is None else join_bindings(b, nxt)

        filters: list[ast.Filter] = []
        for el in group.elements:
            if isinstance(el, ast.TriplePattern):
                absorb(self._scan(el, view, active_graph))
            elif isinstance(el, ast.Filter):
                filters.append(el)  # group-scoped: applied once group is built
            elif isinstance(el, ast.Bind):
                if b is None:
                    b = unit_bindings(self.spark)
                b = self._bind(el, b)
            elif isinstance(el, ast.ValuesBlock):
                absorb(self._values(el))
            elif isinstance(el, ast.GraphBlock):
                absorb(self._graph_block(el, view))
            elif isinstance(el, ast.UnionBlock):
                branches = [
                    self.compile_group(br, view, active_graph) for br in el.branches
                ]
                absorb(self._union(branches))
            elif isinstance(el, ast.SubSelect):
                absorb(Bindings(self.compile_select(el.query)))
            elif isinstance(el, ast.PathPattern):
                absorb(self._path_pattern(el, view, active_graph))
            elif isinstance(el, ast.OptionalBlock):
                right = self.compile_group(el.group, view, active_graph)
                b = leftjoin_bindings(
                    b if b is not None else unit_bindings(self.spark), right
                )
            elif isinstance(el, ast.MinusBlock):
                right = self.compile_group(el.group, view, active_graph)
                b = minus_bindings(
                    b if b is not None else unit_bindings(self.spark), right
                )
            else:  # pragma: no cover
                raise CompileError(f"unsupported group element {el!r}")
        if b is None:
            b = unit_bindings(self.spark)
        for f in filters:
            if isinstance(f.expr, ast.Exists):
                right = self.compile_group(f.expr.group, view, active_graph)
                b = exists_bindings(b, right, f.expr.negated)
                continue
            cond = self.compile_expr(f.expr, b, as_bool=True)
            b = Bindings(b.df.filter(cond), b.maybe_null)
        return b

    def _union(self, branches: list[Bindings]) -> Bindings:
        if len(branches) == 1:
            return branches[0]
        all_vars = set().union(*(br.vars for br in branches))
        maybe_null = set().union(*(br.maybe_null for br in branches))
        for br in branches:
            maybe_null |= all_vars - br.vars
        df = branches[0].df
        for br in branches[1:]:
            df = df.unionByName(br.df, allowMissingColumns=True)
        return Bindings(df, frozenset(maybe_null))

    def _values(self, v: ast.ValuesBlock) -> Bindings:
        names = [var.name for var in v.vars]
        rows = [
            tuple(None if t is None else self._ground_term_value(t) for t in row)
            for row in v.rows
        ]
        df = local_df(self.spark, rows, names)
        maybe_null = frozenset(
            n for idx, n in enumerate(names) if any(r[idx] is None for r in rows)
        )
        return Bindings(df, maybe_null)

    def _graph_block(self, gb: ast.GraphBlock, view: DatasetView) -> Bindings:
        if isinstance(gb.graph, ast.Iri):
            return self.compile_group(gb.group, view, active_graph=gb.graph)
        # GRAPH ?g: bind the graph variable. If the inner group has no quad
        # patterns, ?g still ranges over every visible named graph, including
        # empty ones (identity from the catalog, engine.rs:871-916).
        inner = self.compile_group(gb.group, view, active_graph=gb.graph)
        if self._group_has_patterns(gb.group):
            return inner
        names = Bindings(view.named_graph_names().withColumnRenamed("g", gb.graph.name))
        return join_bindings(names, inner)

    def _group_has_patterns(self, group: ast.Group) -> bool:
        for el in group.elements:
            if isinstance(el, ast.TriplePattern):
                return True
            if isinstance(el, ast.GraphBlock) and self._group_has_patterns(el.group):
                return True
            if isinstance(el, ast.UnionBlock) and any(
                self._group_has_patterns(br) for br in el.branches
            ):
                return True
        return False

    # --------------------------------------------------------------- scans
    def _scan(
        self,
        pat: ast.TriplePattern,
        view: DatasetView,
        active_graph: ast.Iri | ast.Var | None,
    ) -> Bindings:
        """One triple pattern → filtered projection of the quads table.

        Constants become pushed-down predicates (they reach the parquet
        scan); variables become column aliases. The reference's IndexScan/
        TableScan distinction (optimizer.rs:579-603) is predicate pushdown +
        partition pruning here.
        """
        if active_graph is None:
            df = view.default_df()
        elif isinstance(active_graph, ast.Iri):
            df = view.named_df().filter(F.col("g") == active_graph.value)
        else:
            df = view.named_df()

        out: list[Column] = []
        seen: dict[str, str] = {}
        conds: list[Column] = []
        qt_terms: list[tuple[str, ast.QuotedTriple]] = []

        for pos, term in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
            if isinstance(term, ast.Var):
                if term.name in seen:
                    conds.append(F.col(pos) == F.col(seen[term.name]))
                else:
                    seen[term.name] = pos
                    out.append(F.col(pos).alias(term.name))
            elif isinstance(term, ast.QuotedTriple) and self._qt_has_vars(term):
                tmp = f"__qt_{pos}"
                qt_terms.append((tmp, term))
                out.append(F.col(pos).alias(tmp))
            else:
                conds.append(F.col(pos) == F.lit(self._ground_term_value(term)))

        if isinstance(active_graph, ast.Var):
            if active_graph.name in seen:
                conds.append(F.col("g") == F.col(seen[active_graph.name]))
            else:
                seen[active_graph.name] = "g"
                out.append(F.col("g").alias(active_graph.name))

        for c in conds:
            df = df.filter(c)
        if out:
            b = Bindings(df.select(*out))
        else:
            # fully-ground pattern: existence check — 0-column frame with
            # <=1 row; join_bindings' cross join preserves the semantics
            b = Bindings(df.limit(1).select())
        for tmp, qt in qt_terms:
            b = rdfstar.match_quoted(self, b, tmp, qt)
        return b

    # ------------------------------------------------------ property paths
    def _path_edges(
        self,
        path,
        view: DatasetView,
        active_graph: ast.Iri | ast.Var | None,
    ) -> DataFrame:
        """Evaluate a path expression to its edge set — a 2-column
        DataFrame (__src, __dst). Leaves reuse _scan, so constant
        predicates stay pushed down / partition-pruned; sequence = join,
        alternative = union, inverse = column swap, '+' = the distinct
        pairs of reasoner.closure's doubling, in log rounds."""
        if isinstance(path, ast.Iri):
            pat = ast.TriplePattern(ast.Var("__src"), path, ast.Var("__dst"))
            return self._scan(pat, view, active_graph).df
        if isinstance(path, ast.PathInverse):
            e = self._path_edges(path.inner, view, active_graph)
            return e.select(
                F.col("__dst").alias("__src"), F.col("__src").alias("__dst")
            )
        if isinstance(path, ast.PathSeq):
            e = self._path_edges(path.parts[0], view, active_graph)
            for part in path.parts[1:]:
                nxt = self._path_edges(part, view, active_graph).select(
                    F.col("__src").alias("__mid"), F.col("__dst").alias("__nxt")
                )
                e = (
                    e.join(nxt, on=F.col("__dst") == F.col("__mid"))
                    .select(F.col("__src"), F.col("__nxt").alias("__dst"))
                )
            return e
        if isinstance(path, ast.PathAlt):
            parts = [self._path_edges(p, view, active_graph) for p in path.parts]
            e = parts[0]
            for p in parts[1:]:
                e = e.unionByName(p)
            return e
        if isinstance(path, ast.PathNeg):
            # negated property set (SPARQL 1.1 §9.1): NPS(forward) ∪
            # ^NPS(inverse). One var-predicate scan per direction with a
            # NOT IN filter — the filter stays at the scan (no join), and
            # each branch appears once per matching edge (bag semantics).
            branches: list[DataFrame] = []
            if path.forward or not path.inverse:
                pat = ast.TriplePattern(
                    ast.Var("__src"), ast.Var("__negp"), ast.Var("__dst")
                )
                e = self._scan(pat, view, active_graph).df
                if path.forward:
                    e = e.filter(
                        ~F.col("__negp").isin(
                            [self._ground_term_value(i) for i in path.forward]
                        )
                    )
                branches.append(e.select("__src", "__dst"))
            if path.inverse:
                pat = ast.TriplePattern(
                    ast.Var("__dst"), ast.Var("__negp"), ast.Var("__src")
                )
                e = self._scan(pat, view, active_graph).df
                e = e.filter(
                    ~F.col("__negp").isin(
                        [self._ground_term_value(i) for i in path.inverse]
                    )
                )
                branches.append(e.select("__src", "__dst"))
            out = branches[0]
            for b2 in branches[1:]:
                out = out.unionByName(b2)
            return out
        if isinstance(path, ast.PathPlus):
            inner = self._path_edges(path.inner, view, active_graph)
            return transitive_closure(inner, "__src", "__dst")
        raise CompileError(
            f"unsupported path element {path!r} — IRI leaves only; "
            "zero-length forms (*, ?) are supported solely as the outermost "
            "path with a ground endpoint"
        )

    def _unit_df(self) -> DataFrame:
        """One row, no columns: the 'pattern matched, nothing bound' unit."""
        return self.store.spark.range(1).select()

    def _reachable_from(self, edges: DataFrame, start_value: str) -> DataFrame:
        """Nodes reachable from one ground node (1 column __dst): a
        semi-naive fixpoint keyed on __dst whose step joins only the last
        round's new nodes to the edges. Linear in edges touched, unlike
        the full O(V^2)-pairs closure; this is what makes a ground-endpoint
        `+` path viable at scale. A shortest path uses each edge at most
        once, so the edge count bounds the rounds."""
        obs = Observation()
        edges = (
            edges.distinct().observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        )
        hops = edges.select(F.col("__src").alias("__mid"), F.col("__dst").alias("__nxt"))

        def step(_facts: DataFrame, delta: DataFrame) -> DataFrame:
            return delta.join(hops, F.col("__dst") == F.col("__mid")).select(F.col("__nxt").alias("__dst"))

        seed = edges.filter(F.col("__src") == start_value).select("__dst")
        nodes, _ = fixpoint(seed, step, ["__dst"], max_iter=obs.get["n"])
        return nodes

    def _path_pattern(
        self,
        el: ast.PathPattern,
        view: DatasetView,
        active_graph: ast.Iri | ast.Var | None,
    ) -> Bindings:
        s_ground = not isinstance(el.s, ast.Var)
        o_ground = not isinstance(el.o, ast.Var)
        if isinstance(el.path, (ast.PathPlus, ast.PathStar)) and (
            s_ground or o_ground
        ):
            # seeded BFS from a ground end (inverse edges when the object
            # end is the ground one); `*` additionally includes the start
            # term itself (zero-length path). Linear in touched edges.
            zero = isinstance(el.path, ast.PathStar)
            inner = el.path.inner if s_ground else ast.PathInverse(el.path.inner)
            start = el.s if s_ground else el.o
            other = el.o if s_ground else el.s
            start_v = self._ground_term_value(start)
            if s_ground and o_ground:
                if zero and start_v == self._ground_term_value(el.o):
                    return Bindings(self._unit_df())
                edges = self._path_edges(el.path.inner, view, active_graph)
                nodes = self._reachable_from(edges, start_v)
                return Bindings(
                    nodes.filter(
                        F.col("__dst") == self._ground_term_value(el.o)
                    ).limit(1).select()
                )
            edges = self._path_edges(inner, view, active_graph)
            nodes = self._reachable_from(edges, start_v)
            if zero:
                nodes = nodes.unionByName(
                    local_df(self.store.spark, [(start_v,)], ["__dst"])
                ).dropDuplicates()
            if isinstance(other, ast.Var):
                return Bindings(nodes.select(F.col("__dst").alias(other.name)))
            return Bindings(
                nodes.filter(
                    F.col("__dst") == self._ground_term_value(other)
                ).limit(1).select()
            )
        if isinstance(el.path, ast.PathOpt):
            if not (s_ground or o_ground):
                raise CompileError(
                    "zero-length path forms (*, ?) need a ground endpoint — "
                    "the var-var zero-length semantics (every term paired "
                    "with itself) does not scale"
                )
            inner = el.path.inner if s_ground else ast.PathInverse(el.path.inner)
            start = el.s if s_ground else el.o
            other = el.o if s_ground else el.s
            start_v = self._ground_term_value(start)
            if s_ground and o_ground:
                if start_v == self._ground_term_value(el.o):
                    return Bindings(self._unit_df())
                hit = (
                    self._path_edges(el.path.inner, view, active_graph)
                    .filter(
                        (F.col("__src") == start_v)
                        & (F.col("__dst") == self._ground_term_value(el.o))
                    )
                    .limit(1)
                )
                return Bindings(hit.select())
            direct = (
                self._path_edges(inner, view, active_graph)
                .filter(F.col("__src") == start_v)
                .select("__dst")
                .unionByName(
                    local_df(self.store.spark, [(start_v,)], ["__dst"])
                )
                .dropDuplicates()
            )
            if isinstance(other, ast.Var):
                return Bindings(direct.select(F.col("__dst").alias(other.name)))
            return Bindings(direct.limit(1).select())
        if isinstance(el.path, (ast.PathStar, ast.PathOpt)):
            raise CompileError(
                "zero-length path forms (*, ?) need a ground endpoint — "
                "the var-var zero-length semantics (every term paired "
                "with itself) does not scale"
            )
        df = self._path_edges(el.path, view, active_graph)
        out: list[Column] = []
        seen: dict[str, str] = {}
        for pos, term in (("__src", el.s), ("__dst", el.o)):
            if isinstance(term, ast.Var):
                if term.name in seen:
                    df = df.filter(F.col(pos) == F.col(seen[term.name]))
                else:
                    seen[term.name] = pos
                    out.append(F.col(pos).alias(term.name))
            else:
                df = df.filter(F.col(pos) == F.lit(self._ground_term_value(term)))
        if out:
            return Bindings(df.select(*out))
        return Bindings(df.limit(1).select())

    def _qt_has_vars(self, qt: ast.QuotedTriple) -> bool:
        for t in (qt.s, qt.p, qt.o):
            if isinstance(t, ast.Var):
                return True
            if isinstance(t, ast.QuotedTriple) and self._qt_has_vars(t):
                return True
        return False

    # ----------------------------------------------------------------- BIND
    def _bind(self, el: ast.Bind, b: Bindings) -> Bindings:
        e = el.expr
        # component extraction needs a join, not a scalar expression
        if isinstance(e, ast.FuncCall) and e.name in ("SUBJECT", "PREDICATE", "OBJECT"):
            if len(e.args) != 1:
                raise CompileError(f"{e.name} takes one argument")
            arg = e.args[0]
            if isinstance(arg, ast.TermExpr) and isinstance(arg.term, ast.Var):
                return rdfstar.bind_component(self, b, arg.term.name, e.name, el.var.name)
            tmp = "__qt_arg"
            df = b.df.withColumn(tmp, self.compile_expr(arg, b))
            nb = rdfstar.bind_component(
                self, Bindings(df, b.maybe_null), tmp, e.name, el.var.name
            )
            return Bindings(nb.df.drop(tmp), nb.maybe_null)
        col = self.compile_expr(e, b)
        return Bindings(b.df.withColumn(el.var.name, col.cast("string")), b.maybe_null)

    # ---------------------------------------------------------- expressions
    def _ground_term_value(self, term: ast.Term) -> str:
        if isinstance(term, ast.Iri):
            return term.value
        if isinstance(term, ast.Lit):
            return term.value
        if isinstance(term, ast.BlankNode):
            return "_:" + term.label
        if isinstance(term, ast.QuotedTriple):
            return rdfstar.ground_quoted_id(self, term)
        raise CompileError(f"not a ground term: {term!r}")

    def compile_expr(self, e: ast.Expr, b: Bindings, as_bool: bool = False) -> Column:
        if isinstance(e, ast.TermExpr):
            if isinstance(e.term, ast.Var):
                col = (
                    F.col(e.term.name)
                    if e.term.name in b.vars
                    else F.lit(None).cast("string")
                )
            else:
                col = F.lit(self._ground_term_value(e.term))
            if as_bool:
                # bare expression in FILTER is truthy when numeric and != 0
                # (reference types.rs:373-457 ArithmeticExpr handling)
                n = compare.num(col)
                return n.isNotNull() & (n != 0)
            return col
        if isinstance(e, ast.Cmp):
            return compare.compare(
                self.compile_expr(e.left, b), e.op, self.compile_expr(e.right, b)
            )
        if isinstance(e, ast.And):
            return self.compile_expr(e.left, b, as_bool=True) & self.compile_expr(
                e.right, b, as_bool=True
            )
        if isinstance(e, ast.Or):
            return self.compile_expr(e.left, b, as_bool=True) | self.compile_expr(
                e.right, b, as_bool=True
            )
        if isinstance(e, ast.Not):
            return ~self.compile_expr(e.expr, b, as_bool=True)
        if isinstance(e, ast.Arith):
            ln = compare.num(self.compile_expr(e.left, b))
            rn = compare.num(self.compile_expr(e.right, b))
            if e.op == "+":
                col = ln + rn
            elif e.op == "-":
                col = ln - rn
            elif e.op == "*":
                col = ln * rn
            else:
                # division by zero evaluates to error → false in FILTER
                # (shared/src/query.rs:24-57); NULL gives exactly that
                col = F.when(rn != 0, ln / rn)
            if as_bool:
                return col.isNotNull() & (col != 0)
            return col
        if isinstance(e, ast.FuncCall):
            return self._func_call(e, b, as_bool=as_bool)
        raise CompileError(f"unsupported expression {e!r}")

    def _func_call(self, e: ast.FuncCall, b: Bindings, as_bool: bool) -> Column:
        name = e.name
        if name == "CONCAT":
            args = [self.compile_expr(a, b) for a in e.args]
            return F.concat(*[a.cast("string") for a in args])
        if name == "TRIPLE":
            if len(e.args) != 3:
                raise CompileError("TRIPLE takes three arguments")
            s, p, o = [self.compile_expr(a, b).cast("string") for a in e.args]
            return rdfstar.qt_id_col(s, p, o)
        if name == "ISTRIPLE":
            if len(e.args) != 1:
                raise CompileError("isTRIPLE takes one argument")
            col = rdfstar.is_qt_col(self.compile_expr(e.args[0], b))
            return col if as_bool else col.cast("string")
        if name in ("SUBJECT", "PREDICATE", "OBJECT"):
            raise CompileError(f"{name} is only supported in BIND(... AS ?v)")
        if name in _STRING_FUNCS:
            return self._string_func(name, e, b, as_bool)
        if name in self.store.udfs:
            args = [self.compile_expr(a, b).cast("string") for a in e.args]
            return self.store.udfs[name](*args)
        raise CompileError(f"unknown function {name!r}")

    def _string_func(
        self, name: str, e: ast.FuncCall, b: Bindings, as_bool: bool
    ) -> Column:
        """SPARQL 1.1 string/numeric/functional builtins (extensions beyond
        the reference grammar; value-space semantics on this engine's
        string-valued terms)."""

        def arg(i: int) -> Column:
            return self.compile_expr(e.args[i], b)

        def need(n: int, m: int | None = None) -> None:
            lo, hi = n, (m if m is not None else n)
            if not (lo <= len(e.args) <= hi):
                raise CompileError(f"{name} takes {lo}..{hi} arguments")

        def boolish(col: Column) -> Column:
            return col if as_bool else col.cast("string")

        if name == "STR":
            need(1)
            return arg(0).cast("string")
        if name == "STRLEN":
            need(1)
            return F.length(arg(0).cast("string"))
        if name == "UCASE":
            need(1)
            return F.upper(arg(0).cast("string"))
        if name == "LCASE":
            need(1)
            return F.lower(arg(0).cast("string"))
        if name == "SUBSTR":
            need(2, 3)
            s = arg(0).cast("string")
            pos = compare.num(arg(1)).cast("int")
            length = (
                compare.num(arg(2)).cast("int") if len(e.args) == 3
                else F.length(s)
            )
            return F.substring(s, pos, length)
        if name == "CONTAINS":
            need(2)
            return boolish(arg(0).cast("string").contains(arg(1).cast("string")))
        if name == "STRSTARTS":
            need(2)
            return boolish(arg(0).cast("string").startswith(arg(1).cast("string")))
        if name == "STRENDS":
            need(2)
            return boolish(arg(0).cast("string").endswith(arg(1).cast("string")))
        if name == "REPLACE":
            need(3)
            return F.regexp_replace(
                arg(0).cast("string"), arg(1).cast("string"), arg(2).cast("string")
            )
        if name == "REGEX":
            need(2, 3)
            pat = arg(1).cast("string")
            if len(e.args) == 3:
                # only the "i" flag of the SPARQL flag set is supported
                pat = F.concat(
                    F.when(arg(2).cast("string") == "i", F.lit("(?i)"))
                    .otherwise(F.lit("")),
                    pat,
                )
            return boolish(F.regexp_like(arg(0).cast("string"), pat))
        if name == "COALESCE":
            need(1, 99)
            return F.coalesce(*[arg(i).cast("string") for i in range(len(e.args))])
        if name == "IF":
            need(3)
            cond = self.compile_expr(e.args[0], b, as_bool=True)
            return F.when(cond, arg(1).cast("string")).otherwise(arg(2).cast("string"))
        if name == "BOUND":
            need(1)
            return boolish(arg(0).isNotNull())
        if name in ("ABS", "ROUND", "CEIL", "FLOOR"):
            need(1)
            n = compare.num(arg(0))
            fn = {"ABS": F.abs, "ROUND": F.round, "CEIL": F.ceil, "FLOOR": F.floor}[name]
            return fn(n)
        if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            # SPARQL datetime accessors over the engine's lexical timestamp
            # values ('yyyy-MM-dd[ HH:mm:ss]'); unparsable values yield NULL
            # (error -> false in FILTER, the house error semantics)
            need(1)
            ts = F.try_to_timestamp(arg(0).cast("string"))
            fn = {
                "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second,
            }[name]
            return fn(ts)
        raise CompileError(f"unknown function {name!r}")  # pragma: no cover
