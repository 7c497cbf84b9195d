"""The reference's lexical/untyped comparison semantics, centralized.

The reference strips datatypes and compares lexical forms: ``=``/``!=`` are
id (string) equality; ``<, <=, >, >=`` parse both sides as f64 and the
comparison is false when either side fails to parse
(kolibrie/src/streamertail_optimizer/types.rs:349-410). ORDER BY compares
numerically when both sides parse, else lexicographically
(kolibrie/src/execute_query.rs:483-488). Aggregates parse values as f64 and
skip non-numeric rows (execute_query.rs:432-464).

All of these are expressed as Catalyst column expressions (``try_cast`` +
``coalesce``) so they stay inside whole-stage codegen — no Python UDFs in
the comparison hot path.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F


def num(col: Column) -> Column:
    """Lexical value parsed as double, NULL when it does not parse."""
    return col.try_cast("double")


def compare(left: Column, op: str, right: Column) -> Column:
    """A SPARQL FILTER comparison with the reference's semantics."""
    if op == "=":
        return left.eqNullSafe(right)
    if op == "!=":
        return ~left.eqNullSafe(right)
    ln, rn = num(left), num(right)
    both = ln.isNotNull() & rn.isNotNull()
    if op == "<":
        return both & (ln < rn)
    if op == "<=":
        return both & (ln <= rn)
    if op == ">":
        return both & (ln > rn)
    if op == ">=":
        return both & (ln >= rn)
    raise ValueError(f"unknown comparison operator {op!r}")


def compare_sql(left: str, op: str, right: str) -> str:
    """``compare`` as Spark SQL text over two SQL expressions."""
    if op == "=":
        return f"({left} <=> {right})"
    if op == "!=":
        return f"NOT ({left} <=> {right})"
    if op not in ("<", "<=", ">", ">="):
        raise ValueError(f"unknown comparison operator {op!r}")
    ln, rn = f"try_cast({left} AS DOUBLE)", f"try_cast({right} AS DOUBLE)"
    return f"({ln} IS NOT NULL AND {rn} IS NOT NULL AND {ln} {op} {rn})"


def order_keys(col: Column, ascending: bool) -> list[Column]:
    """Sort keys reproducing numeric-if-both-parse-else-lexical ORDER BY.

    Total order: all numeric values (by value) before all non-numeric values
    (lexicographic). This matches the reference whenever a sort column is
    homogeneously numeric or homogeneously lexical, which is every case its
    tests exercise; for mixed columns it is a consistent total order where
    the reference's pairwise rule is not even transitive.
    """
    n = num(col)
    keys = [n.isNull().cast("int"), n, col]
    if ascending:
        return [k.asc_nulls_last() for k in keys]
    return [k.desc_nulls_last() for k in keys]
