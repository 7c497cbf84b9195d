"""URL canonicalization + host-level dedup — the web-corpus half of the
dedup family (crawl pipelines dedup by canonical URL before any content
hashing; reference parity: the reference has no URL tooling, this is part
of the LLM-data-pipeline extension set).

Everything is pure column expressions (JVM, whole-stage codegen — no
Python in the per-row path), so canonicalization adds no shuffle and
predicate pushdown still reaches the scan.

Canonical form (the common crawl-dedup recipe):
- scheme and host lowercased; a default port (:80 http / :443 https) is
  stripped;
- the fragment (#...) is dropped;
- tracking query parameters are removed (utm_*, fbclid, gclid, msclkid,
  ref, mc_eid);
- remaining query parameters are SORTED (param order is not significant
  to almost all servers, and sorting makes ?a=1&b=2 == ?b=2&a=1);
- a trailing "/" on a non-root path is dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACKING_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_eid)="


def _split(url: Column):
    """(scheme+host+port, path, query) — fragment already dropped."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    head = F.regexp_extract(no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    path = F.regexp_extract(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    return head, path, query


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (column expression)."""
    head, path, query = _split(url)
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/?:]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?:]*):443$", r"$1")
    # drop tracking params, sort the survivors
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", r"$1")
    )
    return F.concat(
        head,
        path,
        F.when(sorted_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )


def url_host(url: Column) -> Column:
    """Lowercased host (port stripped)."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)", 1))


def with_canonical_url(
    df: DataFrame, url_col: str, out_col: str = "canonical_url"
) -> DataFrame:
    return df.withColumn(out_col, canonical_url(F.col(url_col))).withColumn(
        "host", url_host(F.col(url_col))
    )


def url_dedup(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """Keep the min-id row per canonical URL — one hash shuffle on the
    canonical string, map-side combinable (same contract as exact_dedup)."""
    canon = df.withColumn("__canon", canonical_url(F.col(url_col)))
    keep = canon.groupBy("__canon").agg(F.min(id_col).alias(id_col))
    return canon.join(keep, [id_col, "__canon"]).drop("__canon")


def canonical_url_duckdb_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` — same regex pipeline, so the
    oracle compares bit-identical strings."""
    no_frag = f"regexp_replace({url_expr}, '#.*$', '')"
    head = f"lower(regexp_extract({no_frag}, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))"
    head = f"regexp_replace({head}, '^(http://[^/?:]*):80$', '\\1')"
    head = f"regexp_replace({head}, '^(https://[^/?:]*):443$', '\\1')"
    path = (
        f"regexp_extract({no_frag}, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?]*)', 1)"
    )
    path = (
        f"CASE WHEN {path} = '' THEN '/' "
        f"ELSE regexp_replace({path}, '(.)/$', '\\1') END"
    )
    query = f"regexp_extract({no_frag}, '\\?(.*)$', 1)"
    params = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{_TRACKING_RE}'))"
    )
    # COALESCE: DuckDB's array_to_string over an EMPTY list yields NULL
    # (Spark's array_join yields ''), which would null out the whole
    # concatenation for query-less URLs
    sorted_q = f"COALESCE(array_to_string(list_sort({params}), '&'), '')"
    return (
        f"{head} || {path} || "
        f"CASE WHEN {sorted_q} = '' THEN '' ELSE '?' || {sorted_q} END"
    )
