"""Keyword retrieval over the document table: BM25 scoring + top-k.

Shape chosen for scale AND cross-engine exactness: the query's terms are
known at plan time, so per-doc term frequencies are doc-local array
expressions (``size(filter(words, = term))``) — no explode, no per-term
shuffle — and the document score is a FIXED-ORDER sum of one sub-expression
per query term. That fixed order is what makes the double arithmetic
bit-reproducible in DuckDB (a groupBy-sum over exploded terms would add
floats in partition order and drift in the last bit). Corpus statistics
(N, avgdl, per-term document frequencies) reduce to ONE aggregate row that
Catalyst broadcasts; the top-k is orderBy+limit (TakeOrdered — no global
sort materialization).

At 100 TB: one scan computes the per-term tf columns (whole-stage
codegen), the stats row is a second scan's worth of partial aggs, and the
k results stream through TakeOrdered. For repeated querying you'd
materialize the stats row once and reuse it; ``corpus_stats`` is exposed
separately for exactly that.

BM25 per Robertson/Sparck Jones with the Lucene-style idf floor:
idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5)), score(d) = Σ_t idf(t) *
tf / (tf + k1 * (1 - b + b * dl/avgdl)) * (k1 + 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolibrie_spark.operators.textanalysis import word_array

K1 = 1.2
B = 0.75


def _tf(words: Column, term: str) -> Column:
    return F.size(F.filter(words, lambda w: w == F.lit(term)))


def corpus_stats(
    df: DataFrame, text_col: str, terms: list[str]
) -> DataFrame:
    """ONE row: N, avgdl, and df_<i> (document frequency) per query term.
    avgdl divides two exact integers, so the double is engine-identical."""
    words = word_array(F.lower(F.col(text_col)))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(words)) / F.count(F.lit(1))).alias("avgdl"),
    ]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.when(_tf(words, t) > 0, 1).otherwise(0)).alias(f"df_{i}")
        )
    return df.agg(*aggs)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k docs by BM25 over ``terms`` (matched lowercase, whitespace
    tokens). Deterministic: ties break on id ascending."""
    if not terms:
        raise ValueError("terms must be non-empty")
    stats = corpus_stats(df, text_col, terms)
    words = word_array(F.lower(F.col(text_col)))
    scored = df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.size(words).alias("__dl"),
        *[_tf(words, t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
        F.col("n_docs"),
        F.col("avgdl"),
        *[F.col(f"df_{i}") for i in range(len(terms))],
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / F.col("avgdl")
        )
        # term contributions add LEFT-TO-RIGHT in the terms order — keep
        # the oracle SQL in the same order for bit equality
        score = score + idf * tf * F.lit(k1 + 1.0) / denom
    # ln() is only 1-ulp-accurate and differs between the JVM and libm, so
    # the raw double is NOT cross-engine bit-stable; round to 9 dp (scores
    # are O(1-10), noise is ~2e-16) and sort on the rounded key so ordering
    # and values are both engine-identical.
    return (
        scored.withColumn("bm25", F.round(score, 9))
        .filter(F.col("bm25") > 0)
        .select(F.col(id_col), F.col("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str]],
    k: int = 10,
    rrf_k: int = 60,
    out_id: str = "doc_id",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09) of
    several retrieval result lists — the standard hybrid-retrieval
    combiner (sparse BM25 + dense ANN) a training-data pipeline uses for
    hard-negative mining and contamination sweeps.

    ``rankings``: (df, id_col, score_col) per retriever, each df one of
    the engine's top-k outputs (bm25_topk, ...).
    Each list is ranked by (score desc, id asc); a document scores
    ``sum over lists of 1/(rrf_k + rank)`` with absent-from-list
    contributing 0.0, summed in the rankings order — the same fixed op
    order as the DuckDB twin, so doubles are bit-identical.

    Scale shape: the inputs are ALREADY top-k lists (k rows each), so
    the rank windows and the full-outer fusion join run on k-row
    DataFrames — the heavy lifting happened inside each retriever's own
    scale-safe plan; fusion itself is O(lists * k) and shuffle-trivial.
    """
    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rankings must be non-empty")
    ranked = []
    for i, (df, id_col, score_col) in enumerate(rankings):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        ranked.append(
            df.select(
                F.col(id_col).alias(out_id),
                F.row_number().over(w).alias(f"__r{i}"),
            )
        )
    fused = ranked[0]
    for nxt in ranked[1:]:
        fused = fused.join(nxt, on=out_id, how="full_outer")
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"__r{i}")), F.lit(0.0)
        )
    return (
        fused.select(F.col(out_id), score.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(out_id))
        .limit(k)
    )


def rrf_fuse_duckdb_sql(
    ranking_sqls: list[tuple[str, str, str]],
    k: int = 10,
    rrf_k: int = 60,
    out_id: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`rrf_fuse`: ``ranking_sqls`` is
    (subquery_sql, id_col, score_col) per retriever, fused with the same
    rank windows, COALESCE ordering, and left-to-right summation."""
    ctes = []
    for i, (sql, id_col, score_col) in enumerate(ranking_sqls):
        ctes.append(
            f"r{i} AS (SELECT {id_col} AS {out_id}, row_number() OVER "
            f"(ORDER BY {score_col} DESC, {id_col} ASC) AS rk "
            f"FROM ({sql}))"
        )
    joined = "r0"
    id_expr = f"r0.{out_id}"
    for i in range(1, len(ranking_sqls)):
        joined = f"{joined} FULL JOIN r{i} ON {id_expr} = r{i}.{out_id}"
        id_expr = f"COALESCE({id_expr}, r{i}.{out_id})"
    score = " + ".join(
        f"COALESCE(1.0 / ({float(rrf_k)} + r{i}.rk), 0.0)"
        for i in range(len(ranking_sqls))
    )
    return (
        "WITH " + ", ".join(ctes) + f" SELECT {id_expr} AS {out_id}, "
        f"{score} AS rrf FROM {joined} "
        f"ORDER BY rrf DESC, {out_id} LIMIT {k}"
    )


def top_terms(df: DataFrame, text_col: str, k: int = 25) -> DataFrame:
    """Corpus-wide top-k terms by occurrence count (vocabulary heavy
    hitters). One explode + one hash aggregation (map-side partial combine
    collapses each partition to its local vocabulary before the shuffle, so
    shuffle volume is ~|vocab| per partition, not |tokens|) + TakeOrdered.
    Ties break lexicographically."""
    words = word_array(F.lower(F.col(text_col)))
    return (
        df.select(F.explode(words).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(k)
    )


def top_terms_duckdb_sql(table_expr: str, text_expr: str, k: int = 25) -> str:
    words = f"string_split_regex(trim(lower({text_expr})), '\\s+')"
    return f"""
SELECT term, COUNT(*) AS cnt
FROM (SELECT unnest({words}) AS term FROM {table_expr})
WHERE term <> ''
GROUP BY term
ORDER BY cnt DESC, term
LIMIT {k}
"""


def build_vocab(df: DataFrame, text_col: str, size: int) -> list[str]:
    """Top-``size`` terms by count (ties lexicographic) as the id→term
    vocabulary; id 0 is reserved for OOV, so term i maps to id i+1.
    Driver-side list (vocabularies are KBs even at 100 TB corpora)."""
    return [r.term for r in top_terms(df, text_col, size).collect()]


def tokenize_to_ids(
    df: DataFrame, id_col: str, text_col: str, vocab: list[str]
) -> DataFrame:
    """(id, token_ids array<int>, n_oov): whitespace tokens mapped through
    the vocabulary literal (OOV → 0). One map over the text — the
    vocabulary is an array literal probed with array_position, no join, no
    shuffle; the output feeds pack_chunks' per-sequence slices."""
    words = word_array(F.lower(F.col(text_col)))
    vlit = F.array(*[F.lit(w) for w in vocab])
    ids = F.transform(
        words, lambda w: F.array_position(vlit, w).cast("int")
    )
    # two selects so n_oov reads the produced token_ids column — sibling
    # expressions would run the O(|vocab|)-per-token probe twice (Spark's
    # subexpression elimination does not reliably cover lambda functions)
    out = df.select(F.col(id_col), ids.alias("token_ids"))
    return out.select(
        id_col,
        "token_ids",
        F.size(F.filter(F.col("token_ids"), lambda i: i == 0))
        .cast("long")
        .alias("n_oov"),
    )


def tokenize_to_ids_duckdb_sql(
    table_expr: str, id_col: str, text_expr: str, vocab: list[str]
) -> str:
    """DuckDB twin of :func:`tokenize_to_ids` (list_position returns NULL
    for a miss, coalesced to the same OOV id 0)."""
    words = f"string_split_regex(trim(lower({text_expr})), '\\s+')"
    vlit = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in vocab) + "]"
    ids = (
        f"list_transform({words}, w -> "
        f"CAST(COALESCE(list_position({vlit}, w), 0) AS INT))"
    )
    # subquery so the probe (and the vocab literal) appears once
    return (
        f"SELECT {id_col}, token_ids, "
        f"CAST(len(list_filter(token_ids, i -> i = 0)) AS BIGINT) AS n_oov "
        f"FROM (SELECT {id_col}, {ids} AS token_ids FROM {table_expr})"
    )


def bm25_topk_duckdb_sql(
    table_expr: str,
    id_col: str,
    text_expr: str,
    terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of bm25_topk — same fixed-order arithmetic."""

    def q(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    words = f"string_split_regex(trim(lower({text_expr})), '\\s+')"
    tf_cols = ", ".join(
        f"len(list_filter(words, w -> w = {q(t)})) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_aggs = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    parts = []
    for i in range(len(terms)):
        idf = (
            f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        )
        denom = (
            f"CAST(tf_{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} *"
            f" CAST(dl AS DOUBLE) / avgdl)"
        )
        parts.append(f"{idf} * CAST(tf_{i} AS DOUBLE) * {k1 + 1.0} / ({denom})")
    score = " + ".join(f"({p})" for p in parts)
    return f"""
WITH w AS (
  SELECT {id_col} AS id, {words} AS words FROM {table_expr}
), t AS (
  SELECT id, len(words) AS dl, {tf_cols} FROM w
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {df_aggs}
  FROM t
)
SELECT id AS {id_col}, ROUND(0.0 + {score}, 9) AS bm25
FROM t, stats
WHERE ROUND(0.0 + {score}, 9) > 0
ORDER BY bm25 DESC, id
LIMIT {k}
"""
