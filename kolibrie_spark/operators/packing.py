"""Sequence packing for LLM pretraining: lay a document stream out as
fixed-token-budget training sequences (the GPT-style concat-and-chunk
layout — documents are concatenated in a deterministic order and the token
stream is cut every ``budget`` tokens, so documents may straddle sequence
boundaries).

Scale shape: a single global concatenation order would funnel the cumsum
through one task, so the stream is pre-split into ``shards`` by a
deterministic key hash — each shard is an independent token stream (in
practice: one training file per shard). Per shard the layout is one window
cumsum over (shard, id): one shuffle total, shards run in parallel, and
the result is a pure function of (ids, token counts, budget, shards) — the
same layout on every rerun, any cluster, any partitioning.

The reference engine has no packing surface (this is a north-star
training-pipeline operator); the hash is the
cross-engine-reproducible polynomial fold (operators/hashing.py) so a
DuckDB oracle can replay the exact layout — swap ``hash_fn="xxhash64"``
at 100 TB when no cross-engine contract is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kolibrie_spark.operators import hashing


def _shard(key, shards: int, hash_fn: str):
    if hash_fn == "poly":
        return hashing.poly_hash(key.cast("string")) % F.lit(shards)
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(shards))


def shard_duckdb(expr: str, shards: int) -> str:
    return f"({hashing.poly_hash_duckdb(f'CAST({expr} AS VARCHAR)')} % {shards})"


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    shards: int = 32,
    hash_fn: str = "poly",
) -> DataFrame:
    """Per-document placement in the packed layout.

    Adds: ``shard``, ``token_start`` (the doc's offset in its shard's token
    stream), ``seq_first``/``seq_last`` (the training sequences the doc's
    tokens land in; integer floor-division — exact in any engine), and
    ``n_seqs``. Zero-token docs occupy no tokens: they sit at their offset
    with ``seq_last = seq_first`` and contribute nothing.
    """
    if budget <= 0 or shards <= 0:
        raise ValueError("budget and shards must be positive")
    toks = F.col(tokens_col).cast("long")
    out = df.withColumn("shard", _shard(F.col(id_col), shards, hash_fn))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = out.withColumn(
        "token_start", F.coalesce(F.sum(toks).over(w), F.lit(0)).cast("long")
    )
    seq_first = F.floor(F.col("token_start") / F.lit(budget))
    last_tok = F.col("token_start") + F.greatest(toks, F.lit(1)) - F.lit(1)
    seq_last = F.floor(last_tok / F.lit(budget))
    return (
        out.withColumn("seq_first", seq_first)
        .withColumn("seq_last", seq_last)
        .withColumn("n_seqs", F.col("seq_last") - F.col("seq_first") + F.lit(1))
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    shards: int = 32,
    hash_fn: str = "poly",
) -> DataFrame:
    """The layout exploded to (sequence, document-slice) rows — the manifest
    a sequence builder consumes: for every training sequence, which docs
    contribute and which token slice of each doc.

    Columns: ``shard``, ``seq``, id, ``doc_tok_start`` (first doc token
    consumed by this sequence), ``n_toks`` (tokens consumed). Zero-token
    docs emit no rows. Explode is ``sequence(seq_first, seq_last)`` —
    doc-local, no extra shuffle beyond pack_sequences' one.
    """
    placed = pack_sequences(df, id_col, tokens_col, budget, shards, hash_fn)
    toks = F.col(tokens_col).cast("long")
    placed = placed.filter(toks > 0).withColumn(
        "seq", F.explode(F.sequence(F.col("seq_first"), F.col("seq_last")))
    )
    seq_start = F.col("seq") * F.lit(budget)  # seq's offset in the stream
    doc_tok_start = F.greatest(seq_start - F.col("token_start"), F.lit(0))
    doc_tok_end = F.least(
        seq_start + F.lit(budget) - F.col("token_start"), toks
    )  # exclusive
    return placed.select(
        "shard",
        "seq",
        F.col(id_col),
        doc_tok_start.cast("long").alias("doc_tok_start"),
        (doc_tok_end - doc_tok_start).cast("long").alias("n_toks"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-size overlapping WORD windows (the RAG /
    embedding-pipeline chunker): rows (id, chunk_idx, chunk_start,
    chunk_text, n_words). Stride = size - overlap; the final partial chunk
    is kept; docs shorter than one stride yield exactly one chunk.
    Doc-local explode — no shuffle; chunk boundaries are a pure function of
    the token positions, so any engine reproduces them."""
    if size <= 0 or not 0 <= overlap < size:
        raise ValueError("need size > 0 and 0 <= overlap < size")
    from kolibrie_spark.operators.textanalysis import word_array

    stride = size - overlap
    words = word_array(F.col(text_col))
    n = F.size(words)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("long"),
        F.lit(1),
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1))
    out = df.select(F.col(id_col), words.alias("__w"), idx.alias("chunk_idx"))
    start = F.col("chunk_idx") * F.lit(stride)
    chunk = F.slice(F.col("__w"), start + 1, size)
    return out.select(
        id_col,
        "chunk_idx",
        start.alias("chunk_start"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_words"),
    )


def chunk_documents_duckdb_sql(
    table_expr: str, id_col: str, text_expr: str, size: int, overlap: int = 0
) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based inclusive list
    slicing; ceil on DOUBLE matches Spark's)."""
    stride = size - overlap
    words = f"string_split_regex(trim({text_expr}), '\\s+')"
    return f"""
WITH w AS (
  SELECT {id_col} AS id, {words} AS ws FROM {table_expr}
), n AS (
  SELECT id, ws,
         GREATEST(CAST(ceil(CAST(len(ws) - {overlap} AS DOUBLE) / {stride})
                  AS BIGINT), 1) AS n_chunks
  FROM w
)
SELECT id AS {id_col},
       i AS chunk_idx,
       i * {stride} AS chunk_start,
       array_to_string(ws[i * {stride} + 1 : i * {stride} + {size}], ' ')
         AS chunk_text,
       CAST(len(ws[i * {stride} + 1 : i * {stride} + {size}]) AS BIGINT)
         AS n_words
FROM n, LATERAL unnest(generate_series(0, n_chunks - 1)) AS t(i)
"""


def pack_sequences_duckdb_sql(
    table_expr: str, id_col: str, tokens_expr: str, budget: int, shards: int
) -> str:
    """DuckDB twin of pack_sequences (poly hash path), bit-identical."""
    return f"""
WITH s AS (
  SELECT {id_col} AS id, CAST({tokens_expr} AS BIGINT) AS toks,
         {shard_duckdb(id_col, shards)} AS shard
  FROM {table_expr}
), o AS (
  SELECT id, toks, shard,
         CAST(COALESCE(SUM(toks) OVER (
           PARTITION BY shard ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS token_start
  FROM s
)
SELECT id, shard, token_start,
       token_start // {budget} AS seq_first,
       (token_start + GREATEST(toks, 1) - 1) // {budget} AS seq_last,
       (token_start + GREATEST(toks, 1) - 1) // {budget}
         - token_start // {budget} + 1 AS n_seqs
FROM o
"""
