"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator from SURVEY.md §2 through the
kolibrie_spark engine (SPARQL over mechanically-triplified TPC-H-ish tables,
FIXTURES.md §7, or direct DataFrame pipeline operators), and ``oracle_sql()``
gives the equivalent ANSI SQL DuckDB runs on the raw parquet views.

Column-name and value-format parity rules (verified against DuckDB):
- lexical (string) outputs use the triplify.lex formatting contract;
- numeric aggregate outputs stay DOUBLE/BIGINT on both sides;
- double-summing aggregates only run over integral-valued columns
  (l_quantity) so floating-point accumulation order cannot flip a bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# store construction (cached per (session, sf_dir))
# ---------------------------------------------------------------------------

_CACHE: dict = {}

RELATIONAL = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _base_store(spark: SparkSession, sf_dir: str):
    """All relational tables triplified into the default graph, plus nation
    in three named graphs (urn:graph:nation, urn:g1, urn:g2) and customer in
    urn:graph:customer for the dataset-semantics queries."""
    from kolibrie_spark.store import QuadStore
    from kolibrie_spark.tables import load_table
    from kolibrie_spark.triplify import triplify

    key = ("base", spark.sparkContext.applicationId, sf_dir)
    if key in _CACHE:
        return _CACHE[key]
    # The scale layout (SURVEY §1.3): quads live as parquet partitioned by
    # predicate, so the typical bound-p pattern scan is partition-pruned and
    # column-pruned instead of touching the whole fact table. The layout is
    # a MATERIALIZED VIEW of the source tables, keyed by their latest
    # mtime: one triplify+write per dataset version, reused across
    # processes (a fresh driver run skips the ~15s rebuild).
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    src_mtime = max(
        (int(os.path.getmtime(f)) for f in glob.glob(os.path.join(sf_dir, "*.parquet"))),
        default=0,
    )
    cache_root = os.environ.get("SPARK_GRAFT_CACHE", tempfile.gettempdir())
    # key = basename + mtime + HASH OF ABSOLUTE PATH: two datasets sharing a
    # basename and mtime must not collide on the same cache entry
    dir_tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(
        cache_root,
        f"kolibrie_quads_{os.path.basename(sf_dir.rstrip('/'))}_{src_mtime}_{dir_tag}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        parts = [triplify(load_table(spark, sf_dir, t), t) for t in RELATIONAL]
        nation = load_table(spark, sf_dir, "nation")
        customer = load_table(spark, sf_dir, "customer")
        parts += [
            triplify(nation, "nation", graph="urn:graph:nation"),
            triplify(nation, "nation", graph="urn:g1"),
            triplify(nation, "nation", graph="urn:g2"),
            triplify(customer, "customer", graph="urn:graph:customer"),
        ]
        quads = parts[0]
        for p in parts[1:]:
            quads = quads.unionByName(p)
        # write to a private temp dir, then PUBLISH with an atomic rename:
        # concurrent processes either see the complete published layout or
        # nothing — never a half-overwritten directory (a published path is
        # immutable: the key pins source mtime + dataset path)
        tmp = f"{path}.tmp.{os.getpid()}"
        quads.write.mode("overwrite").partitionBy("p").parquet(tmp)
        published = False
        for _ in range(2):
            try:
                os.rename(tmp, path)
                published = True
                break
            except OSError:
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    shutil.rmtree(tmp, ignore_errors=True)  # lost the race
                    published = True
                    break
                # leftover dir with no _SUCCESS: crashed writer; clear and
                # retry the publish once
                shutil.rmtree(path, ignore_errors=True)
        if not published:
            path = tmp  # last resort: serve this process its private copy
    quads = spark.read.parquet(path).select("s", "p", "o", "g")
    store = QuadStore(spark, quads=quads)
    store.register_graphs(
        ["urn:graph:nation", "urn:g1", "urn:g2", "urn:graph:customer"]
    )
    _CACHE[key] = store
    return store


def _fresh_store(spark: SparkSession, sf_dir: str, tables: list[str]):
    """Small uncached store for mutating (update / RDF-star) queries —
    rebuilt per call so repeated driver runs stay idempotent."""
    from kolibrie_spark.store import QuadStore
    from kolibrie_spark.tables import load_table
    from kolibrie_spark.triplify import triplify

    parts = [triplify(load_table(spark, sf_dir, t), t) for t in tables]
    quads = parts[0]
    for p in parts[1:]:
        quads = quads.unionByName(p)
    return QuadStore(spark, quads=quads.localCheckpoint(eager=True))


def _sparql(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from kolibrie_spark.engine import SparqlEngine

        return SparqlEngine(spark, _base_store(spark, sf_dir)).query(text)

    return run


# ---------------------------------------------------------------------------
# mutating scenarios (update forms, RDF-star) on fresh single-table stores
# ---------------------------------------------------------------------------


def _q_update_insert_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _fresh_store(spark, sf_dir, ["customer"]))
    e.update(
        "INSERT { ?c <urn:flag#high> \"1\" } WHERE "
        "{ ?c <urn:customer#c_acctbal> ?bal . FILTER(?bal > 9000) }"
    )
    return e.query(
        "SELECT ?name WHERE { ?c <urn:flag#high> \"1\" . "
        "?c <urn:customer#c_name> ?name }"
    )


def _q_update_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _fresh_store(spark, sf_dir, ["customer"]))
    e.update(
        "DELETE { ?c <urn:customer#c_name> ?name } WHERE "
        "{ ?c <urn:customer#c_name> ?name . ?c <urn:customer#c_acctbal> ?bal . "
        "FILTER(?bal < 0) }"
    )
    return e.query("SELECT ?name WHERE { ?c <urn:customer#c_name> ?name }")


def _q_update_insert_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _fresh_store(spark, sf_dir, ["region"]))
    e.update(
        'INSERT DATA { <urn:region:99> <urn:region#r_name> "ATLANTIS" . '
        '<urn:region:99> <urn:region#r_regionkey> "99" }'
    )
    e.update('DELETE DATA { <urn:region:99> <urn:region#r_regionkey> "99" }')
    return e.query(
        "SELECT ?r ?name WHERE { ?r <urn:region#r_name> ?name } ORDER BY ?name"
    )


def _q_rdf_star_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _fresh_store(spark, sf_dir, ["supplier"]))
    e.update(
        "INSERT { << ?s <urn:supplier#s_acctbal> ?bal >> <urn:prov#certainty> \"0.9\" } "
        "WHERE { ?s <urn:supplier#s_acctbal> ?bal }"
    )
    return e.query(
        "SELECT ?s ?bal ?c WHERE "
        "{ << ?s <urn:supplier#s_acctbal> ?bal >> <urn:prov#certainty> ?c }"
    )


def _q_rdf_star_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _fresh_store(spark, sf_dir, ["supplier"]))
    e.update(
        "INSERT { << ?s <urn:supplier#s_name> ?n >> <urn:prov#src> \"ingest\" } "
        "WHERE { ?s <urn:supplier#s_name> ?n }"
    )
    return e.query(
        "SELECT ?t ?subj ?obj WHERE { ?t <urn:prov#src> \"ingest\" . "
        "BIND(SUBJECT(?t) AS ?subj) BIND(OBJECT(?t) AS ?obj) }"
    )


# ---------------------------------------------------------------------------
# LLM-pipeline operators (text analysis / search / profiling) on documents,
# events — SURVEY.md north-star extensions
# ---------------------------------------------------------------------------


_BM25_TERMS = ["spark", "join", "window"]


def _q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over documents: doc-local tf expressions (no
    explode), one broadcast corpus-stats row, TakeOrdered top-k; the
    fixed-order score sum makes every double bit-identical in DuckDB."""
    from kolibrie_spark.operators.search import bm25_topk
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=20)


def _text_bm25_topk_oracle() -> str:
    from kolibrie_spark.operators.search import bm25_topk_duckdb_sql

    return bm25_topk_duckdb_sql("documents", "doc_id", "text", _BM25_TERMS, k=20)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing of the document stream
    into 2048-token training sequences, sharded 8 ways so the layout cumsum
    parallelizes; the layout is a pure function of (doc ids, token counts),
    reproducible on any engine."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.packing import pack_sequences
    from kolibrie_spark.operators.textanalysis import token_count
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("toks")
    )
    out = pack_sequences(docs, "doc_id", "toks", budget=2048, shards=8)
    return out.select(
        F.col("doc_id").alias("id"),
        "shard",
        "token_start",
        "seq_first",
        "seq_last",
        "n_seqs",
    )


def _pack_sequences_oracle() -> str:
    from kolibrie_spark.operators.packing import pack_sequences_duckdb_sql

    return pack_sequences_duckdb_sql(
        "documents",
        "doc_id",
        "len(string_split_regex(trim(text), '\\s+'))",
        budget=2048,
        shards=8,
    )


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile: per-doc duplicate 1/2/3-gram
    fractions, all doc-local array arithmetic (no shuffle)."""
    from kolibrie_spark.operators.textanalysis import repetition_metrics
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text")


def _text_repetition_oracle() -> str:
    from kolibrie_spark.operators.textanalysis import dup_ngram_fraction_duckdb

    return (
        f"SELECT doc_id, {dup_ngram_fraction_duckdb('text', 1)} AS dup_word_frac, "
        f"{dup_ngram_fraction_duckdb('text', 2)} AS dup_2gram_frac, "
        f"{dup_ngram_fraction_duckdb('text', 3)} AS dup_3gram_frac "
        f"FROM documents"
    )


def _q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset profile of n_chars: one map-side-combined hash
    aggregation; mean/stddev finish from exact BIGINT sums so every double
    is engine-identical."""
    from kolibrie_spark.operators.profiling import profile_stats
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_stats(docs, "source", "n_chars")


def _profile_stats_oracle() -> str:
    from kolibrie_spark.operators.profiling import profile_stats_duckdb_sql

    return profile_stats_duckdb_sql("documents", "source", "n_chars")


def _q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: every third doc gets deterministic
    PII-shaped text injected from doc_id (same construction in the oracle),
    then emails / IPv4s / long digit runs are redacted with per-doc counts.
    Pure regexp column expressions — codegen, zero shuffle."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.scrub import scrub_pii
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 card 4111111111111111"),
        ),
    ).otherwise(F.col("text"))
    return scrub_pii(docs.withColumn("text", injected), "doc_id", "text")


def _text_scrub_pii_oracle() -> str:
    from kolibrie_spark.operators.scrub import scrub_pii_duckdb_sql

    injected = (
        "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 card 4111111111111111' ELSE text END AS text FROM documents)"
    )
    return scrub_pii_duckdb_sql(injected, "doc_id", "text")


def _q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: explode + map-side-combined count
    + TakeOrdered top-25."""
    from kolibrie_spark.operators.search import top_terms
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return top_terms(docs, "text", k=25)


def _text_top_terms_oracle() -> str:
    from kolibrie_spark.operators.search import top_terms_duckdb_sql

    return top_terms_duckdb_sql("documents", "text", k=25)


def _q_text_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab tokenization: whitespace tokens mapped to ids through the
    corpus's own top-100 term vocabulary (OOV → 0). The vocab is a
    driver-side literal probed per token — no join, no shuffle; the
    oracle re-derives the identical vocab in SQL."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.search import build_vocab, tokenize_to_ids
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", 100)
    out = tokenize_to_ids(docs, "doc_id", "text", vocab)
    # array columns stringify engine-specifically in the compare harness;
    # emit the canonical comma-joined form instead
    return out.select(
        "doc_id",
        F.concat_ws(",", F.col("token_ids")).alias("token_ids"),
        "n_oov",
    )


def _text_tokenize_ids_oracle() -> str:
    words = "string_split_regex(trim(lower(text)), '\\s+')"
    return f"""
WITH terms AS (
  SELECT term, COUNT(*) AS cnt
  FROM (SELECT unnest({words}) AS term FROM documents)
  WHERE term <> '' GROUP BY term
),
vocab AS (
  SELECT list(term ORDER BY cnt DESC, term) AS vl
  FROM (SELECT term, cnt FROM terms ORDER BY cnt DESC, term LIMIT 100)
)
SELECT doc_id,
       array_to_string(list_transform({words}, w ->
         CAST(COALESCE(list_position(vl, w), 0) AS INT)), ',') AS token_ids,
       CAST(len(list_filter(list_transform({words}, w ->
         CAST(COALESCE(list_position(vl, w), 0) AS INT)), i -> i = 0))
         AS BIGINT) AS n_oov
FROM documents, vocab
"""


def _q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: 32-word windows with 8-word overlap,
    doc-local explode (no shuffle), boundaries a pure function of token
    positions."""
    from kolibrie_spark.operators.packing import chunk_documents
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", size=32, overlap=8)


def _text_chunk_oracle() -> str:
    from kolibrie_spark.operators.packing import chunk_documents_duckdb_sql

    return chunk_documents_duckdb_sql("documents", "doc_id", "text", 32, 8)


def _q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain top-5 documents by n_chars (windowed top-k: one hash
    shuffle on the group key, O(k) heap per group, no global sort)."""
    from kolibrie_spark.operators.profiling import top_per_group
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return top_per_group(docs, "source", "n_chars", 5, "doc_id")


def _top_docs_per_source_oracle() -> str:
    from kolibrie_spark.operators.profiling import top_per_group_duckdb_sql

    return top_per_group_duckdb_sql(
        "documents", "source", "n_chars", 5, "doc_id", "doc_id, source, n_chars"
    )


def _q_text_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-doc boilerplate profile: fraction of each doc's word
    5-gram spans that occur in >= 3 documents. Default window plan: two
    shuffles (span doc-frequency count + doc reaggregation), one
    evaluation of the explode subtree. The opt-in ``heavy_df_cap`` guard
    (broadcast heavy-span dimension + salted window groups) exists for
    corpora where one boilerplate span's doc set outgrows a partition;
    it is NOT used here — measured fresh-JVM, the default is flat at 10x
    (1.30s sf0.01 / 1.02s sf0.1) while the guard pays ~2x for the extra
    explode evaluation (BASELINE.md r9)."""
    from kolibrie_spark.operators.spans import common_span_profile
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return common_span_profile(docs, "doc_id", "text", n=5, min_df=3)


def _text_common_spans_oracle() -> str:
    from kolibrie_spark.operators.spans import common_span_profile_duckdb_sql

    return common_span_profile_duckdb_sql(
        "documents", "doc_id", "text", n=5, min_df=3
    )


def _q_text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic quality rules (word-count band, mean word length,
    symbol ratio, alpha-word fraction, distinct stopwords) as pure column
    expressions — zero shuffle, whole-stage codegen."""
    from kolibrie_spark.operators.textanalysis import gopher_rules
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, "doc_id", "text", min_words=60, max_words=1000)


def _text_quality_gopher_oracle() -> str:
    from kolibrie_spark.operators.textanalysis import gopher_rules_duckdb_sql

    return gopher_rules_duckdb_sql(
        "documents", "doc_id", "text", min_words=60, max_words=1000
    )


def _q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout clustering of lineitem on (l_partkey,
    l_suppkey): the Morton value every row is range-partitioned and
    sorted by on the write path, emitted here so the curve itself is
    oracle-checked bit-for-bit."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.layout import zorder_value
    from kolibrie_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_value(
            F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536
        ).alias("zval"),
    )


def _layout_zorder_oracle() -> str:
    from kolibrie_spark.operators.layout import zorder_value_duckdb

    z = zorder_value_duckdb("(l_partkey % 65536)", "(l_suppkey % 65536)")
    return (
        f"SELECT l_orderkey, l_linenumber, {z} AS zval FROM lineitem"
    )


def _q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact length quantiles (q25/q50/q75/q95) — sort-based
    percentile, bit-identical to DuckDB quantile_cont on integral input."""
    from kolibrie_spark.operators.profiling import profile_quantiles
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_quantiles(docs, "source", "n_chars")


def _profile_quantiles_oracle() -> str:
    from kolibrie_spark.operators.profiling import profile_quantiles_duckdb_sql

    return profile_quantiles_duckdb_sql("documents", "source", "n_chars")


def _q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fixed-width length histogram: one map-side-combined
    aggregation over (source, bin)."""
    from kolibrie_spark.operators.profiling import profile_histogram
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_histogram(docs, "source", "n_chars", bin_width=100)


def _profile_histogram_oracle() -> str:
    from kolibrie_spark.operators.profiling import profile_histogram_duckdb_sql

    return profile_histogram_duckdb_sql("documents", "source", "n_chars", 100)


_PAGERANK_EDGES_SQL = (
    "SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR) AS src, "
    "       'urn:customer:' || CAST(o_custkey AS VARCHAR) AS dst FROM orders "
    "UNION ALL "
    "SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), "
    "       'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer "
    "UNION ALL "
    "SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), "
    "       'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation"
)


def _q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the FK graph (orders -> customer ->
    nation -> region), 5 iterations. Integer micro-unit arithmetic makes
    the iterative rank bit-identical across engines and partitionings —
    floating PageRank would differ in the contribution-sum order."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.graph import pagerank
    from kolibrie_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    # r12 optimization (guide §2.3, narrower types): the five iterations
    # shuffle the node key 15+ times, so nodes ride through the loop as
    # LONGS (tag*2^40 + key — keys are < 2^40 at any TPC-H SF) instead of
    # "urn:<table>:<key>" strings; the URI string materializes ONCE in the
    # final projection. Decoded output proven bit-identical to the string
    # version (exceptAll both ways = 0) — rank_int arithmetic never sees
    # the key representation.  Measured 5.17s -> 3.91s warm at sf0.1.
    _TAGS = ["orders", "customer", "nation", "region"]

    def enc(tag: int, col):
        return (F.lit(tag) * F.lit(1 << 40) + col.cast("long"))

    edges = (
        orders.select(
            enc(0, F.col("o_orderkey")).alias("src"),
            enc(1, F.col("o_custkey")).alias("dst"),
        )
        .unionByName(
            customer.select(
                enc(1, F.col("c_custkey")).alias("src"),
                enc(2, F.col("c_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            nation.select(
                enc(2, F.col("n_nationkey")).alias("src"),
                enc(3, F.col("n_regionkey")).alias("dst"),
            )
        )
    )
    ranks = pagerank(edges, iterations=5)
    return ranks.select(
        F.concat(
            F.lit("urn:"),
            F.element_at(
                F.array(*[F.lit(t) for t in _TAGS]),
                (F.col("node") / F.lit(1 << 40)).cast("int") + 1,
            ),
            F.lit(":"),
            (F.col("node") % F.lit(1 << 40)).cast("string"),
        ).alias("node"),
        "rank_int",
    )


def _graph_pagerank_oracle() -> str:
    from kolibrie_spark.operators.graph import pagerank_duckdb_sql

    return pagerank_duckdb_sql(_PAGERANK_EDGES_SQL, iterations=5)


def _q_text_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.operators.textanalysis import analyze
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return analyze(docs, "doc_id", "text")


def _text_analyze_oracle() -> str:
    from kolibrie_spark.operators.hashing import poly_hash_duckdb
    from kolibrie_spark.operators.textanalysis import STOPWORDS

    sw_cols = []
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        sw_cols.append(
            f"len(list_filter(wl, x -> list_contains([{lst}], x))) AS sw_{lang}"
        )
    sw_select = ",\n    ".join(sw_cols)
    langs = list(STOPWORDS)
    best = "greatest(" + ", ".join(f"sw_{l}" for l in langs) + ")"
    lang_case = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN sw_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    return f"""
WITH t AS (
  SELECT doc_id, text,
    string_split_regex(trim(text), '\\s+') AS w,
    string_split_regex(lower(trim(text)), '\\s+') AS wl,
    length(text) AS nc
  FROM documents
), s AS (
  SELECT doc_id, text, nc,
    len(w) AS tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS subword_tokens,
    (nc - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / nc AS punct_ratio,
    length(regexp_replace(text, '\\s+', '', 'g')) AS n_nospace,
    {sw_select}
  FROM t
)
SELECT doc_id,
  tokens::BIGINT AS tokens,
  subword_tokens::BIGINT AS subword_tokens,
  punct_ratio,
  (CASE WHEN nc >= 50 AND nc <= 5000 THEN 1.0 ELSE 0.0 END
   + CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END
   + CASE WHEN n_nospace / tokens >= 2.0 AND n_nospace / tokens <= 12.0
          THEN 1.0 ELSE 0.0 END
   + CASE WHEN sw_en / tokens >= 0.05 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality,
  {lang_case} AS lang_pred,
  {poly_hash_duckdb(norm)} AS fingerprint
FROM s
"""


def _q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — the batch twin of the
    streaming S2R window operator (SURVEY §2.9)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("event_time", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "cnt",
            "min_value",
            "max_value",
        )
    )


def _partof_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("urn:orders:"), F.col("o_orderkey").cast("string")).alias("s"),
        F.lit("urn:partOf").alias("p"),
        F.concat(F.lit("urn:customer:"), F.col("o_custkey").cast("string")).alias("o"),
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("urn:customer:"), F.col("c_custkey").cast("string")).alias("s"),
        F.lit("urn:partOf").alias("p"),
        F.concat(F.lit("urn:nation:"), F.col("c_nationkey").cast("string")).alias("o"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("s"),
        F.lit("urn:partOf").alias("p"),
        F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string")).alias("o"),
    )
    return orders.unionByName(customer).unionByName(nation)


def _q_reasoner_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-naive transitive closure over the orders→customer→nation→region
    containment chain (SURVEY §2.10 forward chaining)."""
    from kolibrie_spark.reasoner import Reasoner, Rule
    from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var

    r = Reasoner(spark, facts=_partof_edges(spark, sf_dir))
    r.add_rule(
        Rule(
            premise=[
                TriplePattern(Var("x"), Iri("urn:partOf"), Var("y")),
                TriplePattern(Var("y"), Iri("urn:partOf"), Var("z")),
            ],
            conclusion=[TriplePattern(Var("x"), Iri("urn:partOf"), Var("z"))],
        )
    )
    out = r.materialize()
    return out.select("s", "o")


def _q_closure_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-chain transitive closure by path doubling (§2.10; the Spark-first
    answer to the reference's deep-taxonomy workload,
    kolibrie/examples/sparql_syntax/knowledge_graph/deep_taxonomy.rs:71-95):
    parts chained by successive p_partkey within p_partkey % (n/48) groups
    form ~n/48 disjoint 48-deep chains; the closure converges in
    ⌈log₂ depth⌉ = 6 doubling joins instead of depth semi-naive rounds.
    Output: pair counts per src % 64 bucket (closure of a depth-d chain
    has d·(d+1)/2 pairs, so the result is LINEAR in |part| at every SF)."""
    from pyspark.sql import Window, functions as F

    from kolibrie_spark.reasoner import transitive_closure
    from kolibrie_spark.tables import load_table

    part = load_table(spark, sf_dir, "part")
    # constant chain DEPTH (~48), chain COUNT grows with the data: the
    # closure output stays linear in |part| (a depth-d chain contributes
    # d·(d+1)/2 pairs, so depth ∝ n would make the result quadratic and
    # the gate a scale-killer by construction), and the doubling runs
    # ⌊log₂ 48⌋ + 1 = 6 rounds at every SF: the last one's checkpoint job
    # observes an empty frontier.
    n = part.count()
    m = max(1, n // 48)
    w = Window.partitionBy(F.col("p_partkey") % m).orderBy("p_partkey")
    edges = (
        part.select("p_partkey")
        .withColumn("dst", F.lead("p_partkey").over(w))
        .filter(F.col("dst").isNotNull())
        .select(F.col("p_partkey").alias("src"), "dst")
    )
    closure = transitive_closure(edges, src="src", dst="dst")
    return (
        closure.groupBy((F.col("src") % 64).alias("grp"))
        .agg(F.count(F.lit(1)).alias("pairs"))
        .orderBy("grp")
    )


def _q_reasoner_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical multi-level reasoner (§2.10, reference
    datalog/src/reasoning_experimental.rs:17-306): base facts from
    supplier/nation/region, one deductive join rule, one abductive
    hypothesis rule, one meta-level 2-premise rule; result is every fact
    with its level number and the reference's certainty mapping
    (1.0 / 0.9 / 0.6 / 0.4)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.reasoner.hierarchy import (
        HierarchicalRule,
        ReasoningHierarchy,
        ReasoningLevel,
    )
    from kolibrie_spark.reasoner.rule import Rule
    from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var

    from kolibrie_spark.tables import load_table

    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    located = supplier.join(nation, supplier.s_nationkey == nation.n_nationkey).select(
        F.col("s_name").alias("s"), F.lit("located_in").alias("p"), F.col("n_name").alias("o")
    )
    in_region = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_name").alias("s"), F.lit("in_region").alias("p"), F.col("r_name").alias("o")
    )
    h = ReasoningHierarchy(spark)
    # r12: BASE facts are referenced by every cross-level rule's
    # dependency union AND the final certainty aggregation; a lazy
    # checkpoint materializes the two FK joins + dedup once and keeps
    # every downstream plan truncated (guide §2.4 reuse-not-recompute +
    # §3.3 plan-size control; a persist()-only variant blew the final
    # plan up to 1688 lines and was slower than recomputing)
    h.levels[ReasoningLevel.BASE].facts = (
        located.unionByName(in_region).dropDuplicates().localCheckpoint(eager=False)
    )

    h.add_rule_at_level(
        ReasoningLevel.DEDUCTIVE,
        Rule(
            premise=[
                TriplePattern(Var("x"), Iri("located_in"), Var("n")),
                TriplePattern(Var("n"), Iri("in_region"), Var("r")),
            ],
            conclusion=[TriplePattern(Var("x"), Iri("in_macro"), Var("r"))],
        ),
        priority=1,
    )
    h.add_cross_level_rule(
        HierarchicalRule(
            rule=Rule(
                premise=[TriplePattern(Var("x"), Iri("in_macro"), Var("r"))],
                conclusion=[TriplePattern(Var("x"), Iri("might_trade"), Var("r"))],
            ),
            level=ReasoningLevel.ABDUCTIVE,
            priority=1,
            dependencies=[ReasoningLevel.BASE, ReasoningLevel.DEDUCTIVE],
        )
    )
    h.add_cross_level_rule(
        HierarchicalRule(
            rule=Rule(
                premise=[
                    TriplePattern(Var("x"), Iri("might_trade"), Var("r")),
                    TriplePattern(Var("x"), Iri("located_in"), Var("n")),
                ],
                conclusion=[TriplePattern(Var("x"), Iri("is_a"), Iri("global_supplier"))],
            ),
            level=ReasoningLevel.META_REASONING,
            priority=1,
            dependencies=[
                ReasoningLevel.BASE,
                ReasoningLevel.DEDUCTIVE,
                ReasoningLevel.ABDUCTIVE,
            ],
        )
    )
    h.hierarchical_inference()
    return h.facts_with_certainty().select(
        F.col("level_no").cast("int").alias("level_no"),
        "s",
        "p",
        "o",
        F.col("certainty").cast("double").alias("certainty"),
    )


def _q_prob_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid probabilistic reasoning gate (§2.10, reference hybrid.rs):
    supplier→nation and nation→region edges carry deterministic seed
    probabilities; the transitive rule derives supplier→region facts whose
    lineage has exactly one derivation path, so the exact WMC equals the
    two-seed product and DuckDB replicates it bit-for-bit (single IEEE
    multiply of identical factors).

    The seed sample is 10% of suppliers: the probabilistic layer is
    compute-on-small-data by design (lineage lives driver-side, the
    deterministic bulk stays distributed — see engine.hybrid_evaluator's
    premise-predicate bounded collect)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.reasoner.probabilistic import HybridEvaluator
    from kolibrie_spark.reasoner.rule import Rule
    from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var
    from kolibrie_spark.tables import load_table

    sup = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select("s_suppkey", "s_nationkey")
        .collect()
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect()
    seeds = {}
    for r in sup:
        seeds[
            (f"urn:supplier:{r.s_suppkey}", "urn:rel", f"urn:nation:{r.s_nationkey}")
        ] = (50 + r.s_suppkey % 40) / 100.0
    for r in nat:
        seeds[
            (f"urn:nation:{r.n_nationkey}", "urn:rel", f"urn:region:{r.n_regionkey}")
        ] = (60 + r.n_nationkey % 30) / 100.0
    rule = Rule(
        premise=[
            TriplePattern(Var("x"), Iri("urn:rel"), Var("y")),
            TriplePattern(Var("y"), Iri("urn:rel"), Var("z")),
        ],
        conclusion=[TriplePattern(Var("x"), Iri("urn:rel"), Var("z"))],
    )
    ev = HybridEvaluator(seeds, [rule])
    ev.materialize()
    rows = [(f[0], f[2], ev.probability(f)) for f in ev.inferred()]
    return spark.createDataFrame(rows, "supplier string, region string, prob double")


def _prob_hybrid_oracle() -> str:
    return (
        "SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS supplier, "
        "'urn:region:' || CAST(n_regionkey AS VARCHAR) AS region, "
        "((50 + s_suppkey % 40) / 100.0) * ((60 + n_nationkey % 30) / 100.0) AS prob "
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "WHERE s_suppkey % 10 = 0"
    )


def _events_stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.expr("ts_us div 1000000").alias("event_time"),
    )


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urltools.py) over a deterministic
    synthetic crawl: URLs derive from doc_id arithmetic with mixed-case
    scheme/host, default ports, tracking params, unsorted query params,
    trailing slashes, and fragments — every rule in the canonicalizer
    fires on some subset. Pure column expressions; the oracle builds the
    same URLs and runs the DuckDB twin of the regex pipeline."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.urltools import canonical_url, url_host
    from kolibrie_spark.tables import load_table

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.lit("WWW.Site"), (d % 7).cast("string"), F.lit(".COM"),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/p"), (d % 5).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?b=2&utm_source=news&a=1")).otherwise(
            F.lit("?z=9&gclid=abc")
        ),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        canonical_url(url).alias("canonical_url"),
        url_host(url).alias("host"),
    )


def _url_canonicalize_oracle() -> str:
    from kolibrie_spark.operators.urltools import canonical_url_duckdb_sql

    url = (
        "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END || "
        "'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM' || "
        "CASE WHEN doc_id % 4 = 0 THEN ':80' "
        "WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END || "
        "'/p' || CAST(doc_id % 5 AS VARCHAR) || "
        "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END || "
        "CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=news&a=1' "
        "ELSE '?z=9&gclid=abc' END || "
        "CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END"
    )
    canon = canonical_url_duckdb_sql("u")
    host = "lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1))"
    return (
        f"WITH base AS (SELECT doc_id, {url} AS u FROM documents) "
        f"SELECT doc_id, {canon} AS canonical_url, {host} AS host FROM base"
    )


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (30-min gap): lag +
    conditional cumsum windows, one shuffle on the user key — the batch
    twin of streaming.sessionize_stream (applyInPandasWithState)."""
    from kolibrie_spark.operators.temporal import sessionize

    ev = _events_stream_df(spark, sf_dir).select("u", "event_time")
    out = sessionize(ev, "u", "event_time", gap=1800)
    return out.select("u", "event_time", "session_seq", "session_id")


def _events_sessionize_oracle() -> str:
    return """
WITH e AS (
  SELECT user_id AS u, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS event_time
  FROM events
),
m AS (
  SELECT u, event_time,
    CASE WHEN lag(event_time) OVER w IS NULL
           OR event_time - lag(event_time) OVER w > 1800
         THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY u ORDER BY event_time)
),
s AS (
  SELECT u, event_time,
    CAST(SUM(nw) OVER (PARTITION BY u ORDER BY event_time
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM m
)
SELECT u, event_time, session_seq,
  MIN(event_time) OVER (PARTITION BY u, session_seq) AS session_id
FROM s
"""


def _pin_replay_firings(
    out: DataFrame, events: DataFrame, time_col: str, width: int, kind: str
) -> None:
    """Firing-trace pin for the batch R2S replay gates (VERDICT r8 #6) —
    the replay twin of ``_drain_live``'s micro-batch-count assert.  The
    output's distinct ``window_open`` values ARE its firing trace;
    re-derive the legal firing set from the raw events with independent
    column math and check containment plus the boundary firings that are
    data-independent: the FIRST observed window always fires ISTREAM
    (every key is new — ``lag`` is null) and never fires DSTREAM (no
    predecessor window exists to delete from).  A cadence drift in
    replay.py (misaligned modulo, dropped observed-window semi-join,
    inverted lag/lead filter) breaks one of these and fails loudly
    instead of passing on final-output luck.  Explicit raise, not a bare
    ``assert`` (stripped under ``python -O``)."""
    from pyspark.sql import functions as F

    w = (F.col(time_col) - F.col(time_col) % F.lit(width)).cast("long")
    in_wins = {r[0] for r in events.select(w.alias("w")).distinct().collect()}
    out_wins = {r[0] for r in out.select("window_open").distinct().collect()}
    if not in_wins:
        # empty events source: a bare min() would raise ValueError and
        # mask the pin's intent (ADVICE r9) — say what actually happened
        raise AssertionError(
            f"{kind} replay pin: events source produced no windows "
            "(empty input?) — cannot check the firing trace"
        )
    first = min(in_wins)
    if not out_wins <= in_wins:
        raise AssertionError(
            f"{kind} replay fired at windows never observed in the input: "
            f"{sorted(out_wins - in_wins)[:5]}"
        )
    if kind == "istream" and first not in out_wins:
        raise AssertionError(
            "istream replay did not fire at the first observed window "
            f"({first}) where every key is new"
        )
    if kind == "dstream" and first in out_wins:
        raise AssertionError(
            f"dstream replay fired at the first observed window ({first}), "
            "which has no predecessor to delete from"
        )


def _q_streaming_istream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of ISTREAM over hourly tumbling windows (§2.9 R2S)."""
    from kolibrie_spark.streaming.replay import istream_replay

    events = _events_stream_df(spark, sf_dir)
    out = istream_replay(events, "event_time", 3600, ["u", "t"])
    _pin_replay_firings(out, events, "event_time", 3600, "istream")
    return out


def _q_streaming_dstream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.streaming.replay import dstream_replay

    events = _events_stream_df(spark, sf_dir)
    out = dstream_replay(events, "event_time", 3600, ["u", "t"])
    _pin_replay_firings(out, events, "event_time", 3600, "dstream")
    return out


def _q_streaming_istream_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Structured Streaming twin of the ISTREAM replay gate (§2.9):
    a real ``readStream`` file source feeds the events through
    ``foreachBatch`` into the StructuredRSP incremental R2S pipeline, and
    emissions land in a parquet results table tagged with the fired
    window.  One file per 10-day tumbling window + ``maxFilesPerTrigger=1``
    (ascending mtimes) makes windows close one per micro-batch in event
    order, so the live incremental diff state equals the batch replay
    semantics exactly.  The last partial window never closes live, so the
    oracle restricts to windows with close <= the final high-water mark."""
    return _run_live_gate(spark, sf_dir, "ISTREAM")


def _q_streaming_dstream_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Structured Streaming DSTREAM twin (§2.9): same file-per-window
    feed as the ISTREAM live gate; each fired window emits the bindings of
    its PREDECESSOR absent from it (the deleted set), tagged with the
    fired window's open. The first window has no predecessor (empty
    emission) and the last partial window never closes — the oracle
    shifts each source window forward one width and keeps fired ones."""
    return _run_live_gate(spark, sf_dir, "DSTREAM")


def _write_stream_chunks(trip, win_col: str, base: str) -> str:
    """Materialize a chunked file-source feed for a live gate in ONE Spark
    job: repartition on the chunk key (each key lands in exactly one
    task), write partitionBy(chunk), then move each partition's single
    parquet file into src/ with ascending mtimes so maxFilesPerTrigger=1
    replays chunks in order.  Replaces the per-chunk
    distinct+collect+coalesce(1) loop (N+1 jobs -> 2).

    r13 (guide §6): the feed is parquet of ONLY the varying columns —
    the constant p/g/stream fields used to ride every json row as text
    and be re-parsed by every batch action; the live gates re-attach
    them as literals after ``readStream``."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    part_root = os.path.join(base, "parts")
    # hash partitioning sends each chunk key to exactly one task, so every
    # partition dir gets exactly one parquet file — no key-count job needed
    par = trip.sparkSession.sparkContext.defaultParallelism
    trip.repartition(par, F.col(win_col)).write.partitionBy(win_col).parquet(
        part_root
    )
    wins = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(part_root)
        if d.startswith(f"{win_col}=")
    )
    for k, w0 in enumerate(wins):
        pdir = os.path.join(part_root, f"{win_col}={w0}")
        jfile = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        dst = os.path.join(src, f"w{k:03d}.parquet")
        shutil.move(os.path.join(pdir, jfile), dst)
        os.utime(dst, (k * 1000, k * 1000))  # mtime order == chunk order
    shutil.rmtree(part_root, ignore_errors=True)
    return src


def _drain_live(sq, src: str) -> None:
    """Drain a live gate's stream and PIN its trigger cadence: with
    maxFilesPerTrigger=1 the number of micro-batches must equal the
    number of source files (+ at most one empty trailing batch).  The
    live gates are excluded from bench.py's regression tripwire
    (micro-batch machinery, 2x run-to-run swing — BASELINE.md r8
    adjudication); this assert is what catches a real behavior change
    instead: a cadence drift alters the firing trace and fails here."""
    import glob
    import os

    try:
        sq.processAllAvailable()
        n_files = len(glob.glob(os.path.join(src, "*.parquet")))
        last = sq.lastProgress
        batches = (last["batchId"] + 1) if last else 0
        # explicit raise, not a bare `assert` — this is the ONLY behavior
        # check for live gates (they are tripwire-excluded) and must not
        # vanish under `python -O` (ADVICE r8)
        if not (n_files <= batches <= n_files + 1):
            raise AssertionError(
                f"live-gate trigger cadence drifted: {batches} micro-batches "
                f"for {n_files} source files (expected 1 file per trigger)"
            )
    finally:
        sq.stop()


def _run_live_gate(spark: SparkSession, sf_dir: str, form: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from kolibrie_spark.streaming.structured import compile_structured

    width = 864000  # 10-day tumbling: 4 windows over the 30-day span
    # feed carries only the varying columns (r13, guide §6/§2.3): the
    # constant p/g/stream fields re-attach as literals after readStream
    trip = (
        _events_stream_df(spark, sf_dir)
        .select(
            F.col("u").cast("string").alias("s"),
            F.col("t").alias("o"),
            F.col("event_time"),
        )
        .withColumn(
            "win", (F.col("event_time") - F.col("event_time") % width).cast("long")
        )
    )
    # results/ must outlive the returned (lazy) DataFrame, so the scratch
    # dir can't be removed here; instead prune dirs older than an hour
    # left by previous runs, so repeated bench/correctness invocations
    # don't accumulate in /tmp
    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "kolibrie_live_*")):
        try:
            if now - os.path.getmtime(d) > 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    base = tempfile.mkdtemp(prefix="kolibrie_live_")
    results = os.path.join(base, "results")
    src = _write_stream_chunks(trip, "win", base)

    q = compile_structured(
        spark,
        f"REGISTER {form} <out> AS SELECT * "
        f"FROM NAMED WINDOW :w ON :ev [RANGE {width} STEP {width}] "
        "WHERE { WINDOW :w { ?u <t> ?t } }",
    )
    wiri = q.query.windows[0].iri

    def sink(out_df: DataFrame) -> None:
        # tag the emission with the window that fired it (close is already
        # recorded in _fired_until when the sink runs)
        out_df.withColumn(
            "window_open", F.lit(q._fired_until[wiri] - width).cast("long")
        ).write.mode("append").parquet(results)

    q.sink = sink
    stream = (
        spark.readStream.schema("s string, o string, event_time long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "s",
            F.lit("t").alias("p"),
            "o",
            F.lit(None).cast("string").alias("g"),
            F.lit("ev").alias("stream"),
            "event_time",
        )
    )
    sq = q.start(stream, os.path.join(base, "ckpt"))
    _drain_live(sq, src)
    shutil.rmtree(src, ignore_errors=True)  # results/ must outlive the return
    return spark.read.parquet(results).select(
        "window_open", F.col("u").cast("long").alias("u"), "t"
    )


def _q_streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE sliding-window gate (VERDICT r4 item #6): RANGE 10d STEP 5d —
    the first live gate where STEP < RANGE, so every event belongs to TWO
    windows and the multi-membership firing order runs against the
    C-SPARQL scope math (s2r.rs:298-330) for real.  One file per 5-day
    SLIDE chunk (ascending mtimes, maxFilesPerTrigger=1) advances the hwm
    one slide per micro-batch, so window [kS-W, kS) fires at batch k with
    chunks k-2 and k-1 as content.  The oracle is pure window arithmetic:
    every slide-multiple close in (0, max_et] fires once and emits the
    distinct (u, t) of its [close-W, close) range; the two still-open
    tail windows never fire.  window_open = close - W goes negative for
    the first firing (the reference's saturating open applies to CONTENT
    membership, which starts at 0 anyway)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from kolibrie_spark.streaming.structured import compile_structured

    width = 864000  # RANGE 10 days
    slide = 432000  # STEP 5 days: 2x multi-membership
    trip = (
        _events_stream_df(spark, sf_dir)
        .select(
            F.col("u").cast("string").alias("s"),
            F.col("t").alias("o"),
            F.col("event_time"),
        )
        .withColumn(
            "win", (F.col("event_time") - F.col("event_time") % slide).cast("long")
        )
    )
    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "kolibrie_slide_*")):
        try:
            if now - os.path.getmtime(d) > 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    base = tempfile.mkdtemp(prefix="kolibrie_slide_")
    results = os.path.join(base, "results")
    src = _write_stream_chunks(trip, "win", base)

    q = compile_structured(
        spark,
        "REGISTER RSTREAM <out> AS SELECT * "
        f"FROM NAMED WINDOW :w ON :ev [RANGE {width} STEP {slide}] "
        "WHERE { WINDOW :w { ?u <t> ?t } }",
    )
    wiri = q.query.windows[0].iri

    def sink(out_df: DataFrame) -> None:
        out_df.withColumn(
            "window_open", F.lit(q._fired_until[wiri] - width).cast("long")
        ).write.mode("append").parquet(results)

    q.sink = sink
    stream = (
        spark.readStream.schema("s string, o string, event_time long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "s",
            F.lit("t").alias("p"),
            "o",
            F.lit(None).cast("string").alias("g"),
            F.lit("ev").alias("stream"),
            "event_time",
        )
    )
    sq = q.start(stream, os.path.join(base, "ckpt"))
    _drain_live(sq, src)
    shutil.rmtree(src, ignore_errors=True)
    return spark.read.parquet(results).select(
        "window_open", F.col("u").cast("long").alias("u"), "t"
    )


def _streaming_sliding_live_oracle() -> str:
    w, s = 864000, 432000
    return (
        "WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS et, "
        "user_id AS u, event_type AS t FROM events), "
        "mx AS (SELECT max(et) AS m FROM e), "
        "closes AS (SELECT unnest(generate_series("
        f"{s}, (SELECT (m // {s}) * {s} FROM mx), {s})) AS close) "
        f"SELECT c.close - {w} AS window_open, e.u, e.t "
        "FROM closes c JOIN e "
        f"ON e.et >= c.close - {w} AND e.et < c.close "
        "GROUP BY 1, 2, 3"
    )


def _q_streaming_sync_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE two-window Steal coordination (VERDICT r3 item #6): a real
    readStream feeds 5-day event chunks (ascending mtimes,
    maxFilesPerTrigger=1) through StructuredRSP with a 10-day and a
    15-day tumbling window over the SAME stream under WITH POLICY STEAL.
    Event times are rebased to the corpus min so window alignment is
    sf-independent; the batch trace is then fixed: w1 [0,10d) fires at
    hwm 15d-eps (no emission — w2 never materialized), w2 [0,15d) at
    hwm 20d-eps (emission 1: fresh w2 joined with w1's last result), and
    w1 [10d,20d) at hwm 25d-eps (emission 2: fresh w1 against the STALE
    w2 [0,15d) — the nontrivial stale-reuse intersection Steal exists
    for). The shared (?u ?t) pattern makes each emission the compatible
    join = pair intersection, which the oracle recomputes with window
    arithmetic."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from kolibrie_spark.streaming.structured import compile_structured

    day = 86400
    ev = _events_stream_df(spark, sf_dir)
    mn, mx = ev.agg(F.min("event_time"), F.max("event_time")).first()
    # the hard-coded two-emission trace below assumes the rebased corpus
    # spans < 30 days (w1 [20d,30d) and w2 [15d,30d) must never close);
    # fail loudly on a wider corpus instead of hash-mismatching the oracle
    if mx - mn >= 30 * day:
        raise ValueError(
            f"streaming_sync_live fixture expects a <30-day event span, got "
            f"{(mx - mn) / day:.1f} days — extend the oracle's emission "
            "trace for the extra full cycles"
        )
    trip = ev.select(
        F.col("u").cast("string").alias("s"),
        F.col("t").alias("o"),
        (F.col("event_time") - F.lit(int(mn))).alias("event_time"),
    ).withColumn(
        "chunk", (F.col("event_time") / F.lit(5 * day)).cast("long")
    )
    now = time.time()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "kolibrie_sync_*")):
        try:
            if now - os.path.getmtime(d) > 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass
    base = tempfile.mkdtemp(prefix="kolibrie_sync_")
    results = os.path.join(base, "results")
    src = _write_stream_chunks(trip, "chunk", base)

    q = compile_structured(
        spark,
        "REGISTER RSTREAM <out> AS SELECT * "
        f"FROM NAMED WINDOW :w1 ON :ev [RANGE {10 * day} STEP {10 * day}] "
        f"FROM NAMED WINDOW :w2 ON :ev [RANGE {15 * day} STEP {15 * day}] "
        "WHERE { WINDOW :w1 { ?u <t> ?t } WINDOW :w2 { ?u <t> ?t } }",
        sync_policy=("STEAL",),
    )
    counter = {"n": 0}

    def sink(out_df: DataFrame) -> None:
        counter["n"] += 1
        out_df.withColumn(
            "emission", F.lit(counter["n"]).cast("int")
        ).write.mode("append").parquet(results)

    q.sink = sink
    stream = (
        spark.readStream.schema("s string, o string, event_time long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "s",
            F.lit("t").alias("p"),
            "o",
            F.lit(None).cast("string").alias("g"),
            F.lit("ev").alias("stream"),
            "event_time",
        )
    )
    sq = q.start(stream, os.path.join(base, "ckpt"))
    _drain_live(sq, src)
    shutil.rmtree(src, ignore_errors=True)  # results/ must outlive the return
    return spark.read.parquet(results).select(
        "emission", F.col("u").cast("long").alias("u"), "t"
    )


def _streaming_sync_live_oracle() -> str:
    d = 86400
    return (
        "WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS et, "
        "user_id AS u, event_type AS t FROM events), "
        "m AS (SELECT min(et) AS mn FROM e), "
        "r AS (SELECT et - mn AS et0, u, t FROM e, m) "
        f"SELECT CAST(1 AS INTEGER) AS emission, u, t FROM r "
        f"WHERE et0 < {10 * d} GROUP BY u, t "
        "UNION ALL "
        "SELECT CAST(2 AS INTEGER) AS emission, u, t FROM ("
        f"SELECT DISTINCT u, t FROM r WHERE et0 >= {10 * d} AND et0 < {20 * d} "
        "INTERSECT "
        f"SELECT DISTINCT u, t FROM r WHERE et0 < {15 * d})"
    )


def _q_ml_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML.PREDICT with a deterministic linear model — the prediction is
    reproducible in SQL, so even the ML path gets a value-exact oracle."""
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _base_store(spark, sf_dir))
    e.register_model(
        "price_score", lambda X: X["price"] * 0.9 + X["size"] * 2.0
    )
    return e.ml_predict(
        'ML.PREDICT(MODEL "price_score", INPUT { '
        "SELECT ?part ?price ?size WHERE { ?part <urn:part#p_retailprice> ?price . "
        "?part <urn:part#p_size> ?size } }, OUTPUT ?score)"
    )


def _q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch: estimate distinct part keys per return
    flag over lineitem. Deterministic (3-round universal-hash mix), so the
    ESTIMATE itself is reproducible cross-engine — unlike HLL registers."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.sketches import kmv_distinct
    from kolibrie_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_partkey").cast("string").alias("pk")
    )
    return kmv_distinct(li, "l_returnflag", "pk", k=64)


def _sketch_kmv_oracle() -> str:
    from kolibrie_spark.operators.sketches import kmv_distinct_duckdb_sql

    return kmv_distinct_duckdb_sql(
        "(SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS pk FROM lineitem)",
        "l_returnflag",
        "pk",
        k=64,
    )


def _q_profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between src0 and src1 document-length
    distributions — the drift alarm a curation pipeline runs batch-over-
    batch."""
    from kolibrie_spark.operators.profiling import ks_drift
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return ks_drift(docs, "source", "n_chars", "src0", "src1")


def _profile_ks_drift_oracle() -> str:
    from kolibrie_spark.operators.profiling import ks_drift_duckdb_sql

    return ks_drift_duckdb_sql("documents", "source", "n_chars", "src0", "src1")


def _q_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy vocabulary matching (typo/variant pairs) over the
    combined documents + part-name vocab: equi-join on (first_char,
    length-expanded bucket), Levenshtein only inside blocks — the oracle
    brute-forces the same contract quadratically."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.fuzzyjoin import fuzzy_vocab_pairs
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("text")
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("text")
    )
    return fuzzy_vocab_pairs(docs.unionAll(parts), "text", max_dist=2)


def _fuzzy_vocab_oracle() -> str:
    from kolibrie_spark.operators.fuzzyjoin import fuzzy_vocab_pairs_duckdb_sql

    return fuzzy_vocab_pairs_duckdb_sql(
        "(SELECT text FROM documents UNION ALL SELECT p_name FROM part)",
        "text",
        max_dist=2,
    )


# appended to every document before normalizing so the gate exercises the
# non-trivial paths (decomposed accent -> NFC compose, NBSP, tab runs) on
# real data, not just ASCII identity
_NORM_SUFFIX = " Cafe\u0301\u00a0du\tmonde  "
_NORM_SUFFIX_SQL = "' Cafe' || chr(769) || chr(160) || 'du' || chr(9) || 'monde  '"


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + whitespace canonicalization (Arrow-batched NFC with
    ASCII fast path; whitespace collapse stays JVM-side)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.normalize import normalize_expr
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_expr(
            F.concat(F.col("text"), F.lit(_NORM_SUFFIX))
        ).alias("text_norm"),
    )


def _text_normalize_oracle() -> str:
    from kolibrie_spark.operators.normalize import normalize_duckdb_sql

    inner = f"text || {_NORM_SUFFIX_SQL}"
    return (
        f"SELECT doc_id, {normalize_duckdb_sql(inner)} AS text_norm "
        "FROM documents"
    )


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide exact-paragraph dedup with document
    reassembly: one window over the paragraph fingerprint (first
    occurrence by (doc_id, pos) wins), one re-group on doc_id. Documents
    here are single-line, so paragraphs = sentences split on '. '."""
    from kolibrie_spark.operators.paragraphs import dedup_paragraphs
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return dedup_paragraphs(docs, "doc_id", "text", sep=" . ")


def _dedup_paragraphs_oracle() -> str:
    from kolibrie_spark.operators.paragraphs import dedup_paragraphs_duckdb_sql

    return dedup_paragraphs_duckdb_sql("documents", "doc_id", "text", sep=" . ")


_FUNNEL_STEPS = ["signup", "view", "purchase"]


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel (signup -> view -> purchase), strictly-after step
    chaining: one filtered aggregation per step joined on the user key."""
    from kolibrie_spark.operators.analytics import funnel
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, "user_id", "ts_us", "event_type", _FUNNEL_STEPS)


def _events_funnel_oracle() -> str:
    from kolibrie_spark.operators.analytics import funnel_duckdb_sql

    return funnel_duckdb_sql(
        "(SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events)",
        "user_id",
        "ts_us",
        "event_type",
        _FUNNEL_STEPS,
    )


def _q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts keyed by first-event day: two
    aggregations, integer day arithmetic (no engine week/timezone
    semantics in the contract)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.analytics import retention
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = retention(ev, "user_id", "event_time")
    return out.select(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        "week_offset",
        "n_users",
    )


def _events_retention_oracle() -> str:
    from kolibrie_spark.operators.analytics import retention_duckdb_sql

    inner = retention_duckdb_sql("events", "user_id", "ts")
    return (
        "SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, week_offset, "
        f"n_users FROM ({inner})"
    )


def _q_profile_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting with largest-first cumulative share —
    the data-mixing planning table. Doc-local token counting (no explode),
    one |groups|-row aggregation + |groups|-row windows."""
    from kolibrie_spark.operators.profiling import token_budget
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return token_budget(docs, "source", "text")


def _profile_token_budget_oracle() -> str:
    from kolibrie_spark.operators.profiling import token_budget_duckdb_sql

    return token_budget_duckdb_sql("documents", "source", "text")


def _q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing aggregates (3-row and 1-hour frames) over each
    user's history — one window partitioning serves both frames; integer
    cents make frame sums bit-exact cross-engine."""
    from kolibrie_spark.operators.analytics import rolling_user_stats
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return rolling_user_stats(ev, "user_id", "ts_us", "value", "event_id")


def _events_rolling_oracle() -> str:
    from kolibrie_spark.operators.analytics import rolling_user_stats_duckdb_sql

    return rolling_user_stats_duckdb_sql(
        "(SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)",
        "user_id",
        "ts_us",
        "value",
        "event_id",
    )


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def _q_profile_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x language cross-tab with a fixed column list: one
    map-side-combined pivot aggregation, static schema (no discovery
    job)."""
    from kolibrie_spark.operators.analytics import pivot_counts
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return pivot_counts(docs, "source", "lang", _PIVOT_LANGS)


def _profile_pivot_oracle() -> str:
    from kolibrie_spark.operators.analytics import pivot_counts_duckdb_sql

    return pivot_counts_duckdb_sql("documents", "source", "lang", _PIVOT_LANGS)


_HTML_PRE = '<p class="doc">'
_HTML_POST = '</p><script>track("x");</script> &amp; <b>tail</b>'


def _q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate strip + basic entity decode over documents wrapped
    in synthetic markup (tags, a script element, double-encoded entity) —
    pure JVM regexp chain, zero shuffle."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.normalize import strip_html_expr
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select(
        "doc_id", strip_html_expr(wrapped).alias("text_plain")
    )


def _text_strip_html_oracle() -> str:
    from kolibrie_spark.operators.normalize import strip_html_duckdb_sql

    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    wrapped = f"('{pre}' || text || '{post}')"
    return (
        f"SELECT doc_id, {strip_html_duckdb_sql(wrapped)} AS text_plain "
        "FROM documents"
    )


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style duplicated-substring removal at char granularity
    (L=40): sliding windows -> global first-occurrence rank -> per-doc
    interval union -> stitched clean text. The honest |chars|-row explode
    is the algorithm's linear cost; scale path = hashed window keys +
    strided windows (see operators/substring.py)."""
    from kolibrie_spark.operators.substring import remove_duplicate_spans
    from kolibrie_spark.tables import load_table, parallelized

    docs = parallelized(load_table(spark, sf_dir, "documents"))
    return remove_duplicate_spans(docs, "doc_id", "text", span_len=40)


def _dedup_substring_oracle() -> str:
    from kolibrie_spark.operators.substring import (
        remove_duplicate_spans_duckdb_sql,
    )

    return remove_duplicate_spans_duckdb_sql(
        "documents", "doc_id", "text", span_len=40
    )


def _q_events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props column + per-type stats:
    from_json with an explicit schema (codegen'd Jackson parse, field
    pruning by Catalyst), one map-side-combined aggregation."""
    from kolibrie_spark.operators.semistructured import json_agg_by_key
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return json_agg_by_key(ev, "event_type", "props", "k", "BIGINT")


def _events_json_agg_oracle() -> str:
    from kolibrie_spark.operators.semistructured import json_agg_by_key_duckdb_sql

    return json_agg_by_key_duckdb_sql("events", "event_type", "props", "k")


def _q_audit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promote-gate audit: null/range rules in ONE scan (conditional sums
    unpivoted by stack) + an orphaned-FK probe (lineitem -> orders) as a
    second single-aggregation job, unioned into one report."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.audit import audit_counts, fk_violations_df
    from kolibrie_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = audit_counts(
        li,
        {
            "qty_null": F.col("l_quantity").isNull(),
            "qty_nonpositive": F.col("l_quantity") <= 0,
            "price_negative": F.col("l_extendedprice") < 0,
            "discount_out_of_range": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
        },
    )
    fk = fk_violations_df(li, "l_orderkey", orders, "o_orderkey").select(
        F.lit("orderkey_orphans").alias("rule"),
        F.col("n_orphans").alias("n_violations"),
        F.col("n_rows"),
    )
    return rules.unionAll(fk)


def _audit_quality_oracle() -> str:
    from kolibrie_spark.operators.audit import (
        audit_counts_duckdb_sql,
        fk_violations_duckdb_sql,
    )

    rules = audit_counts_duckdb_sql(
        "lineitem",
        {
            "qty_null": "l_quantity IS NULL",
            "qty_nonpositive": "l_quantity <= 0",
            "price_negative": "l_extendedprice < 0",
            "discount_out_of_range": "l_discount < 0 OR l_discount > 1",
        },
    )
    fk = fk_violations_duckdb_sql("lineitem", "l_orderkey", "orders", "o_orderkey")
    return (
        f"SELECT * FROM ({rules}) UNION ALL "
        f"SELECT 'orderkey_orphans' AS rule, n_orphans AS n_violations, "
        f"n_rows FROM ({fk})"
    )


def _q_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 versioning of a change log (each customer's orders as their
    change events): one lead() window per key, no join, no mutation —
    validity intervals + is_current."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.scd import scd2_intervals
    from kolibrie_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("change_us"),
        "o_totalprice",
    )
    # contract needs (key, ts) unique: keep the max price per change instant
    log = orders.groupBy("o_custkey", "change_us").agg(
        F.max("o_totalprice").alias("price")
    )
    return scd2_intervals(log, "o_custkey", "change_us")


def _scd2_orders_oracle() -> str:
    from kolibrie_spark.operators.scd import scd2_intervals_duckdb_sql

    log = (
        "(SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS change_us, "
        "MAX(o_totalprice) AS price FROM orders GROUP BY 1, 2)"
    )
    return scd2_intervals_duckdb_sql(
        log, "o_custkey", "change_us", "o_custkey, change_us, price"
    )


def _q_events_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry compaction: last observation per (user, 1-hour bucket)
    via max_by on a (ts, event_id) pair — one map-side-combined
    aggregation, no window, no sort."""
    from kolibrie_spark.operators.scd import downsample_last
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return downsample_last(
        ev, "user_id", "ts_us", "value", 3_600_000_000, "event_id"
    )


def _events_downsample_oracle() -> str:
    from kolibrie_spark.operators.scd import downsample_last_duckdb_sql

    return downsample_last_duckdb_sql(
        "(SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)",
        "user_id",
        "ts_us",
        "value",
        3_600_000_000,
        "event_id",
    )


def _q_analytics_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped macro query: 6-table star join (region -> nation ->
    customer/supplier -> orders -> lineitem, with the Q5 c_nationkey =
    s_nationkey co-location constraint) + revenue per nation. The three
    dimension chains broadcast; the orders-lineitem join is the only big
    shuffle, and AQE picks it. Revenue is exact integer micro-cents
    (price-cents x (100 - discount-percent)), so the aggregate is
    shuffle-order invariant and bit-identical cross-engine."""
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_microcents"))
    )


def _analytics_q5_oracle() -> str:
    return """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_microcents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


def _q_profile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (grouping sets): doc counts at (source, lang),
    (source), and grand-total levels in ONE pass with a grouping_id
    column — Catalyst expands the sets without re-scanning."""
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("source", "lang", "gid", "n")
    )


def _profile_rollup_oracle() -> str:
    return """
SELECT source, lang,
       CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
       COUNT(*) AS n
FROM documents
GROUP BY ROLLUP (source, lang)
"""


def _q_builder_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluent QueryBuilder chain (§2.12 python API)."""
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _base_store(spark, sf_dir))
    return (
        e.builder()
        .with_predicate("urn:customer#c_acctbal")
        .filter("o", ">=", "9900")
        .order_by("o")
        .dataframe()
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event gets the latest order date of its user
    (checked against DuckDB's native ASOF JOIN)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.temporal import asof_join
    from kolibrie_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("u"), F.col("ts_us").alias("ts")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("u"),
        # o_orderdate reads as TIMESTAMP_NTZ; the container runs UTC, so the
        # cast matches DuckDB's naive-as-UTC epoch_us
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_us"),
    )
    out = asof_join(events, orders, ["u"], "ts", "order_us", ["order_us"])
    return out.select("event_id", "u", F.col("order_us_matched").alias("last_order_us"))


def _q_udf_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kolibrie_spark.engine import SparqlEngine

    e = SparqlEngine(spark, _base_store(spark, sf_dir))
    e.register_udf("ucase", lambda s: s.upper())
    return e.query(
        "SELECT ?u WHERE { ?c <urn:customer#c_name> ?n . BIND(ucase(?n) AS ?u) }"
    )


def _q_telemetry_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid gap filling: hourly ticks per user with the latest
    at-or-before observation forward-filled (scd.resample_ffill)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.scd import resample_ffill
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_us div 1000000").alias("tse"),
        "value",
    )
    return resample_ffill(ev, "user_id", "tse", "value", step=3600)


def _q_profile_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source [0.05, 0.95] quantile clipping of document lengths —
    the outlier guard before averaging heavy-tailed telemetry."""
    from kolibrie_spark.operators.profiling import winsorize
    from kolibrie_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return winsorize(docs, "source", "n_chars").select(
        "doc_id", "source", "n_chars_wins"
    )


# deterministic snapshot perturbation shared by the Spark gate and its twin:
# keys % 97 == 0 exist only in NEW (added), % 101 == 0 only in OLD (removed),
# % 89 == 0 get a bumped totalprice in NEW (changed)
_DIFF_OLD = "o_orderkey % 97 != 0"
_DIFF_NEW = "o_orderkey % 101 != 0"
_DIFF_BUMP = "o_orderkey % 89 == 0"


def _q_audit_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch snapshot diff (audit.diff_snapshots): added /
    removed / changed keys from one full outer join, |delta|-sized out."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.audit import diff_snapshots
    from kolibrie_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.expr(_DIFF_OLD))
    new = orders.filter(F.expr(_DIFF_NEW)).withColumn(
        "o_totalprice",
        F.when(F.expr(_DIFF_BUMP), F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    return diff_snapshots(old, new, "o_orderkey", ["o_totalprice", "o_orderstatus"])


def _audit_snapshot_diff_oracle() -> str:
    from kolibrie_spark.operators.audit import diff_snapshots_duckdb_sql

    old_expr = f"(SELECT * FROM orders WHERE {_DIFF_OLD})"
    new_expr = (
        "(SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 89 = 0 "
        "THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice "
        "FROM orders WHERE o_orderkey % 101 != 0)"
    )
    return diff_snapshots_duckdb_sql(
        old_expr, new_expr, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    )


def _resample_oracle() -> str:
    from kolibrie_spark.operators.scd import resample_ffill_duckdb_sql

    return resample_ffill_duckdb_sql(
        "(SELECT user_id, epoch_us(ts) // 1000000 AS tse, value FROM events)",
        "user_id",
        "tse",
        "value",
        3600,
    )


def _winsorize_oracle() -> str:
    from kolibrie_spark.operators.profiling import winsorize_duckdb_sql

    return winsorize_duckdb_sql(
        "documents", "source", "n_chars", "t.doc_id, t.source"
    )


def _q_events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval collapse (temporal.merge_intervals):
    per-user activity intervals [ts, ts + event_id % 7200s] merged into
    maximal islands — one key shuffle, no self-join, no range explode."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.temporal import merge_intervals
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_us div 1000000").alias("s"),
        (F.expr("ts_us div 1000000") + F.col("event_id") % 7200).alias("e"),
    )
    return merge_intervals(ev, "user_id", "s", "e")


def _interval_merge_oracle() -> str:
    from kolibrie_spark.operators.temporal import merge_intervals_duckdb_sql

    return merge_intervals_duckdb_sql(
        "(SELECT user_id, epoch_us(ts) // 1000000 AS s, "
        "epoch_us(ts) // 1000000 + event_id % 7200 AS e FROM events)",
        "user_id", "s", "e",
    )


def _q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (graph.triangle_count): degree-ordered
    wedge enumeration — each triangle found once, quadratic wedge blowup
    pinned to low-degree roots; edges derived from the orders FK pair."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.graph import triangle_count
    from kolibrie_spark.tables import load_table

    edges = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 200).alias("src"),
        (F.col("o_orderkey") % 200).alias("dst"),
    )
    return triangle_count(edges)


def _graph_triangles_oracle() -> str:
    from kolibrie_spark.operators.graph import triangle_count_duckdb_sql

    return triangle_count_duckdb_sql(
        "(SELECT o_custkey % 200 AS src, o_orderkey % 200 AS dst FROM orders)"
    )


def _q_sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-props per event type
    (sketches.hll_distinct): registers over the shared cross-engine hash,
    integer-scaled register sum (add-order-independent), one map-side-
    combinable aggregation — the no-distinct-shuffle 100 TB default next
    to KMV's bit-exact heavy path."""
    from kolibrie_spark.operators.sketches import hll_distinct
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "props")


def _hll_distinct_oracle() -> str:
    from kolibrie_spark.operators.sketches import hll_distinct_duckdb_sql

    return hll_distinct_duckdb_sql("events", "event_type", "props")


def _q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: events whose value deviates more than
    3.5 scaled MADs from their event-type median (profiling.mad_outliers)
    — two percentile aggs broadcast back, data never re-shuffles."""
    from kolibrie_spark.operators.profiling import mad_outliers
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return mad_outliers(ev, "event_type", "value", "event_id", k=3.5)


def _events_anomaly_mad_oracle() -> str:
    from kolibrie_spark.operators.profiling import mad_outliers_duckdb_sql

    return mad_outliers_duckdb_sql("events", "event_type", "value", "event_id", k=3.5)


def _q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA telemetry smoothing (scd.ewma_last): deterministic
    time-ordered left fold, bit-equal across engines."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.scd import ewma_last
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_us").alias("t"), "value"
    )
    return ewma_last(ev, "user_id", "t", "value", alpha=0.25)


def _events_ewma_oracle() -> str:
    from kolibrie_spark.operators.scd import ewma_last_duckdb_sql

    return ewma_last_duckdb_sql(
        "(SELECT user_id, epoch_us(ts) AS t, value FROM events)",
        "user_id", "t", "value", alpha=0.25,
    )


def _q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining (analytics.path_ngrams): the top-20
    event-type trigram paths users actually walk — the discovery
    counterpart to funnel()'s single-path check."""
    from kolibrie_spark.operators.analytics import path_ngrams
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return path_ngrams(ev, "user_id", "ts_us", "event_type", "event_id", n=3, k=20)


def _events_path_trigrams_oracle() -> str:
    from kolibrie_spark.operators.analytics import path_ngrams_duckdb_sql

    return path_ngrams_duckdb_sql(
        "(SELECT user_id, epoch_us(ts) AS ts_us, event_type, event_id FROM events)",
        "user_id", "ts_us", "event_type", "event_id", n=3, k=20,
    )


def _q_analytics_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped macro join (shipping priority): BUILDING customers
    x pre-cutoff orders x post-cutoff lineitems, top-10 orders by exact
    integer micro-cent revenue. The customer dim broadcasts, orders-
    lineitem is the one fact shuffle, TakeOrdered replaces a global sort
    — the second join-ordering witness next to analytics_q5."""
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    cutoff = "1998-01-01"
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_microcents"))
        .orderBy(
            F.col("revenue_microcents").desc(), F.col("l_orderkey").asc()
        )
        .limit(10)
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
            "revenue_microcents",
        )
    )


def _analytics_q3_oracle() -> str:
    return """
SELECT l_orderkey,
       epoch_us(o_orderdate) AS orderdate_us,
       o_orderpriority,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_microcents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_microcents DESC, l_orderkey ASC
LIMIT 10
"""


def _q_analytics_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped macro join (returned-item reporting): customers
    ranked by exact integer micro-cent revenue lost to returned lineitems
    in one quarter — 4-table join, customer/nation dims broadcast, top-20
    via TakeOrdered."""
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    lo, hi = "1997-01-01", "1997-07-01"
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("revenue_microcents"))
        .orderBy(F.col("revenue_microcents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _analytics_q10_oracle() -> str:
    return """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_microcents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue_microcents DESC, c_custkey ASC
LIMIT 20
"""


_EV_CENTS = "CAST(ROUND(value * 100) AS BIGINT)"
_EV_DAY = "CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT)"


def _ev_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from kolibrie_spark.tables import load_table

    return load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("ts_us div 1000000 div 86400").alias("day"),
    )


def _q_profile_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equi-depth value histogram (profiling.equidepth_histogram):
    quantile buckets via ntile over a deterministic total order."""
    from kolibrie_spark.operators.profiling import equidepth_histogram

    ev = _ev_xy(spark, sf_dir)
    return equidepth_histogram(ev, "event_type", "cents", "event_id", 8)


def _profile_equidepth_oracle() -> str:
    from kolibrie_spark.operators.profiling import equidepth_histogram_duckdb_sql

    return equidepth_histogram_duckdb_sql(
        f"(SELECT event_type, event_id, {_EV_CENTS} AS cents FROM events)",
        "event_type", "cents", "event_id", 8,
    )


def _q_profile_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation of value vs day (profiling.group_corr):
    exact int64 sufficient statistics, one shared IEEE expression —
    bit-equal cross-engine."""
    from kolibrie_spark.operators.profiling import group_corr

    ev = _ev_xy(spark, sf_dir)
    return group_corr(ev, "event_type", "day", "cents")


def _profile_corr_oracle() -> str:
    from kolibrie_spark.operators.profiling import group_corr_duckdb_sql

    return group_corr_duckdb_sql(
        f"(SELECT event_type, {_EV_DAY} AS day, {_EV_CENTS} AS cents FROM events)",
        "event_type", "day", "cents",
    )


def _q_ml_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type closed-form OLS trend of value on day (ml.regression
    .ols_by_group): the 'fit a trend per key' workhorse, bit-exact from
    integer sufficient statistics."""
    from kolibrie_spark.ml.regression import ols_by_group

    ev = _ev_xy(spark, sf_dir)
    return ols_by_group(ev, "event_type", "day", "cents")


def _ml_group_ols_oracle() -> str:
    from kolibrie_spark.ml.regression import ols_by_group_duckdb_sql

    return ols_by_group_duckdb_sql(
        f"(SELECT event_type, {_EV_DAY} AS day, {_EV_CENTS} AS cents FROM events)",
        "event_type", "day", "cents",
    )


def _q_mlschema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model metadata as RDF (ml.mlschema.MLSchema; reference
    ml/src/mlschema.py + ml/examples/saving_predictor.py:75-103): fit
    extendedprice ~ quantity OLS from DISTRIBUTED integer sufficient
    statistics (one aggregate — the driver sees six exact longs, never
    rows), describe the fitted model as a W3C-MLS graph, and return the
    graph's numeric facts (coefficient, intercept, mse, r2, parameter
    and instance counts).  All float math mirrors the oracle's textual
    expression order over the same exact integers, so every value is
    bit-identical to DuckDB's."""
    from pyspark.sql import functions as F

    from kolibrie_spark.ml.mlschema import MLSchema, RDFS_LABEL
    from kolibrie_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # explicit ROUND on both sides: Spark's cast-to-long truncates while
    # DuckDB's CAST rounds; price in integer cents keeps the sums exact.
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    # The squared-cents sums leave int64 around sf0.1, so they used to
    # accumulate in decimal(38,0).  r12 (guide §2, narrower types):
    # 128-bit decimal aggregation measured ~2x the cost of long sums
    # (1.0s vs 0.4-0.6s warm at sf0.1), so accumulate each wide product
    # as TWO long limbs of 24 bits instead and reassemble the exact
    # integer on the driver.  Envelope: y < 2^24 (max extendedprice
    # ~10.5M cents), so y*y < 2^48 splits into two limbs each < 2^24,
    # and each limb SUM is bounded by 2^24 * n — exactly the bound the
    # existing plain sum(y) already relies on, so the limb sums overflow
    # only where the current code would anyway (n ~ 2^39 rows).
    lim = 24
    mask = (1 << lim) - 1
    xy, yy = x * y, y * y
    row = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(F.shiftright(xy, lim)).alias("sxy_hi"),
        F.sum(xy.bitwiseAND(F.lit(mask))).alias("sxy_lo"),
        F.sum(F.shiftright(yy, lim)).alias("syy_hi"),
        F.sum(yy.bitwiseAND(F.lit(mask))).alias("syy_lo"),
    ).first()
    n, sx, sy = int(row["n"]), int(row["sx"]), int(row["sy"])
    sxx = int(row["sxx"])
    sxy = (int(row["sxy_hi"]) << lim) + int(row["sxy_lo"])
    syy = (int(row["syy_hi"]) << lim) + int(row["syy_lo"])
    # float() each exact-integer operand BEFORE the op, mirroring the
    # oracle's CAST(... AS DOUBLE) placement, then identical op order
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) - slope * float(sx)) / float(n)

    class _Fitted:
        __module__ = "kolibrie_spark"

        def get_params(self):
            return {"fit_intercept": True}

    model = _Fitted()
    model.coef_ = [slope]
    model.intercept_ = intercept

    class _NShape:  # convert_model only reads .shape off the datasets
        def __init__(self, rows: int):
            self.shape = (rows, 1)

    def _eval(_model, _X, _y):
        ss_res = (
            float(syy)
            - 2.0 * slope * float(sxy)
            - 2.0 * intercept * float(sy)
            + slope * slope * float(sxx)
            + 2.0 * slope * intercept * float(sx)
            + float(n) * intercept * intercept
        )
        ss_tot = float(syy) - float(sy) * float(sy) / float(n)
        return {"mse": ss_res / float(n), "r2": 1.0 - ss_res / ss_tot}

    schema = MLSchema()
    schema.convert_model(
        model,
        _NShape(n),
        None,
        _NShape(n),
        None,
        feature_names=["l_quantity"],
        evaluation_function=_eval,
    )
    mls = MLSchema.MLS
    g = spark.createDataFrame(schema.triples, "s string, p string, o string")
    wanted = [
        "Coefficient for class Class 0, feature l_quantity",
        "Intercept for class Class 0",
        "mse",
        "r2",
        "Number of Parameters",
        "Number of Instances",
    ]
    lab = g.filter(F.col("p") == RDFS_LABEL).select(
        "s", F.col("o").alias("label")
    )
    val = g.filter(F.col("p") == f"{mls}hasValue").select(
        F.col("s").alias("vs"), F.col("o").alias("lex")
    )
    # characteristics: label and hasValue share a subject.  The graph is
    # ~90 driver-built rows of model METADATA (never data-sized), so the
    # joins are hinted broadcast — without stats Spark picks sort-merge
    lab, val = F.broadcast(lab), F.broadcast(val)
    direct = lab.join(val, lab.s == val.vs).select("label", "lex")
    # evaluations: ModelEvaluation --specifiedBy--> labeled measure
    spec = F.broadcast(
        g.filter(F.col("p") == f"{mls}specifiedBy").select(
            F.col("s").alias("ev"), F.col("o").alias("measure")
        )
    )
    via = (
        spec.join(lab, spec.measure == lab.s)
        .join(val, spec.ev == val.vs)
        .select("label", "lex")
    )
    return (
        direct.unionByName(via)
        .filter(F.col("label").isin(wanted))
        .select("label", F.col("lex").cast("double").alias("value"))
    )


def _mlschema_graph_oracle() -> str:
    return """
WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem)
), fit AS (
  SELECT *,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
  FROM s
), fit2 AS (
  SELECT *,
         (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept
  FROM fit
), res AS (
  SELECT *,
         CAST(syy AS DOUBLE)
           - 2.0 * slope * CAST(sxy AS DOUBLE)
           - 2.0 * intercept * CAST(sy AS DOUBLE)
           + slope * slope * CAST(sxx AS DOUBLE)
           + 2.0 * slope * intercept * CAST(sx AS DOUBLE)
           + CAST(n AS DOUBLE) * intercept * intercept AS ss_res,
         CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ss_tot
  FROM fit2
)
SELECT 'Coefficient for class Class 0, feature l_quantity' AS label,
       slope AS value FROM res
UNION ALL SELECT 'Intercept for class Class 0', intercept FROM res
UNION ALL SELECT 'mse', ss_res / CAST(n AS DOUBLE) FROM res
UNION ALL SELECT 'r2', 1.0 - ss_res / ss_tot FROM res
UNION ALL SELECT 'Number of Parameters', CAST(2 AS DOUBLE) FROM res
UNION ALL SELECT 'Number of Instances', CAST(n AS DOUBLE) FROM res
UNION ALL SELECT 'Number of Instances', CAST(n AS DOUBLE) FROM res
"""


def _q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (analytics.last_touch_attribution): for each
    purchase, the latest preceding non-purchase touch per user — one
    carry-forward window, no self-join."""
    from kolibrie_spark.operators.analytics import last_touch_attribution
    from kolibrie_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", "ts_us", "event_type", "event_id", "purchase"
    )


def _events_attribution_oracle() -> str:
    from kolibrie_spark.operators.analytics import last_touch_attribution_duckdb_sql

    return last_touch_attribution_duckdb_sql(
        "(SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events)",
        "user_id", "ts_us", "event_type", "event_id", "purchase",
    )


def _q_having_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 HAVING (extension beyond the reference grammar):
    aggregate calls inside the constraint compile to hidden agg columns,
    filtered post-groupBy and dropped before projection."""
    return _sparql(
        "SELECT ?seg (COUNT(?c) AS ?cnt) WHERE { "
        "?c <urn:customer#c_mktsegment> ?seg } "
        "GROUP BY ?seg HAVING (COUNT(?c) > 300)"
    )(spark, sf_dir)


def _q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP_CONCAT with SEPARATOR (SPARQL 1.1 extension): this engine
    DEFINES the concatenation order as sorted-by-value, making the
    implementation-defined SPARQL semantics deterministic and
    oracle-checkable (DuckDB string_agg ... ORDER BY)."""
    return _sparql(
        'SELECT ?rk (GROUP_CONCAT(?n; SEPARATOR="|") AS ?names) WHERE { '
        "?x <urn:nation#n_regionkey> ?rk . ?x <urn:nation#n_name> ?n } "
        "GROUP BY ?rk"
    )(spark, sf_dir)


def _q_bind_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 string builtins in FILTER and BIND (STRLEN / CONTAINS /
    SUBSTR / UCASE / REPLACE), value-space semantics over the engine's
    string-valued terms."""
    return _sparql(
        "SELECT ?name ?u ?r WHERE { ?c <urn:customer#c_name> ?name . "
        'FILTER(CONTAINS(?name, "77") && STRLEN(?name) = 18) '
        "BIND(UCASE(SUBSTR(?name, 10, 5)) AS ?u) "
        'BIND(REPLACE(?name, "Customer", "C") AS ?r) }'
    )(spark, sf_dir)


def _q_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEX + SAMPLE: regex filter (unanchored search semantics, shared
    by Spark regexp_like and DuckDB regexp_matches) and a deterministic
    SAMPLE aggregate (defined as min — any stable choice satisfies
    SPARQL)."""
    return _sparql(
        "SELECT ?seg (SAMPLE(?name) AS ?one) WHERE { "
        "?c <urn:customer#c_name> ?name . "
        "?c <urn:customer#c_mktsegment> ?seg . "
        'FILTER(REGEX(?name, "00[0-4]7$")) } GROUP BY ?seg'
    )(spark, sf_dir)


def _q_construct_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT (SPARQL 1.1 extension): template instantiation over the
    WHERE bindings via the distributed Update-template machinery;
    deduplicated (s, p, o, g) graph out."""
    return _sparql(
        "CONSTRUCT { ?c <urn:inSegment> ?seg . ?c <urn:flagged> \"hi\" } "
        "WHERE { ?c <urn:customer#c_mktsegment> ?seg . "
        "?c <urn:customer#c_acctbal> ?bal . FILTER(?bal > 9000) }"
    )(spark, sf_dir)


def _q_ask_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK (SPARQL 1.1 extension): lazy one-row boolean; LIMIT 1 stops the
    scan at the first witness."""
    return _sparql(
        "ASK { ?o <urn:orders#o_totalprice> ?tp . FILTER(?tp > 100000) }"
    )(spark, sf_dir)


def _q_describe_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE (SPARQL 1.1 extension): subject-outbound description —
    a partition-prunable IN-filter over the quads layout."""
    return _sparql("DESCRIBE <urn:customer:42> <urn:customer:43>")(spark, sf_dir)


def _describe_oracle() -> str:
    # mirrors triplify's melt for the two described customer rows
    cols = {
        "c_custkey": "CAST(c_custkey AS VARCHAR)",
        "c_name": "c_name",
        "c_nationkey": "'urn:nation:' || CAST(c_nationkey AS VARCHAR)",
        "c_acctbal": "CAST(c_acctbal AS VARCHAR)",
        "c_mktsegment": "c_mktsegment",
    }
    selects = [
        f"SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS s, "
        f"'urn:customer#{c}' AS p, {expr} AS o "
        f"FROM customer WHERE c_custkey IN (42, 43)"
        for c, expr in cols.items()
    ]
    return " UNION ALL ".join(selects)


def _q_select_expr_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(expr AS ?v) SELECT projections (SPARQL 1.1 extension): aggregate
    calls inside the expression compile as hidden agg columns (the HAVING
    machinery), string builtins compose over group keys."""
    return _sparql(
        "SELECT ?seg (COUNT(?c) * 2 AS ?n2) (CONCAT(?seg, \"!\") AS ?tag) "
        "WHERE { ?c <urn:customer#c_mktsegment> ?seg } GROUP BY ?seg"
    )(spark, sf_dir)


def _q_filter_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL datetime accessors (YEAR/MONTH, extension): parse the
    lexical timestamp value, filter on components; unparsable -> NULL ->
    false (house error semantics)."""
    return _sparql(
        "SELECT ?o ?d WHERE { ?o <urn:orders#o_orderdate> ?d . "
        "FILTER(YEAR(?d) = 1999 && MONTH(?d) = 2) }"
    )(spark, sf_dir)


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: grouped aggregation over triplified lineitem (sf0.001)."""
    return queries()["groupby_agg"](spark, "/root/testdata/sf0.001")


# The driver's correctness file records at most 50 entries, in dict order.
# Gates listed here are moved to the FRONT of queries()/oracle_sql() so they
# are guaranteed a row.  Standing policy: the gates whose last recorded
# check is oldest lead; the rest follow in queries() order.  Names not in
# queries() are skipped by _driver_order.
_DRIVER_FIRST = [
    "streaming_istream_live",
    "streaming_dstream_live",
    "streaming_sliding_live",
    "streaming_sync_live",
    "streaming_istream_replay",
    "streaming_dstream_replay",
    "reasoner_hierarchy",
    "mlschema_graph",
    "closure_doubling",
    "path_negated_set",
    "text_quality_gopher",
    "analytics_q5",
    "profile_rollup",
    "audit_quality",
    "scd2_orders",
    "events_downsample",
    "dedup_substring",
    "text_strip_html",
    "profile_token_budget",
    "profile_pivot",
    "dedup_paragraphs",
    "sketch_kmv_distinct",
    "profile_ks_drift",
    "fuzzy_vocab_pairs",
    "text_normalize",
    "url_canonicalize",
    "reasoner_transitive_closure",
    "prob_hybrid",
    "ml_predict",
    "builder_chain",
    "profile_winsorize",
    "audit_snapshot_diff",
    "graph_triangles",
    "sketch_hll_distinct",
]


def _driver_order(d: dict) -> dict:
    """Reorder: _DRIVER_FIRST keys first (in that order), rest unchanged."""
    head = [k for k in _DRIVER_FIRST if k in d]
    return {k: d[k] for k in head + [k for k in d if k not in head]}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _driver_order({
        # --- scans / projection / filters (SURVEY §2.1, §2.2)
        "scan_project": _sparql(
            "SELECT ?name WHERE { ?c <urn:customer#c_name> ?name }"
        ),
        "filter_numeric_gt": _sparql(
            "SELECT ?name ?bal WHERE { ?c <urn:customer#c_name> ?name . "
            "?c <urn:customer#c_acctbal> ?bal . FILTER(?bal > 5000) }"
        ),
        "filter_logical": _sparql(
            "SELECT ?name ?seg WHERE { ?c <urn:customer#c_name> ?name . "
            "?c <urn:customer#c_mktsegment> ?seg . ?c <urn:customer#c_acctbal> ?bal . "
            'FILTER(?bal >= 0 && (?seg = "BUILDING" || ?seg = "AUTOMOBILE") '
            "&& !(?bal < 100)) }"
        ),
        "filter_arithmetic": _sparql(
            "SELECT ?ep ?disc WHERE { ?li <urn:lineitem#l_extendedprice> ?ep . "
            "?li <urn:lineitem#l_discount> ?disc . "
            "FILTER(?ep * (1 - ?disc) > 90000) }"
        ),
        # --- joins (§2.3)
        "star_join": _sparql(
            "SELECT ?name ?seg ?bal WHERE { ?c <urn:customer#c_name> ?name . "
            "?c <urn:customer#c_mktsegment> ?seg . ?c <urn:customer#c_acctbal> ?bal }"
        ),
        "join_fk": _sparql(
            "SELECT ?tp ?cname WHERE { ?o <urn:orders#o_custkey> ?c . "
            "?o <urn:orders#o_totalprice> ?tp . ?c <urn:customer#c_name> ?cname }"
        ),
        # --- Spark-first join extensions (absent from the reference,
        # SURVEY §2.3/§2.8: OPTIONAL/MINUS/EXISTS; native Catalyst
        # left-outer / anti / semi joins here)
        "optional_left_join": _sparql(
            "SELECT ?name ?tp WHERE { ?c <urn:customer#c_name> ?name . "
            "OPTIONAL { ?o <urn:orders#o_custkey> ?c . "
            "?o <urn:orders#o_totalprice> ?tp } }"
        ),
        "minus_anti": _sparql(
            "SELECT ?name WHERE { ?c <urn:customer#c_name> ?name . "
            "MINUS { ?o <urn:orders#o_custkey> ?c . "
            "?o <urn:orders#o_totalprice> ?tp . FILTER(?tp > 250000) } }"
        ),
        "filter_exists": _sparql(
            'SELECT ?name WHERE { ?c <urn:customer#c_mktsegment> "BUILDING" . '
            "?c <urn:customer#c_name> ?name . "
            "FILTER EXISTS { ?o <urn:orders#o_custkey> ?c } }"
        ),
        # --- property paths (Spark-first extension): sequence over the FK
        # chain, and a ground-endpoint transitive closure that compiles to
        # a frontier BFS instead of the full O(V^2) closure
        "path_seq_fk": _sparql(
            "SELECT ?name ?rname WHERE { ?c <urn:customer#c_name> ?name . "
            "?c (<urn:customer#c_nationkey>/<urn:nation#n_regionkey>) ?r . "
            "?r <urn:region#r_name> ?rname }"
        ),
        "path_plus_reach": _sparql(
            "SELECT ?x WHERE { ?x (<urn:orders#o_custkey>|"
            "<urn:customer#c_nationkey>|<urn:nation#n_regionkey>)+ "
            "<urn:region:0> }"
        ),
        "path_star_reach": _sparql(
            "SELECT ?x WHERE { <urn:orders:1> (<urn:orders#o_custkey>|"
            "<urn:customer#c_nationkey>|<urn:nation#n_regionkey>)* ?x }"
        ),
        "path_opt_direct": _sparql(
            "SELECT ?n WHERE { ?n <urn:customer#c_nationkey>? <urn:nation:3> }"
        ),
        "path_negated_set": _sparql(
            # SPARQL 1.1 negated property set, mixed forward+inverse:
            # nation 3's own properties except the comment, plus every
            # node pointing a non-customer FK edge AT nation 3 (its
            # suppliers)
            "SELECT ?v WHERE { <urn:nation:3> "
            "!(<urn:nation#n_comment>|^<urn:customer#c_nationkey>) ?v }"
        ),
        # --- aggregation (§2.4)
        "groupby_agg": _sparql(
            "SELECT ?flag (SUM(?qty) AS ?sum_qty) (AVG(?qty) AS ?avg_qty) "
            "(MIN(?qty) AS ?min_qty) (MAX(?qty) AS ?max_qty) (COUNT(?qty) AS ?cnt) "
            "WHERE { ?li <urn:lineitem#l_returnflag> ?flag . "
            "?li <urn:lineitem#l_quantity> ?qty } GROUP BY ?flag"
        ),
        "agg_count": _sparql(
            "SELECT (COUNT(?c) AS ?cnt) WHERE { ?c <urn:customer#c_custkey> ?k }"
        ),
        "distinct_segments": _sparql(
            "SELECT DISTINCT ?seg WHERE { ?c <urn:customer#c_mktsegment> ?seg }"
        ),
        # --- sort / limit / offset (§2.6)
        "order_by_desc_limit": _sparql(
            "SELECT ?name ?bal WHERE { ?c <urn:customer#c_name> ?name . "
            "?c <urn:customer#c_acctbal> ?bal } ORDER BY DESC(?bal) ?name LIMIT 10"
        ),
        "order_numeric_lexical": _sparql(
            "SELECT ?pname ?size WHERE { ?p <urn:part#p_name> ?pname . "
            "?p <urn:part#p_size> ?size } ORDER BY ?size ?pname LIMIT 25"
        ),
        "offset_pagination": _sparql(
            "SELECT ?name WHERE { ?c <urn:customer#c_name> ?name } "
            "ORDER BY ?name LIMIT 20 OFFSET 10"
        ),
        # --- set ops (§2.7)
        "union_multiset": _sparql(
            'SELECT ?name WHERE { { ?c <urn:customer#c_mktsegment> "BUILDING" . '
            "?c <urn:customer#c_name> ?name } UNION "
            '{ ?c <urn:customer#c_mktsegment> "MACHINERY" . '
            "?c <urn:customer#c_name> ?name } }"
        ),
        "union_three_branches": _sparql(
            "SELECT ?n WHERE { { ?x <urn:region#r_name> ?n } UNION "
            "{ ?x <urn:nation#n_name> ?n } UNION "
            "{ ?x <urn:supplier#s_name> ?n } }"
        ),
        "bind_arithmetic": _sparql(
            "SELECT ?pname ?dbl WHERE { ?p <urn:part#p_name> ?pname . "
            "?p <urn:part#p_retailprice> ?price . "
            "BIND(?price * 2 AS ?dbl) }"
        ),
        "graph_default_named_join": _sparql(
            "SELECT ?name ?bal WHERE { ?c <urn:customer#c_name> ?name . "
            "GRAPH <urn:graph:customer> { ?c <urn:customer#c_acctbal> ?bal } }"
        ),
        # --- BIND / VALUES / GRAPH / subquery (§2.8)
        "bind_concat": _sparql(
            "SELECT ?tag WHERE { ?c <urn:customer#c_name> ?name . "
            "?c <urn:customer#c_mktsegment> ?seg . "
            'BIND(CONCAT(?name, "/", ?seg) AS ?tag) }'
        ),
        "values_undef": _sparql(
            "SELECT ?name ?tag WHERE { ?c <urn:customer#c_mktsegment> ?seg . "
            "?c <urn:customer#c_name> ?name . "
            'VALUES (?seg ?tag) { ("BUILDING" "b") (UNDEF "any") } }'
        ),
        "graph_fixed": _sparql(
            "SELECT ?nname WHERE { GRAPH <urn:graph:nation> "
            "{ ?n <urn:nation#n_name> ?nname } }"
        ),
        "graph_var": _sparql(
            "SELECT ?g ?nname WHERE { GRAPH ?g { ?n <urn:nation#n_name> ?nname } }"
        ),
        "from_merge_dedup": _sparql(
            "SELECT ?nname FROM <urn:g1> FROM <urn:g2> "
            "WHERE { ?n <urn:nation#n_name> ?nname }"
        ),
        "subquery_count_join": _sparql(
            "SELECT ?nname ?cnt WHERE { "
            "{ SELECT ?nat (COUNT(?c) AS ?cnt) WHERE "
            "{ ?c <urn:customer#c_acctbal> ?bal . ?c <urn:customer#c_nationkey> ?nat } "
            "GROUP BY ?nat } "
            "?nat <urn:nation#n_name> ?nname }"
        ),
        "udf_bind": _q_udf_bind,
        # --- updates (§2.8 SPARQL Update)
        "update_insert_where": _q_update_insert_where,
        "update_delete_where": _q_update_delete_where,
        "update_insert_delete_data": _q_update_insert_data,
        # --- RDF-star (§2.8 builtins, §1.1 quoted triples)
        "rdf_star_annotate": _q_rdf_star_annotate,
        "rdf_star_builtins": _q_rdf_star_builtins,
        # --- LLM-pipeline operators (north-star extensions)
        "text_analyze": _q_text_analyze,
        "text_bm25_topk": _q_text_bm25_topk,
        "text_common_spans": _q_text_common_spans,
        "text_quality_gopher": _q_text_quality_gopher,
        "layout_zorder": _q_layout_zorder,
        "analytics_q5": _q_analytics_q5,
        "profile_rollup": _q_profile_rollup,
        "audit_quality": _q_audit_quality,
        "scd2_orders": _q_scd2_orders,
        "events_downsample": _q_events_downsample,
        "events_json_agg": _q_events_json_agg,
        "dedup_substring": _q_dedup_substring,
        "text_strip_html": _q_text_strip_html,
        "profile_token_budget": _q_profile_token_budget,
        "events_rolling": _q_events_rolling,
        "profile_pivot": _q_profile_pivot,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "sketch_kmv_distinct": _q_sketch_kmv,
        "profile_ks_drift": _q_profile_ks_drift,
        "fuzzy_vocab_pairs": _q_fuzzy_vocab,
        "text_normalize": _q_text_normalize,
        "profile_quantiles": _q_profile_quantiles,
        "profile_histogram": _q_profile_histogram,
        "graph_pagerank": _q_graph_pagerank,
        "pack_sequences": _q_pack_sequences,
        "text_repetition": _q_text_repetition,
        "text_top_terms": _q_text_top_terms,
        "profile_stats": _q_profile_stats,
        "text_scrub_pii": _q_text_scrub_pii,
        "text_tokenize_ids": _q_text_tokenize_ids,
        "text_chunk": _q_text_chunk,
        "top_docs_per_source": _q_top_docs_per_source,
        "events_window_agg": _q_events_window_agg,
        "events_sessionize": _q_events_sessionize,
        "url_canonicalize": _q_url_canonicalize,
        # --- reasoner + streaming replay (§2.9/§2.10)
        "reasoner_transitive_closure": _q_reasoner_closure,
        "closure_doubling": _q_closure_doubling,
        "reasoner_hierarchy": _q_reasoner_hierarchy,
        "prob_hybrid": _q_prob_hybrid,
        "streaming_istream_replay": _q_streaming_istream_replay,
        "streaming_dstream_replay": _q_streaming_dstream_replay,
        "streaming_istream_live": _q_streaming_istream_live,
        "streaming_dstream_live": _q_streaming_dstream_live,
        "streaming_sliding_live": _q_streaming_sliding_live,
        "streaming_sync_live": _q_streaming_sync_live,
        "profile_equidepth": _q_profile_equidepth,
        "profile_corr": _q_profile_corr,
        "ml_group_ols": _q_ml_group_ols,
        "mlschema_graph": _q_mlschema_graph,
        "events_attribution": _q_events_attribution,
        "having_count": _q_having_count,
        "group_concat_names": _q_group_concat,
        "bind_string_funcs": _q_bind_string_funcs,
        "filter_regex_sample": _q_filter_regex,
        "construct_graph": _q_construct_graph,
        "ask_exists": _q_ask_exists,
        "describe_subject": _q_describe_subject,
        "select_expr_proj": _q_select_expr_proj,
        "filter_datetime": _q_filter_datetime,
        # --- ML / builder (§2.11, §2.12)
        "ml_predict": _q_ml_predict,
        "builder_chain": _q_builder_chain,
        "asof_join_events_orders": _q_asof_join,
        # --- round-3 session-4 additions
        "telemetry_resample": _q_telemetry_resample,
        "profile_winsorize": _q_profile_winsorize,
        "audit_snapshot_diff": _q_audit_snapshot_diff,
        "events_interval_merge": _q_events_interval_merge,
        "graph_triangles": _q_graph_triangles,
        "sketch_hll_distinct": _q_sketch_hll_distinct,
        "events_anomaly_mad": _q_events_anomaly_mad,
        "events_ewma": _q_events_ewma,
        "events_path_trigrams": _q_events_path_trigrams,
        "analytics_q3": _q_analytics_q3,
        "analytics_q10": _q_analytics_q10,
    })


def oracle_sql() -> dict[str, str]:
    qt = (
        "'qt:' || substr(sha256('urn:supplier:' || CAST(s_suppkey AS VARCHAR) "
        "|| chr(0) || 'urn:supplier#s_name' || chr(0) || s_name), 1, 32)"
    )
    return _driver_order({
        "scan_project": "SELECT c_name AS name FROM customer",
        "filter_numeric_gt": (
            "SELECT c_name AS name, CAST(c_acctbal AS VARCHAR) AS bal "
            "FROM customer WHERE c_acctbal > 5000"
        ),
        "filter_logical": (
            "SELECT c_name AS name, c_mktsegment AS seg FROM customer "
            "WHERE c_acctbal >= 0 AND (c_mktsegment = 'BUILDING' OR "
            "c_mktsegment = 'AUTOMOBILE') AND NOT (c_acctbal < 100)"
        ),
        "filter_arithmetic": (
            "SELECT CAST(l_extendedprice AS VARCHAR) AS ep, "
            "CAST(l_discount AS VARCHAR) AS disc FROM lineitem "
            "WHERE l_extendedprice * (1 - l_discount) > 90000"
        ),
        "star_join": (
            "SELECT c_name AS name, c_mktsegment AS seg, "
            "CAST(c_acctbal AS VARCHAR) AS bal FROM customer"
        ),
        "join_fk": (
            "SELECT CAST(o_totalprice AS VARCHAR) AS tp, c_name AS cname "
            "FROM orders JOIN customer ON o_custkey = c_custkey"
        ),
        "optional_left_join": (
            "SELECT c_name AS name, "
            "coalesce(CAST(o_totalprice AS VARCHAR), '') AS tp "
            "FROM customer LEFT JOIN orders ON o_custkey = c_custkey"
        ),
        "minus_anti": (
            "SELECT c_name AS name FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders WHERE o_custkey = c.c_custkey "
            "AND o_totalprice > 250000)"
        ),
        "filter_exists": (
            "SELECT c_name AS name FROM customer c "
            "WHERE c_mktsegment = 'BUILDING' AND EXISTS "
            "(SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)"
        ),
        "path_seq_fk": (
            "SELECT c_name AS name, r_name AS rname FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey"
        ),
        "path_plus_reach": (
            "WITH RECURSIVE edges AS ("
            "  SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR) AS x, "
            "         'urn:customer:' || CAST(o_custkey AS VARCHAR) AS y FROM orders"
            "  UNION ALL SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), "
            "         'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer"
            "  UNION ALL SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), "
            "         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation"
            "), reach AS ("
            "  SELECT x FROM edges WHERE y = 'urn:region:0'"
            "  UNION SELECT e.x FROM edges e JOIN reach r ON e.y = r.x"
            ") SELECT x FROM reach"
        ),
        "path_star_reach": (
            "WITH RECURSIVE edges AS ("
            "  SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR) AS x, "
            "         'urn:customer:' || CAST(o_custkey AS VARCHAR) AS y FROM orders"
            "  UNION ALL SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), "
            "         'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer"
            "  UNION ALL SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), "
            "         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation"
            "), reach AS ("
            "  SELECT 'urn:orders:1' AS x"  # zero-length: the start itself
            "  UNION SELECT e.y FROM edges e JOIN reach r ON e.x = r.x"
            ") SELECT x FROM reach"
        ),
        "path_opt_direct": (
            "SELECT 'urn:nation:3' AS n"  # zero-length: the object itself
            " UNION SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR)"
            " FROM customer WHERE c_nationkey = 3"
        ),
        "path_negated_set": (
            "SELECT CAST(n_nationkey AS VARCHAR) AS v FROM nation WHERE n_nationkey = 3"
            " UNION ALL SELECT n_name FROM nation WHERE n_nationkey = 3"
            " UNION ALL SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR)"
            " FROM nation WHERE n_nationkey = 3"
            " UNION ALL SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR)"
            " FROM supplier WHERE s_nationkey = 3"
        ),
        "groupby_agg": (
            "SELECT l_returnflag AS flag, SUM(l_quantity) AS sum_qty, "
            "AVG(l_quantity) AS avg_qty, MIN(l_quantity) AS min_qty, "
            "MAX(l_quantity) AS max_qty, COUNT(l_quantity) AS cnt "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "agg_count": "SELECT COUNT(*) AS cnt FROM customer",
        "distinct_segments": (
            "SELECT DISTINCT c_mktsegment AS seg FROM customer"
        ),
        "order_by_desc_limit": (
            "SELECT c_name AS name, CAST(c_acctbal AS VARCHAR) AS bal "
            "FROM customer ORDER BY c_acctbal DESC, c_name LIMIT 10"
        ),
        "order_numeric_lexical": (
            "SELECT p_name AS pname, CAST(p_size AS VARCHAR) AS size "
            "FROM part ORDER BY p_size, p_name LIMIT 25"
        ),
        "offset_pagination": (
            "SELECT c_name AS name FROM customer ORDER BY c_name "
            "LIMIT 20 OFFSET 10"
        ),
        "union_multiset": (
            "SELECT c_name AS name FROM customer WHERE c_mktsegment = 'BUILDING' "
            "UNION ALL "
            "SELECT c_name AS name FROM customer WHERE c_mktsegment = 'MACHINERY'"
        ),
        "union_three_branches": (
            "SELECT r_name AS n FROM region UNION ALL "
            "SELECT n_name FROM nation UNION ALL SELECT s_name FROM supplier"
        ),
        "bind_arithmetic": (
            "SELECT p_name AS pname, CAST(p_retailprice * 2 AS VARCHAR) AS dbl "
            "FROM part"
        ),
        "graph_default_named_join": (
            "SELECT c_name AS name, CAST(c_acctbal AS VARCHAR) AS bal FROM customer"
        ),
        "bind_concat": (
            "SELECT c_name || '/' || c_mktsegment AS tag FROM customer"
        ),
        "values_undef": (
            "SELECT c_name AS name, 'b' AS tag FROM customer "
            "WHERE c_mktsegment = 'BUILDING' "
            "UNION ALL SELECT c_name AS name, 'any' AS tag FROM customer"
        ),
        "graph_fixed": "SELECT n_name AS nname FROM nation",
        "graph_var": (
            "SELECT g, n_name AS nname FROM nation, "
            "(VALUES ('urn:graph:nation'), ('urn:g1'), ('urn:g2')) AS t(g)"
        ),
        "from_merge_dedup": "SELECT n_name AS nname FROM nation",
        "subquery_count_join": (
            "SELECT n_name AS nname, cnt FROM "
            "(SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey) "
            "JOIN nation ON c_nationkey = n_nationkey"
        ),
        "udf_bind": "SELECT UPPER(c_name) AS u FROM customer",
        "update_insert_where": (
            "SELECT c_name AS name FROM customer WHERE c_acctbal > 9000"
        ),
        "update_delete_where": (
            "SELECT c_name AS name FROM customer WHERE NOT (c_acctbal < 0)"
        ),
        "update_insert_delete_data": (
            "SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) AS r, "
            "r_name AS name FROM region "
            "UNION ALL SELECT 'urn:region:99', 'ATLANTIS' "
            "ORDER BY name"
        ),
        "rdf_star_annotate": (
            "SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS s, "
            "CAST(s_acctbal AS VARCHAR) AS bal, '0.9' AS c FROM supplier"
        ),
        "rdf_star_builtins": (
            f"SELECT {qt} AS t, "
            "'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS subj, "
            "s_name AS obj FROM supplier"
        ),
        # --- LLM-pipeline operators
        "text_analyze": _text_analyze_oracle(),
        "text_bm25_topk": _text_bm25_topk_oracle(),
        "text_common_spans": _text_common_spans_oracle(),
        "text_quality_gopher": _text_quality_gopher_oracle(),
        "layout_zorder": _layout_zorder_oracle(),
        "analytics_q5": _analytics_q5_oracle(),
        "profile_rollup": _profile_rollup_oracle(),
        "audit_quality": _audit_quality_oracle(),
        "scd2_orders": _scd2_orders_oracle(),
        "events_downsample": _events_downsample_oracle(),
        "events_json_agg": _events_json_agg_oracle(),
        "dedup_substring": _dedup_substring_oracle(),
        "text_strip_html": _text_strip_html_oracle(),
        "profile_token_budget": _profile_token_budget_oracle(),
        "events_rolling": _events_rolling_oracle(),
        "profile_pivot": _profile_pivot_oracle(),
        "dedup_paragraphs": _dedup_paragraphs_oracle(),
        "events_funnel": _events_funnel_oracle(),
        "events_retention": _events_retention_oracle(),
        "sketch_kmv_distinct": _sketch_kmv_oracle(),
        "profile_ks_drift": _profile_ks_drift_oracle(),
        "fuzzy_vocab_pairs": _fuzzy_vocab_oracle(),
        "text_normalize": _text_normalize_oracle(),
        "profile_quantiles": _profile_quantiles_oracle(),
        "profile_histogram": _profile_histogram_oracle(),
        "graph_pagerank": _graph_pagerank_oracle(),
        "pack_sequences": _pack_sequences_oracle(),
        "text_repetition": _text_repetition_oracle(),
        "text_top_terms": _text_top_terms_oracle(),
        "profile_stats": _profile_stats_oracle(),
        "text_scrub_pii": _text_scrub_pii_oracle(),
        "text_tokenize_ids": _text_tokenize_ids_oracle(),
        "text_chunk": _text_chunk_oracle(),
        "top_docs_per_source": _top_docs_per_source_oracle(),
        "events_window_agg": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, "
            "event_type, COUNT(*) AS cnt, MIN(value) AS min_value, "
            "MAX(value) AS max_value "
            "FROM events GROUP BY 1, 2"
        ),
        "reasoner_transitive_closure": (
            "WITH RECURSIVE edges AS ("
            "  SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR) AS x, "
            "         'urn:customer:' || CAST(o_custkey AS VARCHAR) AS y FROM orders"
            "  UNION ALL SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), "
            "         'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer"
            "  UNION ALL SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), "
            "         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation"
            "), closure AS ("
            "  SELECT x, y FROM edges"
            "  UNION"
            "  SELECT e.x, c.y FROM edges e JOIN closure c ON e.y = c.x"
            ") SELECT x AS s, y AS o FROM closure"
        ),
        "closure_doubling": (
            "WITH RECURSIVE buckets AS ("
            "  SELECT GREATEST(CAST(FLOOR(count(*) / 48) AS BIGINT), 1) AS m"
            "  FROM part"
            "), edges AS ("
            "  SELECT src, dst FROM ("
            "    SELECT p_partkey AS src, "
            "           lead(p_partkey) OVER ("
            "             PARTITION BY p_partkey % (SELECT m FROM buckets) "
            "             ORDER BY p_partkey) AS dst"
            "    FROM part)"
            "  WHERE dst IS NOT NULL"
            "), reach AS ("
            "  SELECT src, dst FROM edges"
            "  UNION"
            "  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
            ") SELECT src % 64 AS grp, count(*) AS pairs "
            "FROM reach GROUP BY grp ORDER BY grp"
        ),
        "reasoner_hierarchy": (
            "WITH base AS ("
            "  SELECT s_name AS s, 'located_in' AS p, n_name AS o"
            "  FROM supplier JOIN nation ON s_nationkey = n_nationkey"
            "  UNION"
            "  SELECT n_name, 'in_region', r_name"
            "  FROM nation JOIN region ON n_regionkey = r_regionkey"
            "), ded AS ("
            "  SELECT DISTINCT l.s AS s, 'in_macro' AS p, r.o AS o"
            "  FROM base l JOIN base r ON l.o = r.s"
            "  WHERE l.p = 'located_in' AND r.p = 'in_region'"
            "), abd AS ("
            "  SELECT DISTINCT s, 'might_trade' AS p, o FROM ded"
            "), meta AS ("
            "  SELECT DISTINCT a.s AS s, 'is_a' AS p, 'global_supplier' AS o"
            "  FROM abd a JOIN base b ON a.s = b.s AND b.p = 'located_in'"
            ") "
            "SELECT CAST(0 AS INT) AS level_no, s, p, o, "
            "CAST(1.0 AS DOUBLE) AS certainty FROM base "
            "UNION ALL SELECT CAST(1 AS INT), s, p, o, CAST(0.9 AS DOUBLE) FROM ded "
            "UNION ALL SELECT CAST(2 AS INT), s, p, o, CAST(0.6 AS DOUBLE) FROM abd "
            "UNION ALL SELECT CAST(3 AS INT), s, p, o, CAST(0.4 AS DOUBLE) FROM meta"
        ),
        "prob_hybrid": _prob_hybrid_oracle(),
        "events_sessionize": _events_sessionize_oracle(),
        "url_canonicalize": _url_canonicalize_oracle(),
        "streaming_istream_replay": (
            "WITH w AS (SELECT DISTINCT "
            "CAST(epoch_us(ts) // 1000000 AS BIGINT) "
            " - (CAST(epoch_us(ts) // 1000000 AS BIGINT) % 3600) AS window_open, "
            "user_id AS u, event_type AS t FROM events) "
            "SELECT window_open, u, t FROM w "
            "WHERE NOT EXISTS (SELECT 1 FROM w p WHERE "
            "p.window_open = w.window_open - 3600 AND p.u = w.u AND p.t = w.t)"
        ),
        "streaming_istream_live": (
            "WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS et, "
            "user_id AS u, event_type AS t FROM events), "
            "w AS (SELECT DISTINCT et - et % 864000 AS window_open, u, t FROM e), "
            "hwm AS (SELECT max(et) AS h FROM e) "
            "SELECT window_open, u, t FROM w, hwm "
            "WHERE window_open + 864000 <= h "
            "AND NOT EXISTS (SELECT 1 FROM w p WHERE "
            "p.window_open = w.window_open - 864000 AND p.u = w.u AND p.t = w.t)"
        ),
        "streaming_dstream_live": (
            "WITH e AS (SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS et, "
            "user_id AS u, event_type AS t FROM events), "
            "w AS (SELECT DISTINCT et - et % 864000 AS window_open, u, t FROM e), "
            "hwm AS (SELECT max(et) AS h FROM e), "
            "shifted AS (SELECT window_open + 864000 AS window_open, u, t FROM w) "
            "SELECT s.window_open, s.u, s.t FROM shifted s, hwm "
            "WHERE s.window_open + 864000 <= h "
            "AND NOT EXISTS (SELECT 1 FROM w c WHERE "
            "c.window_open = s.window_open AND c.u = s.u AND c.t = s.t)"
        ),
        "streaming_sliding_live": _streaming_sliding_live_oracle(),
        "streaming_sync_live": _streaming_sync_live_oracle(),
        "ml_predict": (
            "SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS part, "
            "CAST(p_retailprice AS VARCHAR) AS price, "
            "CAST(p_size AS VARCHAR) AS size, "
            "p_retailprice * 0.9 + p_size * 2.0 AS score FROM part"
        ),
        "builder_chain": (
            "SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS s, "
            "'urn:customer#c_acctbal' AS p, CAST(c_acctbal AS VARCHAR) AS o "
            "FROM customer WHERE c_acctbal >= 9900"
        ),
        "asof_join_events_orders": (
            "SELECT e.event_id, e.user_id AS u, epoch_us(o.o_orderdate) AS last_order_us "
            "FROM events e ASOF LEFT JOIN orders o "
            "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"
        ),
        "streaming_dstream_replay": (
            "WITH w AS (SELECT DISTINCT "
            "CAST(epoch_us(ts) // 1000000 AS BIGINT) "
            " - (CAST(epoch_us(ts) // 1000000 AS BIGINT) % 3600) AS window_open, "
            "user_id AS u, event_type AS t FROM events), "
            "shifted AS (SELECT window_open + 3600 AS window_open, u, t FROM w) "
            "SELECT s.window_open, s.u, s.t FROM shifted s "
            "WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.window_open = s.window_open "
            "AND w.u = s.u AND w.t = s.t) "
            "AND EXISTS (SELECT 1 FROM w WHERE w.window_open = s.window_open)"
        ),
        # --- round-3 session-4 additions
        "telemetry_resample": _resample_oracle(),
        "profile_winsorize": _winsorize_oracle(),
        "audit_snapshot_diff": _audit_snapshot_diff_oracle(),
        "events_interval_merge": _interval_merge_oracle(),
        "graph_triangles": _graph_triangles_oracle(),
        "sketch_hll_distinct": _hll_distinct_oracle(),
        "events_anomaly_mad": _events_anomaly_mad_oracle(),
        "events_ewma": _events_ewma_oracle(),
        "events_path_trigrams": _events_path_trigrams_oracle(),
        "analytics_q3": _analytics_q3_oracle(),
        "analytics_q10": _analytics_q10_oracle(),
        "profile_equidepth": _profile_equidepth_oracle(),
        "profile_corr": _profile_corr_oracle(),
        "ml_group_ols": _ml_group_ols_oracle(),
        "mlschema_graph": _mlschema_graph_oracle(),
        "events_attribution": _events_attribution_oracle(),
        "having_count": (
            "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM customer GROUP BY 1 HAVING COUNT(*) > 300"
        ),
        "group_concat_names": (
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) AS rk, "
            "string_agg(n_name, '|' ORDER BY n_name) AS names "
            "FROM nation GROUP BY 1"
        ),
        "bind_string_funcs": (
            "SELECT c_name AS name, upper(substring(c_name, 10, 5)) AS u, "
            "replace(c_name, 'Customer', 'C') AS r FROM customer "
            "WHERE contains(c_name, '77') AND length(c_name) = 18"
        ),
        "filter_regex_sample": (
            "SELECT c_mktsegment AS seg, MIN(c_name) AS one FROM customer "
            "WHERE regexp_matches(c_name, '00[0-4]7$') GROUP BY 1"
        ),
        "construct_graph": (
            "WITH hits AS (SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS c, "
            "c_mktsegment AS seg FROM customer WHERE c_acctbal > 9000) "
            "SELECT c AS s, 'urn:inSegment' AS p, seg AS o, CAST(NULL AS VARCHAR) AS g "
            "FROM hits UNION ALL "
            "SELECT c, 'urn:flagged', 'hi', CAST(NULL AS VARCHAR) FROM hits"
        ),
        "ask_exists": (
            "SELECT EXISTS(SELECT 1 FROM orders WHERE o_totalprice > 100000) AS ask"
        ),
        "describe_subject": _describe_oracle(),
        "select_expr_proj": (
            "SELECT c_mktsegment AS seg, "
            "CAST(CAST(COUNT(*) * 2 AS DOUBLE) AS VARCHAR) AS n2, "
            "c_mktsegment || '!' AS tag FROM customer GROUP BY 1"
        ),
        "filter_datetime": (
            "SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR) AS o, "
            "CAST(o_orderdate AS VARCHAR) AS d FROM orders "
            "WHERE year(o_orderdate) = 1999 AND month(o_orderdate) = 2"
        ),
    })
