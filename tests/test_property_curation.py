"""Property-based tests (hypothesis) for the curation operators: packing
conservation, idempotency, and bound invariants under randomized
inputs — properties a fixed fixture can miss."""

from hypothesis import HealthCheck, given, settings, strategies as st

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

tokens_st = st.lists(
    st.integers(min_value=0, max_value=50), min_size=1, max_size=40
)


@SLOW
@given(toks=tokens_st, budget=st.integers(2, 64), shards=st.integers(1, 4))
def test_pack_conserves_tokens_and_fills_sequences(spark, toks, budget, shards):
    from kolibrie_spark.operators.packing import pack_chunks

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, tokens long")
    pdf = pack_chunks(df, "doc_id", "tokens", budget, shards=shards).toPandas()
    # conservation: every doc's slices cover exactly its token count
    got = pdf.groupby("doc_id").n_toks.sum().to_dict()
    assert got == {i: t for i, t in rows if t > 0}
    # no sequence over budget; all but each shard's last sequence full
    per_seq = pdf.groupby(["shard", "seq"]).n_toks.sum()
    assert (per_seq <= budget).all()
    for shard, grp in pdf.groupby("shard"):
        full = grp.groupby("seq").n_toks.sum()
        assert (full[full.index < full.index.max()] == budget).all()


words_st = st.lists(
    st.sampled_from(["dog", "cat", "a1", "x", "10.0.0.1", "bob@x.io", "42"]),
    min_size=0,
    max_size=25,
)


@SLOW
@given(ws=st.lists(words_st, min_size=1, max_size=8))
def test_scrub_is_idempotent(spark, ws):
    from kolibrie_spark.operators.scrub import scrub_pii

    rows = [(i, " ".join(w)) for i, w in enumerate(ws)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = scrub_pii(df, "doc_id", "text")
    twice = scrub_pii(
        once.withColumnRenamed("scrubbed", "text"), "doc_id", "text"
    )
    a = {r.doc_id: r.scrubbed for r in once.collect()}
    b = {r.doc_id: r.scrubbed for r in twice.collect()}
    assert a == b  # replacement tags contain no PII shapes
    # second pass finds nothing
    assert all(
        r.n_email == 0 and r.n_ipv4 == 0 and r.n_number == 0
        for r in twice.collect()
    )


@SLOW
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c"), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=6,
    ),
    n=st.integers(1, 3),
)
def test_repetition_fraction_bounds_and_twin(spark, texts, n):
    import duckdb

    from kolibrie_spark.operators.textanalysis import (
        dup_ngram_fraction,
        dup_ngram_fraction_duckdb,
    )
    from pyspark.sql import functions as F

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_ngram_fraction(F.col("text"), n).alias("f")
        ).collect()
    }
    assert all(0.0 <= v < 1.0 for v in got.values())
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = dict(
        con.execute(
            f"SELECT doc_id, {dup_ngram_fraction_duckdb('text', n)} FROM d"
        ).fetchall()
    )
    assert got == want  # struct-zip and string formulations agree exactly


_scheme_st = st.sampled_from(["http", "HTTP", "https", "HtTpS"])
_host_st = st.sampled_from(["Example.COM", "www.site.org", "A.B.io"])
_port_st = st.sampled_from(["", ":80", ":443", ":8080"])
_path_st = st.sampled_from(["", "/", "/a", "/a/b", "/a/b/", "/x.y/"])
_params_st = st.lists(
    st.sampled_from(["a=1", "b=2", "z=9", "utm_source=x", "gclid=g", "ref=r"]),
    max_size=4,
)
_frag_st = st.sampled_from(["", "#f", "#frag/ment"])


@SLOW
@given(
    parts=st.lists(
        st.tuples(_scheme_st, _host_st, _port_st, _path_st, _params_st, _frag_st),
        min_size=1,
        max_size=12,
    )
)
def test_canonical_url_matches_duckdb_and_is_idempotent(spark, parts):
    """Differential property: the Spark canonicalizer and its DuckDB twin
    produce identical strings on randomized URLs, and canonicalization is
    idempotent (canonical of a canonical URL is itself)."""
    import duckdb

    from pyspark.sql import functions as F

    from kolibrie_spark.operators.urltools import (
        canonical_url,
        canonical_url_duckdb_sql,
    )

    urls = []
    for s, h, port, path, params, frag in parts:
        q = "?" + "&".join(params) if params else ""
        urls.append(f"{s}://{h}{port}{path}{q}{frag}")
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id long, url string")
    mine = {
        r.id: r.c
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    ref = dict(
        con.execute(
            f"SELECT id, {canonical_url_duckdb_sql('u')} FROM t"
        ).fetchall()
    )
    assert mine == ref
    # idempotency
    df2 = spark.createDataFrame(
        [(i, c) for i, c in mine.items()], "id long, url string"
    )
    again = {
        r.id: r.c
        for r in df2.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert again == mine
