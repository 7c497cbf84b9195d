"""Curation operators: repetition metrics, tokenization, chunking,
profiling, PII scrubbing, corpus top terms — brute-force Python oracles
plus DuckDB twins."""

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat the cat sat again", "web"),
        (2, "one two three four five six seven eight", "web"),
        (3, "spam spam spam spam spam spam", "web"),
        (4, "alpha beta gamma alpha beta gamma alpha beta", "books"),
        (5, "x", "books"),
        (6, "", "code"),
        (7, "the quick brown fox jumps over the lazy dog", "code"),
        (8, "to be or not to be that is the question", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _ngrams(text, n):
    w = text.strip().lower().split() if text.strip() else [""]
    # split('\s+') on empty text yields [''] in both engines
    if text == "":
        w = [""]
    return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]


def test_repetition_metrics_brute_force(spark, docs):
    from kolibrie_spark.operators.textanalysis import repetition_metrics

    got = {
        r.doc_id: (r.dup_word_frac, r.dup_2gram_frac, r.dup_3gram_frac)
        for r in repetition_metrics(docs, "doc_id", "text").collect()
    }
    for doc_id, text, _src in [
        (r.doc_id, r.text, r.source) for r in docs.collect()
    ]:
        for slot, n in ((0, 1), (1, 2), (2, 3)):
            grams = _ngrams(text, n)
            want = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
            assert got[doc_id][slot] == pytest.approx(want, abs=1e-15), (
                doc_id,
                n,
            )
    # pure-repetition doc: 6 'spam' words -> dup_word_frac 5/6
    assert got[3][0] == pytest.approx(5 / 6)
    # no-repetition doc
    assert got[2] == (0.0, 0.0, 0.0)


def test_repetition_duckdb_twin(spark, docs):
    from kolibrie_spark.operators.textanalysis import (
        dup_ngram_fraction_duckdb,
        repetition_metrics,
    )

    got = sorted(
        tuple(r) for r in repetition_metrics(docs, "doc_id", "text").collect()
    )
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT doc_id, {dup_ngram_fraction_duckdb('text', 1)},"
            f" {dup_ngram_fraction_duckdb('text', 2)},"
            f" {dup_ngram_fraction_duckdb('text', 3)} FROM docs"
        ).fetchall()
    )
    assert got == want  # exact float equality


def test_tokenize_to_ids(spark, docs):
    from kolibrie_spark.operators.search import (
        build_vocab,
        tokenize_to_ids,
        tokenize_to_ids_duckdb_sql,
    )

    vocab = build_vocab(docs, "text", 5)
    assert vocab[0] == "spam"  # ties: spam/the at 6, lexicographic
    out = {r.doc_id: r for r in tokenize_to_ids(docs, "doc_id", "text", vocab).collect()}
    # doc 3: 'spam' x6 -> id 1 six times, zero OOV
    assert out[3].token_ids == [1] * 6 and out[3].n_oov == 0
    # ids round-trip through the vocab; OOV counted
    words = "the quick brown fox jumps over the lazy dog".split()
    for w, i in zip(words, out[7].token_ids):
        assert (vocab[i - 1] == w) if i > 0 else (w not in vocab)
    assert out[7].n_oov == sum(1 for w in words if w not in vocab)
    # DuckDB twin bit-identical
    con = duckdb.connect()
    con.register("d", docs.toPandas())
    want = con.execute(
        tokenize_to_ids_duckdb_sql("d", "doc_id", "text", vocab)
    ).fetchall()
    got = sorted(
        (r.doc_id, tuple(r.token_ids), r.n_oov)
        for r in tokenize_to_ids(docs, "doc_id", "text", vocab).collect()
    )
    assert got == sorted((i, tuple(t), n) for i, t, n in want)


def test_chunk_documents(spark):
    from kolibrie_spark.operators.packing import (
        chunk_documents,
        chunk_documents_duckdb_sql,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),
        (2, "a b"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", size=4, overlap=1)
    got = sorted(tuple(r) for r in out.collect())
    # doc 1: stride 3 -> starts 0,3,6 covering all 10 words
    d1 = [g for g in got if g[0] == 1]
    assert [(c[1], c[2], c[4]) for c in d1] == [(0, 0, 4), (1, 3, 4), (2, 6, 4)]
    assert d1[0][3] == "w0 w1 w2 w3" and d1[2][3] == "w6 w7 w8 w9"
    # short and empty docs: exactly one chunk
    assert len([g for g in got if g[0] == 2]) == 1
    assert len([g for g in got if g[0] == 3]) == 1
    # overlap: consecutive chunks share `overlap` words
    assert d1[0][3].split()[-1] == d1[1][3].split()[0]
    # DuckDB twin bit-identical
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = con.execute(
        chunk_documents_duckdb_sql("d", "doc_id", "text", 4, 1)
    ).fetchall()
    assert got == sorted(tuple(r) for r in want)
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", size=4, overlap=4)


def test_top_per_group(spark):
    from kolibrie_spark.operators.profiling import (
        top_per_group,
        top_per_group_duckdb_sql,
    )

    rows = [(i, f"g{i % 3}", float((i * 7) % 10)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    out = top_per_group(df, "grp", "score", 2, "doc_id")
    got = sorted(tuple(r) for r in out.collect())
    assert len(got) == 6  # 2 per group x 3 groups
    # per group: ranks 1..2, scores non-increasing, ties by id asc
    by_grp = {}
    for did, grp, score, rank in got:
        by_grp.setdefault(grp, []).append((rank, score, did))
    for grp, lst in by_grp.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2]
        assert lst[0][1] >= lst[1][1]
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = con.execute(
        top_per_group_duckdb_sql("d", "grp", "score", 2, "doc_id", "doc_id, grp, score")
    ).fetchall()
    assert got == sorted(tuple(r) for r in want)


def test_profile_stats(spark):
    import math

    from kolibrie_spark.operators.profiling import (
        profile_stats,
        profile_stats_duckdb_sql,
    )

    rows = [(i, f"s{i % 3}", (i * 17) % 101) for i in range(200)]
    rows.append((200, "solo", 42))  # n == 1 group: stddev NULL
    df = spark.createDataFrame(rows, "doc_id long, src string, v long")
    got = {r.src: r for r in profile_stats(df, "src", "v").collect()}
    # brute-force oracle for one group
    vals = [(i * 17) % 101 for i in range(200) if i % 3 == 0]
    m = sum(vals) / len(vals)
    sd = math.sqrt(
        (sum(x * x for x in vals) - sum(vals) ** 2 / len(vals))
        / (len(vals) - 1)
    )
    assert got["s0"].n == len(vals)
    assert got["s0"].n_distinct == len(set(vals))
    assert (got["s0"].vmin, got["s0"].vmax) == (min(vals), max(vals))
    assert got["s0"].mean == pytest.approx(m, abs=1e-12)
    assert got["s0"].stddev == pytest.approx(sd, abs=1e-12)
    assert got["solo"].stddev is None
    # DuckDB twin bit-identical
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = con.execute(profile_stats_duckdb_sql("d", "src", "v")).fetchall()
    got_rows = sorted(tuple(r) for r in profile_stats(df, "src", "v").collect())
    assert got_rows == sorted(tuple(r) for r in want)


def test_scrub_pii(spark):
    from kolibrie_spark.operators.scrub import scrub_pii, scrub_pii_duckdb_sql

    rows = [
        (1, "mail a.b+c@ex-1.co.uk and d@e.org now"),
        (2, "server at 10.0.255.1 and 8.8.8.8"),
        (3, "card 4111111111111111 ok, short 123456 stays"),
        (4, "mixed bob@x.io from 192.168.0.1 pays 5105105105105100"),
        (5, "clean text with no pii at all"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df, "doc_id", "text").collect()}
    assert got[1].scrubbed == "mail <EMAIL> and <EMAIL> now"
    assert got[1].n_email == 2 and got[1].n_ipv4 == 0
    assert got[2].scrubbed == "server at <IP> and <IP>"
    assert got[3].scrubbed == "card <NUM> ok, short 123456 stays"
    assert got[4].scrubbed == "mixed <EMAIL> from <IP> pays <NUM>"
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_number) == (1, 1, 1)
    assert got[5].scrubbed == rows[4][1] and got[5].n_email == 0
    # DuckDB twin bit-identical
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = con.execute(scrub_pii_duckdb_sql("d", "doc_id", "text")).fetchall()
    got_rows = sorted(tuple(r) for r in scrub_pii(df, "doc_id", "text").collect())
    assert got_rows == sorted(tuple(r) for r in want)


def test_top_terms(spark, docs):
    from kolibrie_spark.operators.search import top_terms, top_terms_duckdb_sql

    got = [(r.term, r.cnt) for r in top_terms(docs, "text", k=5).collect()]
    # 'the' (3+2+1) and 'spam' (6) tie at 6; lexicographic tiebreak
    assert got[0] == ("spam", 6)
    assert got[1] == ("the", 6)
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = con.execute(top_terms_duckdb_sql("docs", "text", k=5)).fetchall()
    assert got == [tuple(r) for r in want]
