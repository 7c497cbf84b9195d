"""Round-3 session-2 curation operators: cross-doc span profiling,
Gopher quality rules, Z-order layout — brute-force Python oracles."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # docs 1-3 share the 5-gram "the cat sat on the" (df=3)
        (1, "the cat sat on the mat today", "web"),
        (2, "the cat sat on the rug today", "web"),
        (3, "yes the cat sat on the mat", "web"),
        (4, "completely different words here appear once only", "books"),
        (5, "short", "books"),  # < 5 words: zero spans
        (6, "the cat sat on the mat today", "code"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _spans(text, n=5):
    w = text.strip().lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_common_span_profile_brute_force(spark, docs):
    from kolibrie_spark.operators.spans import common_span_profile

    out = {
        r["doc_id"]: r
        for r in common_span_profile(docs, "doc_id", "text", n=5, min_df=3).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    span_df = {}
    for t in texts.values():
        for s in _spans(t):
            span_df[s] = span_df.get(s, 0) + 1
    for did, t in texts.items():
        spans = _spans(t)
        n_common = sum(1 for s in spans if span_df[s] >= 3)
        assert out[did]["n_spans"] == len(spans)
        assert out[did]["n_common"] == n_common
        expect_frac = n_common / len(spans) if spans else 0.0
        assert out[did]["common_frac"] == pytest.approx(expect_frac)
    assert out[5]["n_spans"] == 0 and out[5]["common_frac"] == 0.0
    # the shared boilerplate span reaches min_df via docs 1, 2(prefix), 3, 6
    assert out[1]["n_common"] >= 1


def test_common_span_profile_duckdb_twin(spark, docs):
    import duckdb

    from kolibrie_spark.operators.spans import (
        common_span_profile,
        common_span_profile_duckdb_sql,
    )

    mine = {
        tuple(r)
        for r in common_span_profile(docs, "doc_id", "text", n=3, min_df=2).collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    ref = {
        tuple(r)
        for r in con.execute(
            common_span_profile_duckdb_sql("documents", "doc_id", "text", 3, 2)
        ).fetchall()
    }
    assert mine == ref


def test_common_span_profile_heavy_df_cap_equivalence(spark, docs):
    """The opt-in heavy_df_cap skew guard must produce the EXACT same
    output as the default window plan (VERDICT r8 #3: the guard shipped
    with the equivalence claimed in the docstring but pinned nowhere).
    Caps exercised: == min_df (every common span routed through the
    broadcast), between (mixed heavy/light), and far above any df (heavy
    set empty — pure window path on guarded code)."""
    from kolibrie_spark.operators.spans import common_span_profile

    for n, min_df in ((5, 3), (3, 2)):
        base = sorted(
            tuple(r)
            for r in common_span_profile(
                docs, "doc_id", "text", n=n, min_df=min_df
            ).collect()
        )
        for cap in (min_df, min_df + 1, 100):
            guarded = sorted(
                tuple(r)
                for r in common_span_profile(
                    docs, "doc_id", "text", n=n, min_df=min_df, heavy_df_cap=cap
                ).collect()
            )
            assert guarded == base, (n, min_df, cap)


def test_common_span_profile_heavy_df_cap_below_min_df_raises(spark, docs):
    from kolibrie_spark.operators.spans import common_span_profile

    with pytest.raises(ValueError, match="heavy_df_cap must be >= min_df"):
        common_span_profile(
            docs, "doc_id", "text", n=5, min_df=3, heavy_df_cap=2
        )


def test_gopher_rules_flags(spark):
    from kolibrie_spark.operators.textanalysis import gopher_rules

    rows = [
        (1, " ".join(["word"] * 10)),  # too short for min_words=5? no: ok
        (2, "## ## ## ## ##"),  # all symbols -> symbol ratio fails
        (3, "the and of to a in is it that for good words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            df, "doc_id", "text", min_words=5, max_words=100
        ).collect()
    }
    assert out[1]["ok_word_count"] == 1
    assert out[1]["n_words"] == 10
    assert out[1]["ok_stopwords"] == 0  # no stopwords at all
    assert out[2]["ok_symbol_ratio"] == 0
    assert out[2]["gopher_pass"] == 0
    assert out[3]["ok_stopwords"] == 1
    assert out[3]["stopwords_distinct"] == 10
    # mean word length of doc 1: all words are 4 chars
    assert out[1]["mean_word_len"] == pytest.approx(4.0)


def test_gopher_rules_duckdb_twin(spark, docs):
    import duckdb

    from kolibrie_spark.operators.textanalysis import (
        gopher_rules,
        gopher_rules_duckdb_sql,
    )

    mine = {
        tuple(r)
        for r in gopher_rules(docs, "doc_id", "text", min_words=5).collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    ref = {
        tuple(r)
        for r in con.execute(
            gopher_rules_duckdb_sql("documents", "doc_id", "text", min_words=5)
        ).fetchall()
    }
    assert mine == ref


def test_zorder_value_brute_force(spark):
    from kolibrie_spark.operators.layout import zorder_value

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (1234, 4321), (40000, 7)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = df.select("x", "y", zorder_value(F.col("x"), F.col("y")).alias("z"))
    for r in out.collect():
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_duckdb_twin(spark):
    import duckdb

    from kolibrie_spark.operators.layout import (
        zorder_value,
        zorder_value_duckdb,
    )

    rows = [(i * 977 % 65536, i * 389 % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, "x long, y long")
    mine = {
        (r["x"], r["y"], r["z"])
        for r in df.select(
            "x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", df.toPandas())
    z = zorder_value_duckdb("x", "y")
    ref = {tuple(r) for r in con.execute(f"SELECT x, y, {z} FROM t").fetchall()}
    assert mine == ref


def test_zorder_layout_clusters(spark):
    """Writing the z-ordered frame must tighten per-partition key ranges
    on BOTH dimensions vs a single-column sort."""
    from kolibrie_spark.operators.layout import zorder_layout

    rows = [(x, y) for x in range(0, 64) for y in range(0, 64)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = zorder_layout(df, "x", "y", num_partitions=16)
    spans = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    # a 64x64 grid in 16 z-partitions: each partition covers a ~16x16
    # tile neighborhood, so both spans stay well under the full 63
    assert sum(r["xs"] for r in spans) / len(spans) < 40
    assert sum(r["ys"] for r in spans) / len(spans) < 40
    assert out.columns == ["x", "y"]

