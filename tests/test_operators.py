"""LLM-pipeline operators: text analysis, salted joins, URL rules, table IO."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
        (4, "completely different text about spark query engines and plans", "en"),
        (5, "der hund und die katze sind nicht mit der maus auf dem tisch", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_text_analyze_fields(spark, docs):
    from kolibrie_spark.operators.textanalysis import analyze

    out = {r.doc_id: r for r in analyze(docs, "doc_id", "text").collect()}
    assert out[1].tokens == 12
    assert out[1].lang_pred == "en"
    assert out[5].lang_pred == "de"
    assert 0.0 <= out[1].punct_ratio < 0.05
    assert out[1].fingerprint == out[2].fingerprint  # same text, same print
    assert out[1].fingerprint != out[3].fingerprint


def test_quality_score_monotone(spark):
    from kolibrie_spark.operators.textanalysis import analyze

    rows = [
        (1, "the cat is on the mat and it is a good cat that sleeps all day long"),
        (2, "x@@ ##!! ??? ;;; ::: %%% &&& *** ((( )))"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.quality for r in analyze(df, "doc_id", "text").collect()}
    assert out[1] > out[2]


def test_salted_join_equals_plain_join(spark):
    from kolibrie_spark.operators.skew import salted_join, top_heavy_keys

    left = spark.createDataFrame(
        [("hub", i) for i in range(500)] + [(f"k{i}", i) for i in range(50)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("hub", "H"), ("k1", "A"), ("k2", "B")], "k string, tag string"
    )
    plain = sorted(tuple(r) for r in left.join(right, "k").collect())
    salted = sorted(tuple(r) for r in salted_join(left, right, ["k"], salt=8).collect())
    assert salted == plain
    assert top_heavy_keys(left, "k", threshold=0.5) == ["hub"]


def test_quadstore_parquet_roundtrip(spark, tmp_path):
    from kolibrie_spark.store import QuadStore

    store = QuadStore.from_rows(
        spark, [("a", "p", "1"), ("b", "p", "2", "g1")], graphs=["empty"]
    )
    path = str(tmp_path / "quads")
    store.quads.write.parquet(path)
    again = QuadStore.from_parquet(spark, path)
    assert sorted(tuple(r) for r in again.quads.collect()) == sorted(
        tuple(r) for r in store.quads.collect()
    )


def test_asof_join_backward(spark):
    from kolibrie_spark.operators.temporal import asof_join

    events = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 25), (3, 100, 5), (4, 200, 50)],
        "event_id long, user long, ts long",
    )
    dims = spark.createDataFrame(
        [(100, 8, "v1"), (100, 20, "v2"), (200, 60, "v3")],
        "user long, valid_from long, version string",
    )
    out = asof_join(
        events, dims, ["user"], "ts", "valid_from", ["version", "valid_from"]
    )
    got = {r.event_id: (r.version_matched, r.valid_from_matched) for r in out.collect()}
    assert got[1] == ("v1", 8)     # ts=10 -> v1@8
    assert got[2] == ("v2", 20)    # ts=25 -> v2@20
    assert got[3] == (None, None)  # ts=5 predates all versions
    assert got[4] == (None, None)  # user 200's version starts later


def test_canonical_url_rules(spark):
    from kolibrie_spark.operators.urltools import canonical_url, url_dedup

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/b/?b=2&utm_source=x&a=1#frag"),
        (2, "http://www.example.com/a/b?a=1&b=2"),          # same canonical as 1
        (3, "https://Example.com:443/"),
        (4, "https://example.com"),                          # same canonical as 3
        (5, "https://example.com/path?gclid=zzz&fbclid=yyy"),
        (6, "https://example.com:8080/x"),                   # non-default port kept
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.c for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == "http://www.example.com/a/b?a=1&b=2"
    assert got[1] == got[2]
    assert got[3] == "https://example.com/" == got[4]
    assert got[5] == "https://example.com/path"
    assert got[6] == "https://example.com:8080/x"
    kept = sorted(r.id for r in url_dedup(df, "id", "url").collect())
    assert kept == [1, 3, 5, 6]


def test_load_table_parallel_opt_out(spark, tmp_path):
    """r12: `load_table(..., parallel=False)` skips the CPU-spread
    repartition for key-only consumers (the very next operator re-shuffles
    by the join key, so the spread is a wasted Exchange) — same rows, no
    RoundRobinPartitioning in the plan."""
    from kolibrie_spark.tables import load_table

    sf_dir = str(tmp_path)
    spark.range(50).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text", "'en' AS source"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    spread = load_table(spark, sf_dir, "documents")
    lean = load_table(spark, sf_dir, "documents", parallel=False)

    # identical contents either way
    assert spread.exceptAll(lean).count() == 0
    assert lean.exceptAll(spread).count() == 0

    # the spread variant repartitions a single-file scan; the lean one
    # must not introduce any exchange of its own
    assert "roundrobinpartitioning" in spread._jdf.queryExecution().executedPlan().toString().lower()
    assert "roundrobinpartitioning" not in lean._jdf.queryExecution().executedPlan().toString().lower()

