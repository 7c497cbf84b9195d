"""Session-3 curation operators: KMV sketch, KS drift, fuzzy vocab pairs,
unicode normalization, cross-engine hashing, winsorizing."""

import duckdb
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------


def test_kmv_exact_below_k(spark):
    from kolibrie_spark.operators.sketches import kmv_distinct

    rows = [("g1", f"v{i % 5}") for i in range(50)] + [
        ("g2", f"w{i}") for i in range(8)
    ]
    df = spark.createDataFrame(rows, "g string, s string")
    out = {r["g"]: r for r in kmv_distinct(df, "g", "s", k=16).collect()}
    # fewer distincts than k -> exact count
    assert out["g1"]["m"] == 5 and out["g1"]["est_distinct"] == 5.0
    assert out["g2"]["m"] == 8 and out["g2"]["est_distinct"] == 8.0


def test_kmv_estimates_within_tolerance(spark):
    from kolibrie_spark.operators.sketches import kmv_distinct

    n = 3000
    rows = [("g", f"value-{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "g string, s string")
    [r] = kmv_distinct(df, "g", "s", k=64).collect()
    assert r["m"] == 64
    # KMV with k=64 has ~1/sqrt(62) ~= 13% std error; allow 4 sigma
    assert n * 0.5 < r["est_distinct"] < n * 1.6


def test_kmv_duckdb_twin(spark):
    from kolibrie_spark.operators.sketches import (
        kmv_distinct,
        kmv_distinct_duckdb_sql,
    )

    rows = [(f"g{i % 3}", f"tok-{(i * 7) % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, "g string, s string")
    mine = {
        (r["g"], r["m"], r["kth_hash"], r["est_distinct"])
        for r in kmv_distinct(df, "g", "s", k=8).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            kmv_distinct_duckdb_sql("t", "g", "s", k=8)
        ).fetchall()
    }
    assert mine == ref


# ---------------------------------------------------------------------------
# KS drift
# ---------------------------------------------------------------------------


def test_ks_identical_distributions_zero(spark):
    from kolibrie_spark.operators.profiling import ks_drift

    rows = [("a", i % 10) for i in range(100)] + [
        ("b", i % 10) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = ks_drift(df, "g", "v", "a", "b").collect()
    assert r["n_a"] == 100 and r["n_b"] == 50
    assert r["d_stat"] == 0.0


def test_ks_disjoint_distributions_one(spark):
    from kolibrie_spark.operators.profiling import ks_drift

    rows = [("a", i) for i in range(20)] + [("b", 100 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = ks_drift(df, "g", "v", "a", "b").collect()
    assert r["d_stat"] == 1.0


def test_ks_known_value(spark):
    from kolibrie_spark.operators.profiling import ks_drift

    # a: {1,2,3,4}, b: {3,4,5,6} -> D = |F_a(2)-F_b(2)| = 0.5
    rows = [("a", v) for v in [1, 2, 3, 4]] + [("b", v) for v in [3, 4, 5, 6]]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = ks_drift(df, "g", "v", "a", "b").collect()
    assert r["d_stat"] == 0.5


def test_ks_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.profiling import (
        ks_drift,
        ks_drift_duckdb_sql,
    )

    rng = random.Random(3)
    rows = [("a", rng.randint(0, 50)) for _ in range(300)] + [
        ("b", rng.randint(10, 80)) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    [mine] = ks_drift(df, "g", "v", "a", "b").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    [ref] = con.execute(ks_drift_duckdb_sql("t", "g", "v", "a", "b")).fetchall()
    assert (mine["n_a"], mine["n_b"], mine["d_stat"]) == tuple(ref)


# ---------------------------------------------------------------------------
# fuzzy vocab pairs
# ---------------------------------------------------------------------------


def test_fuzzy_pairs_basic(spark):
    from kolibrie_spark.operators.fuzzyjoin import fuzzy_vocab_pairs

    df = spark.createDataFrame(
        [("color colour scan span spam table tables chair",)], "text string"
    )
    got = {
        (r["word_a"], r["word_b"], r["dist"])
        for r in fuzzy_vocab_pairs(df, "text").collect()
    }
    assert ("color", "colour", 1) in got
    assert ("scan", "span", 1) in got  # one substitution
    assert ("chair", "table", 5) not in got  # different first letter + dist
    assert ("spam", "span", 1) in got
    assert ("table", "tables", 1) in got
    # different first letter is outside the contract even at distance 1
    assert all(a[0] == b[0] for a, b, _ in got)


def test_fuzzy_pairs_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.fuzzyjoin import (
        fuzzy_vocab_pairs,
        fuzzy_vocab_pairs_duckdb_sql,
    )

    rng = random.Random(5)
    base = ["scan", "scat", "span", "spans", "table", "tible", "tables",
            "joint", "join", "joins", "query", "quory", "shuffle", "shuffl"]
    docs = [
        (" ".join(rng.choice(base) for _ in range(8)),) for _ in range(40)
    ]
    df = spark.createDataFrame(docs, "text string")
    mine = {
        tuple(r) for r in fuzzy_vocab_pairs(df, "text").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", docs)
    ref = {
        tuple(r)
        for r in con.execute(
            fuzzy_vocab_pairs_duckdb_sql("t", "text")
        ).fetchall()
    }
    assert mine == ref and len(mine) > 0


def test_fuzzy_pairs_no_cartesian(spark):
    from kolibrie_spark.operators.fuzzyjoin import fuzzy_vocab_pairs

    df = spark.createDataFrame([("alpha beta gamma",)], "text string")
    plan = fuzzy_vocab_pairs(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# unicode normalization
# ---------------------------------------------------------------------------


def test_normalize_nfc_and_whitespace(spark):
    from kolibrie_spark.operators.normalize import normalize_text

    decomposed = "Cafe\u0301  du\tmonde\u00a0 fin"
    df = spark.createDataFrame([(decomposed,), ("plain  ascii ",)], "text string")
    got = {r["text_norm"] for r in normalize_text(df, "text").collect()}
    assert "Caf\u00e9 du monde fin" in got  # NFC-composed, ws collapsed
    assert "plain ascii" in got


def test_normalize_duckdb_twin(spark):
    from kolibrie_spark.operators.normalize import (
        normalize_duckdb_sql,
        normalize_text,
    )

    rows = [
        ("Cafe\u0301 creme",),
        ("  tabs\t\tand\nnewlines  ",),
        ("nb\u00a0sp",),
        ("already \u00e9 composed",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "text string")
    mine = sorted(
        r["text_norm"] for r in normalize_text(df, "text").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    ref = sorted(
        r[0]
        for r in con.execute(
            f"SELECT {normalize_duckdb_sql('text')} FROM t"
        ).fetchall()
    )
    assert mine == ref


# ---------------------------------------------------------------------------
# cross-engine hashing
# ---------------------------------------------------------------------------


def test_poly_hash_cross_engine_on_unicode(spark):
    """The shared character fold is codepoint-based in BOTH engines, so
    dedup/sampling oracles stay bit-exact on non-ASCII corpora (BMP, CJK,
    combining marks, astral-plane emoji)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.hashing import poly_hash, poly_hash_duckdb

    rows = [
        ("café",),
        ("中文 text",),
        ("emoji \U0001F600 x",),
        ("mixed é́",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "s string")
    mine = {
        r["s"]: r["h"]
        for r in df.select("s", poly_hash(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    ref = dict(con.execute(f"SELECT s, {poly_hash_duckdb('s')} FROM t").fetchall())
    assert mine == ref


def test_winsorize_clips_to_band(spark):
    from kolibrie_spark.operators.profiling import winsorize

    rows = [("g", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
    df = spark.createDataFrame(rows, "g string, v long")
    out = sorted(
        r["v_wins"] for r in winsorize(df, "g", "v", 0.1, 0.9).collect()
    )
    assert out[0] > 1 - 1e-9 and out[0] < 2  # low tail clipped to p10
    # p90 interpolates between 9 and 1000: 9 + 0.1*991 = 108.1; the
    # outlier clamps there while in-band values pass through
    assert abs(out[-1] - 108.1) < 1e-9
    assert out[-2] == 9.0


def test_winsorize_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.profiling import (
        winsorize,
        winsorize_duckdb_sql,
    )

    rng = random.Random(47)
    rows = [
        (i, f"g{i % 4}", rng.randint(0, 10_000))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    mine = {
        (r["id"], r["g"], r["v"], r["v_wins"])
        for r in winsorize(df, "g", "v").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, g VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            winsorize_duckdb_sql("t", "g", "v", "t.id, t.g, t.v")
        ).fetchall()
    }
    assert mine == ref
