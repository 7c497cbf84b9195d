"""Token budget, rolling windows, pivot counts, temporal and graph operators."""

import datetime

import duckdb


def test_token_budget_shares(spark):
    from kolibrie_spark.operators.profiling import token_budget

    rows = [("big", "a b c d e")] * 6 + [("small", "x y")] * 2
    df = spark.createDataFrame(rows, "src string, text string")
    out = {r["src"]: r for r in token_budget(df, "src", "text").collect()}
    assert out["big"]["n_tokens"] == 30 and out["small"]["n_tokens"] == 4
    assert abs(out["big"]["token_share"] - 30 / 34) < 1e-12
    assert out["big"]["cum_share"] == 30 / 34
    assert out["small"]["cum_share"] == 1.0


def test_token_budget_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.profiling import (
        token_budget,
        token_budget_duckdb_sql,
    )

    rng = random.Random(7)
    rows = [
        (f"s{rng.randint(0, 5)}", " ".join("tok" for _ in range(rng.randint(1, 20))))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    mine = {tuple(r) for r in token_budget(df, "src", "text").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (src VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(token_budget_duckdb_sql("t", "src", "text")).fetchall()
    }
    assert mine == ref


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_rolling_user_stats_values(spark):
    from kolibrie_spark.operators.analytics import rolling_user_stats

    base = _ts("2026-01-01 10:00")
    us = lambda m: int((base + datetime.timedelta(minutes=m)).timestamp() * 1_000_000)
    ev = [
        (1, 1, us(0), 1.0),
        (2, 1, us(10), 2.0),
        (3, 1, us(30), 4.0),
        (4, 1, us(90), 8.0),  # 90min: outside 1h of events 1,2 but not 3
        (5, 2, us(0), 100.0),
    ]
    df = spark.createDataFrame(ev, "eid long, uid long, ts_us long, v double")
    out = {
        r["eid"]: r
        for r in rolling_user_stats(df, "uid", "ts_us", "v", "eid").collect()
    }
    assert out[3]["roll3_cents"] == 700  # 1+2+4
    assert out[4]["roll3_cents"] == 1400  # 2+4+8
    assert out[3]["range_cents"] == 700  # all within 1h
    assert out[4]["range_cents"] == 1200  # event 3 (30min) + itself
    assert out[5]["roll3_cents"] == 10000


def test_rolling_user_stats_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.analytics import (
        rolling_user_stats,
        rolling_user_stats_duckdb_sql,
    )

    rng = random.Random(23)
    ev = [
        (
            i,
            rng.randint(1, 20),
            1_700_000_000_000_000 + rng.randint(0, 20_000) * 1_000_000,
            round(rng.uniform(0, 50), 2),
        )
        for i in range(800)
    ]
    df = spark.createDataFrame(ev, "eid long, uid long, ts_us long, v double")
    mine = {
        tuple(r)
        for r in rolling_user_stats(
            df, "uid", "ts_us", "v", "eid", range_us=5_000_000_000
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (eid BIGINT, uid BIGINT, ts_us BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ev)
    ref = {
        tuple(r)
        for r in con.execute(
            rolling_user_stats_duckdb_sql(
                "t", "uid", "ts_us", "v", "eid", range_us=5_000_000_000
            )
        ).fetchall()
    }
    assert mine == ref


def test_pivot_counts(spark):
    from kolibrie_spark.operators.analytics import pivot_counts

    rows = [("s1", "en"), ("s1", "en"), ("s1", "fr"), ("s2", "fr"), ("s2", "xx")]
    df = spark.createDataFrame(rows, "src string, lang string")
    out = {
        r["src"]: (r["n_en"], r["n_fr"])
        for r in pivot_counts(df, "src", "lang", ["en", "fr"]).collect()
    }
    assert out == {"s1": (2, 1), "s2": (0, 1)}  # 'xx' dropped, missing -> 0


def test_pivot_counts_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.analytics import (
        pivot_counts,
        pivot_counts_duckdb_sql,
    )

    rng = random.Random(31)
    rows = [
        (f"s{rng.randint(0, 6)}", rng.choice(["en", "fr", "de", "zz"]))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "src string, lang string")
    vals = ["en", "fr", "de"]
    mine = {tuple(r) for r in pivot_counts(df, "src", "lang", vals).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (src VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            pivot_counts_duckdb_sql("t", "src", "lang", vals)
        ).fetchall()
    }
    assert mine == ref


def test_json_field_and_agg(spark):
    from kolibrie_spark.operators.semistructured import json_agg_by_key

    rows = [
        ("a", '{"k": 10}'),
        ("a", '{"k": 5, "other": 1}'),
        ("a", "not json"),
        ("a", '{"nokey": 2}'),
        ("b", '{"k": -3}'),
    ]
    df = spark.createDataFrame(rows, "g string, props string")
    out = {r["g"]: r for r in json_agg_by_key(df, "g", "props", "k").collect()}
    assert out["a"]["n_parsed"] == 2 and out["a"]["sum_v"] == 15
    assert out["a"]["min_v"] == 5 and out["a"]["max_v"] == 10
    assert out["b"]["sum_v"] == -3


def test_json_agg_duckdb_twin(spark):
    import json
    import random

    from kolibrie_spark.operators.semistructured import (
        json_agg_by_key,
        json_agg_by_key_duckdb_sql,
    )

    rng = random.Random(43)
    rows = []
    for _ in range(300):
        g = f"t{rng.randint(0, 4)}"
        roll = rng.random()
        if roll < 0.7:
            rows.append((g, json.dumps({"k": rng.randint(-100, 100)})))
        elif roll < 0.85:
            rows.append((g, json.dumps({"j": 1})))
        else:
            rows.append((g, "garbage{"))
    df = spark.createDataFrame(rows, "g string, props string")
    mine = {tuple(r) for r in json_agg_by_key(df, "g", "props", "k").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            json_agg_by_key_duckdb_sql("t", "g", "props", "k")
        ).fetchall()
    }
    assert mine == ref


def test_session3_operators_on_empty_input(spark):
    """Every session-3 operator must handle an empty corpus/stream
    gracefully (no crash, empty or degenerate-but-sane output)."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.analytics import (
        funnel,
        pivot_counts,
        retention,
        rolling_user_stats,
    )
    from kolibrie_spark.operators.audit import audit_counts, diff_snapshots
    from kolibrie_spark.operators.fuzzyjoin import fuzzy_vocab_pairs
    from kolibrie_spark.operators.normalize import normalize_text
    from kolibrie_spark.operators.paragraphs import dedup_paragraphs
    from kolibrie_spark.operators.profiling import ks_drift, token_budget
    from kolibrie_spark.operators.scd import downsample_last, scd2_intervals
    from kolibrie_spark.operators.sketches import kmv_distinct
    from kolibrie_spark.operators.substring import remove_duplicate_spans

    docs = spark.createDataFrame([], "doc_id long, text string, source string, w double")
    ev = spark.createDataFrame([], "eid long, uid long, ts long, v double, et string")

    assert kmv_distinct(docs, "source", "text").count() == 0
    assert ks_drift(docs, "source", "doc_id", "a", "b").count() == 0
    assert token_budget(docs, "source", "text").count() == 0
    assert fuzzy_vocab_pairs(docs, "text").count() == 0
    assert normalize_text(docs, "text").count() == 0
    assert dedup_paragraphs(docs, "doc_id", "text").count() == 0
    assert remove_duplicate_spans(docs, "doc_id", "text").count() == 0
    assert funnel(ev, "uid", "ts", "et", ["a", "b"]).count() == 0
    assert retention(ev, "uid", "ts").count() == 0
    assert rolling_user_stats(ev, "uid", "ts", "v", "eid").count() == 0
    assert pivot_counts(docs, "source", "text", ["x"]).count() == 0
    assert scd2_intervals(ev, "uid", "ts").count() == 0
    assert downsample_last(ev, "uid", "ts", "v", 100, "eid").count() == 0
    assert diff_snapshots(docs, docs, "doc_id", ["text"]).count() == 0
    # audit over empty: rules still produce one row each with 0 violations
    audit = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in audit_counts(docs, {"null_text": F.col("text").isNull()}).collect()
    }
    assert audit == {"null_text": (0, 0)}


def test_earlier_curation_operators_on_empty_input(spark):
    """Round-3 session-1/2 operators under an empty corpus."""
    from kolibrie_spark.operators.packing import pack_sequences
    from kolibrie_spark.operators.scrub import scrub_pii
    from kolibrie_spark.operators.search import bm25_topk, top_terms
    from kolibrie_spark.operators.textanalysis import gopher_rules

    docs = spark.createDataFrame([], "doc_id long, text string, source string, toks long")

    assert gopher_rules(docs, "doc_id", "text").count() == 0
    assert top_terms(docs, "text", 5).count() == 0
    assert bm25_topk(docs, "doc_id", "text", "query terms", 5).count() == 0
    assert pack_sequences(docs, "doc_id", "toks", 128, shards=4).count() == 0
    assert scrub_pii(docs, "doc_id", "text").count() == 0


def test_merge_intervals(spark):
    from kolibrie_spark.operators.temporal import merge_intervals

    rows = [
        ("u1", 0, 10), ("u1", 5, 12), ("u1", 12, 15),  # touch merges
        ("u1", 20, 25),
        ("u2", 3, 4), ("u2", 6, 7),
        ("u3", 0, 100), ("u3", 10, 20),  # contained
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = {
        (r.k, r.s, r.e): r.n_merged
        for r in merge_intervals(df, "k", "s", "e").collect()
    }
    assert out == {
        ("u1", 0, 15): 3, ("u1", 20, 25): 1,
        ("u2", 3, 4): 1, ("u2", 6, 7): 1,
        ("u3", 0, 100): 2,
    }


def test_merge_intervals_matches_duckdb(spark):
    import duckdb

    from kolibrie_spark.operators.temporal import (
        merge_intervals,
        merge_intervals_duckdb_sql,
    )

    rows = [(f"k{i % 5}", (i * 37) % 100, (i * 37) % 100 + (i * 13) % 30)
            for i in range(200)]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    mine = sorted(
        (r.k, r.s, r.e, r.n_merged)
        for r in merge_intervals(df, "k", "s", "e").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, s BIGINT, e BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = sorted(
        tuple(r) for r in con.execute(
            merge_intervals_duckdb_sql("t", "k", "s", "e")
        ).fetchall()
    )
    assert mine == ref


def test_triangle_count(spark):
    from kolibrie_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant 5 + isolated pair
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(4, 5), (8, 9), (2, 1)]  # duplicate reversed edge, no effect
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.id: r.triangles for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_matches_duckdb(spark):
    import duckdb

    from kolibrie_spark.operators.graph import (
        triangle_count,
        triangle_count_duckdb_sql,
    )

    edges = [((i * 7) % 30, (i * 13 + 5) % 30) for i in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    mine = sorted((r.id, r.triangles) for r in triangle_count(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE edges_t (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges_t VALUES (?, ?)", edges)
    ref = sorted(
        tuple(r)
        for r in con.execute(triangle_count_duckdb_sql("edges_t")).fetchall()
    )
    assert mine == ref


def test_hll_distinct_accuracy_and_twin(spark):
    import duckdb

    from kolibrie_spark.operators.sketches import (
        hll_distinct,
        hll_distinct_duckdb_sql,
    )

    rows = [(f"g{i % 2}", f"value-{(i * 17) % 3000}-x") for i in range(8000)]
    df = spark.createDataFrame(rows, "g string, v string")
    mine = {
        r.g: (r.v_zero, r.s_scaled, r.est_distinct)
        for r in hll_distinct(df, "g", "v").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        g: (vz, s, est)
        for g, vz, s, est in con.execute(
            hll_distinct_duckdb_sql("t", "g", "v")
        ).fetchall()
    }
    assert mine == ref  # bit-exact, including the double estimate
    for vz, s, est in mine.values():
        # each group sees ~1500 distinct; HLL with m=16 has ~26% rse
        assert 700 < est < 2800


def test_hll_distinct_small_group_exactish(spark):
    from kolibrie_spark.operators.sketches import hll_distinct

    rows = [("g", f"v{i}") for i in range(3)] * 10
    df = spark.createDataFrame(rows, "g string, v string")
    r = hll_distinct(df, "g", "v").collect()[0]
    # 3 distinct, 16 registers -> linear counting branch
    assert r.v_zero >= 13 and 1 <= r.est_distinct <= 8


def test_mad_outliers(spark):
    import duckdb

    from kolibrie_spark.operators.profiling import (
        mad_outliers,
        mad_outliers_duckdb_sql,
    )

    rows = [("g1", i, float((i * 7) % 20)) for i in range(100)]
    rows += [("g1", 100, 500.0), ("g1", 101, -400.0)]  # outliers
    rows += [("g2", 200 + i, 5.0) for i in range(10)]  # MAD 0 -> skipped
    df = spark.createDataFrame(rows, "g string, id long, v double")
    mine = sorted(
        (r.id, r.g, r.v, r.robust_z)
        for r in mad_outliers(df, "g", "v", "id").collect()
    )
    assert [m[0] for m in mine] == [100, 101]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, id BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = sorted(
        tuple(r)
        for r in con.execute(
            mad_outliers_duckdb_sql("t", "g", "v", "id")
        ).fetchall()
    )
    assert mine == ref  # bit-exact incl. robust_z


def test_ewma_last(spark):
    import duckdb

    from kolibrie_spark.operators.scd import ewma_last, ewma_last_duckdb_sql

    rows = [(f"k{i % 3}", i, float(((i * 31) % 97) - 48) / 7.0) for i in range(90)]
    rows.append(("k0", 1000, None))
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    mine = sorted(
        (r.k, r.n_obs, r.ewma)
        for r in ewma_last(df, "k", "ts", "v", alpha=0.3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = sorted(
        tuple(r)
        for r in con.execute(
            ewma_last_duckdb_sql("t", "k", "ts", "v", alpha=0.3)
        ).fetchall()
    )
    assert mine == ref  # bit-exact fold
    # hand-check one key: s_i = 0.3 v_i + 0.7 s_{i-1} over ts order
    seq = [v for k, ts, v in sorted(rows, key=lambda r: (r[1],))
           if k == "k1" and v is not None]
    s = seq[0]
    for x in seq[1:]:
        s = 0.3 * x + 0.7 * s
    got = dict((k, e) for k, n, e in mine)["k1"]
    assert got == s


def test_path_ngrams(spark):
    import duckdb

    from kolibrie_spark.operators.analytics import (
        path_ngrams,
        path_ngrams_duckdb_sql,
    )

    types = ["view", "view", "click", "buy"]
    rows = [
        (f"u{i % 7}", i, types[(i * 3 + i // 7) % 4], i) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "u string, ts long, t string, id long")
    mine = sorted(
        (r.path, r.n_occurrences)
        for r in path_ngrams(df, "u", "ts", "t", "id", n=3, k=5).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (u VARCHAR, ts BIGINT, t VARCHAR, id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    ref = sorted(
        tuple(r)
        for r in con.execute(
            path_ngrams_duckdb_sql("t", "u", "ts", "t", "id", n=3, k=5)
        ).fetchall()
    )
    # the generator yields exactly 4 distinct trigram paths; k=5 returns all
    assert mine == ref and len(mine) == 4
    assert sum(c for _, c in mine) == 120 - 7 * 2  # every window complete
    # every path is a full trigram
    assert all(p.count(" > ") == 2 for p, c in mine)
