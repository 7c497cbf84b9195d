"""Data-quality audit, SCD2 intervals, and time-series downsampling."""

import duckdb
from pyspark.sql import functions as F


def test_audit_counts_one_pass(spark):
    from kolibrie_spark.operators.audit import audit_counts

    rows = [(1, 10.0, "a"), (2, -5.0, None), (3, None, "c"), (4, 200.0, "d")]
    df = spark.createDataFrame(rows, "id long, v double, s string")
    out = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in audit_counts(
            df,
            {
                "v_null": F.col("v").isNull(),
                "v_negative": F.col("v") < 0,
                "v_out_of_range": F.col("v") > 100,
                "s_null": F.col("s").isNull(),
            },
        ).collect()
    }
    assert out == {
        "v_null": (1, 4),
        "v_negative": (1, 4),
        "v_out_of_range": (1, 4),
        "s_null": (1, 4),
    }


def test_audit_counts_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.audit import (
        audit_counts,
        audit_counts_duckdb_sql,
    )

    rng = random.Random(3)
    rows = [
        (i, rng.choice([None, rng.uniform(-10, 150)]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    mine = {
        tuple(r)
        for r in audit_counts(
            df,
            {
                "v_null": F.col("v").isNull(),
                "v_neg": F.col("v") < 0,
                "v_hi": F.col("v") > 100,
            },
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            audit_counts_duckdb_sql(
                "t",
                {"v_null": "v IS NULL", "v_neg": "v < 0", "v_hi": "v > 100"},
            )
        ).fetchall()
    }
    assert mine == ref


def test_fk_violations(spark):
    from kolibrie_spark.operators.audit import fk_violations_df

    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    dim = spark.createDataFrame([(10,), (20,)], "pk long")
    [r] = fk_violations_df(fact, "fk", dim, "pk").collect()
    assert r["n_orphans"] == 1 and r["n_rows"] == 4  # 99 orphaned, null skipped


def test_scd2_intervals(spark):
    from kolibrie_spark.operators.scd import OPEN_END, scd2_intervals

    rows = [("k1", 100, "v1"), ("k1", 200, "v2"), ("k2", 150, "w1")]
    df = spark.createDataFrame(rows, "k string, ts long, val string")
    out = {
        (r["k"], r["ts"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(df, "k", "ts").collect()
    }
    assert out[("k1", 100)] == (100, 200, False)
    assert out[("k1", 200)] == (200, OPEN_END, True)
    assert out[("k2", 150)] == (150, OPEN_END, True)


def test_scd2_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.scd import (
        scd2_intervals,
        scd2_intervals_duckdb_sql,
    )

    rng = random.Random(7)
    seen = set()
    rows = []
    for _ in range(200):
        k, ts = f"k{rng.randint(0, 20)}", rng.randint(0, 10_000)
        if (k, ts) not in seen:  # contract: (key, ts) unique
            seen.add((k, ts))
            rows.append((k, ts, f"v{rng.randint(0, 5)}"))
    df = spark.createDataFrame(rows, "k string, ts long, val string")
    mine = {tuple(r) for r in scd2_intervals(df, "k", "ts").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, ts BIGINT, val VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            scd2_intervals_duckdb_sql("t", "k", "ts", "k, ts, val")
        ).fetchall()
    }
    assert mine == ref


def test_downsample_last(spark):
    from kolibrie_spark.operators.scd import downsample_last

    rows = [
        (1, 1000, 5.0, 100),
        (1, 1500, 7.0, 101),  # same bucket, later -> wins
        (1, 2100, 9.0, 102),  # next bucket
        (2, 1500, 1.0, 103),
        (2, 1500, 2.0, 104),  # same ts: higher tiebreak wins
    ]
    df = spark.createDataFrame(rows, "k long, ts long, v double, eid long")
    out = {
        (r["k"], r["bucket_start"]): (r["last_ts"], r["last_value"])
        for r in downsample_last(df, "k", "ts", "v", 1000, "eid").collect()
    }
    assert out[(1, 1000)] == (1500, 7.0)
    assert out[(1, 2000)] == (2100, 9.0)
    assert out[(2, 1000)] == (1500, 2.0)


def test_downsample_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.scd import (
        downsample_last,
        downsample_last_duckdb_sql,
    )

    rng = random.Random(11)
    rows = [
        (i, rng.randint(1, 15), rng.randint(0, 50_000), round(rng.uniform(0, 9), 3))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "eid long, k long, ts long, v double")
    mine = {
        tuple(r)
        for r in downsample_last(df, "k", "ts", "v", 5000, "eid").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (eid BIGINT, k BIGINT, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    ref = {
        tuple(r)
        for r in con.execute(
            downsample_last_duckdb_sql("t", "k", "ts", "v", 5000, "eid")
        ).fetchall()
    }
    assert mine == ref


def test_diff_snapshots(spark):
    from kolibrie_spark.operators.audit import diff_snapshots

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 30), (4, "D", 40), (5, "e", 50)],
        "k long, s string, v int",
    )
    got = {
        r["k"]: r["change"]
        for r in diff_snapshots(old, new, "k", ["s", "v"]).collect()
    }
    # 1 removed, 5 added, 3 changed (NULL -> 30), 4 changed, 2 unchanged
    assert got == {1: "removed", 5: "added", 3: "changed", 4: "changed"}


def test_diff_snapshots_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.audit import (
        diff_snapshots,
        diff_snapshots_duckdb_sql,
    )

    rng = random.Random(19)
    old = [(i, rng.choice(["x", "y", None]), rng.randint(0, 5)) for i in range(200)]
    new = [
        (i, rng.choice(["x", "y", None]), rng.randint(0, 5))
        for i in range(50, 250)
    ]
    odf = spark.createDataFrame(old, "k long, s string, v int")
    ndf = spark.createDataFrame(new, "k long, s string, v int")
    mine = {tuple(r) for r in diff_snapshots(odf, ndf, "k", ["s", "v"]).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE o (k BIGINT, s VARCHAR, v INT)")
    con.execute("CREATE TABLE n (k BIGINT, s VARCHAR, v INT)")
    con.executemany("INSERT INTO o VALUES (?, ?, ?)", old)
    con.executemany("INSERT INTO n VALUES (?, ?, ?)", new)
    ref = {
        tuple(r)
        for r in con.execute(
            diff_snapshots_duckdb_sql("o", "n", "k", ["s", "v"])
        ).fetchall()
    }
    assert mine == ref


def test_resample_ffill_basic(spark):
    from kolibrie_spark.operators.scd import resample_ffill

    rows = [
        (1, 95, 10.0),
        (1, 210, 20.0),
        (1, 430, 30.0),
        (2, 100, 5.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, v double")
    out = {
        (r["k"], r["tick_ts"]): r["value_ffill"]
        for r in resample_ffill(df, "k", "ts", "v", 100).collect()
    }
    # key 1: ticks 100..400; each carries the latest obs at-or-before it
    assert out[(1, 100)] == 10.0
    assert out[(1, 200)] == 10.0
    assert out[(1, 300)] == 20.0 and out[(1, 400)] == 20.0
    assert (1, 500) not in out  # grid ends at last obs ts=430
    assert out[(2, 100)] == 5.0  # tick exactly on the observation


def test_resample_ffill_duckdb_twin(spark):
    import random

    from kolibrie_spark.operators.scd import (
        resample_ffill,
        resample_ffill_duckdb_sql,
    )

    rng = random.Random(59)
    rows = [
        (rng.randint(1, 8), rng.randint(0, 5000), round(rng.uniform(0, 9), 3))
        for _ in range(300)
    ]
    # contract needs unique (k, ts) for a deterministic fill: dedup
    seen, uniq = set(), []
    for k, t, v in rows:
        if (k, t) not in seen:
            seen.add((k, t))
            uniq.append((k, t, v))
    df = spark.createDataFrame(uniq, "k long, ts long, v double")
    mine = {tuple(r) for r in resample_ffill(df, "k", "ts", "v", 250).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", uniq)
    ref = {
        tuple(r)
        for r in con.execute(
            resample_ffill_duckdb_sql("t", "k", "ts", "v", 250)
        ).fetchall()
    }
    assert mine == ref


def test_asof_join_forward_matches_brute(spark):
    import random

    from kolibrie_spark.operators.temporal import asof_join

    rng = random.Random(61)
    left = [(i, rng.randint(1, 5), rng.randint(0, 100)) for i in range(80)]
    right = [(rng.randint(1, 5), rng.randint(0, 100), f"p{j}") for j in range(40)]
    ldf = spark.createDataFrame(left, "lid long, k long, ts long")
    rdf = spark.createDataFrame(right, "k long, rts long, payload string")
    out = {
        r["lid"]: r["payload_matched"]
        for r in asof_join(
            ldf, rdf, ["k"], "ts", "rts", ["rts", "payload"],
            direction="forward",
        ).select("lid", F.col("payload_matched")).collect()
    }
    for lid, k, ts in left:
        cand = [(rts, p) for (rk, rts, p) in right if rk == k and rts >= ts]
        if not cand:
            assert out[lid] is None
        else:
            # earliest rts; ties broken by max ordered payload (carry rule)
            min_rts = min(c[0] for c in cand)
            best = max(p for (rts, p) in cand if rts == min_rts)
            assert out[lid] == best


def test_asof_join_backward_unchanged(spark):
    from kolibrie_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame([(1, 1, 50)], "lid long, k long, ts long")
    rdf = spark.createDataFrame(
        [(1, 40, "early"), (1, 60, "late")], "k long, rts long, p string"
    )
    [b] = asof_join(ldf, rdf, ["k"], "ts", "rts", ["p"]).collect()
    [f] = asof_join(ldf, rdf, ["k"], "ts", "rts", ["p"], direction="forward").collect()
    assert b["p_matched"] == "early" and f["p_matched"] == "late"
