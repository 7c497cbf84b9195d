"""Session-4 operator hardening: empty-input robustness for every new
operator, plus hypothesis property tests for the invariants a fixture
can miss (interval-merge coverage)."""

from hypothesis import HealthCheck, given, settings, strategies as st

SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_empty_inputs_session4(spark):
    from kolibrie_spark.operators.analytics import path_ngrams
    from kolibrie_spark.operators.graph import triangle_count
    from kolibrie_spark.operators.profiling import mad_outliers, winsorize
    from kolibrie_spark.operators.scd import ewma_last, resample_ffill
    from kolibrie_spark.operators.sketches import hll_distinct
    from kolibrie_spark.operators.temporal import merge_intervals

    ev = spark.createDataFrame([], "k string, ts long, v double, id long")
    edges = spark.createDataFrame([], "src long, dst long")
    iv = spark.createDataFrame([], "k string, s long, e long")

    assert merge_intervals(iv, "k", "s", "e").count() == 0
    assert triangle_count(edges).count() == 0
    assert hll_distinct(ev, "k", "v").count() == 0
    assert mad_outliers(ev, "k", "v", "id").count() == 0
    assert winsorize(ev, "k", "v").count() == 0
    assert ewma_last(ev, "k", "ts", "v").count() == 0
    assert resample_ffill(ev, "k", "ts", "v", 10).count() == 0
    assert path_ngrams(ev, "k", "ts", "v", "id").count() == 0


intervals_st = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 15)), min_size=1, max_size=15
)


@SLOW
@given(iv=intervals_st)
def test_merge_intervals_properties(spark, iv):
    from kolibrie_spark.operators.temporal import merge_intervals

    rows = [("k", s, s + d) for s, d in iv]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = sorted(
        (r.s, r.e, r.n_merged) for r in merge_intervals(df, "k", "s", "e").collect()
    )
    # islands are disjoint and non-touching, cover the same point set,
    # and account for every input interval
    covered = set()
    for s, d in iv:
        covered.update(range(s, s + d + 1))
    got = set()
    prev_e = None
    for s, e, n in out:
        assert prev_e is None or s > prev_e  # strictly after (touch merges)
        got.update(range(s, e + 1))
        prev_e = e
    assert got == covered
    assert sum(n for _, _, n in out) == len(rows)


@SLOW
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_matches_bruteforce(spark, edges):
    from kolibrie_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.triangles for r in triangle_count(df).collect()}
    adj = set()
    for a, b in edges:
        if a != b:
            adj.add((min(a, b), max(a, b)))
    nodes = sorted({n for e in adj for n in e})
    want = {}
    import itertools

    for i, j, k in itertools.combinations(nodes, 3):
        if (i, j) in adj and (j, k) in adj and (i, k) in adj:
            for n in (i, j, k):
                want[n] = want.get(n, 0) + 1
    assert got == want


def test_equidepth_histogram_twin(spark):
    import duckdb

    from kolibrie_spark.operators.profiling import (
        equidepth_histogram,
        equidepth_histogram_duckdb_sql,
    )

    rows = [(f"g{i % 2}", (i * 37) % 50, i) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    mine = sorted(
        (r.g, r.bucket, r.lo, r.hi, r.n_rows)
        for r in equidepth_histogram(df, "g", "v", "id", 8).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v BIGINT, id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    ref = sorted(
        tuple(r)
        for r in con.execute(
            equidepth_histogram_duckdb_sql("t", "g", "v", "id", 8)
        ).fetchall()
    )
    assert mine == ref
    # depths within 1 of each other per group
    depths = [n for _, _, _, _, n in mine]
    assert max(depths) - min(depths) <= 1


def test_group_corr_and_ols_bit_exact(spark):
    import duckdb

    from kolibrie_spark.ml.regression import (
        ols_by_group,
        ols_by_group_duckdb_sql,
    )
    from kolibrie_spark.operators.profiling import (
        group_corr,
        group_corr_duckdb_sql,
    )

    rows = [
        ("lin", i, 3 * i + 7, i) for i in range(50)        # perfect line
    ] + [
        ("noisy", i, 2 * i + ((i * 13) % 11) - 5, 100 + i) for i in range(50)
    ] + [
        ("const", 4, i, 200 + i) for i in range(10)        # zero x-variance
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long, id long")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, x BIGINT, y BIGINT, id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)

    mine_c = {r.g: (r.n, r.pearson_r) for r in group_corr(df, "g", "x", "y").collect()}
    ref_c = {
        g: (n, r)
        for g, n, r in con.execute(
            group_corr_duckdb_sql("t", "g", "x", "y")
        ).fetchall()
    }
    assert mine_c == ref_c
    # sqrt(vx)*sqrt(vy) rounds the last ulp; equality is cross-engine,
    # not algebraic
    assert abs(mine_c["lin"][1] - 1.0) < 1e-12 and mine_c["const"][1] is None
    assert 0.99 < mine_c["noisy"][1] < 1.0

    mine_o = {
        r.g: (r.n, r.slope, r.intercept)
        for r in ols_by_group(df, "g", "x", "y").collect()
    }
    ref_o = {
        g: (n, s, b)
        for g, n, s, b in con.execute(
            ols_by_group_duckdb_sql("t", "g", "x", "y")
        ).fetchall()
    }
    assert mine_o == ref_o
    assert mine_o["lin"] == (50, 3.0, 7.0)
    assert mine_o["const"][1] is None and mine_o["const"][2] is None


def test_last_touch_attribution(spark):
    import duckdb

    from kolibrie_spark.operators.analytics import (
        last_touch_attribution,
        last_touch_attribution_duckdb_sql,
    )

    rows = [
        ("u1", 1, "view", 1), ("u1", 2, "click", 2), ("u1", 3, "buy", 3),
        ("u1", 4, "buy", 4),            # attributes to click (carried)
        ("u2", 1, "buy", 5),            # first touch -> NULL
        ("u2", 2, "view", 6), ("u2", 3, "buy", 7),
    ]
    df = spark.createDataFrame(rows, "u string, ts long, t string, id long")
    out = last_touch_attribution(df, "u", "ts", "t", "id", "buy")
    mine = sorted((r.id, r.u, r.attributed_type) for r in out.collect())
    assert mine == [
        (3, "u1", "click"), (4, "u1", "click"),
        (5, "u2", None), (7, "u2", "view"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (u VARCHAR, ts BIGINT, t VARCHAR, id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    ref = sorted(
        tuple(r)
        for r in con.execute(
            last_touch_attribution_duckdb_sql("t", "u", "ts", "t", "id", "buy")
        ).fetchall()
    )
    assert mine == ref
