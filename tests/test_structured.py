"""Structured (micro-batch, DataFrame-state) RSP compilation — the scale
path twin of the faithful engine."""

import pytest
from pyspark.sql import functions as F

ITYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def events_df(spark, rows):
    """rows: (s, p, o, stream, event_time), as a JVM local relation: a
    frame of pickled Python rows would start Python workers on every scan."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * 5
    table = pa.table(
        {
            "s": pa.array(cols[0], pa.string()),
            "p": pa.array(cols[1], pa.string()),
            "o": pa.array(cols[2], pa.string()),
            "g": pa.nulls(len(rows), pa.string()),
            "stream": pa.array(cols[3], pa.string()),
            "event_time": pa.array(cols[4], pa.int64()),
        }
    )
    return spark.createDataFrame(
        table, "s string, p string, o string, g string, stream string, event_time long"
    )


def test_rstream_micro_batches(spark):
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s <reading> ?v } }""",
    )
    ev = events_df(
        spark,
        [(f"dev{t}", "reading", str(t), "s1", t) for t in range(8)],
    )
    out = q.run_events_df(ev, batch_seconds=4)
    assert out  # windows [0,4) and [2,6)... fire as hwm passes closes
    # every emitted binding carries both vars
    assert all({k for k, _ in row} == {"s", "v"} for row in out)


def test_istream_emits_only_new(spark):
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(
        spark,
        """REGISTER ISTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s a <T> } }""",
    )
    ev = events_df(
        spark,
        [(f"x{t}", ITYPE, "T", "s1", t) for t in range(10)],
    )
    out = q.run_events_df(ev, batch_seconds=2)
    # ISTREAM: each subject emitted at most once
    subjects = [dict(r)["s"] for r in out]
    assert len(subjects) == len(set(subjects))
    assert len(subjects) >= 4


def test_dstream_emits_dropped(spark):
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(
        spark,
        """REGISTER DSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 2 STEP 2]
           WHERE { WINDOW :w { ?s a <T> } }""",
    )
    ev = events_df(
        spark,
        [("a", ITYPE, "T", "s1", 0), ("b", ITYPE, "T", "s1", 2), ("c", ITYPE, "T", "s1", 4)],
    )
    out = q.run_events_df(ev, batch_seconds=2)
    dropped = [dict(r)["s"] for r in out]
    assert "a" in dropped  # a left the tumbling window after [0,2) fired


def test_watermark_drops_late_events(spark):
    from kolibrie_spark.streaming.structured import compile_structured

    mk = lambda wm: compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 100 STEP 10]
           WHERE { WINDOW :w { ?s <p> ?v } }""",
        watermark=wm,
    )
    # a late event 50s behind the high-water mark
    q = mk(5)
    q.process_batch(events_df(spark, [("new", "p", "1", "s1", 60)]))
    q.process_batch(events_df(spark, [("late", "p", "2", "s1", 10)]))
    buffered = {r.s for r in q.buffer.collect()}
    assert "late" not in buffered
    q2 = mk(None)  # no watermark: late event kept (faithful-leaning)
    q2.process_batch(events_df(spark, [("new", "p", "1", "s1", 60)]))
    q2.process_batch(events_df(spark, [("late", "p", "2", "s1", 10)]))
    assert {r.s for r in q2.buffer.collect()} == {"new", "late"}


def test_state_buffer_is_bounded(spark):
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s <p> ?v } }""",
    )
    rows = [(f"e{t}", "p", str(t), "s1", t) for t in range(0, 60)]
    q.run_events_df(events_df(spark, rows), batch_seconds=10)
    # retention horizon = hwm - (width + slide) = 59 - 6
    assert q.buffer.count() <= 8


def test_multi_window_static_join(spark):
    from kolibrie_spark.store import QuadStore
    from kolibrie_spark.streaming.structured import compile_structured

    static = QuadStore.from_rows(spark, [("dev1", "locatedIn", "lab")])
    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w1 ON :s1 [RANGE 4 STEP 2]
           FROM NAMED WINDOW :w2 ON :s2 [RANGE 4 STEP 2]
           WHERE { WINDOW :w1 { ?d <temp> ?t } WINDOW :w2 { ?d <hum> ?h }
                   ?d <locatedIn> ?room }""",
        static_store=static,
    )
    ev = events_df(
        spark,
        [
            ("dev1", "temp", "20", "s1", 1),
            ("dev1", "hum", "40", "s2", 1),
            ("dev2", "temp", "99", "s1", 2),  # no static location, no hum
            ("dev1", "temp", "21", "s1", 5),
            ("dev1", "hum", "41", "s2", 5),
        ],
    )
    out = q.run_events_df(ev, batch_seconds=3)
    assert out
    for row in out:
        d = dict(row)
        assert d["d"] == "dev1" and d["room"] == "lab"


def test_real_readstream_foreachbatch(spark, tmp_path):
    """Attach StructuredRSP to an actual file streaming source via
    writeStream/foreachBatch (the production wiring of start())."""
    import time

    from kolibrie_spark.streaming.structured import compile_structured

    src = tmp_path / "stream_in"
    src.mkdir()
    chk = tmp_path / "chk"
    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s <reading> ?v } }""",
    )
    schema = "s string, p string, o string, g string, stream string, event_time long"
    stream_df = spark.readStream.schema(schema).json(str(src))

    # first batch of files before starting, then more
    import json

    def write_file(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps(
                    dict(s=s, p=p, o=o, g=None, stream=st, event_time=t)
                )
                for (s, p, o, st, t) in rows
            )
        )

    write_file("a.json", [(f"d{t}", "reading", str(t), "s1", t) for t in range(5)])
    sq = q.start(stream_df, str(chk))
    try:
        write_file("b.json", [(f"d{t}", "reading", str(t), "s1", t) for t in range(5, 9)])
        deadline = time.time() + 60
        while time.time() < deadline and not q.emissions:
            sq.processAllAvailable()
            time.sleep(0.3)
    finally:
        sq.stop()
    assert q.emissions  # windows fired through the live streaming sink
    assert all({k for k, _ in row} == {"s", "v"} for row in q.emissions)


def test_database_union(spark):
    from kolibrie_spark.store import QuadStore

    a = QuadStore.from_rows(spark, [("x", "p", "1"), ("y", "p", "2", "g1")])
    b = QuadStore.from_rows(spark, [("x", "p", "1"), ("z", "q", "3")])
    merged = a.union(b)
    assert merged.quads.count() == 3  # shared quad deduped
    assert merged.named_graph_names().count() == 1


def test_sink_mode_no_driver_materialization(spark, tmp_path):
    """Scale path (VERDICT r1 #3): with a sink, emissions are handed to it
    as DataFrames inside the batch and nothing collects on the driver; the
    sunk results equal collect-mode output."""
    from kolibrie_spark.streaming.structured import compile_structured, parquet_sink

    query = """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s <reading> ?v } }"""
    rows = [(f"dev{t}", "reading", str(t), "s1", t) for t in range(8)]

    path = str(tmp_path / "results")
    sunk_frames = []

    def spy_sink(out_df):
        assert hasattr(out_df, "write")  # a DataFrame, not rows
        sunk_frames.append(out_df)
        parquet_sink(path)(out_df)

    q_sink = compile_structured(spark, query, sink=spy_sink)
    returned = q_sink.run_events_df(events_df(spark, rows), batch_seconds=4)
    assert returned == [] and q_sink.emissions == []  # nothing on the driver
    assert sunk_frames

    q_collect = compile_structured(spark, query)
    q_collect.run_events_df(events_df(spark, rows), batch_seconds=4)
    expected = sorted(tuple(sorted(r)) for r in q_collect.emissions)
    got = sorted(
        tuple(sorted(r.asDict().items())) for r in spark.read.parquet(path).collect()
    )
    assert got == expected


def test_start_foreachbatch_with_sink(spark, tmp_path):
    """start() drives process_batch through a real foreachBatch stream; in
    sink mode the results land in the results table only."""
    from kolibrie_spark.streaming.structured import compile_structured, parquet_sink

    src_dir, ckpt, results = (
        str(tmp_path / "src"), str(tmp_path / "ckpt"), str(tmp_path / "res"),
    )
    rows = [(f"dev{t}", "reading", str(t), None, "s1", t) for t in range(8)]
    spark.createDataFrame(
        rows,
        "s string, p string, o string, g string, stream string, event_time long",
    ).write.parquet(src_dir)

    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT *
           FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2]
           WHERE { WINDOW :w { ?s <reading> ?v } }""",
        sink=parquet_sink(results),
    )
    stream = (
        spark.readStream.schema(
            "s string, p string, o string, g string, stream string, event_time long"
        ).parquet(src_dir)
    )
    sq = q.start(stream, ckpt)
    sq.processAllAvailable()
    sq.stop()
    assert q.emissions == []
    assert spark.read.parquet(results).count() > 0


def test_sessionize_batch_matches_manual(spark):
    from kolibrie_spark.operators.temporal import sessionize

    rows = [("u1", 0), ("u1", 100), ("u1", 5000), ("u2", 50)]
    df = spark.createDataFrame(rows, "u string, t long")
    got = {
        (r.u, r.t): (r.session_seq, r.session_id)
        for r in sessionize(df, "u", "t", gap=1800).collect()
    }
    assert got == {
        ("u1", 0): (1, 0),
        ("u1", 100): (1, 0),
        ("u1", 5000): (2, 5000),
        ("u2", 50): (1, 50),
    }


def test_sessionize_split_by_bit_identical(spark):
    """split_by pre-split must match the unsplit plan exactly, including
    sessions that span bucket boundaries and buckets with no new session
    (a single session crossing 3+ buckets exercises the open-start carry)."""
    import random

    from kolibrie_spark.operators.temporal import sessionize

    rng = random.Random(7)
    rows = []
    for u in range(6):
        t = rng.randrange(0, 500)
        for _ in range(rng.randrange(30, 80)):
            # mix of small steps (same session, often crossing the 1000s
            # bucket edge) and > gap jumps (new sessions)
            t += rng.choice([5, 40, 200, 900, 2500])
            rows.append((f"u{u}", t))
    # one session fully covering many buckets: steps always < gap
    t = 100
    for _ in range(50):
        t += 400  # bucket width 1000, gap 600 -> no new flags for 20 buckets
        rows.append(("marathon", t))
    df = spark.createDataFrame(rows, "u string, t long")
    base = {
        (r.u, r.t, r.session_seq, r.session_id)
        for r in sessionize(df, "u", "t", gap=600).collect()
    }
    split = {
        (r.u, r.t, r.session_seq, r.session_id)
        for r in sessionize(df, "u", "t", gap=600, split_by=1000).collect()
    }
    assert split == base


def test_sessionize_split_by_breaks_power_user_chain(spark):
    """Skew guard: with one user holding 50% of all events, the unsplit
    plan funnels that user into ONE window task; split_by bounds every
    (user, bucket) group so no single task owns the power user's timeline."""
    from pyspark.sql import functions as F

    from kolibrie_spark.operators.temporal import sessionize

    rows = [("whale", i * 10) for i in range(4000)]
    rows += [(f"u{i % 40}", 40_000 + i * 7) for i in range(4000)]
    df = spark.createDataFrame(rows, "u string, t long")

    split_by = 2000  # whale: 4000 events over 40000s -> 200 events/bucket
    out = sessionize(df, "u", "t", gap=600, split_by=split_by)
    base = {
        (r.u, r.t, r.session_seq, r.session_id)
        for r in sessionize(df, "u", "t", gap=600).collect()
    }
    assert {
        (r.u, r.t, r.session_seq, r.session_id) for r in out.collect()
    } == base

    # the serial unit of work is the (user, bucket) group: the whale's
    # worst group must be a small slice of its 4000-event timeline
    sizes = (
        df.withColumn("b", (F.col("t") / split_by).cast("long"))
        .groupBy("u", "b")
        .count()
    )
    assert sizes.agg(F.max("count")).first()[0] <= 220


def test_live_istream_gate_matches_replay_twin(spark):
    """The live readStream->foreachBatch ISTREAM gate must emit exactly the
    batch replay twin's rows, restricted to windows that close under the
    final high-water mark (the last partial window never fires live)."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from kolibrie_spark.streaming.replay import istream_replay

    sf = "/root/testdata/sf0.001"
    width = 864000
    live = {
        (r.window_open, r.u, r.t)
        for r in entry_mod._q_streaming_istream_live(spark, sf).collect()
    }
    ev = entry_mod._events_stream_df(spark, sf)
    hwm = ev.agg(F.max("event_time")).first()[0]
    twin = {
        (r.window_open, r.u, r.t)
        for r in istream_replay(ev, "event_time", width, ["u", "t"])
        .filter(F.col("window_open") + width <= hwm)
        .collect()
    }
    assert live == twin and live


_TWO_WINDOW_Q = """REGISTER RSTREAM <out> AS SELECT *
       FROM NAMED WINDOW :w1 ON :s1 [RANGE 4 STEP 4]
       FROM NAMED WINDOW :w2 ON :s2 [RANGE 5 STEP 5]
       WHERE { WINDOW :w1 { ?a <p> ?x } WINDOW :w2 { ?b <q> ?y } }"""


def _two_stream_events(spark, n=18):
    rows = []
    for ts in range(n):
        rows.append((f"a{ts}", "p", f"x{ts % 3}", "s1", ts))
        rows.append((f"b{ts}", "q", f"y{ts % 2}", "s2", ts))
    return events_df(spark, rows)


def test_structured_wait_vs_steal_coordination(spark):
    """Batch twin of rsp_engine.rs:539-770 Wait/Steal: with w1 closing at
    4,8,12,16 and w2 at 5,10,15 (never simultaneously under 1-second
    batches), Wait emits only on full cycles while Steal also emits on
    w1-only firings with stale w2 results."""
    from kolibrie_spark.streaming.structured import compile_structured

    ev = _two_stream_events(spark)
    wait = compile_structured(spark, _TWO_WINDOW_Q, sync_policy=("WAIT",))
    steal = compile_structured(spark, _TWO_WINDOW_Q, sync_policy=("STEAL",))
    wait_out = wait.run_events_df(ev, batch_seconds=1)
    steal_out = steal.run_events_df(ev, batch_seconds=1)
    # Wait cycles complete at hwm 5 (w1@4+w2@5), 10 (w1@8+w2@10),
    # 15 (w1@12+w2@15); Steal additionally fires at 8, 12, 16 (stale w2)
    assert len(wait.emissions) < len(steal.emissions)
    # every Wait emission is also a Steal emission (same fresh-fresh join)
    def as_multiset(rows):
        return sorted(tuple(r) for r in rows)
    assert set(map(tuple, wait_out)) <= set(map(tuple, steal_out))
    # the Steal-only rows join a FRESH w1 with a STALE w2 (b-values older
    # than the a-values' window)
    steal_only = [r for r in steal_out if tuple(r) not in set(map(tuple, wait_out))]
    assert steal_only


def test_structured_timeout_event_time_deadline(spark):
    """Timeout(d, STEAL) flushes an open cycle once the high-water mark
    runs d seconds past the cycle's first firing; DROP discards it."""
    from kolibrie_spark.streaming.structured import compile_structured

    # s2 stops at ts 9, so w2 last fires [0,5) and every later w1 firing
    # leaves an open cycle that only the deadline can resolve
    rows = []
    for ts in range(18):
        rows.append((f"a{ts}", "p", "x", "s1", ts))
        if ts < 10:
            rows.append((f"b{ts}", "q", "y", "s2", ts))
    ev = events_df(spark, rows)
    out_by_fallback = {}
    for fallback in ("STEAL", "DROP"):
        q = compile_structured(
            spark, _TWO_WINDOW_Q, sync_policy=("TIMEOUT", 3, fallback)
        )
        q.run_events_df(ev, batch_seconds=1)
        out_by_fallback[fallback] = list(q.emissions)
    assert len(out_by_fallback["STEAL"]) > len(out_by_fallback["DROP"])


def test_live_two_window_sync_matches_faithful_engine(spark, tmp_path):
    """VERDICT r3 item #6: a REAL two-window readStream run (file source,
    one file per second so micro-batches close at most one window — the
    granularity where batch and event-at-a-time coordination coincide)
    produces, for BOTH Wait and Steal, exactly the faithful RSPEngine's
    emissions on the same timeline; and the Wait-vs-Steal emission
    difference is the stale-reuse firings."""
    import os

    from kolibrie_spark.streaming.engine import RSPEngine
    from kolibrie_spark.streaming.structured import compile_structured

    n = 18
    live_out = {}
    for policy in (("WAIT",), ("STEAL",)):
        src = tmp_path / f"in_{policy[0]}"
        src.mkdir()
        for ts in range(n):
            rows = [
                (f"a{ts}", "p", f"x{ts % 3}", "s1", ts),
                (f"b{ts}", "q", f"y{ts % 2}", "s2", ts),
            ]
            events_df(spark, rows).coalesce(1).write.mode("overwrite").json(
                str(tmp_path / f"part_{policy[0]}_{ts}")
            )
            part = tmp_path / f"part_{policy[0]}_{ts}"
            jfile = next(f for f in os.listdir(part) if f.endswith(".json"))
            dst = src / f"e{ts:03d}.json"
            os.rename(part / jfile, dst)
            os.utime(dst, (ts * 1000, ts * 1000))
        q = compile_structured(spark, _TWO_WINDOW_Q, sync_policy=policy)
        stream = (
            spark.readStream.schema(
                "s string, p string, o string, g string, stream string, "
                "event_time long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sq = q.start(stream, str(tmp_path / f"ckpt_{policy[0]}"))
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        live_out[policy[0]] = sorted(map(tuple, q.emissions))

    faithful_out = {}
    for policy in (("WAIT",), ("STEAL",)):
        collected = []
        eng = RSPEngine(
            spark,
            _TWO_WINDOW_Q,
            consumer=collected.append,
            sync_policy=policy,
        )
        for ts in range(n):
            eng.add_to_stream("s1", (f"a{ts}", "p", f"x{ts % 3}"), ts)
            eng.add_to_stream("s2", (f"b{ts}", "q", f"y{ts % 2}"), ts)
        faithful_out[policy[0]] = sorted(map(tuple, collected))

    assert live_out["WAIT"] == faithful_out["WAIT"]
    assert live_out["STEAL"] == faithful_out["STEAL"]
    assert len(live_out["STEAL"]) > len(live_out["WAIT"])


def test_structured_timeout_matches_faithful_engine_event_clock(spark):
    """ADVICE r4: the structured TIMEOUT path must match RSPEngine driven
    by an injected EVENT-TIME clock — in particular the deadline flush
    must emit the window results as of the deadline (pre-batch state),
    not results evaluated in the same batch that trips the deadline.

    Both streams keep flowing (a stalled stream is the documented
    global-hwm divergence, not what this pins): w1 closes at 4,8,12,16
    and w2 at 5,10,15, so every cycle opens with a lone w1 firing and the
    1-second deadline trips at the NEXT event — the same event whose
    batch fires w2 — making flush-before-eval vs flush-after-eval
    produce different emissions."""
    from kolibrie_spark.streaming.engine import RSPEngine
    from kolibrie_spark.streaming.structured import compile_structured

    rows = []
    for ts in range(18):
        rows.append((f"a{ts}", "p", f"x{ts % 3}", "s1", ts))
        rows.append((f"b{ts}", "q", f"y{ts % 2}", "s2", ts))

    for fallback in ("STEAL", "DROP"):
        q = compile_structured(
            spark, _TWO_WINDOW_Q, sync_policy=("TIMEOUT", 1, fallback)
        )
        q.run_events_df(events_df(spark, rows), batch_seconds=1)
        structured = sorted(map(tuple, q.emissions))

        collected = []
        clock_now = [0.0]
        eng = RSPEngine(
            spark,
            _TWO_WINDOW_Q,
            consumer=collected.append,
            sync_policy=("TIMEOUT", 1, fallback),
            clock=lambda: clock_now[0],
        )
        for ts in range(18):
            clock_now[0] = float(ts)
            eng.add_to_stream("s1", (f"a{ts}", "p", f"x{ts % 3}"), ts)
            eng.add_to_stream("s2", (f"b{ts}", "q", f"y{ts % 2}"), ts)
        faithful = sorted(map(tuple, collected))
        assert structured == faithful, (
            f"fallback={fallback}: structured {len(structured)} emissions "
            f"!= faithful {len(faithful)}"
        )


def _report_parity(spark, query, timeline):
    """Run one (query, scripted-timeline) scenario through BOTH engines —
    structured at one-event-time-per-batch granularity and the faithful
    RSPEngine event-at-a-time — and return (structured, faithful)
    emission lists, sorted by repr (an unbound variable is None, which
    does not order against a string)."""
    from kolibrie_spark.streaming.engine import RSPEngine
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(spark, query)
    q.run_events_df(
        events_df(spark, [(s, p, o, st, ts) for (st, (s, p, o), ts) in timeline]),
        batch_seconds=1,
    )
    structured = sorted(map(tuple, q.emissions), key=repr)

    collected = []
    eng = RSPEngine(spark, query, consumer=collected.append)
    eng.add_events(timeline)
    return structured, sorted(map(tuple, collected), key=repr)


@pytest.mark.parametrize(
    "report, timeline",
    [
        (  # NonEmptyContent gates out the empty just-closed windows that
           # plain OnWindowClose would fire (gap timeline from s2r tests)
            "REPORT NON_EMPTY_CONTENT REPORT ON_WINDOW_CLOSE",
            [("s1", (f"a{t}", "p", f"x{t % 2}", ), t) for t in (1, 2, 3, 10, 20)],
        ),
        (  # Periodic(2): fires only on even event times
            "REPORT PERIODIC 2",
            [("s1", (f"a{t}", "p", f"x{t % 3}"), t) for t in range(1, 8)],
        ),
        (  # OnContentChange (reference quirk: fires on content EQUAL to
           # the last judged) over a timeline with repeats and changes
            "REPORT ON_CONTENT_CHANGE",
            [
                ("s1", ("a", "p", "x"), 1),
                ("s1", ("a", "p", "x"), 2),
                ("s1", ("a", "p", "x"), 4),
                ("s1", ("b", "p", "y"), 6),
                ("s1", ("b", "p", "y"), 7),
                ("s1", ("c", "p", "z"), 9),
            ],
        ),
        (  # NonEmptyContent alone: fires open windows too (max-close
           # candidate judged on pre-event content)
            "REPORT NON_EMPTY_CONTENT",
            [("s1", (f"a{t}", "p", "x"), t) for t in (1, 3, 6, 7, 11)],
        ),
    ],
    ids=["nonempty+close", "periodic", "content-change", "nonempty-alone"],
)
def test_structured_report_strategies_match_faithful(spark, report, timeline):
    """VERDICT r4 item #5: the faithful engine's report-strategy timeline
    semantics hold on the structured path too (at one-event-time-per-batch
    granularity, where the two coordinations coincide)."""
    timeline = [(st, tuple(tr), ts) for (st, tr, ts) in timeline]
    query = (
        "REGISTER RSTREAM <out> AS SELECT * "
        f"FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 1 {report}] "
        "WHERE { WINDOW :w { ?a <p> ?x } }"
    )
    structured, faithful = _report_parity(spark, query, timeline)
    assert structured == faithful


@pytest.mark.parametrize(
    "report, rng",
    [
        ("REPORT NON_EMPTY_CONTENT", "[RANGE 6 STEP 2"),
        ("REPORT PERIODIC 4", "[RANGE 9 STEP 3"),
        ("REPORT ON_CONTENT_CHANGE", "[RANGE 8 STEP 2"),
    ],
    ids=["nonempty-step2", "periodic-step3", "content-change-step2"],
)
def test_structured_report_strategies_sliding_step_gt1(spark, report, rng):
    """Report-strategy parity must also hold for STEP > 1 (multi-slide
    window arithmetic in _report_fire's candidate reconstruction)."""
    from kolibrie_spark.streaming.engine import RSPEngine
    from kolibrie_spark.streaming.structured import compile_structured

    query = (
        "REGISTER RSTREAM <out> AS SELECT * "
        f"FROM NAMED WINDOW :w ON :s1 {rng} {report}] "
        "WHERE { WINDOW :w { ?a <p> ?x } }"
    )
    timeline = [
        ("s1", (f"a{t}", "p", f"x{t % 2}"), t) for t in (1, 2, 5, 7, 8, 11, 14, 15)
    ]
    q = compile_structured(spark, query)
    q.run_events_df(
        events_df(spark, [(s, p, o, st, ts) for (st, (s, p, o), ts) in timeline]),
        batch_seconds=1,
    )
    structured = sorted(map(tuple, q.emissions))
    collected = []
    eng = RSPEngine(spark, query, consumer=collected.append)
    eng.add_events(timeline)
    assert structured == sorted(map(tuple, collected))


@pytest.mark.parametrize("op", ["ISTREAM", "DSTREAM"])
def test_r2s_diff_unbound_optional_matches_faithful(spark, op):
    """An OPTIONAL left unbound gives a NULL binding.  The structured
    ISTREAM/DSTREAM diff groups by the binding columns, so two NULLs are
    the same binding; the faithful IStream/DStream compare row keys, where
    an unbound variable is equal to itself too.  A subject that never gets
    a label stays in consecutive windows: neither engine may re-emit it
    (ISTREAM) or report it deleted (DSTREAM) while it stays."""
    timeline = [
        ("s1", ("x", "p", "T"), 1),
        ("s1", ("y", "p", "T"), 2),
        ("s1", ("y", "label", "L"), 3),
        ("s1", ("x", "p", "T"), 5),
        ("s1", ("z", "p", "T"), 7),
        ("s1", ("x", "p", "T"), 9),
        ("s1", ("w", "p", "T"), 13),
    ]
    query = (
        f"REGISTER {op} <out> AS SELECT * "
        "FROM NAMED WINDOW :w ON :s1 [RANGE 4 STEP 2] "
        "WHERE { WINDOW :w { ?s <p> ?t . OPTIONAL { ?s <label> ?l } } }"
    )
    structured, faithful = _report_parity(spark, query, timeline)
    assert structured == faithful
    # x is in every fired window with ?l unbound: ISTREAM emits it once,
    # DSTREAM never reports it deleted
    x_rows = [r for r in structured if dict(r)["s"] == "x"]
    assert x_rows == ([(("l", None), ("s", "x"), ("t", "T"))] if op == "ISTREAM" else [])


def test_per_stream_hwm_holds_stalled_stream_window(spark):
    """VERDICT r6 item #9: with per_stream_hwm=True, a stalled stream's
    window must HOLD (event-driven firing, reference
    rsp_engine.rs:773-811 routes events only to the matching windows) —
    parity with the faithful RSPEngine on a two-stream timeline where s2
    stalls at ts=5 while s1 runs to ts=17; the default global-hwm mode
    keeps closing the stalled window (the documented divergence)."""
    from kolibrie_spark.streaming.engine import RSPEngine
    from kolibrie_spark.streaming.structured import compile_structured

    n = 18
    stall_at = 5

    def timeline():
        for ts in range(n):
            rows = [(f"a{ts}", "p", f"x{ts % 3}", "s1", ts)]
            if ts < stall_at:
                rows.append((f"b{ts}", "q", f"y{ts % 2}", "s2", ts))
            yield ts, rows

    # faithful engine: event-at-a-time, s2's window never fires past its
    # last event
    collected = []
    eng = RSPEngine(spark, _TWO_WINDOW_Q, consumer=collected.append)
    for ts, rows in timeline():
        for s, p, o, st, t in rows:
            eng.add_to_stream(st, (s, p, o), t)
    faithful = sorted(map(tuple, collected))

    # structured, per-stream hwm, one event time per micro-batch (the
    # granularity where batch and event coordination coincide)
    q = compile_structured(spark, _TWO_WINDOW_Q, per_stream_hwm=True)
    out = []
    for ts, rows in timeline():
        out.extend(q.process_batch(events_df(spark, rows)))
    assert sorted(map(tuple, out)) == faithful

    # default mode diverges by design: the global hwm closes w2 windows
    # after s2 stalls, so it fires MORE (stale s2 content joins under
    # WAIT only when both windows fired this cycle — compare emission
    # multisets, not just counts, to pin the divergence is real)
    q_global = compile_structured(spark, _TWO_WINDOW_Q)
    out_global = []
    for ts, rows in timeline():
        out_global.extend(q_global.process_batch(events_df(spark, rows)))
    assert sorted(map(tuple, out_global)) != faithful


def _chop(rows, width):
    """``rows`` cut into event-time batches of ``width`` seconds from the
    first event on, as run_events_df cuts them (empty batches included)."""
    lo, hi = min(r[4] for r in rows), max(r[4] for r in rows)
    return [[r for r in rows if s <= r[4] < s + width] for s in range(lo, hi + 1, width)]


def _window_oracle(windows, batches, watermark=None, per_stream_hwm=False):
    """Batch-granularity model of the control plane, by window
    enumeration. After each non-empty batch the horizon is recomputed
    from the marks (the slowest window's ``mark - (width + slide)``,
    raised to ``hwm - watermark``), and each default-report window's
    latest close is the largest ``o + width <= mark`` over windows
    ``[o, o + width)``, ``o`` a non-negative multiple of slide, holding an
    event of its stream above the horizon; a close only moves forward.
    Yields per batch the closes so far and the events above the
    horizon."""
    seen, hwm, stream_hwm, fired, visible = [], -1, {}, {}, []
    for batch in batches:
        if not batch:  # an empty batch leaves the state as it was
            yield dict(fired), visible
            continue
        seen += batch
        for r in batch:
            hwm = max(hwm, r[4])
            stream_hwm[r[3]] = max(stream_hwm.get(r[3], -1), r[4])

        def mark(w):
            return stream_hwm.get(w.stream, -1) if per_stream_hwm and w.stream else hwm

        horizon = min(mark(w) - (w.width + w.slide) for w in windows)
        if watermark is not None:
            horizon = max(horizon, hwm - watermark)
        visible = [r for r in seen if r[4] > horizon]
        for w in windows:
            closes = [
                o + w.width
                for (_s, _p, _o, st, t) in visible
                if w.stream in (None, st)
                for o in range(t - t % w.slide, max(t - w.width, -1), -w.slide)
                if o + w.width <= mark(w)
            ]
            if closes and max(closes) > fired.get(w.iri, -1):
                fired[w.iri] = max(closes)
        yield dict(fired), visible


def _run_against_oracle(
    spark, qtext, batches, policy=("WAIT",), watermark=None, per_stream_hwm=False
):
    """Drive ``batches`` through one registration and assert after every
    batch that its firing trace (``_fired_until``) equals the window
    oracle's. For a single-window ISTREAM registration also assert every
    emission against a Python window model: the fired window's (u, t)
    pairs above the horizon minus the previous fired window's. Returns
    the emissions per batch, the most panes held at once and the last
    closes."""
    from kolibrie_spark.streaming.structured import compile_structured

    q = compile_structured(
        spark, qtext, sync_policy=policy, watermark=watermark, per_stream_hwm=per_stream_hwm
    )
    windows = q.query.windows
    model = len(windows) == 1 and q.query.operator == "ISTREAM"
    outs, panes, last, prev = [], 0, {}, set()
    oracle = _window_oracle(windows, batches, watermark, per_stream_hwm)
    for i, (batch, (fired, visible)) in enumerate(zip(batches, oracle)):
        out = q.process_batch(events_df(spark, batch))
        assert q._fired_until == fired, (i, q._fired_until, fired)
        outs.append(out)
        panes = max(panes, len(q._panes))
        if model:
            got = sorted((dict(r)["u"], dict(r)["t"]) for r in out)
            if fired == last:
                assert got == [], i
            else:
                (w,) = windows
                close = fired[w.iri]
                cur = {(u, o) for (u, _p, o, _st, t) in visible if close - w.width <= t < close}
                assert got == sorted(cur - prev), i
                prev = cur
        last = fired
    return outs, panes, last


def test_control_plane_matches_window_oracle(spark):
    """Every batch's firing trace equals the window oracle's, including
    high-water-mark jumps larger than width + slide (where eviction
    retires a never-fired window) and empty micro-batches."""
    import random

    queries = [
        # sliding, STEP < RANGE
        (
            "REGISTER ISTREAM <out> AS SELECT * "
            "FROM NAMED WINDOW :w ON :ev [RANGE 20 STEP 5] "
            "WHERE { WINDOW :w { ?u <t> ?t } }",
            ("WAIT",),
        ),
        # two tumbling windows, STEAL coordination
        (
            "REGISTER RSTREAM <out> AS SELECT * "
            "FROM NAMED WINDOW :w1 ON :ev [RANGE 10 STEP 10] "
            "FROM NAMED WINDOW :w2 ON :ev [RANGE 15 STEP 15] "
            "WHERE { WINDOW :w1 { ?u <t> ?t } WINDOW :w2 { ?u <t> ?t } }",
            ("STEAL",),
        ),
    ]
    rng = random.Random(7)
    for qtext, policy in queries:
        t, rows = 0, []
        for i in range(14):
            # i == 7 pins one gap > width + slide every run
            t += 40 if i == 7 else rng.choice([1, 2, 3, 5])
            rows.append((f"u{rng.randint(0, 4)}", "t", f"x{rng.randint(0, 2)}", "ev", t))
        outs, _, _ = _run_against_oracle(spark, qtext, _chop(rows, 10), policy)
        assert any(outs), qtext


def test_control_plane_per_stream_hwm_matches_window_oracle(spark):
    """Under per_stream_hwm=True a stalled stream's window holds on its
    own stream's mark, batch by batch as the oracle says."""
    qtext = (
        "REGISTER RSTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w1 ON :a [RANGE 10 STEP 10] "
        "FROM NAMED WINDOW :w2 ON :b [RANGE 10 STEP 10] "
        "WHERE { WINDOW :w1 { ?u <t> ?t } WINDOW :w2 { ?u <t> ?t } }"
    )
    rows = [
        ("u1", "t", "x", "a", 2),
        ("u1", "t", "x", "b", 3),
        ("u2", "t", "x", "a", 12),   # stream b stalls: its window must hold
        ("u1", "t", "x", "a", 23),
        ("u1", "t", "x", "b", 24),
    ]
    _, _, fired = _run_against_oracle(
        spark, qtext, _chop(rows, 5), ("STEAL",), per_stream_hwm=True
    )
    assert len(fired) == 1  # w1 fired; w2 held on its stalled stream


def test_control_plane_multi_bucket_batches_match_window_oracle(spark):
    """A batch that spans several buckets gets its per-bucket maxima
    from one aggregate over its own pane; the firing trace still equals
    the oracle's."""
    import random

    rng = random.Random(11)
    rows, t = [], 0
    for i in range(30):
        t += 45 if i == 15 else rng.choice([1, 2, 4])
        rows.append((f"u{rng.randint(0, 4)}", "t", f"x{rng.randint(0, 2)}", "ev", t))
    qtext = (
        "REGISTER ISTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w1 ON :ev [RANGE 20 STEP 5] "
        "FROM NAMED WINDOW :w2 ON :ev [RANGE 30 STEP 10] "
        "WHERE { WINDOW :w1 { ?u <t> ?t } WINDOW :w2 { ?u <t> ?x } }"
    )
    outs, _, _ = _run_against_oracle(spark, qtext, _chop(rows, 17), ("STEAL",))
    assert any(outs)  # something was emitted


def test_control_plane_folded_panes_match_window_oracle(spark):
    """Batches finer than one bucket fold into the current bucket's pane
    (including a wrong guess at a bucket edge); firings and emissions
    still match the oracle and the window model, also across a jump past
    width + slide, and the pane count stays bounded by the window span,
    not the batch count."""
    times = [0, 1, 2, 3, 4, 5, 7, 8, 10, 30, 31, 33, 34]
    batches = [[(f"u{t % 4}", "t", f"x{t % 3}", "ev", t)] for t in times]
    qtext = (
        "REGISTER ISTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w ON :ev [RANGE 6 STEP 3] "
        "WHERE { WINDOW :w { ?u <t> ?t } }"
    )
    outs, panes, _ = _run_against_oracle(spark, qtext, batches)
    assert any(outs)
    assert panes <= (6 + 3) // 3 + 2 < len(times)


def test_coprime_range_and_step_match_window_oracle(spark):
    """RANGE 7 STEP 5: the bucket is gcd(7, 5) = 1 s, so batches of
    several seconds span several buckets and single-second batches fold.
    Firings and emissions match the oracle and the window model."""
    import random

    rng = random.Random(5)
    rows, t = [], 0
    for i in range(40):
        t += 30 if i == 20 else rng.choice([0, 1, 1, 2, 3])
        rows.append((f"u{rng.randint(0, 5)}", "t", f"x{rng.randint(0, 2)}", "ev", t))
    batches = _chop(rows[:20], 4) + [[r] for r in rows[20:]]
    qtext = (
        "REGISTER ISTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w ON :ev [RANGE 7 STEP 5] "
        "WHERE { WINDOW :w { ?u <t> ?t } }"
    )
    outs, _, _ = _run_against_oracle(spark, qtext, batches)
    assert sum(map(bool, outs)) >= 5


def test_two_unaligned_windows_match_window_oracle(spark):
    """RANGE 10 STEP 4 on one stream and RANGE 6 STEP 6 on another: the
    bucket is gcd(10, 4, 6) = 2 s, and each window fires on its own
    stream's buckets."""
    import random

    rng = random.Random(13)
    rows, t = [], 0
    for i in range(36):
        t += rng.choice([0, 1, 2, 3])
        rows.append((f"u{rng.randint(0, 3)}", "t", f"x{rng.randint(0, 2)}", rng.choice("ab"), t))
    qtext = (
        "REGISTER RSTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w1 ON :a [RANGE 10 STEP 4] "
        "FROM NAMED WINDOW :w2 ON :b [RANGE 6 STEP 6] "
        "WHERE { WINDOW :w1 { ?u <t> ?t } WINDOW :w2 { ?v <t> ?t } }"
    )
    outs, _, _ = _run_against_oracle(spark, qtext, _chop(rows, 3), ("STEAL",))
    assert any(outs)


def test_watermark_with_late_events_matches_window_oracle(spark):
    """A watermark only raises the read horizon to ``hwm - watermark``:
    late events above it join the next fired window, older ones are
    dropped, and no fired window fires again."""
    import random

    rng = random.Random(17)
    batches, hwm = [], 0
    for _ in range(24):
        hwm += rng.choice([1, 2, 3, 4])
        batch = [(f"u{rng.randint(0, 5)}", "t", f"x{rng.randint(0, 2)}", "ev", hwm)]
        for _ in range(rng.randint(0, 2)):  # late: up to 12 s behind the mark
            batch.append((f"u{rng.randint(0, 5)}", "t", "late", "ev", max(0, hwm - rng.randint(1, 12))))
        batches.append(batch)
    qtext = (
        "REGISTER ISTREAM <out> AS SELECT * "
        "FROM NAMED WINDOW :w ON :ev [RANGE 10 STEP 5] "
        "WHERE { WINDOW :w { ?u <t> ?t } }"
    )
    outs, _, _ = _run_against_oracle(spark, qtext, batches, watermark=8)
    assert any(("t", "late") in row for out in outs for row in out)


def test_closes_run_no_spark_job(spark):
    """A watermark registration and a RANGE 10 STEP 4 one, fed batches
    that each lie in one bucket and fire no window: each process_batch
    runs exactly one job, the pane checkpoint."""
    import time

    from kolibrie_spark.streaming.structured import compile_structured

    sc = spark.sparkContext
    cases = [
        ("RANGE 10 STEP 5", {"watermark": 3}, [[0, 1], [2], [5, 6], [8]]),
        ("RANGE 10 STEP 4", {}, [[0, 1], [2], [4, 5], [6], [8, 9]]),
    ]
    for window, kw, times in cases:
        q = compile_structured(
            spark,
            "REGISTER RSTREAM <out> AS SELECT * "
            f"FROM NAMED WINDOW :w ON :ev [{window}] "
            "WHERE { WINDOW :w { ?u <t> ?t } }",
            **kw,
        )
        frames = [events_df(spark, [(f"u{t}", "t", "x", "ev", t) for t in ts]) for ts in times]
        groups = []
        for i, df in enumerate(frames):
            groups.append(f"closes-{window}-{i}")
            sc.setJobGroup(groups[-1], "one batch")
            try:
                assert q.process_batch(df) == []
            finally:
                sc.setJobGroup("idle", "idle")
        assert q._fired_until == {}
        time.sleep(0.5)  # job events reach the status store asynchronously
        jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
        assert jobs == [1] * len(frames), (window, jobs)


def test_pane_state_is_bounded_over_60_aligned_batches(spark):
    """60 STEP-aligned batches through a RANGE 4*STEP ISTREAM window: the
    state's partition count is the same after batch 10 and batch 60
    (panes are evicted whole, not filtered), and every emission equals
    a Python window model — the current window's bindings minus the
    previous window's, as perfbench's rsp_stream expects them."""
    import random

    from kolibrie_spark.streaming.structured import compile_structured

    step = 10
    q = compile_structured(
        spark,
        f"""REGISTER ISTREAM <out> AS SELECT ?u ?t
           FROM NAMED WINDOW :w ON :ev [RANGE {4 * step} STEP {step}]
           WHERE {{ WINDOW :w {{ ?u <t> ?t }} }}""",
    )
    rng = random.Random(3)
    batches = [
        [
            (f"u{rng.randint(0, 7)}", "t", f"x{rng.randint(0, 2)}", "ev",
             b * step + rng.randint(0, step - 1))
            for _ in range(rng.randint(1, 3))
        ]
        for b in range(60)
    ]

    def window(b):
        lo, hi = (b - 4) * step, b * step
        return {(u, t) for rows in batches for (u, _p, t, _s, et) in rows if lo <= et < hi}

    prev, parts = set(), {}
    for b, rows in enumerate(batches):
        out = q.process_batch(events_df(spark, rows))
        if b >= 4:  # the first window to close is [0, 4 * step)
            cur = window(b)
            assert sorted((dict(r)["u"], dict(r)["t"]) for r in out) == sorted(cur - prev), b
            prev = cur
        if b + 1 in (10, 60):
            parts[b + 1] = (q.buffer.rdd.getNumPartitions(), len(q._panes))
    assert parts[10][0] == parts[60][0]
    # live panes: the (4 + 1) * step behind the mark, plus the current one
    assert max(n for _, n in parts.values()) <= 4 + 1 + 1
    assert q.buffer.count() <= sum(len(r) for r in batches[-6:])


def test_static_side_change_reaches_next_emission(spark):
    """The static side is compiled once per version of the static store:
    a quad inserted between two batches joins the next emission."""
    from kolibrie_spark.store import QuadStore
    from kolibrie_spark.streaming.structured import compile_structured

    static = QuadStore.from_rows(spark, [("dev1", "locatedIn", "lab")])
    q = compile_structured(
        spark,
        """REGISTER RSTREAM <out> AS SELECT ?d ?room
           FROM NAMED WINDOW :w ON :s1 [RANGE 2 STEP 2]
           WHERE { WINDOW :w { ?d <temp> ?t } ?d <locatedIn> ?room }""",
        static_store=static,
    )

    def batch(t):
        return events_df(spark, [("dev1", "temp", "20", "s1", t), ("dev2", "temp", "30", "s1", t)])

    q.process_batch(batch(0))
    first = q.process_batch(batch(2))  # fires [0, 2)
    assert sorted(dict(r)["d"] for r in first) == ["dev1"]
    compiled = q._static
    assert q.process_batch(batch(4)) and q._static is compiled  # no change: no recompile
    static.add_quads([("dev2", "locatedIn", "office")])
    after = q.process_batch(batch(6))  # fires [4, 6)
    assert sorted((dict(r)["d"], dict(r)["room"]) for r in after) == [
        ("dev1", "lab"),
        ("dev2", "office"),
    ]


def test_large_first_batch_keeps_its_partitions(spark, monkeypatch):
    """A pane's checkpoint keeps its batch's partitioning, and its reads
    are coalesced by the row count observed in the checkpoint job: a
    first batch over the rows-per-partition mark is still read as
    several partitions, a one-row batch as one."""
    from kolibrie_spark.streaming import structured

    monkeypatch.setattr(structured, "ROWS_PER_TASK", 10)
    q = structured.compile_structured(
        spark,
        "REGISTER RSTREAM <out> AS SELECT ?u "
        "FROM NAMED WINDOW :w ON :ev [RANGE 20 STEP 10] "
        "WHERE { WINDOW :w { ?u <t> ?x } }",
    )
    big = events_df(spark, [(f"u{i}", "t", "x", "ev", i % 10) for i in range(40)])
    assert q.process_batch(big.repartition(4)) == []
    assert q._panes[0].ckpt.rdd.getNumPartitions() == 4
    assert q._panes[0].df.rdd.getNumPartitions() == 4  # ceil(40 / 10)
    out = q.process_batch(events_df(spark, [("v", "t", "x", "ev", 25)]))  # fires [0, 20)
    assert sorted(dict(r)["u"] for r in out) == sorted(f"u{i}" for i in range(40))
    assert q._panes[-1].df.rdd.getNumPartitions() == 1
