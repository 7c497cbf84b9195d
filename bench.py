"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The suite is the oracle-checked operator battery from __spark_entry__ —
each timing covers plan construction + execution + collect (row count only,
to avoid timing result serialization to the driver). Store construction
(triplify + materialize) is reported separately under "setup_sec" and not
counted in the headline value, matching how the reference's criterion
benches time queries against an already-loaded database
(kolibrie/benches/my_benchmark.rs loads the RDF/XML once per group).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The bench covers EVERY gate query (queries() is the source of truth), so
# round-over-round regressions are visible on every operator.


# keys that appear as `"name": number` in a bench JSON line but are NOT
# per-query timings — the tail-regex fallback must not treat them as gates
_NON_QUERY_KEYS = {"value", "setup_sec", "cpus", "prev", "now", "ratio", "n", "rc", "sf"}


def _timings_from_tail(tail: str) -> dict[str, float]:
    """Recover per-query timings from a driver-truncated BENCH tail string.

    The driver's BENCH_r{N}.json stores `parsed: null` plus only the LAST
    2000 chars of stdout (VERDICT r5 what's-wrong #1: that made the
    tripwire compare against nothing since r3). The tail still contains
    `"gate_name": 1.234` pairs from the tail end of the "queries" dict —
    regex them out, dropping the metadata keys that share the shape. A
    partial map is fine: the tripwire then covers the recovered subset
    instead of zero gates.
    """
    out: dict[str, float] = {}
    # stop at "regressions": entries there repeat gate names with prev/now
    # floats that are NOT this round's timings
    cut = tail.find('"regressions"')
    body = tail[:cut] if cut >= 0 else tail
    first_span = None
    for m in re.finditer(r'"([A-Za-z_][\w]*)":\s*(-?\d+(?:\.\d+)?)\b', body):
        if first_span is None:
            # The truncation window can cut mid-name AFTER the opening
            # quote ('"togram": 0.412...' — ADVICE r6 low, bench.py:59)
            # so `body starts with "` does not prove the name is whole.
            # The only trustworthy signal: the text before the first hit
            # ends at a real JSON boundary (`{` or `,`). An empty prefix
            # (cut exactly at or inside the opening quote) is ambiguous →
            # drop. Junk prefixes like 'ntal_near": 2.9, ' end with ','
            # and correctly KEEP the following complete gate.
            first_span = m.span()
            prefix = body[: m.start()].rstrip()
            if not prefix.endswith(("{", ",")):
                continue  # suspect truncated name — skip this match only
        name, val = m.group(1), float(m.group(2))
        if name not in _NON_QUERY_KEYS:
            out[name] = val
    return out


def _round_file_index(here: str) -> dict[int, dict[str, str]]:
    """{round N: {"driver": path?, "local": path?}} over BENCH*_r{N}.json."""
    idx: dict[int, dict[str, str]] = {}
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")) + glob.glob(
        os.path.join(here, "BENCH_LOCAL_r*.json")
    ):
        m = re.search(r"BENCH(_LOCAL)?_r(\d+)\.json$", path)
        if not m:
            continue
        kind = "local" if m.group(1) else "driver"
        idx.setdefault(int(m.group(2)), {})[kind] = path
    return idx


def _current_round(here: str) -> int:
    """This build round. Prefer an explicit $SPARK_GRAFT_ROUND (ADVICE r6:
    the file heuristic self-compares if a BENCH_r{N} for the CURRENT round
    ever exists mid-round); else latest driver-written BENCH_r{N} + 1 (the
    driver writes its file only AFTER the round ends, so during round N the
    newest driver file is r{N-1})."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    idx = _round_file_index(here)
    driver_rounds = [n for n, kinds in idx.items() if "driver" in kinds]
    return (max(driver_rounds) + 1) if driver_rounds else 1


def _previous_round_timings() -> tuple[str | None, dict[str, float]]:
    """Per-query timings for the PREVIOUS round → (filename, secs).

    The regression tripwire (VERDICT r2 item 6): round N+1 must not silently
    regress what round N fixed. Diff-base preference (VERDICT r5 item #1):

    1. BENCH_LOCAL_r{N-1}.json — our own complete record, written by
       main() at the end of every headline (sf0.1) bench run (full
       "queries" dict; smoke runs at other SFs do not write it).
    2. BENCH_r{N-1}.json "parsed" dict, when the driver populated it.
    3. BENCH_r{N-1}.json "tail" string, regex-recovered (partial but real —
       the driver has stored parsed:null + a 2000-char tail since r3).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    idx = _round_file_index(here)
    prev_round = _current_round(here) - 1
    kinds = idx.get(prev_round, {})
    if "local" in kinds:
        try:
            with open(kinds["local"]) as fh:
                data = json.load(fh)
            q = dict(data.get("queries", {}))
            # VERDICT r12 item #8: a local record taken at a different core
            # count (e.g. the driver's 8-core scaling run) is not a valid
            # diff base — comparing 32-core numbers against it flags
            # every parallel gate. Skip mismatched records entirely.
            if q and int(data.get("cpus", 32)) == 32:
                return os.path.basename(kinds["local"]), q
        except Exception:
            pass
    if "driver" in kinds:
        try:
            with open(kinds["driver"]) as fh:
                prev = json.load(fh)
            if isinstance(prev.get("parsed"), dict) and prev["parsed"].get("queries"):
                return os.path.basename(kinds["driver"]), dict(
                    prev["parsed"]["queries"]
                )
            tail = prev.get("tail")
            if isinstance(tail, str):
                q = _timings_from_tail(tail)
                if q:
                    return os.path.basename(kinds["driver"]) + " (tail-regex)", q
        except Exception:
            pass
    return None, {}


def _find_regressions(
    timings: dict[str, float], prev: dict[str, float]
) -> dict[str, dict[str, float]]:
    """Queries >1.5x slower than the previous round AND >0.3s absolute —
    the absolute floor keeps sub-100ms scheduling jitter from tripping.
    Live streaming gates are excluded: they time readStream micro-batch
    machinery with a measured 2x run-to-run swing (BASELINE.md r8
    adjudication), so they are reported under "live_gates" instead and
    their micro-batch counts are asserted inside the gates."""
    out: dict[str, dict[str, float]] = {}
    for name, now in timings.items():
        if name.endswith("_live"):
            continue
        old = prev.get(name)
        if old is None or old <= 0:
            continue
        if now > 1.5 * old and now - old > 0.3:
            out[name] = {"prev": old, "now": now, "ratio": round(now / old, 2)}
    return out


def _previous_fresh_timings(here: str) -> dict[str, float]:
    """Fresh-JVM measurements persisted by the PREVIOUS round's confirm
    stage (BENCH_FRESH_r{N-1}.json) — the like-with-like baseline for
    stage 2 (VERDICT r8 task #1 / ADVICE r8: comparing a cold fresh-JVM
    number against a warm in-suite prior is biased in BOTH directions:
    the ~1.3-1.4x cold offset auto-confirms fast gates, while suite
    inflation on the prior can auto-clear a real regression).  Keys
    starting with '_' are provenance metadata, not gates."""
    prev_round = _current_round(here) - 1
    for name in (
        f"BENCH_FRESH_r{prev_round}.json",
        f"BENCH_FRESH_r{prev_round:02d}.json",
    ):
        path = os.path.join(here, name)
        try:
            with open(path) as fh:
                data = json.load(fh)
            return {
                k: float(v)
                for k, v in data.items()
                if not k.startswith("_") and isinstance(v, (int, float))
            }
        except Exception:
            continue
    return {}


def _confirm_regressions_fresh_jvm(
    regressions: dict[str, dict[str, float]], sf_dir: str, persist: bool = False
) -> tuple[dict[str, dict[str, float]], dict[str, dict[str, float]]]:
    """Stage 2 of the tripwire (BASELINE.md r8 adjudication: all 5 of r7's
    suite flags were noise — in-suite numbers have a ±1.5-2.5x noise
    floor).  Re-measure every suite-flagged gate in ONE fresh-JVM
    `tools/bench_one.py` subprocess (min-of-2; main() stops the parent
    SparkSession first so the subprocess runs on an idle box — the r8
    confirm numbers were inflated by the resident 24g/32-thread parent,
    BASELINE.md r9 adjudication) and keep the flag only if the isolated
    number still trips the same threshold against a LIKE-WITH-LIKE
    baseline: the previous round's fresh-JVM measurement of the same gate
    when one was persisted (`BENCH_FRESH_r{N-1}.json`), else the previous
    round's suite number tagged ``baseline: "suite-prev"`` so readers can
    discount the cold-vs-warm offset.  With ``persist=True`` this round's
    fresh measurements are written to ``BENCH_FRESH_r{N}.json`` to become
    the next round's baseline.  Returns (confirmed, cleared)."""
    import subprocess

    if not regressions:
        return {}, {}
    # let the suite's load drain before measuring: the r10 adjudication
    # found the confirm numbers inflated ~1.6x because the subprocess
    # launched while the just-stopped 32-thread suite's loadavg (5-7)
    # was still decaying.  Wait (bounded) for the 1-min loadavg to drop.
    try:
        deadline = time.time() + 120
        while time.time() < deadline and os.getloadavg()[0] > 2.0:
            time.sleep(5)
    except OSError:
        pass
    here = os.path.dirname(os.path.abspath(__file__))
    prev_fresh = _previous_fresh_timings(here)
    cmd = [
        sys.executable,
        os.path.join(here, "tools", "bench_one.py"),
        "--sf-dir",
        sf_dir,
        "--runs",
        "3",
        *regressions,
    ]
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800, cwd=here
        )
        fresh = json.loads(proc.stdout.strip().splitlines()[-1])
    except Exception as exc:  # confirm stage must not kill the bench
        print(f"# fresh-JVM confirm stage failed ({exc}); keeping suite flags",
              file=sys.stderr)
        for info in regressions.values():
            info["fresh_jvm"] = None
        return regressions, {}
    if persist and fresh:
        fresh_path = os.path.join(
            here, f"BENCH_FRESH_r{_current_round(here)}.json"
        )
        record = dict(fresh)
        record["_method"] = (
            "tools/bench_one.py --runs 3, parent SparkSession stopped, "
            f"loadavg-drained, sf_dir={sf_dir}"
        )
        try:
            with open(fresh_path, "w") as fh:
                json.dump(record, fh)
            print(
                f"# fresh-JVM confirm numbers -> {os.path.basename(fresh_path)}",
                file=sys.stderr,
            )
        except OSError as exc:
            print(f"# could not persist fresh numbers ({exc})", file=sys.stderr)
    confirmed: dict[str, dict[str, float]] = {}
    cleared: dict[str, dict[str, float]] = {}
    for name, info in regressions.items():
        f = fresh.get(name)
        pf = prev_fresh.get(name)
        base = pf if pf is not None else info["prev"]
        info = dict(
            info,
            fresh_jvm=f,
            baseline=("fresh-prev" if pf is not None else "suite-prev"),
            fresh_prev=pf,
        )
        if f is not None and not (f > 1.5 * base and f - base > 0.3):
            cleared[name] = info
        else:
            confirmed[name] = info
    return confirmed, cleared


def _bench_cross_window(spark) -> dict[str, float]:
    """Cross-window SDS+ at bench scale (VERDICT r2 item 7): one large
    synthetic window, chain rule to fixpoint — time the DataFrame-backed
    path vs the driver-side naive fixpoint to show where each wins.

    Sized so the driver-side O(F^2) matcher is measurably slower but still
    finishes; the crossover analysis lives in ARCHITECTURE.md.
    """
    from kolibrie_spark.reasoner.rule import Rule
    from kolibrie_spark.sparql.ast import Iri, TriplePattern, Var
    from kolibrie_spark.streaming.cross_window import (
        Sds,
        WindowedTriple,
        dataframe_sds_plus,
        naive_sds_plus,
    )

    w_iri = "urn:w1#"
    # 2400 triples sits past the measured crossover (~1500-2000 facts on
    # local[32]): the distributed path wins while the O(F^2) driver-side
    # matcher stays cheap enough to time in the same run.
    n = 2400
    triples = [
        WindowedTriple(f"urn:n{i}", "next", f"urn:n{i + 1}", event_time=i % 50)
        for i in range(n)
    ]
    sds = Sds()
    sds.set_window(w_iri, alpha=1000, triples=triples)
    rule = Rule(
        premise=[
            TriplePattern(Var("x"), Iri(w_iri + "next"), Var("y")),
            TriplePattern(Var("y"), Iri(w_iri + "next"), Var("z")),
        ],
        conclusion=[TriplePattern(Var("x"), Iri(w_iri + "hop2"), Var("z"))],
    )
    sds.output_iris.add(w_iri)

    t0 = time.time()
    df_out = dataframe_sds_plus(spark, [rule], sds, now=0)
    t_df = time.time() - t0

    t0 = time.time()
    naive_out = naive_sds_plus([rule], sds, now=0)
    t_naive = time.time() - t0

    assert df_out == naive_out, "cross-window DataFrame/naive mismatch"
    return {
        "xw_dataframe_sds_plus": round(t_df, 3),
        "xw_naive_sds_plus": round(t_naive, 3),
    }


_LOAD_AT_START: list | None = None


def _machinery_warmup(spark) -> None:
    """Absorb gate-FAMILY one-time costs the first-gate warm-up cannot:
    the Arrow worker pool with pandas+numpy imports (mapInPandas AND the
    grouped applyInPandas path use separate worker reuse keys), plus the
    broadcast-join / window / regex codegen families.  The r10/r11
    adjudications traced every rotation-head false flag to exactly these
    (e.g. analytics_q3 fresh 1.86 s as gate 1 of a process vs ~1.0
    steady).  Untimed, a few seconds, fresh-JVM-equivalent cost."""
    try:
        from pyspark.sql import functions as F

        df = spark.range(2048).selectExpr("id", "id % 7 AS k", "CAST(id AS double) AS v")

        def _ident(batches):
            import numpy as np  # noqa: F401
            import pandas as pd  # noqa: F401

            for b in batches:
                yield b

        df.mapInPandas(_ident, "id long, k long, v double").write.format(
            "noop"
        ).mode("overwrite").save()

        def _gmean(pdf):
            return pdf.head(1)

        df.groupBy("k").applyInPandas(
            _gmean, "id long, k long, v double"
        ).write.format("noop").mode("overwrite").save()

        # scalar pandas_udf workers are a THIRD reuse key (r13 media
        # adjudication: the simhash/phash/audio-fp gates' first call paid
        # a fresh 32-worker spawn with numpy imports — 5.4s vs 1.9s warm —
        # because neither mapInPandas nor applyInPandas warms this pool)
        @F.pandas_udf("double")
        def _sq(v):
            import numpy as np

            return v * np.float64(1.0) * v

        df.select(_sq("v")).write.format("noop").mode("overwrite").save()

        dim = spark.range(7).selectExpr("id AS k", "CAST(id AS string) AS name")
        from pyspark.sql import Window

        w = Window.partitionBy("k").orderBy("id")
        (
            df.join(F.broadcast(dim), "k")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("name").rlike("[0-9]"))
            .write.format("noop").mode("overwrite").save()
        )
    except Exception as exc:
        print(f"# machinery warmup failed ({exc}); proceeding", file=sys.stderr)


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread integer workload (best of 3) —
    a box-speed stamp for the record.  Loadavg says how BUSY the box
    was; this says how FAST it actually computed.  The r11 adjudication
    needed exactly this: three same-code suite runs read 256.8/319/294 s
    on a box whose 1-min loadavg gated clean every time, because the
    host stalled in bursts that averages (loadavg, PSI, steal %) did not
    capture (idle-box ad hoc samples that day ranged 0.49-1.16 s for
    this loop).  Two records whose calib stamps differ materially are
    not comparable, full stop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        x = 0
        for i in range(10_000_000):
            x += i
        best = min(best, time.time() - t0)
    return round(best, 3)


# fixed single-thread work for the per-gate bracket probe: ~0.15s on this
# class of box (the full _cpu_calibration loop is 10M and best-of-3; the
# bracket probe must stay cheap enough that ~156 of them cost <10% of the
# suite, so it is single-shot over 3M)
_PROBE_WORK = 3_000_000


def _calib_probe() -> float:
    """One single-shot sample of fixed single-thread integer work.

    VERDICT r11 task #2: the start/end ``cpu_calib_sec`` stamps and the
    loadavg gate cannot catch MID-RUN host bursts (four same-code r11
    runs spanned 250-319s with spikes moving randomly between runs while
    both endpoint stamps read clean).  Bracketing every gate with this
    probe makes a burst visible exactly where it landed, so flags become
    self-adjudicating instead of needing a hand-written addendum."""
    t0 = time.time()
    x = 0
    for i in range(_PROBE_WORK):
        x += i
    return round(time.time() - t0, 4)


def _probe_median(samples) -> float:
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 0.0
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def _burst_gates(gate_probes, median, ratio: float = 1.5) -> list[str]:
    """Gates whose bracketing probes say the box was stalled while they
    ran: either bracket sample > ratio x the session median probe.  Their
    timings are discarded and the gates requeued (bench main loop)."""
    if median <= 0:
        return []
    return [
        name
        for name, (p0, p1) in gate_probes.items()
        if max(p0, p1) > ratio * median
    ]


def _drain_loadavg_at_start(threshold: float = 2.0, budget_sec: float = 300.0) -> float:
    """Wait (bounded) for the 1-min loadavg to drop below ``threshold``
    before the suite starts timing.  The r10 working-tree record was taken
    at loadavg 8.9 and clobbered the committed clean 205.5s record — its 4
    flags were all adjudicated measurement artifacts (VERDICT r10).  The
    confirm stage already drains load before measuring; the suite start
    needs the same gate.  Returns seconds waited.  If load never drains
    within the budget we proceed anyway (the driver needs a JSON line) —
    the stamped loadavg_start plus loadavg_waited_sec makes the record
    self-identifying as contaminated, per BASELINE.md's r9 standard."""
    waited = 0.0
    try:
        start = time.time()
        while time.time() - start < budget_sec and os.getloadavg()[0] > threshold:
            time.sleep(5)
        waited = time.time() - start
        if os.getloadavg()[0] > threshold:
            print(
                f"# WARNING: suite starting at 1-min loadavg "
                f"{os.getloadavg()[0]:.1f} > {threshold} after waiting "
                f"{waited:.0f}s — record will read as contaminated",
                file=sys.stderr,
            )
    except OSError:
        pass
    return round(waited, 1)


def main() -> None:
    global _LOAD_AT_START
    _LOAD_WAITED = _drain_loadavg_at_start()
    _CALIB_START = _cpu_calibration()
    try:
        _LOAD_AT_START = [round(x, 1) for x in os.getloadavg()]
    except OSError:
        _LOAD_AT_START = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kolibrie_spark-bench")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        # the suite compiles ~60 queries' generated classes in one JVM; the
        # default 100-entry codegen cache evicts a query's classes between
        # its own timed runs, so CPU-dense queries re-pay whole-stage
        # compilation on every run (measured on a since-removed MinHash
        # gate: 7.4s with eviction vs 2.5s steady-state)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # ContextCleaner reclaims dead broadcasts/shuffles/RDDs only when
        # a JVM GC drops their references; a 24g heap can go the whole
        # suite without one, so thousands of shuffle files and broadcast
        # blocks pile up and late gates pay for it (default interval 30min
        # outlives the suite)
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    bench_queries = list(qs)

    t0 = time.time()
    entry_mod._base_store(spark, sf_dir)  # materialize the triplified quads
    setup = time.time() - t0
    # persistent blocks alive after setup (the shared base store, if any)
    # must survive the per-gate cleanup below — unpersisting a
    # localCheckpointed RDD destroys it unrecoverably
    try:
        _setup_rdd_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    except Exception:
        _setup_rdd_ids = set()

    # absorb one-time session costs (whole-stage-codegen compiler warmup,
    # broadcast/exchange machinery init, Python worker pool spin-up) with
    # ONE untimed run of the first gate — the r9 rotation moved fresh
    # gates to the suite head and they read 1.5-2x high in-suite purely
    # from being first (all cleared by the fresh-JVM confirm stage)
    _machinery_warmup(spark)
    try:
        qs[bench_queries[0]](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:
        print(f"# warmup run failed ({exc}); timings proceed cold", file=sys.stderr)

    # two timed runs per query, keep the min — criterion-style steady-state
    # timing that shakes out GC pauses and first-touch JIT noise. Each run
    # materializes EVERY output column through the noop sink: a count()
    # would let Catalyst prune computed projections entirely, timing the
    # scan instead of the operator (measured: a projection-only repetition
    # query "cost" 0.5s under count() vs 22s of real single-partition work)
    timings: dict[str, float] = {}
    gate_probes: dict[str, list[float]] = {}
    probe_samples: list[float] = []

    def _cleanup_blocks() -> None:
        # gates that iterate (closure, propagation, fixpoints) leave
        # eagerly-persisted localCheckpoint blocks behind; their refs die
        # with the gate but the JVM only frees the storage on a GC the
        # suite may never trigger — by the media/Arrow gates the executor
        # storage is full of dead blocks and they thrash (measured: the
        # SAME media_near_dup 1.2s early-suite / 3.1s fresh-JVM vs 32.5s
        # late-suite). Drop leftovers between gates so each gate is timed
        # against a clean store, as the driver's fresh run would.
        try:
            for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
                if rid not in _setup_rdd_ids:
                    rdd.unpersist()
            # nudge the ContextCleaner: dead gate references become
            # collectable now, not whenever the heap happens to fill
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # per-gate burst brackets (VERDICT r11 task #2): shared — gate N's end
    # probe is gate N+1's start probe, so ~156 single-shot samples cost
    # <10% of the suite while pinning WHEN the box stalled
    _carry = _calib_probe()
    probe_samples.append(_carry)

    def _time_gate(name: str) -> float:
        nonlocal _carry
        p0 = _carry
        best = float("inf")
        for _ in range(2):
            t1 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t1)
        p1 = _calib_probe()
        probe_samples.append(p1)
        _carry = p1
        gate_probes[name] = [p0, p1]
        return round(best, 3)

    for name in bench_queries:
        timings[name] = _time_gate(name)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
        _cleanup_blocks()

    xw_names: list[str] = []
    try:
        xw_p0 = _calib_probe()
        probe_samples.append(xw_p0)
        xw = _bench_cross_window(spark)
        xw_p1 = _calib_probe()
        probe_samples.append(xw_p1)
        _carry = xw_p1
        timings.update(xw)
        xw_names = list(xw)
        for name in xw_names:
            # block-granularity brackets: the xw gates run as one block
            gate_probes[name] = [xw_p0, xw_p1]
            print(f"# {name}: {xw[name]:.3f}s", file=sys.stderr)
    except Exception as exc:  # bench must still emit its JSON line
        print(f"# cross-window bench skipped: {exc}", file=sys.stderr)

    # burst adjudication: a gate whose brackets exceed 1.5x the session
    # median probe was timed during a host stall — discard that timing and
    # requeue the gate (up to 2 extra passes).  min() merge is sound
    # because contamination only ever INFLATES a wall-clock timing.
    burst_requeued: list[str] = []
    burst_flagged: dict[str, list[float]] = {}
    for _pass in range(2):
        med = _probe_median(probe_samples)
        bursty = _burst_gates(gate_probes, med)
        if not bursty:
            break
        _carry = _calib_probe()
        probe_samples.append(_carry)
        for name in bursty:
            if name not in burst_requeued:
                burst_requeued.append(name)
            if name in xw_names:
                continue  # xw block handled below
            old, old_brackets = timings[name], gate_probes[name]
            timings[name] = min(old, _time_gate(name))
            print(
                f"# burst requeue {name}: {old:.3f}s under brackets "
                f"{old_brackets} -> {timings[name]:.3f}s",
                file=sys.stderr,
            )
            _cleanup_blocks()
        if any(n in xw_names for n in bursty):
            try:
                xw_p0 = _calib_probe()
                probe_samples.append(xw_p0)
                xw2 = _bench_cross_window(spark)
                xw_p1 = _calib_probe()
                probe_samples.append(xw_p1)
                _carry = xw_p1
                for name in xw_names:
                    timings[name] = min(timings[name], xw2.get(name, timings[name]))
                    gate_probes[name] = [xw_p0, xw_p1]
                print("# burst requeue: cross-window block re-run", file=sys.stderr)
            except Exception as exc:
                print(f"# cross-window requeue skipped: {exc}", file=sys.stderr)
    calib_median = round(_probe_median(probe_samples), 4)
    burst_flagged = {
        name: gate_probes[name]
        for name in _burst_gates(gate_probes, calib_median)
    }
    for name, brackets in burst_flagged.items():
        print(
            f"# WARNING: {name} still burst-bracketed after requeue "
            f"({brackets} vs median {calib_median}) — its timing is a "
            f"ceiling, not a measurement",
            file=sys.stderr,
        )

    prev_file, prev = _previous_round_timings()
    regressions = _find_regressions(timings, prev)
    # transient-contention guard: a flagged query gets one extra measurement
    # (min-of-3 total) before the flag sticks — this box runs other jobs,
    # and CPU-dense queries show >2x run-to-run variance under load
    for name in list(regressions):
        if name not in qs:
            continue
        t1 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = min(timings[name], round(time.time() - t1, 3))
    regressions = _find_regressions(timings, prev)
    # known intentional cost changes (feature additions, not regressions)
    notes = {
        "streaming_istream_replay": (
            "r9 added the firing-trace pin (VERDICT r8 #6): two small "
            "distinct-window collects per gate construction — an "
            "intentional ~0.6s behavior check, not a plan regression"
        ),
        "streaming_dstream_replay": (
            "r9 added the firing-trace pin (VERDICT r8 #6): two small "
            "distinct-window collects per gate construction — an "
            "intentional ~1.1s behavior check, not a plan regression"
        ),
    }
    for name in regressions:
        if name in notes:
            regressions[name]["note"] = notes[name]
    # stage 2: a suite flag only enters the official record if a fresh-JVM
    # isolated re-measurement confirms it (r7 shipped 5 flags, all of
    # which adjudicated as noise — BASELINE.md r8 adjudication).  Stop the
    # parent session FIRST: r8's confirm subprocess ran beside the suite's
    # resident 24g/32-thread JVM and both of its "confirmed" regressions
    # were that contention, not code (BASELINE.md r9 adjudication).
    is_headline = sf_dir.rstrip("/").endswith("sf0.1")
    if regressions:
        spark.stop()
    regressions, cleared = _confirm_regressions_fresh_jvm(
        regressions, sf_dir, persist=is_headline
    )
    for name, info in regressions.items():
        print(
            f"# REGRESSION (fresh-JVM-confirmed) {name}: "
            f"{info['prev']:.3f}s -> {info['now']:.3f}s suite / "
            f"{info['fresh_jvm']}s isolated ({info['ratio']}x vs {prev_file})",
            file=sys.stderr,
        )
    for name, info in cleared.items():
        print(
            f"# suite flag cleared by fresh JVM: {name} "
            f"{info['prev']:.3f}s -> {info['now']:.3f}s suite but "
            f"{info['fresh_jvm']}s isolated",
            file=sys.stderr,
        )

    # ambient-load stamp: a contaminated run (other tenants on the box)
    # inflates every number; recording 1/15-min load at both ends lets the
    # next round discount such a record instead of chasing ghosts (the
    # first r9 run carried 15-min load ~15 from an external job and read
    # 35% slow across the board — BASELINE.md r9)
    try:
        load_end = os.getloadavg()
    except OSError:
        load_end = None
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "operator_suite_wall_seconds",
        "value": total,
        "loadavg_start": _LOAD_AT_START,
        "loadavg_waited_sec": _LOAD_WAITED,
        "cpu_calib_sec": [_CALIB_START, _cpu_calibration()],
        # per-gate burst brackets (VERDICT r11 task #2): compare records
        # ONLY when their calib medians agree (tools/compare_bench.py is
        # the executable policy); a burst_flagged gate's timing is a
        # ceiling taken during a host stall, not a measurement
        "calib_probe_median_sec": calib_median,
        "calib_probe_work": _PROBE_WORK,
        "burst_requeued": burst_requeued,
        "burst_flagged": burst_flagged,
        "gate_calib_sec": {n: p for n, p in gate_probes.items()},
        "loadavg_end": [round(x, 1) for x in load_end] if load_end else None,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "setup_sec": round(setup, 3),
        "cpus": int(cpus),
        "regressions": regressions,
        "suite_flags_cleared": cleared,
        "live_gates": {
            n: t for n, t in timings.items() if n.endswith("_live")
        },
        "regressions_vs": prev_file,
        "timing": "noop-sink materialization of all output columns"
        " (r3 change: count() let Catalyst prune computed"
        " projections, so projection-only gates timed the scan;"
        " flags vs count()-era numbers partly reflect this)",
    }
    print(json.dumps(payload))
    # Persist the FULL per-gate record as this round's tier-1 diff base
    # (VERDICT r6 item #2: the driver's BENCH_r{N}.json keeps only a
    # 2000-char stdout tail, so without this file the next round's
    # tripwire covers only the ~60 tail-surviving gates). Only the
    # headline sf0.1 run writes it — an sf0.001 smoke run must not
    # become the diff base and flag every real gate as 10x slower.
    here = os.path.dirname(os.path.abspath(__file__))
    # VERDICT r12 item #8: only the headline 32-core sf0.1 run may write the
    # round's local record — the driver's 8-core scaling run at sf0.1 used
    # to overwrite it with 8-core timings and poison the next tripwire.
    if sf_dir.rstrip("/").endswith("sf0.1") and int(cpus) == 32:
        local_path = os.path.join(here, f"BENCH_LOCAL_r{_current_round(here)}.json")
        with open(local_path, "w") as fh:
            json.dump(payload, fh)
        print(f"# full record -> {os.path.basename(local_path)}", file=sys.stderr)
    elif sf_dir.rstrip("/").endswith("sf0.1"):
        print(
            f"# warning: full record NOT written: this run used {cpus} cores; "
            "only a 32-core sf0.1 run writes BENCH_LOCAL_r*.json, the "
            "tripwire's diff base",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
