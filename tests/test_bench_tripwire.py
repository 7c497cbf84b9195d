"""Regression-tripwire unit tests for bench.py (VERDICT r5 item #1 /
VERDICT r6 item #2): the tripwire must recover prior-round timings from a
driver-truncated BENCH tail, flag a 2x slowdown, and prefer the full
BENCH_LOCAL record when one exists.

No SparkSession needed — these test the pure-Python diff machinery only.
"""

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

bench = importlib.import_module("bench")


def _driver_bench_file(tmp_path, rnd, tail):
    """Write a BENCH_r{rnd}.json shaped exactly like the driver's: the
    stdout JSON is NOT parsed (parsed: null) and only a truncated tail of
    stdout survives."""
    path = tmp_path / f"BENCH_r{rnd}.json"
    path.write_text(json.dumps({"parsed": None, "tail": tail, "rc": 0}))
    return path


def _suite_json(queries, **extra):
    payload = {
        "metric": "operator_suite_wall_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": "0.1",
        "setup_sec": 1.0,
        "cpus": 32,
        "regressions": {},
        "regressions_vs": None,
    }
    payload.update(extra)
    return json.dumps(payload)


def test_tail_regex_recovers_timings_and_2x_slowdown_trips(tmp_path, monkeypatch):
    """The r5-ordered scenario: plant a parsed:null + tail BENCH file for
    the previous round, assert a 2x slowdown on a recovered gate trips the
    1.5x + 0.3s threshold."""
    prev = {"groupby_agg": 1.0, "dedup_exact": 0.8, "sim_topk_cosine": 2.0}
    full = _suite_json(prev)
    # driver keeps only the last N chars; cut inside the metric header so
    # the whole queries dict survives but the JSON is unparseable-prefix
    tail = full[len('{"metric": "opera') :]
    _driver_bench_file(tmp_path, 6, tail)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")

    src, recovered = bench._previous_round_timings()
    assert "tail-regex" in src
    assert recovered["groupby_agg"] == 1.0
    assert recovered["sim_topk_cosine"] == 2.0

    now = dict(prev, groupby_agg=2.1)  # 2.1x and +1.1s: must trip
    regs = bench._find_regressions(now, recovered)
    assert "groupby_agg" in regs and regs["groupby_agg"]["ratio"] == 2.1
    # unchanged gates must NOT trip
    assert "dedup_exact" not in regs and "sim_topk_cosine" not in regs


def test_tail_cut_exactly_at_quote_boundary_drops_first_gate():
    """ADVICE r6 low (bench.py:59): a cut landing AFTER the opening quote
    ('"togram": 0.412, ...') passes the old startswith('"') guard; the
    truncated name must still be discarded."""
    full = _suite_json({"profile_histogram": 0.412, "groupby_agg": 1.0})
    cut = full.find('"profile_histogram"') + len('"profile_his')
    tail = full[cut:]  # tail starts 'togram": 0.412, ...' — mid-name
    got = bench._timings_from_tail(tail)
    assert "togram" not in got and "profile_histogram" not in got
    assert got["groupby_agg"] == 1.0

    # variant: cut lands exactly ON the opening quote — name is intact,
    # but bench can't know that; best-effort drop of the first hit is the
    # documented behavior
    tail2 = full[full.find('"profile_histogram"') :]
    got2 = bench._timings_from_tail(tail2)
    assert got2["groupby_agg"] == 1.0

    # untruncated object: nothing dropped
    got3 = bench._timings_from_tail(full)
    assert got3 == {"profile_histogram": 0.412, "groupby_agg": 1.0}


def test_bench_local_preferred_over_driver_tail(tmp_path, monkeypatch):
    """Tier-1: when BENCH_LOCAL_r{N-1}.json exists it wins over the tail
    regex and covers gates the 2000-char window lost."""
    all_gates = {f"gate_{i:03d}": 1.0 for i in range(140)}
    local = tmp_path / "BENCH_LOCAL_r6.json"
    local.write_text(_suite_json(all_gates))
    # driver file for the same round only has the last few gates in tail
    _driver_bench_file(tmp_path, 6, '"gate_138": 1.0, "gate_139": 1.0}}')
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")

    src, recovered = bench._previous_round_timings()
    assert src == "BENCH_LOCAL_r6.json"
    assert len(recovered) == 140  # full coverage, not the ~tail subset


def test_current_round_prefers_env(tmp_path, monkeypatch):
    """ADVICE r6 low (bench.py:81): a stale BENCH_r{N} for the CURRENT
    round must not make the tripwire self-compare when the env var says
    otherwise."""
    _driver_bench_file(tmp_path, 7, '"groupby_agg": 1.0}}')
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert bench._current_round(str(tmp_path)) == 7
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    # heuristic fallback: newest driver file + 1
    assert bench._current_round(str(tmp_path)) == 8


def test_metadata_keys_not_treated_as_gates():
    tail = (
        '"queries": {"groupby_agg": 1.0}, "sf": 0.1, "setup_sec": 3.2, '
        '"cpus": 32, "value": 1.0'
    )
    got = bench._timings_from_tail(tail)
    assert got == {"groupby_agg": 1.0}


def test_regressions_section_in_tail_not_mistaken_for_timings():
    tail = (
        '{"queries": {"groupby_agg": 1.0}, "regressions": '
        '{"groupby_agg": {"prev": 0.2, "now": 1.0, "ratio": 5.0}}}'
    )
    got = bench._timings_from_tail(tail)
    assert got == {"groupby_agg": 1.0}


def test_live_gates_excluded_from_tripwire():
    """BASELINE.md r8 adjudication: *_live gates time readStream
    micro-batch machinery (2x run-to-run swing) and must never produce
    tripwire entries; they are reported under live_gates instead."""
    prev = {"streaming_istream_live": 4.0, "groupby_agg": 1.0}
    now = {"streaming_istream_live": 9.0, "groupby_agg": 2.1}
    regs = bench._find_regressions(now, prev)
    assert "streaming_istream_live" not in regs
    assert "groupby_agg" in regs


def test_fresh_jvm_confirm_stage_clears_and_confirms(monkeypatch):
    """Two-stage tripwire: a suite flag survives only if the fresh-JVM
    bench_one subprocess re-measurement still trips the same threshold."""
    flags = {
        "gate_noise": {"prev": 1.0, "now": 2.5, "ratio": 2.5},
        "gate_real": {"prev": 1.0, "now": 2.5, "ratio": 2.5},
    }

    class _Proc:
        stdout = json.dumps({"gate_noise": 1.05, "gate_real": 2.4}) + "\n"

    import subprocess

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _Proc())
    confirmed, cleared = bench._confirm_regressions_fresh_jvm(flags, "/x")
    assert list(confirmed) == ["gate_real"]
    assert confirmed["gate_real"]["fresh_jvm"] == 2.4
    assert list(cleared) == ["gate_noise"]
    assert cleared["gate_noise"]["fresh_jvm"] == 1.05


def test_fresh_jvm_confirm_stage_failure_keeps_flags(monkeypatch):
    """If the subprocess dies, the suite flags stand (fail-closed: a
    broken confirm stage must not silently hide a real regression)."""
    import subprocess

    def _boom(*a, **k):
        raise OSError("no jvm")

    monkeypatch.setattr(subprocess, "run", _boom)
    flags = {"g": {"prev": 1.0, "now": 2.5, "ratio": 2.5}}
    confirmed, cleared = bench._confirm_regressions_fresh_jvm(flags, "/x")
    assert list(confirmed) == ["g"] and confirmed["g"]["fresh_jvm"] is None
    assert cleared == {}


def test_fresh_jvm_confirm_stage_noop_on_empty():
    assert bench._confirm_regressions_fresh_jvm({}, "/x") == ({}, {})


def test_fresh_jvm_confirm_prefers_fresh_prev_baseline(tmp_path, monkeypatch):
    """VERDICT r8 task #1: stage 2 must compare like with like — the
    previous round's FRESH number when one was persisted, not the warm
    in-suite prior.  A gate whose fresh reading sits at the known
    cold-vs-warm offset (~1.3-1.4x of suite) clears against a fresh-prev
    baseline even though it would trip against the suite prior."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "9")
    (tmp_path / "BENCH_FRESH_r8.json").write_text(
        json.dumps({"gate_offset": 1.3, "_method": "test"})
    )

    class _Proc:
        stdout = json.dumps({"gate_offset": 1.45}) + "\n"

    import subprocess

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _Proc())
    # suite prior 0.9 -> fresh 1.45 would trip (1.6x, +0.55s); fresh-prev
    # 1.3 -> 1.45 is 1.12x: cleared
    flags = {"gate_offset": {"prev": 0.9, "now": 1.5, "ratio": 1.67}}
    confirmed, cleared = bench._confirm_regressions_fresh_jvm(flags, "/x")
    assert confirmed == {}
    assert cleared["gate_offset"]["baseline"] == "fresh-prev"
    assert cleared["gate_offset"]["fresh_prev"] == 1.3

    # and a REAL regression still trips against the fresh-prev baseline
    class _Proc2:
        stdout = json.dumps({"gate_offset": 2.4}) + "\n"

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _Proc2())
    confirmed2, _ = bench._confirm_regressions_fresh_jvm(flags, "/x")
    assert list(confirmed2) == ["gate_offset"]
    assert confirmed2["gate_offset"]["baseline"] == "fresh-prev"


def test_fresh_jvm_confirm_persists_round_file(tmp_path, monkeypatch):
    """persist=True writes BENCH_FRESH_r{N}.json so the NEXT round has a
    fresh-vs-fresh baseline; metadata keys are ignored on read."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "9")

    class _Proc:
        stdout = json.dumps({"g": 2.4}) + "\n"

    import subprocess

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _Proc())
    flags = {"g": {"prev": 1.0, "now": 2.5, "ratio": 2.5}}
    bench._confirm_regressions_fresh_jvm(flags, "/x", persist=True)
    written = json.loads((tmp_path / "BENCH_FRESH_r9.json").read_text())
    assert written["g"] == 2.4 and written["_method"].startswith("tools/")
    # next round reads it back, sans metadata
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "10")
    assert bench._previous_fresh_timings(str(tmp_path)) == {"g": 2.4}


def test_fresh_jvm_confirm_suite_fallback_is_tagged(tmp_path, monkeypatch):
    """Without a fresh-prev number the confirm falls back to the suite
    prior and says so, so readers can discount the cold-vs-warm offset."""
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "9")

    class _Proc:
        stdout = json.dumps({"g": 2.4}) + "\n"

    import subprocess

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _Proc())
    flags = {"g": {"prev": 1.0, "now": 2.5, "ratio": 2.5}}
    confirmed, _ = bench._confirm_regressions_fresh_jvm(flags, "/x")
    assert confirmed["g"]["baseline"] == "suite-prev"
    assert confirmed["g"]["fresh_prev"] is None


def test_bench_one_multi_gate_isolation_end_to_end():
    """Iterative gates (they leave localCheckpoint blocks) followed by a
    cheap non-iterative gate in ONE bench_one process must read the cheap
    gate within 1.3x (+0.3s slack, bench.py's own absolute
    floor) of its isolated single-gate number.  Before the r11 fix the
    same cheap gate read 12.35s multi-gate vs 2.20s isolated at sf0.1
    (judge-reproduced); bench_one's gate loop now carries the suite
    loop's per-gate cleanup (unpersist non-setup blocks + GC nudge)."""
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = "/root/testdata/sf0.01"

    def run_gates(*gates):
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "tools", "bench_one.py"),
             "--sf-dir", sf_dir, "--runs", "3", *gates],
            capture_output=True, text=True, timeout=900, cwd=here,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    multi = run_gates("closure_doubling", "reasoner_hierarchy", "analytics_q5")
    iso = run_gates("analytics_q5")
    assert multi["analytics_q5"] <= 1.3 * iso["analytics_q5"] + 0.3, (
        f"multi-gate bench_one still contaminates: "
        f"{multi['analytics_q5']}s after iterative gates vs "
        f"{iso['analytics_q5']}s isolated"
    )


def test_cpu_calibration_stamp():
    """The record's box-speed stamp: fixed single-thread work, best-of-3,
    plausible on any box.  Only plausibility bounds are asserted here —
    the r11 adjudication documented this exact loop ranging 0.49-1.16s
    on an idle box under burst stalls (ADVICE r11: a tight spread check
    belongs to record adjudication, not the unit suite)."""
    a = bench._cpu_calibration()
    assert 0.05 < a < 30


def test_burst_bracket_adjudication():
    """VERDICT r11 task #2: per-gate probe brackets — a gate is bursty
    when EITHER bracket sample exceeds 1.5x the session median probe."""
    probes = {
        "fast_gate": [0.15, 0.16],
        "burst_at_start": [0.40, 0.15],
        "burst_at_end": [0.16, 0.31],
        "slow_box_everywhere": [0.21, 0.22],
    }
    samples = [0.15, 0.16, 0.40, 0.15, 0.16, 0.31, 0.21, 0.22, 0.15, 0.16]
    med = bench._probe_median(samples)
    assert abs(med - 0.16) < 1e-9
    bursty = set(bench._burst_gates(probes, med))
    assert bursty == {"burst_at_start", "burst_at_end"}
    # a uniformly slower box moves the MEDIAN, not individual flags
    assert "slow_box_everywhere" not in bursty
    # degenerate inputs never divide by zero / flag everything
    assert bench._burst_gates(probes, 0.0) == []
    assert bench._probe_median([]) == 0.0
    assert bench._probe_median([0.2]) == 0.2


def test_calib_probe_plausible_and_cheap():
    """The bracket probe is single-shot over 3M iterations — it must stay
    cheap enough that ~156 of them are <10% of a suite run."""
    t = bench._calib_probe()
    assert 0.01 < t < 10


def test_compare_bench_policy(tmp_path):
    """tools/compare_bench.py IS BASELINE.md's comparability rule: calib
    stamps gate the comparison, burst_flagged gates are excluded."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import compare_bench as cb

    def rec(path, calib_med, queries, flagged=(), requeued=()):
        p = tmp_path / path
        p.write_text(json.dumps({
            "calib_probe_median_sec": calib_med,
            "calib_probe_work": 3_000_000,
            "queries": queries,
            "burst_flagged": {n: [9, 9] for n in flagged},
            "burst_requeued": list(requeued),
        }))
        return str(p)

    # comparable boxes, one real regression, one burst-flagged exclusion
    old = rec("old.json", 0.15, {"a": 1.0, "b": 2.0, "c": 3.0})
    new = rec("new.json", 0.16, {"a": 2.5, "b": 2.1, "c": 30.0},
              flagged=["c"])
    assert cb.main([old, new]) == 1  # a regressed; c excluded
    # same gates, but the boxes differ 2x in calib -> NOT COMPARABLE
    slow = rec("slow.json", 0.31, {"a": 2.5, "b": 2.1, "c": 3.0})
    assert cb.main([old, slow]) == 2
    # r11-generation record: endpoint stamps only, normalized per-10M
    r11 = tmp_path / "r11.json"
    r11.write_text(json.dumps({
        "cpu_calib_sec": [0.53, 0.57], "queries": {"a": 1.0, "b": 2.0}}))
    r12 = rec("r12.json", 0.165, {"a": 1.1, "b": 2.0})  # 0.55s/10M equiv
    assert cb.main([str(r11), r12]) == 0
    # missing record -> usage error
    assert cb.main([str(tmp_path / "nope.json"), r12]) == 3
