"""Read-back latency of the quad store against the size of its driver-side
delta — the measurement behind ``store.COMPACT_ROWS``.

Builds kg_write's customer+orders store (perfbench/kg_write.py, sf 0.01,
97.5k quads), then for each delta size adds that many quads through the
delta — half new facts on a new predicate, half tombstones of base quads
spread over every predicate — with compaction held off, and times:

  view_ms     building the visible-quads view after the change
  point_ms    a point read (one subject's quads), compile + collect
  scan_ms     a full scan (COUNT of every quad), compile + collect
  compact_ms  folding that delta into a new checkpointed base

Each read is the median of ``--reps`` runs; an unprinted first pass at the
largest size warms the JVM up.

Usage: python tools/delta_probe.py [--sizes 0,100,1000,10000] [--reps 5] [--cores 4]
"""
from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sizes", default="0,100,1000,10000")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    import harness

    work = tempfile.mkdtemp(prefix="delta_probe_")
    try:
        _probe(args, work)
    finally:
        harness.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _probe(args, work: str) -> None:
    import harness
    from kg_write import KgWrite

    from kolibrie_spark import store as store_mod
    from kolibrie_spark.sparql.compiler import Compiler
    from kolibrie_spark.sparql.parser import parse_query

    spark = harness.spark_session(f"local[{args.cores}]", os.path.join(work, "spark"))
    wl = KgWrite(1, smoke=False)
    wl.make_inputs(os.path.join(work, "data"))
    wl.build(spark)
    base_rows = [tuple(r) for r in wl.base.limit(20000).collect()]
    point = parse_query("SELECT ?p ?o WHERE { <urn:customer:7> ?p ?o }").select
    scan = parse_query("SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }").select

    def read(q) -> float:
        return statistics.median(
            _ms(lambda: Compiler(wl.store).compile_select(q).collect()) for _ in range(args.reps)
        )

    store_mod.COMPACT_ROWS = 1 << 30  # measure the delta, never compact it
    sizes = [int(x) for x in args.sizes.split(",")]
    print(f"{'delta':>7} {'view_ms':>8} {'point_ms':>9} {'scan_ms':>8} {'compact_ms':>11}")
    for n_pass, size in enumerate([sizes[-1]] + sizes):  # pass 0 warms the JVM up
        wl.store = store_mod.QuadStore(spark, quads=wl.base)
        wl.store.add_quads([(f"urn:customer:{i}", "urn:bench#note", f"n{i}") for i in range(size // 2)])
        wl.store.delete_quads(base_rows[: size - size // 2])
        view_ms = _ms(lambda: wl.store.quads)
        point_ms, scan_ms = read(point), read(scan)
        compact_ms = _ms(wl.store.compact)
        if n_pass:
            print(f"{size:>7} {view_ms:>8.1f} {point_ms:>9.1f} {scan_ms:>8.1f} {compact_ms:>11.1f}")


if __name__ == "__main__":
    main()
