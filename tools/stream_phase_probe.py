"""Phase-split probe for the live streaming gates (r13, guide §1).

Runs the named live gates once each in one JVM (local[cpu_count] unless
SPARK_GRAFT_CPUS says otherwise) and prints, per gate: total wall
seconds, the StructuredRSP phase split (``PHASE_SEC``: pane / eval /
emit, cumulative across batches with call counts), and the
residual (setup chunk-write + streaming-engine machinery + final parquet
read).

Usage: python tools/stream_phase_probe.py [gate ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:] or [
        "streaming_sliding_live",
        "streaming_istream_live",
        "streaming_dstream_live",
        "streaming_sync_live",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kolibrie-stream-phase-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from kolibrie_spark.streaming import structured

    qs = entry_mod.queries()
    out = {}
    for name in names:
        structured.PHASE_SEC.clear()
        structured.PHASE_N.clear()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        phases = dict(structured.PHASE_SEC)
        out[name] = {
            "total_sec": round(t2 - t0, 3),
            "gate_call_sec": round(t1 - t0, 3),
            "result_read_sec": round(t2 - t1, 3),
            "phases_sec": {k: round(v, 3) for k, v in phases.items()},
            "phase_n": dict(structured.PHASE_N),
            "residual_sec": round((t1 - t0) - sum(phases.values()), 3),
        }
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
