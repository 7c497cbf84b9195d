"""Break down the live-gate residual: chunk-write setup vs stream drain
vs per-trigger machinery (r13, guide §1). Monkeypatches the entry module's
_write_stream_chunks and _drain_live to time them; the drain's StructuredRSP
share is the ``PHASE_SEC`` split (pane / eval / emit). Runs on
local[cpu_count] unless SPARK_GRAFT_CPUS says otherwise."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:] or [
        "streaming_istream_live",
        "streaming_sync_live",
        "streaming_sliding_live",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from kolibrie_spark.streaming import structured

    t = {}
    orig_write = entry_mod._write_stream_chunks
    orig_drain = entry_mod._drain_live

    def timed_write(*a, **k):
        t0 = time.perf_counter()
        r = orig_write(*a, **k)
        t["write_chunks"] = t.get("write_chunks", 0) + time.perf_counter() - t0
        return r

    def timed_drain(*a, **k):
        t0 = time.perf_counter()
        r = orig_drain(*a, **k)
        t["drain"] = t.get("drain", 0) + time.perf_counter() - t0
        return r

    entry_mod._write_stream_chunks = timed_write
    entry_mod._drain_live = timed_drain
    qs = entry_mod.queries()
    for name in names:
        t.clear()
        structured.PHASE_SEC.clear()
        structured.PHASE_N.clear()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t0
        phases = dict(structured.PHASE_SEC)
        drain = t.get("drain", 0)
        print(
            json.dumps(
                {
                    name: {
                        "total": round(total, 3),
                        "write_chunks": round(t.get("write_chunks", 0), 3),
                        "drain": round(drain, 3),
                        "phases_in_drain": {
                            k: round(v, 3) for k, v in phases.items()
                        },
                        "drain_machinery": round(
                            drain - sum(phases.values()), 3
                        ),
                        "other": round(
                            total - t.get("write_chunks", 0) - drain, 3
                        ),
                    }
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
