"""sf1.0 scale probe (VERDICT r4 item #8): generate a 10x replica of the
sf0.1 tables under /tmp/kolibrie_sf1 and time the SF-sensitive heavy gates
at both scales, printing per-gate scaling exponents.

The replica preserves the per-copy data STRUCTURE while keeping copies
mutually inert, so pair-producing operators scale linearly in input (10x
within-copy pairs) instead of quadratically (no cross-copy pairs):

- documents: every token gets a per-copy suffix (a token bijection —
  within-copy Jaccard/shingle structure identical, cross-copy shingle
  overlap zero);
- events: ids/users shift, timestamps keep the 30-day span (10x denser
  stream — the realistic scale-up for windowed gates);
- fact/dim tables: all FK keys shift consistently per copy; nation and
  region stay shared dimensions.

Usage: python tools/scale_probe.py [--gen-only] [gate ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/kolibrie_sf1"
COPIES = 10
SHIFT = 10_000_000

DEFAULT_GATES = [
    "graph_pagerank",
    "reasoner_transitive_closure",
    "streaming_istream_replay",
    "events_window_agg",
    "text_analyze",
]


def generate() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    done = os.path.join(DST, ".complete")
    if os.path.exists(done):
        return
    con = duckdb.connect()
    t0 = time.time()

    def copy_union(table: str, select_per_copy) -> None:
        selects = [select_per_copy(k) for k in range(COPIES)]
        sql = " UNION ALL ".join(selects)
        con.execute(
            f"COPY ({sql}) TO '{DST}/{table}.parquet' (FORMAT PARQUET)"
        )

    copy_union(
        "documents",
        lambda k: (
            f"SELECT doc_id + {k * SHIFT} AS doc_id, "
            + (
                "text"
                if k == 0
                else f"regexp_replace(text, '(\\S+)', '\\1_c{k}', 'g')"
            )
            + f" AS text, lang, source, n_chars FROM '{SRC}/documents.parquet'"
        ),
    )

    copy_union(
        "events",
        lambda k: (
            f"SELECT event_id + {k * SHIFT} AS event_id, ts, "
            f"user_id + {k * SHIFT} AS user_id, event_type, value, props "
            f"FROM '{SRC}/events.parquet'"
        ),
    )
    copy_union(
        "lineitem",
        lambda k: (
            f"SELECT l_orderkey + {k * SHIFT} AS l_orderkey, "
            f"l_partkey + {k * SHIFT} AS l_partkey, "
            f"l_suppkey + {k * SHIFT} AS l_suppkey, "
            "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
            f"l_returnflag, l_linestatus, l_shipdate FROM '{SRC}/lineitem.parquet'"
        ),
    )
    copy_union(
        "orders",
        lambda k: (
            f"SELECT o_orderkey + {k * SHIFT} AS o_orderkey, "
            f"o_custkey + {k * SHIFT} AS o_custkey, o_orderstatus, "
            f"o_totalprice, o_orderdate, o_orderpriority FROM '{SRC}/orders.parquet'"
        ),
    )
    copy_union(
        "customer",
        lambda k: (
            f"SELECT c_custkey + {k * SHIFT} AS c_custkey, c_name, "
            f"c_nationkey, c_acctbal, c_mktsegment FROM '{SRC}/customer.parquet'"
        ),
    )
    copy_union(
        "supplier",
        lambda k: (
            f"SELECT s_suppkey + {k * SHIFT} AS s_suppkey, s_name, "
            f"s_nationkey, s_acctbal FROM '{SRC}/supplier.parquet'"
        ),
    )
    copy_union(
        "part",
        lambda k: (
            f"SELECT p_partkey + {k * SHIFT} AS p_partkey, p_name, p_brand, "
            f"p_type, p_size, p_retailprice FROM '{SRC}/part.parquet'"
        ),
    )
    for t in ("nation", "region"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
            f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
    open(done, "w").write("ok")
    print(f"# generated {DST} in {time.time() - t0:.1f}s", file=sys.stderr)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    gen_only = "--gen-only" in args
    names = [a for a in args if not a.startswith("--")] or DEFAULT_GATES
    generate()
    if gen_only:
        return

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kolibrie_spark-scale-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out = {}
    for sf_dir, tag in ((SRC, "sf0.1"), (DST, "sf1")):
        entry_mod._base_store(spark, sf_dir)
        try:
            base_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        except Exception:
            base_ids = set()
        for name in names:
            best = float("inf")
            for _ in range(2):
                t1 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t1)
            out.setdefault(name, {})[tag] = round(best, 3)
            print(f"# {tag} {name}: {best:.3f}s", file=sys.stderr)
            # same per-gate isolation as bench.py: iterative gates leave
            # dead localCheckpoint blocks that skew every later gate
            try:
                for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
                    if rid not in base_ids:
                        rdd.unpersist()
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass

    import math

    for name, r in out.items():
        if r["sf0.1"] > 0:
            r["exponent"] = round(
                math.log(max(r["sf1"], 1e-9) / r["sf0.1"]) / math.log(10), 2
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
