"""One-shot CLI (reference cli/src/main.rs:25-39):

    python -m kolibrie_spark.cli --file data.nt --query 'SELECT ...'
    python -m kolibrie_spark.cli --file data.ttl --update 'INSERT DATA {...}'
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kolibrie_spark", description=__doc__)
    ap.add_argument("--file", action="append", default=[], help="RDF file(s) to load")
    ap.add_argument("--format", default=None, help="override format (nt/nq/ttl/n3/rdf)")
    ap.add_argument(
        "--distributed",
        action="store_true",
        help="load through the distributed readers "
        "(QuadStore.load_distributed: a line parse for N-Triples/N-Quads, "
        "a per-file chunk scan for Turtle/N3/RDF-XML) instead of the "
        "driver-side parse; the reference CLI loads any size "
        "synchronously (cli/src/main.rs:25-39)",
    )
    ap.add_argument("--query", default=None, help="SPARQL SELECT to run")
    ap.add_argument("--update", default=None, help="SPARQL Update to apply")
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    ap.add_argument("--master", default="local[*]")
    ap.add_argument(
        "--serve",
        action="store_true",
        help="after loading --file inputs, run the HTTP endpoint "
        "(reference kolibrie-http-server binds 0.0.0.0:7878; we default "
        "to loopback)",
    )
    ap.add_argument("--serve-host", default="127.0.0.1")
    ap.add_argument("--serve-port", type=int, default=7878)
    ap.add_argument(
        "--serve-allow-load",
        action="store_true",
        help="enable POST /load (server-side file read) — OFF by default "
        "because it is an arbitrary-file-read primitive (ADVICE r11)",
    )
    ap.add_argument(
        "--serve-load-root",
        default=None,
        help="confine POST /load paths to this directory subtree",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName("kolibrie_spark-cli")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kolibrie_spark import SparqlEngine

    engine = SparqlEngine(spark)
    for path in args.file:
        engine.load_file(path, fmt=args.format, distributed=args.distributed)
    if args.update:
        engine.update(args.update)
        print(f"update applied; store now holds {engine.triple_count()} quads")
    if args.query:
        if args.explain:
            print(engine.explain(args.query))
        for row in engine.execute(args.query):
            print("\t".join(row))
    if args.serve:  # pragma: no cover - blocking server loop
        from kolibrie_spark.http_server import create_app

        create_app(
            spark,
            engine.store,
            allow_load=args.serve_allow_load,
            load_root=args.serve_load_root,
        ).run(host=args.serve_host, port=args.serve_port, threaded=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
