"""Repeatable ingest probe for the distributed RDF readers.

Three jobs:

1. ``--scale``: generate N-Triples / N-Quads / Turtle / RDF-XML corpora
   (8 files each) at the given sizes, in millions of triples, under
   /tmp/kolibrie_ingest, and time each format's reader (count() sink,
   warm session, min-of-3), printing the scaling exponents between
   sizes.  The line reader (N-Triples/N-Quads) and the chunk reader
   (Turtle/RDF-XML) batch their input differently, so each gets its own
   sweep.
2. ``--memprobe``: generate ONE >= 1 GB Turtle file and measure the
   windowed chunk scan's peak RSS in a fresh subprocess — the scan must
   hold ~SCAN_WINDOW_BYTES plus one chunk, not the file.
3. ``--hitrate``: fast-path statement share on the generated corpora
   (parsers.FAST_PATH_STATS).

Usage: python tools/ingest_probe.py [--scale] [--memprobe] [--hitrate]
       [--fmt ntriples,nquads,turtle,rdfxml] [--sizes 0.6,6,60]

Spark runs at local[$SPARK_GRAFT_CPUS] (default 32).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/kolibrie_ingest"
FILES = 8


def _gen_lines(fmt: str, lo: int, hi: int):
    """Bulk-dump-shaped statements: IRI/pname terms, plain + lang + typed
    literals, decimals — the shapes the fast path covers, plus a few
    multi-byte literals."""
    if fmt == "turtle":
        yield "@prefix ex: <http://example.org/> .\n"
    for i in range(lo, hi):
        k = i % 7
        if fmt in ("ntriples", "nquads"):
            g = f" <http://example.org/g{k}>" if fmt == "nquads" and k < 3 else ""
            yield (
                f'<http://example.org/s{i}> <http://example.org/p{k}> '
                f'"value {i} — café"{g} .\n'
            )
        elif fmt == "turtle":
            yield f'ex:s{i} ex:p{k} "value {i} — café"@en .\n'
        else:
            raise ValueError(fmt)


def _gen_rdfxml(path: str, lo: int, hi: int) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(
            '<?xml version="1.0"?>\n<rdf:RDF '
            'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://example.org/">\n'
        )
        for i in range(lo, hi):
            f.write(
                f'  <rdf:Description rdf:about="http://example.org/s{i}">'
                f"<ex:p{i % 7}>value {i} — café</ex:p{i % 7}>"
                f"</rdf:Description>\n"
            )
        f.write("</rdf:RDF>\n")


def gen_corpus(fmt: str, millions: float) -> str:
    n = int(millions * 1_000_000)
    d = os.path.join(BASE, f"{fmt}_{millions}M")
    # marker lives OUTSIDE the corpus dir: readers take the whole dir as
    # input, and a stray empty file would skew (or, pre-r10, crash) them
    done = d + ".complete"
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    ext = {"ntriples": "nt", "nquads": "nq", "turtle": "ttl", "rdfxml": "rdf"}[fmt]
    per = n // FILES
    for f_i in range(FILES):
        lo, hi = f_i * per, (f_i + 1) * per
        p = os.path.join(d, f"part{f_i}.{ext}")
        if fmt == "rdfxml":
            # RDF/XML statements are one property per Description here,
            # so hi-lo Descriptions => hi-lo triples
            _gen_rdfxml(p, lo, hi)
        else:
            with open(p, "w", encoding="utf-8") as fh:
                fh.writelines(_gen_lines(fmt, lo, hi))
    open(done, "w").close()
    return d


def _reader(spark, fmt: str, path: str):
    from kolibrie_spark import rdfio

    return {
        "ntriples": rdfio.read_ntriples_df,
        "nquads": rdfio.read_nquads_df,
        "turtle": rdfio.read_turtle_df,
        "rdfxml": rdfio.read_rdfxml_df,
    }[fmt](spark, path)


def probe_scales(fmts: list[str], sizes: list[float]) -> None:
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session (WSCG compiler, python worker pool) off the clock
    spark.range(1000).selectExpr("sum(id)").collect()
    out: dict = {}
    for fmt in fmts:
        rows = []
        for m in sizes:
            d = gen_corpus(fmt, m)
            nbytes = sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            )
            best = math.inf
            n = 0
            for _ in range(3):
                t0 = time.time()
                n = _reader(spark, fmt, d).count()
                best = min(best, time.time() - t0)
            rows.append({"millions": m, "rows": n, "sec": round(best, 2),
                         "mb": round(nbytes / 1e6, 1),
                         "mrows_per_s": round(n / best / 1e6, 2)})
            print(json.dumps({"fmt": fmt, **rows[-1]}), flush=True)
        for a, b in zip(rows, rows[1:]):
            expo = math.log(b["sec"] / a["sec"]) / math.log(
                b["millions"] / a["millions"]
            )
            print(json.dumps({"fmt": fmt, "exponent":
                              f'{a["millions"]}M->{b["millions"]}M',
                              "value": round(expo, 2)}), flush=True)
        out[fmt] = rows
    spark.stop()


_MEMPROBE_SNIPPET = """
import json, os, resource, sys, time
sys.path.insert(0, {repo!r})
from kolibrie_spark.rdfio import _turtle_stream_chunks
path = sys.argv[1]
t0 = time.time()
with open(path, "rb") as f:
    n = sum(1 for _ in _turtle_stream_chunks(f, 2000))
print(json.dumps({{
    "chunks": n, "sec": round(time.time() - t0, 2),
    "peak_rss_mb": round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1),
    "file_mb": round(os.path.getsize(path) / 1e6, 1),
}}))
"""


def probe_memory() -> None:
    """One >= 1 GB single Turtle file; scan it with the windowed chunk
    generator in a FRESH subprocess so ru_maxrss isolates the scan."""
    os.makedirs(BASE, exist_ok=True)
    p = _huge_single_file()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _MEMPROBE_SNIPPET.format(repo=repo)
    r = subprocess.run(
        [sys.executable, "-c", code, p], capture_output=True, text=True
    )
    print(r.stdout.strip() or r.stderr[-2000:], flush=True)


def _huge_single_file() -> str:
    os.makedirs(BASE, exist_ok=True)
    p = os.path.join(BASE, "huge_single.ttl")
    if not os.path.exists(p) or os.path.getsize(p) < 1_000_000_000:
        with open(p, "w", encoding="utf-8") as fh:
            fh.write("@prefix ex: <http://example.org/> .\n")
            i = 0
            while fh.tell() < 1_050_000_000:
                fh.writelines(
                    f'ex:s{j} ex:p{j % 7} "value {j} — café with some '
                    f'longer padding text {j * 7}"@en .\n'
                    for j in range(i, i + 100_000)
                )
                i += 100_000
    return p


def probe_hitrate(fmts: list[str]) -> None:
    import kolibrie_spark.rdfio.parsers as P
    from kolibrie_spark.rdfio import _TTL_DIRECTIVE_LINE_RE

    for fmt in fmts:
        if fmt == "rdfxml":
            continue
        d = gen_corpus(fmt, 0.6)
        f0 = sorted(
            os.path.join(d, f) for f in os.listdir(d)
        )[0]
        text = open(f0, encoding="utf-8").read()
        before = dict(P.FAST_PATH_STATS)
        if fmt == "turtle":
            P.parse_turtle(_TTL_DIRECTIVE_LINE_RE.sub("", text))
        elif fmt == "ntriples":
            P.parse_ntriples(text)
        else:
            P.parse_nquads(text)
        fast = P.FAST_PATH_STATS["fast"] - before["fast"]
        slow = P.FAST_PATH_STATS["slow"] - before["slow"]
        print(json.dumps({"fmt": fmt, "fast": fast, "slow": slow,
                          "hit_rate": round(fast / max(1, fast + slow), 4)}),
              flush=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", action="store_true")
    ap.add_argument("--memprobe", action="store_true")
    ap.add_argument("--hitrate", action="store_true")
    ap.add_argument("--fmt", default="ntriples,nquads,turtle,rdfxml")
    ap.add_argument("--sizes", default="0.6,6,60")
    args = ap.parse_args()
    fmts = args.fmt.split(",")
    sizes = [float(s) for s in args.sizes.split(",")]
    if args.hitrate:
        probe_hitrate(fmts)
    if args.memprobe:
        probe_memory()
    if args.scale:
        probe_scales(fmts, sizes)
