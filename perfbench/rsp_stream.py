"""rsp_stream: an event log replayed in event-time micro-batches through one
continuous RSP-QL registration.

Each event becomes ``<urn:customer:K> <urn:ev#type> "type"`` on one stream.
The registration is ISTREAM over a sliding window of RANGE = 4 x STEP and
STEP = 12 hours, joined with static customer->nation facts; one operation is
one STEP-aligned micro-batch through ``process_batch``, including the
benchmark-owned sink that collects every emission.  The first RANGE / STEP
batches fill the window and are the warm-up, so every measured batch sees a
full window.  Window state should stay bounded, so late batches should cost
what early ones do.

Because batches are aligned to STEP, every batch closes exactly one window,
and the micro-batch firing rule coincides with the event-at-a-time one: the
batch starting at ``T0 + b*STEP`` (b >= 1) fires the window
``[T0 + (b-4)*STEP, T0 + b*STEP)``.  The expected emission is the window's
joined result set minus the previous window's (ISTREAM), computed in Python
after the timed region.
"""

from __future__ import annotations

from datetime import timezone

import numpy as np

import datagen

STEP = 12 * 3600
RANGE = 4 * STEP
STREAM = "urn:stream:events"
TYPE = "urn:ev#type"
NATION = "urn:customer#c_nationkey"
WARMUP_BATCHES = RANGE // STEP

REGISTRATION = f"""REGISTER ISTREAM <urn:out:nation_activity> AS
SELECT ?c ?t ?n
FROM NAMED WINDOW :w ON <{STREAM}> [RANGE {RANGE} STEP {STEP}]
WHERE {{ WINDOW :w {{ ?c <{TYPE}> ?t }} ?c <{NATION}> ?n }}"""


class RspStream:
    name = "rsp_stream"

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.sf = 0.001 if smoke else 0.1
        self.t0 = int(datagen.EVENT_START.replace(tzinfo=timezone.utc).timestamp())
        self.ops = list(range(WARMUP_BATCHES, datagen.EVENT_DAYS * 86_400 // STEP))  # batch indexes

    def make_inputs(self, data_dir: str) -> None:
        tables = datagen.make_tables(self.sf, self.seed, ["customer", "events"])
        datagen.write_tables(tables, data_dir)
        self.data_dir = data_dir
        ev = tables["events"]
        self.ev_time = datagen.epoch_seconds(ev.column("ts"))
        self.ev_user = ev.column("user_id").to_numpy()
        self.ev_type = np.array(ev.column("event_type").to_pylist())
        cust = tables["customer"]
        self.nation_of = dict(zip(
            cust.column("c_custkey").to_pylist(), cust.column("c_nationkey").to_pylist()
        ))

    def build(self, spark) -> None:
        """The static customer->nation store and the replayable event frame."""
        from pyspark.sql import functions as F

        from kolibrie_spark.store import QuadStore
        from kolibrie_spark.tables import load_table
        from kolibrie_spark.triplify import triplify

        static = triplify(load_table(spark, self.data_dir, "customer"), "customer")
        self.static = QuadStore(spark, quads=static.filter(F.col("p") == NATION).localCheckpoint(eager=True))
        ev = load_table(spark, self.data_dir, "events")
        self.events = ev.select(
            F.concat(F.lit("urn:customer:"), F.col("user_id").cast("string")).alias("s"),
            F.lit(TYPE).alias("p"),
            F.col("event_type").alias("o"),
            F.lit(None).cast("string").alias("g"),
            F.lit(STREAM).alias("stream"),
            F.col("event_time").cast("long").alias("event_time"),
        ).localCheckpoint(eager=True)
        self.spark = spark

    def warmup(self, tracer) -> None:
        """Parse the registration and run the batches that fill the first
        window through it."""
        from kolibrie_spark.streaming.rspql import parse_rspql
        from kolibrie_spark.streaming.structured import StructuredRSP

        with tracer.span("rspql.parse"):
            query = parse_rspql(REGISTRATION)
        self._tracer = tracer
        self.rsp = StructuredRSP(self.spark, query, static_store=self.static, sink=self._sink)
        self.emissions: list[list[tuple]] = []
        for b in range(WARMUP_BATCHES):
            self.run(b, tracer)
        self.emissions.clear()

    def _batch(self, b: int):
        from pyspark.sql import functions as F

        lo = self.t0 + b * STEP
        return self.events.filter((F.col("event_time") >= lo) & (F.col("event_time") < lo + STEP))

    def _sink(self, df) -> None:
        with self._tracer.span("sink.write"):
            self.emissions[-1].extend(tuple(r) for r in df.select("c", "t", "n").collect())

    def run(self, b: int, tracer) -> list[tuple]:
        self.emissions.append([])
        with tracer.span("structured.process_batch"):
            self.rsp.process_batch(self._batch(b))
        return self.emissions[-1]

    def op_kind(self, b: int) -> str:
        return "batch"

    def report_lines(self, ops: list[int], lat_ms: list[float]) -> list[str]:
        lo, hi = self.t0 + ops[0] * STEP, self.t0 + (ops[-1] + 1) * STEP
        events = int(np.count_nonzero((self.ev_time >= lo) & (self.ev_time < hi)))
        return [f"events_per_s = {events / (sum(lat_ms) / 1e3):.6g} 1/s (n={len(ops)} batches, {events} events)"]

    def _window(self, b: int) -> set[tuple]:
        lo, hi = self.t0 + (b - 4) * STEP, self.t0 + b * STEP
        m = (self.ev_time >= lo) & (self.ev_time < hi)
        return {
            (f"urn:customer:{u}", t, f"urn:nation:{self.nation_of[u]}")
            for u, t in zip(self.ev_user[m].tolist(), self.ev_type[m].tolist())
            if u in self.nation_of
        }

    def expected(self, ops: list[int]) -> list[list[tuple]]:
        """The batch before the first measured one ran in the warm-up."""
        out = []
        prev = self._window(ops[0] - 1) if ops else set()
        for b in ops:
            cur = self._window(b)
            out.append(sorted(cur - prev))
            prev = cur
        return out

    def final_check(self) -> bool:
        """Every emission is checked per operation; the window state is
        recorded (``structured.buffer_*``), not bounded, so nothing is left
        to check."""
        return True

    def layer_counts(self, results: list) -> dict:
        buf = self.rsp.buffer
        return {
            "setup.store_quads": self.static.triple_count() + self.events.count(),
            "sink.rows": sum(len(r) for r in results),
            "structured.buffer_partitions_end": buf.rdd.getNumPartitions(),
            "structured.buffer_rows_end": buf.count(),
        }
