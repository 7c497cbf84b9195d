"""Structured Streaming compilation of RSP-QL registrations — the scale
path (SURVEY.md §2.9 "Spark shape").

Where engine.py replays the reference's event-at-a-time control plane
faithfully, this module compiles the same registration into a distributed
micro-batch pipeline over EVENTS_SCHEMA-shaped input
(s, p, o, g, stream, event_time-as-seconds):

    source → foreachBatch {
        union into a bounded, checkpointed event buffer (DataFrame state);
        control plane: per window spec, one small aggregate decides which
        window closed under the batch high-water mark (driver sees a
        handful of numbers, never the events);
        data plane: fired window content = partition-prunable range filter
        over the buffer → the registered group compiles to a DataFrame
        plan; multi-window results join as DataFrames (compatible-mapping);
        R2S = distinct/anti-join diffs against a state DataFrame;
        only final emission rows reach the sink.
    }

Documented divergences from the faithful mode (SURVEY §4.2.5):
- optional watermark drops events older than ``hwm - watermark`` instead of
  re-opening past windows;
- OnWindowClose fires at micro-batch granularity (the latest closed window
  per spec per batch), not per event — so two windows closing in the same
  batch count as ONE coordination step (the faithful engine sees two);
- Wait/Steal sync policies run at that batch granularity; Timeout deadlines
  are measured in EVENT time against the high-water mark (deterministic
  replays), where the faithful engine uses an injectable wall clock; the
  deadline check runs BEFORE the batch's window evals, so a flush emits
  the state as of the deadline (parity test vs RSPEngine with an injected
  event-time clock);
- window firing advances on the GLOBAL high-water mark (any stream's
  events), Spark-watermark style: a window over a stalled stream still
  closes once other streams push the hwm past its close. The faithful
  engine is event-driven per stream — a stalled stream's window never
  fires there. OPT-IN: ``per_stream_hwm=True`` advances each
  fixed-stream window on its own stream's mark instead, restoring the
  event-driven hold (parity-tested against RSPEngine with one stream
  stalled); the default stays global because it is the standard
  watermark contract a Spark user expects;
- non-default REPORT strategies (NonEmptyContent, OnContentChange,
  Periodic) run as batch-granularity emission gates (_report_fire): the
  batch hwm stands in for the event timestamp, so they coincide with the
  faithful engine exactly when micro-batches carry one event time each
  (parity-tested); non-TimeDriven ticks remain faithful-mode features.

State size is bounded: the buffer keeps at most max(width)+slide seconds of
events (plus watermark slack); R2S state is one result set per query.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Cumulative control-plane phase timers (r13, guide §1: measure where the
# per-batch wall time goes before cutting jobs). Keys: stats / closes
# (general path), control (the fast path's stats + closes), eval / emit.
# Reset by callers that want a per-gate reading; the cost is
# two perf_counter() calls per phase — noise next to any Spark job.
PHASE_SEC: dict[str, float] = {}
PHASE_N: dict[str, int] = {}


def _phase(name: str, t0: float) -> None:
    PHASE_SEC[name] = PHASE_SEC.get(name, 0.0) + (perf_counter() - t0)
    PHASE_N[name] = PHASE_N.get(name, 0) + 1

from kolibrie_spark.sparql import ast
from kolibrie_spark.sparql.compiler import Bindings, Compiler, DatasetView, join_bindings
from kolibrie_spark.store import QuadStore
from kolibrie_spark.streaming.rspql import RSPQLQuery, parse_rspql
from kolibrie_spark.streaming.s2r import Periodic, ReportStrategy

_BUFFER_SCHEMA = "s string, p string, o string, stream string, event_time long"


def window_assignments(df: DataFrame, time_col: str, width: int, slide: int) -> DataFrame:
    """Explode each event into every sliding window [open, open+width) that
    covers it — pure column math (the F.window trick on integer seconds)."""
    n = -(-width // slide)
    t = F.col(time_col)
    base = (t - (t % F.lit(slide))).cast("long")
    opens = F.array(*[base - F.lit(i * slide) for i in range(n)])
    valid = F.filter(opens, lambda o: (o >= 0) & (t >= o) & (t < o + F.lit(width)))
    return df.withColumn("window_open", F.explode(valid)).withColumn(
        "window_close", F.col("window_open") + F.lit(width)
    )


@dataclass
class StructuredRSP:
    """``sink``: a callable(DataFrame) receiving each emission *as a
    DataFrame inside the batch* — the scale path; result rows never touch
    the driver (write to a results table, forward to a writer, ...).
    Without a sink, emissions collect into ``self.emissions`` — the debug/
    test mode. ``parquet_sink(path)`` is a ready-made appending sink."""

    spark: SparkSession
    query: RSPQLQuery
    static_store: QuadStore | None = None
    watermark: int | None = None
    sink: object | None = None
    sync_policy: tuple = ("WAIT",)
    # Opt-in event-driven firing parity (VERDICT r6 item #9): advance each
    # fixed-stream window on ITS OWN stream's high-water mark instead of
    # the global one, matching the reference's per-stream event routing
    # (rsp_engine.rs:773-811: add_to_stream only ticks the matching
    # windows) — a stalled stream's window then HOLDS instead of being
    # closed by other streams' progress. Variable-stream windows and the
    # non-default REPORT gates still use the global hwm; buffer eviction
    # keys on the slowest window so a held window's events are retained.
    per_stream_hwm: bool = False
    emissions: list = field(default_factory=list)

    def __post_init__(self):
        self.buffer: DataFrame = self.spark.createDataFrame([], _BUFFER_SCHEMA)
        self.hwm = -1
        self._stream_hwm: dict[str, int] = {}
        self._fired_until: dict[str, int] = {}
        # r13 fast control plane (guide §1.2/§5: one driver action per
        # batch): when every window is default-report with width % slide
        # == 0 and no watermark is set, the per-batch stats aggregate and
        # the fused-closes buffer aggregate collapse into ONE tiny
        # groupBy(stream, slide-bucket) job over the marked buffer∪batch
        # union, and the latest-closed-window arithmetic moves to the
        # driver over the collected bucket set (see _process_batch_fast
        # for the exactness argument). Buckets are kept at the gcd of the
        # slides; a pathological gcd that would explode the group count
        # falls back to the general path.
        import math

        ws = self.query.windows
        self._gcd = math.gcd(*[w.slide for w in ws]) if ws else 0
        default_report = all(
            not (list(getattr(w, "report", None) or []))
            or list(w.report) == [ReportStrategy.ON_WINDOW_CLOSE]
            for w in ws
        )
        self._fast = (
            bool(ws)
            and self.watermark is None
            and default_report
            and all(w.width % w.slide == 0 for w in ws)
            and self._gcd > 0
            and max((w.width + w.slide) // self._gcd for w in ws) <= 4096
        )
        # (stream, gcd-bucket) -> max event_time still in the buffer: the
        # driver-side twin of the buffer closes-aggregate (fast path only)
        self._occ: dict[tuple, int] = {}
        self._last_window_results: dict[str, Bindings] = {}
        self._r2s_state: DataFrame | None = None
        self._cycle: set[str] = set()
        self._cycle_start_hwm: int | None = None
        # report-strategy state (only touched for non-default REPORT specs):
        # per-spec strictly-advancing app time (TimeDriven tick gate) and the
        # last-judged content identity (count, hash) for OnContentChange
        self._app_time: dict[str, int] = {}
        self._last_change: dict[str, tuple] = {}
        # per-window WITH POLICY overrides the engine default, as in the
        # faithful engine (reference query.rs:211)
        for w in self.query.windows:
            if w.policy is not None:
                self.sync_policy = w.policy
                break

    # ------------------------------------------------------------ batches
    def process_batch(self, events: DataFrame) -> list:
        batch = events.select(
            "s", "p", "o", "stream", F.col("event_time").cast("long").alias("event_time")
        )
        if self._fast:
            return self._process_batch_fast(batch)
        # r12 (guide §1.2, fewer driver round-trips): ONE control-plane
        # aggregate per batch carries the global hwm, the row count, and —
        # under per_stream_hwm — each fixed-stream window's own mark
        # (conditional max per stream).  Only streams named by window
        # specs matter: _hwm_for() never reads any other key, so the
        # per-stream groupBy job this replaces computed marks nobody used.
        streams = (
            sorted({w.stream for w in self.query.windows if w.stream is not None})
            if self.per_stream_hwm
            else []
        )
        _t0 = perf_counter()
        stats = batch.agg(
            F.max("event_time").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            *[
                F.max(
                    F.when(F.col("stream") == s, F.col("event_time"))
                ).alias(f"shi{i}")
                for i, s in enumerate(streams)
            ],
        ).first()
        _phase("stats", _t0)
        if stats.n == 0:
            return []
        # pre-batch snapshots: report-gated specs judge candidates on the
        # PRE-event window contents (s2r.rs judges and emits the originals
        # while filling clones)
        prev_hwm = self.hwm
        pre_buffer = self.buffer
        self.hwm = max(self.hwm, int(stats.hi))
        for i, s in enumerate(streams):
            if stats[f"shi{i}"] is not None:
                self._stream_hwm[s] = max(
                    self._stream_hwm.get(s, -1), int(stats[f"shi{i}"])
                )
        if self.watermark is not None:
            batch = batch.filter(F.col("event_time") >= self.hwm - self.watermark)
        self.buffer = self.buffer.unionByName(batch)
        # bounded state: nothing older than any window can still need —
        # under per-stream firing the slowest window's OWN hwm governs,
        # so a held window's events survive other streams' progress
        horizon = min(
            self._hwm_for(w) - (w.width + w.slide) for w in self.query.windows
        )
        if self.watermark is not None:
            horizon = max(horizon, self.hwm - self.watermark)
        # LAZY checkpoint (r12, guide §1.2): the buffer plan above is
        # narrow (previous checkpoint ∪ batch, filtered — no exchange),
        # so eager=True paid a dedicated blocking job per batch purely to
        # materialize it (~0.5s/batch measured).  Lazy still truncates
        # lineage; the partitions materialize inside the next control-
        # plane job that reads the buffer (the fused-closes aggregate on
        # the default-report path, the pre-batch report probe one batch
        # later on the REPORT-gated path).
        self.buffer = self.buffer.filter(
            F.col("event_time") > F.lit(horizon)
        ).localCheckpoint(eager=False)

        pre_flush = self._timeout_preflush()
        all_w = {w.iri for w in self.query.windows}

        # r12 (guide §1.2): one fused control-plane aggregate computes the
        # latest closed window for EVERY default-report spec (previously
        # one window_assignments-explode + agg job per window).  For an
        # event t under governing hwm H, its largest fireable close is
        # pure arithmetic: the largest open o ≡ 0 (mod slide) with
        # o <= min(t, H - width) is o* = lim - (lim mod slide); any
        # smaller slide-multiple is < t - width whenever o* is, so the
        # event's candidate is o* + width when o* still covers t
        # (o* > t - width) and lim >= 0, else nothing.  max over events
        # == max(window_close) of the exploded assignment filtered to
        # close <= H — the same value, no explode, one job for all
        # windows.
        fused_aggs = []
        for j, w in enumerate(self.query.windows):
            strategies = list(getattr(w, "report", None) or [])
            if strategies and strategies != [ReportStrategy.ON_WINDOW_CLOSE]:
                continue
            t = F.col("event_time")
            lim = F.least(t, F.lit(self._hwm_for(w) - w.width))
            o_cand = lim - F.pmod(lim, F.lit(w.slide))
            c = F.when(
                (lim >= 0) & (o_cand > t - F.lit(w.width)),
                o_cand + F.lit(w.width),
            )
            if w.stream is not None:
                c = F.when(F.col("stream") == w.stream, c)
            fused_aggs.append(F.max(c).alias(f"__c{j}"))
        _t0 = perf_counter()
        fused_closes = self.buffer.agg(*fused_aggs).first() if fused_aggs else None
        _phase("closes", _t0)

        fired: set[str] = set()
        for j, w in enumerate(self.query.windows):
            strategies = list(getattr(w, "report", None) or [])
            if strategies and strategies != [ReportStrategy.ON_WINDOW_CLOSE]:
                # non-default REPORT clause: the event-at-a-time report
                # semantics at batch granularity
                pre_events = (
                    pre_buffer
                    if w.stream is None
                    else pre_buffer.filter(F.col("stream") == w.stream)
                )
                close = self._report_fire(w, strategies, pre_events, prev_hwm)
                if close is None:
                    continue
                open_ = max(0, close - w.width)
                content = (
                    pre_events.filter(
                        (F.col("event_time") >= open_)
                        & (F.col("event_time") < close)
                    )
                    .select("s", "p", "o")
                    .distinct()  # Content keys items: set semantics
                )
                self._last_window_results[w.iri] = self._eval_window(w, content)
                fired.add(w.iri)
                continue
            stream_events = (
                self.buffer
                if w.stream is None
                else self.buffer.filter(F.col("stream") == w.stream)
            )
            # control plane: latest window of this spec closed under the
            # governing hwm (this stream's own, under per_stream_hwm) —
            # read from the fused aggregate above
            close_v = fused_closes[f"__c{j}"] if fused_closes is not None else None
            if close_v is None or close_v <= self._fired_until.get(w.iri, -1):
                continue
            close = int(close_v)
            open_ = close - w.width
            self._fired_until[w.iri] = close
            fired.add(w.iri)
            # data plane: evaluate the registered group over the window
            content = stream_events.filter(
                (F.col("event_time") >= open_) & (F.col("event_time") < close)
            ).select("s", "p", "o")
            self._last_window_results[w.iri] = self._eval_window(w, content)

        return pre_flush + self._advance(fired, all_w)

    def _timeout_preflush(self) -> list:
        """TIMEOUT deadline check BEFORE this batch's window evals, mirroring
        the faithful engine's _check_timeout-on-event-arrival (engine.py:144,
        reference rsp_engine.rs coordinator): a flushed STEAL emission must
        see only the window results that existed AT the deadline — the
        pre-batch _last_window_results — never this batch's post-deadline
        firings (which belong to the next cycle's emission)."""
        all_w = {w.iri for w in self.query.windows}
        if (
            self.sync_policy[0] == "TIMEOUT"
            and self._cycle
            and self._cycle_start_hwm is not None
            and self.hwm - self._cycle_start_hwm > self.sync_policy[1]
        ):
            fallback = self.sync_policy[2]
            self._cycle = set()
            self._cycle_start_hwm = None
            if fallback == "STEAL" and set(self._last_window_results) == all_w:
                return self._emit()
        return []

    def _process_batch_fast(self, batch: DataFrame) -> list:
        """One-driver-action control plane for the default-report,
        no-watermark, width%slide==0 case (r13, guide §1.2): a single tiny
        ``groupBy(stream, gcd-slide-bucket)`` job over the marked
        buffer∪batch union simultaneously (a) materializes the buffer's
        lazy checkpoint, (b) yields the batch row count and the new
        high-water marks, and (c) maintains ``self._occ`` — the surviving
        max event time per (stream, bucket) — from which the latest closed
        window per spec is pure driver arithmetic.

        Exactness vs the general path's buffer aggregate (derivation in
        OPTIMIZATION_r13.md): with width a multiple of slide, every event
        of slide-bucket b witnesses exactly the closes {max(width, b+slide)
        .. b+width}, so the bucket's best fireable close under mark H is
        c = min(b+width, P) with P = (H//slide)*slide, valid when
        c >= max(width, b+slide) — and all events of one bucket fall on
        the same side of P, so the bucket-level max equals the event-level
        max. Eviction is mimicked exactly: a bucket stays occupied iff its
        newest event survives the horizon, and the physical buffer applies
        the same horizon filter on read (the checkpoint itself persists
        one batch behind the horizon, which no reader can observe — every
        content filter runs on the filtered view)."""
        g = self._gcd
        old = self.buffer.withColumn("__new", F.lit(False))
        ckpt = old.unionByName(
            batch.withColumn("__new", F.lit(True))
        ).localCheckpoint(eager=False)
        self.buffer = ckpt.drop("__new")
        _t0 = perf_counter()
        bucket = (
            F.col("event_time") - F.pmod(F.col("event_time"), F.lit(g))
        ).cast("long")
        rows = (
            ckpt.groupBy(F.col("stream").alias("__s"), bucket.alias("__b"))
            .agg(
                F.max("event_time").alias("__mx"),
                F.count(F.when(F.col("__new"), F.lit(1))).alias("__nn"),
            )
            .collect()
        )
        _phase("control", _t0)
        if sum(r["__nn"] for r in rows) == 0:
            return []
        # marks: old buffer rows are <= the stored hwm by construction, so
        # the union max IS the running max; same per stream
        self.hwm = max([self.hwm] + [int(r["__mx"]) for r in rows])
        if self.per_stream_hwm:
            for r in rows:
                cur = self._stream_hwm.get(r["__s"], -1)
                if int(r["__mx"]) > cur:
                    self._stream_hwm[r["__s"]] = int(r["__mx"])
        for r in rows:
            k = (r["__s"], int(r["__b"]))
            if self._occ.get(k, -1) < int(r["__mx"]):
                self._occ[k] = int(r["__mx"])
        horizon = min(
            self._hwm_for(w) - (w.width + w.slide) for w in self.query.windows
        )
        self._occ = {k: v for k, v in self._occ.items() if v > horizon}
        self.buffer = self.buffer.filter(F.col("event_time") > F.lit(horizon))

        pre_flush = self._timeout_preflush()
        all_w = {w.iri for w in self.query.windows}
        fired: set[str] = set()
        for w in self.query.windows:
            H = self._hwm_for(w)
            if H < w.width:
                continue
            P = (H // w.slide) * w.slide
            best = None
            for (s, b), _mx in self._occ.items():
                if w.stream is not None and s != w.stream:
                    continue
                bj = b - (b % w.slide)
                c = min(bj + w.width, P)
                if c >= max(w.width, bj + w.slide) and (
                    best is None or c > best
                ):
                    best = c
            if best is None or best <= self._fired_until.get(w.iri, -1):
                continue
            close = int(best)
            open_ = close - w.width
            self._fired_until[w.iri] = close
            fired.add(w.iri)
            stream_events = (
                self.buffer
                if w.stream is None
                else self.buffer.filter(F.col("stream") == w.stream)
            )
            content = stream_events.filter(
                (F.col("event_time") >= open_) & (F.col("event_time") < close)
            ).select("s", "p", "o")
            self._last_window_results[w.iri] = self._eval_window(w, content)

        return pre_flush + self._advance(fired, all_w)

    def _hwm_for(self, w) -> int:
        """The high-water mark that governs window ``w``: its own
        stream's under ``per_stream_hwm`` (variable-stream windows always
        see every event, so the global mark IS their stream mark), else
        the global one."""
        if self.per_stream_hwm and w.stream is not None:
            return self._stream_hwm.get(w.stream, -1)
        return self.hwm

    def _report_fire(self, w, strategies, pre_events: DataFrame, prev_hwm: int):
        """Non-default report strategies (NonEmptyContent, OnContentChange,
        Periodic, combinable with OnWindowClose) as batch-granularity
        emission gates — the structured twin of CSparqlWindow._passes
        (s2r.py:122-134 / reference s2r.rs:28-84), treating the batch
        high-water mark as the arriving event's timestamp (exact parity
        when micro-batches carry one event time each).

        Candidate windows reconstruct the faithful active set by window
        arithmetic (closes are multiples of slide): windows covering the
        previous event time plus the scope() additions at the current one,
        judged ascending by close on PRE-batch content identities — one
        tiny aggregate (count + order-independent hash of the distinct
        triples per candidate) feeds the driver-side strategy loop, so the
        driver sees a handful of numbers, never events.  OnContentChange
        keeps the reference's quirk: it fires when content EQUALS the last
        JUDGED content, and every judged candidate updates that state in
        iteration order.  Returns the fired close, or None."""
        import math

        t = self.hwm
        slide, width = w.slide, w.width
        closes: set[int] = set()
        if prev_hwm >= 0:
            # previously-active windows: max(0, c - width) <= prev_hwm < c
            c = (prev_hwm // slide + 1) * slide
            while c <= prev_hwm + width:
                if max(0, c - width) <= prev_hwm:
                    closes.add(c)
                c += slide
        c_sup = math.ceil(t / slide) * slide
        for c in range(c_sup, t + width + 1, slide):
            closes.add(c)
        stats = self._candidate_stats(pre_events, sorted(closes), width)
        last = self._last_change.get(w.iri, (0, 0))
        passing: list[int] = []
        for c in sorted(closes):
            cnt, hsh = stats.get(c, (0, 0))
            ok = True
            for s in strategies:
                if s is ReportStrategy.NON_EMPTY_CONTENT:
                    ok = ok and cnt > 0
                elif s is ReportStrategy.ON_CONTENT_CHANGE:
                    ok = ok and (cnt, hsh) == last
                    last = (cnt, hsh)
                elif s is ReportStrategy.ON_WINDOW_CLOSE:
                    ok = ok and c <= t
                elif isinstance(s, Periodic):
                    ok = ok and t % s.period == 0
            if ok:
                passing.append(c)
        self._last_change[w.iri] = last
        if not passing:
            return None
        fired = max(passing)
        # TimeDriven tick: strictly-advancing app time; a firing consumes
        # the timestamp even when its content is empty (s2r.rs:246-265)
        if t <= self._app_time.get(w.iri, 0):
            return None
        self._app_time[w.iri] = t
        return fired

    def _candidate_stats(
        self, pre_events: DataFrame, closes: list[int], width: int
    ) -> dict[int, tuple]:
        """(distinct-count, order-independent hash) per candidate window
        over the pre-batch buffer, in ONE aggregate job."""
        if not closes:
            return {}
        cand = F.array(
            *[
                F.when(
                    (F.col("event_time") >= max(0, c - width))
                    & (F.col("event_time") < c),
                    F.lit(c).cast("long"),
                )
                for c in closes
            ]
        )
        per = (
            pre_events.select(
                "s", "p", "o",
                F.explode(F.filter(cand, lambda x: x.isNotNull())).alias("__c"),
            )
            .distinct()  # Content keys items: set semantics per window
            .groupBy("__c")
            .agg(
                F.count("*").alias("n"),
                # XOR combine: order-independent and overflow-free; sound
                # as a set identity because the triples are distinct'd
                F.expr("bit_xor(xxhash64(s, p, o))").alias("h"),
            )
            .collect()
        )
        return {int(r["__c"]): (int(r["n"]), int(r["h"])) for r in per}

    def _advance(self, fired: set, all_w: set) -> list:
        """Multi-window sync at micro-batch granularity — the batch twin
        of the faithful coordinator (engine.py / rsp_engine.rs:539-770):
        Wait emits on full cycles; Steal emits on any firing once every
        window has materialized (stale results for the rest); Timeout(d,
        fallback) is Wait with an EVENT-TIME deadline — an open cycle
        whose first firing is more than d seconds of stream time behind
        the high-water mark triggers fallback Steal (emit stale) or Drop
        (discard); the deadline check runs in process_batch BEFORE window
        evaluation. Event-time deadlines keep replays deterministic; the
        wall-clock flavor stays a faithful-engine feature."""
        if not fired:
            return []
        if not self._cycle:
            self._cycle_start_hwm = self.hwm
        self._cycle |= fired
        if self._cycle == all_w:  # full cycle: every policy emits
            self._cycle = set()
            self._cycle_start_hwm = None
            return self._emit()
        if self.sync_policy[0] == "STEAL":
            self._cycle = set()
            self._cycle_start_hwm = None
            if set(self._last_window_results) == all_w:
                return self._emit()
        return []

    def _eval_window(self, w, content: DataFrame) -> Bindings:
        _t0 = perf_counter()
        store = QuadStore(
            self.spark,
            quads=content.withColumn("g", F.lit(None).cast("string")),
        )
        compiler = Compiler(store)
        out = compiler.compile_group(w.group, DatasetView(store, [], []), None)
        _phase("eval", _t0)
        return out

    def _emit(self) -> list:
        joined: Bindings | None = None
        for w in self.query.windows:
            b = self._last_window_results[w.iri]
            joined = b if joined is None else join_bindings(joined, b)
        if self.query.static_group.elements and self.static_store is not None:
            compiler = Compiler(self.static_store)
            sb = compiler.compile_group(
                self.query.static_group,
                DatasetView(self.static_store, [], []),
                active_graph=None,
            )
            joined = sb if joined is None else join_bindings(joined, sb)
        df = joined.df
        if not self.query.select.star:
            keep = [v.name for v in self.query.select.select if isinstance(v, ast.Var)]
            df = df.select(
                *[
                    (F.col(k) if k in df.columns else F.lit("")).alias(k)
                    for k in keep
                ]
            )
        op = self.query.operator
        if op == "RSTREAM":
            out_df = df.dropDuplicates()
        else:  # ISTREAM / DSTREAM
            # r13 (guide §2.4): the R2S diff used to run as dropDuplicates
            # (one exchange) -> localCheckpoint -> anti-join against the
            # state checkpoint (two MORE exchanges, because a checkpoint
            # scan reports UnknownPartitioning so ENSURE_REQUIREMENTS
            # re-shuffles both sides).  Set-dedup and set-diff are ONE
            # aggregation: tag new rows and state rows, union, group by
            # the binding columns, and read membership off two max()
            # flags — a single exchange computes dedup AND diff for
            # either operator.  The state rides as the RAW (pre-dedup)
            # binding checkpoint; the map-side partial aggregation
            # collapses its duplicates before the exchange, so re-deduping
            # it per emission costs no extra shuffle bytes.
            # LAZY checkpoint (r12, guide §5): this emission's sink/
            # collect consumes every partition of `df` through the union-
            # aggregate (or through dropDuplicates on the first ISTREAM
            # emission); the first DSTREAM emission is an empty frame and
            # leaves `df` unmaterialized until the successor emission
            # reads it as state — same as before.
            df = df.localCheckpoint(eager=False)
            if self._r2s_state is None:
                out_df = (
                    df.dropDuplicates()
                    if op == "ISTREAM"
                    else self.spark.createDataFrame([], df.schema)
                )
            else:
                cols = list(df.columns)
                tagged = df.select(
                    *cols, F.lit(True).alias("__new")
                ).unionByName(
                    self._r2s_state.select(*cols, F.lit(False).alias("__new"))
                )
                flags = tagged.groupBy(*cols).agg(
                    F.max("__new").alias("__hn"),
                    F.min("__new").alias("__mn"),
                )
                # a group's rows are all-new (never in state), all-old
                # (deleted), or mixed (present in both): ISTREAM emits
                # the all-new groups, DSTREAM the all-old ones
                keep = (
                    (F.col("__hn") & F.col("__mn"))
                    if op == "ISTREAM"
                    else (~F.col("__hn") & ~F.col("__mn"))
                )
                out_df = flags.filter(keep).select(*cols)
            self._r2s_state = df
        _t0 = perf_counter()
        if self.sink is not None:
            # scale path: hand the emission DataFrame to the sink inside
            # the batch — no driver-side materialization of result rows
            self.sink(out_df)
            _phase("emit", _t0)
            return []
        rows = [sorted(r.asDict().items()) for r in out_df.collect()]
        self.emissions.extend(rows)
        _phase("emit", _t0)
        return rows

    # -------------------------------------------------------------- driving
    def run_events_df(self, events: DataFrame, batch_seconds: int = 10) -> list:
        """Deterministic batch replay: chop an events DataFrame into
        event-time-ordered micro-batches and process each."""
        bounds = events.agg(
            F.min("event_time").alias("lo"), F.max("event_time").alias("hi")
        ).first()
        if bounds.lo is None:
            return []
        out = []
        for start in range(int(bounds.lo), int(bounds.hi) + 1, batch_seconds):
            out.extend(
                self.process_batch(
                    events.filter(
                        (F.col("event_time") >= start)
                        & (F.col("event_time") < start + batch_seconds)
                    )
                )
            )
        return out

    def start(self, stream_df: DataFrame, checkpoint_dir: str):
        """Attach to a live streaming DataFrame via foreachBatch."""

        def sink(batch_df: DataFrame, _batch_id: int):
            self.process_batch(batch_df)

        return (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )


def parquet_sink(path: str):
    """Appending results-table sink for StructuredRSP (one parquet append
    per emission; executors write, the driver never sees rows)."""

    def sink(out_df: DataFrame) -> None:
        out_df.write.mode("append").parquet(path)

    return sink


def compile_structured(
    spark: SparkSession,
    query_text: str,
    static_store: QuadStore | None = None,
    watermark: int | None = None,
    sink=None,
    sync_policy: tuple = ("WAIT",),
    per_stream_hwm: bool = False,
) -> StructuredRSP:
    return StructuredRSP(
        spark=spark,
        query=parse_rspql(query_text),
        static_store=static_store,
        watermark=watermark,
        sink=sink,
        sync_policy=sync_policy,
        per_stream_hwm=per_stream_hwm,
    )
