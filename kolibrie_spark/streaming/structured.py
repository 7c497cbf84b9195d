"""Structured Streaming compilation of RSP-QL registrations — the scale
path (SURVEY.md §2.9 "Spark shape").

Where engine.py replays the reference's event-at-a-time control plane
faithfully, this module compiles the same registration into a distributed
micro-batch pipeline over EVENTS_SCHEMA-shaped input
(s, p, o, g, stream, event_time-as-seconds):

    source → foreachBatch {
        state: window state is a list of PANES, each one eager local
        checkpoint of a micro-batch in the batch's own partitioning (a
        batch finer than one bucket folds into the current bucket's pane);
        the checkpoint job carries an Observation of the batch's row
        count, event-time range and per-stream maxima, so the driver
        learns the marks without a job, and a pane is read coalesced to
        one partition per ROWS_PER_TASK observed rows;
        control plane: the bucket is the gcd of every width and slide, so
        every window boundary is a bucket boundary, and each default-report
        spec's latest closed window is driver arithmetic over the panes'
        (stream, bucket) maxima, with no job; REPORT-gated specs judge
        their candidate windows in one aggregate over the pre-batch panes;
        data plane: fired window content = the panes overlapping
        [open, close) under a range filter → the registered group
        compiles to a DataFrame plan; multi-window results join as
        DataFrames (compatible-mapping); R2S = one dedup/diff aggregate
        against the previous emission's lazily checkpointed bindings;
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

State is bounded. Every read filters ``event_time > horizon``, where the
horizon is ``hwm - (width + slide)`` of the slowest window (its own
stream's mark under ``per_stream_hwm``), raised to ``hwm - watermark``
when a watermark is set. The horizon never falls, so a window sees the
same events it would see in one buffer filtered batch by batch. A pane
whose newest event is at or below the horizon is dropped and, once no
held window result or R2S state still reads it, unpersisted. For an
in-order stream that leaves about
``max(width + slide) / gcd(widths ∪ slides) + 2`` live panes, whatever the
batch size. R2S state is one result set per query, unpersisted once the
next emission has read it. A sink must consume its emission inside the
call: the panes and the state under a lazily held emission frame can be
unpersisted later.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import reduce
from time import perf_counter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kolibrie_spark.sparql import ast
from kolibrie_spark.sparql.compiler import Bindings, Compiler, DatasetView, join_bindings
from kolibrie_spark.store import QuadStore
from kolibrie_spark.streaming.rspql import RSPQLQuery, parse_rspql
from kolibrie_spark.streaming.s2r import Periodic, ReportStrategy

# Cumulative per-batch phase timers. Keys: pane (the batch's checkpoint
# job, plus the per-bucket aggregate of a batch that spans several
# buckets), eval (window compilation), emit (the R2S diff and the sink).
# Callers reset them for a per-run reading; each phase costs two
# perf_counter() calls.
PHASE_SEC: dict[str, float] = {}
PHASE_N: dict[str, int] = {}


def _phase(name: str, t0: float) -> None:
    PHASE_SEC[name] = PHASE_SEC.get(name, 0.0) + (perf_counter() - t0)
    PHASE_N[name] = PHASE_N.get(name, 0) + 1


_BUFFER_COLS = [
    ("s", "string"), ("p", "string"), ("o", "string"), ("stream", "string"), ("event_time", "long"),
]
# Rows per partition when a pane is read: a pane's checkpoint keeps the
# partitioning of the batches in it, and its reads coalesce it (no
# shuffle) to one partition per this many observed rows.
ROWS_PER_TASK = 100_000


def _unpersist(checkpoint: DataFrame) -> None:
    """Free a local checkpoint's blocks: they belong to the RDD under its
    LogicalRDD, and DataFrame.unpersist only touches the SQL cache."""
    checkpoint._jdf.queryExecution().analyzed().rdd().unpersist(False)


@dataclass(eq=False)
class _Pane:
    """One eager local checkpoint of window state, ``ckpt``, read as
    ``df``: the checkpoint coalesced by its observed row count.
    ``lo``/``hi`` bound its event times; ``occ`` maps (stream, bucket) to
    the newest event time there, with stream None standing for any
    stream."""

    ckpt: DataFrame
    df: DataFrame
    rows: int
    lo: int
    hi: int
    occ: dict[tuple, int]


def _overlapping(panes: list[_Pane], open_: int, close: int) -> list[_Pane]:
    """The panes that can hold events of ``[open_, close)``."""
    return [p for p in panes if p.lo < close and p.hi >= open_]


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
    # non-default REPORT gates still use the global hwm; pane eviction
    # keys on the slowest window so a held window's events are retained.
    per_stream_hwm: bool = False
    emissions: list = field(default_factory=list)

    def __post_init__(self):
        self.hwm = -1
        self._stream_hwm: dict[str, int] = {}
        self._fired_until: dict[str, int] = {}
        ws = self.query.windows
        # streams named by fixed-stream windows: the only per-stream marks
        # anything reads (_hwm_for, the panes' occupancy)
        self._streams = sorted({w.stream for w in ws if w.stream is not None})
        # The bucket divides every width and slide, so every window
        # boundary is a bucket boundary (see _closes)
        self._gcd = math.gcd(*[x for w in ws for x in (w.width, w.slide)])
        # window state: live panes in arrival order, the read horizon, the
        # panes dropped from state but maybe still read by a held frame,
        # and the panes each held frame reads (a window result by IRI, the
        # R2S state by "__r2s")
        self._panes: list[_Pane] = []
        self._horizon: int | None = None
        self._retired: list[_Pane] = []
        self._held: dict[str, set[_Pane]] = {}
        self._step = 0  # how far the last batch moved the hwm
        self._empty = self.spark.range(0).selectExpr(
            *[f"CAST(NULL AS {t}) AS {c}" for c, t in _BUFFER_COLS]
        )
        # one window store per spec: each evaluation swaps its quads
        self._window_stores = {w.iri: QuadStore(self.spark) for w in ws}
        # the compiled static side, keyed on the static store's frames
        self._static_key: tuple | None = None
        self._static: Bindings | None = None
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

    # -------------------------------------------------------------- state
    @property
    def buffer(self) -> DataFrame:
        """The live window state: the union of the live panes under the
        horizon filter (read-only)."""
        return self._read(self._panes, self._horizon)

    def _read(
        self, panes: list[_Pane], horizon: int | None, open_: int | None = None,
        close: int | None = None, stream: str | None = None,
    ) -> DataFrame:
        """Events of ``panes`` above ``horizon``, optionally restricted to
        ``[open_, close)`` and one stream. Only overlapping panes are read,
        and a pane gets a bound only when it straddles it: a plan without
        per-batch literals generates the same code every batch, so Spark's
        codegen cache serves it."""
        if open_ is not None:
            panes = _overlapping(panes, open_, close)
        t = F.col("event_time")
        parts = []
        for p in panes:
            if horizon is not None and p.hi <= horizon:
                continue
            conds = []
            if horizon is not None and p.lo <= horizon:
                conds.append(t > horizon)
            if open_ is not None and p.lo < open_:
                conds.append(t >= open_)
            if open_ is not None and p.hi >= close:
                conds.append(t < close)
            parts.append(p.df.filter(reduce(lambda x, y: x & y, conds)) if conds else p.df)
        if not parts:
            return self._empty
        df = reduce(DataFrame.union, parts)
        return df if stream is None else df.filter(F.col("stream") == stream)

    def _stream_maxima(self) -> list:
        """Per-stream max event time, one column per fixed window stream."""
        t = F.col("event_time")
        return [
            F.max(F.when(F.col("stream") == s, t)).alias(f"m{i}")
            for i, s in enumerate(self._streams)
        ]

    def _add_pane(self, batch: DataFrame):
        """Checkpoint ``batch`` as window state in ONE job and return its
        observed max event time and per-stream maxima (None for an empty
        batch, which leaves the state as it was).

        The checkpoint keeps the batch's own partitioning, so the source
        scan runs as wide as it did before; only the pane's reads are
        coalesced, by the row count observed in this job. The batch folds
        into the latest pane when that pane holds only the current bucket
        and the last batch's advance of the hwm says this one stays
        inside it; a wrong guess only makes a pane span two buckets. A
        pane records its per-(stream, bucket) maxima: pure arithmetic when
        the batch lies in one bucket, else one small aggregate over this
        pane's checkpoint."""
        g = self._gcd
        last = self._panes[-1] if self._panes else None
        cur = self.hwm - self.hwm % g
        fold = (
            last is not None
            and last.lo >= cur
            and self.hwm + self._step < cur + g
        )
        obs = Observation()
        t = F.col("event_time")
        new = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.min(t).alias("lo"),
            F.max(t).alias("hi"),
            *self._stream_maxima(),
        )
        _t0 = perf_counter()
        ckpt = (last.df.union(new) if fold else new).localCheckpoint(eager=True)
        m = obs.get
        if m["n"] == 0:
            _unpersist(ckpt)
            _phase("pane", _t0)
            return None
        n, lo, hi = m["n"], m["lo"], m["hi"]
        smax = {s: m[f"m{i}"] for i, s in enumerate(self._streams) if m[f"m{i}"] is not None}
        if fold:
            n, lo, hi = last.rows + n, min(last.lo, lo), max(last.hi, hi)
        df = ckpt.coalesce(-(-n // ROWS_PER_TASK))
        b = m["lo"] - m["lo"] % g
        if m["hi"] < b + g:
            occ = {(None, b): m["hi"]} | {(s, b): v for s, v in smax.items()}
            if fold:
                occ = last.occ | {k: max(v, last.occ.get(k, v)) for k, v in occ.items()}
        else:
            occ = self._bucket_maxima(df)
        _phase("pane", _t0)
        pane = _Pane(ckpt, df, n, lo, hi, occ)
        if fold:
            self._panes[-1] = pane
            self._retired.append(last)
        else:
            self._panes.append(pane)
        return m["hi"], smax

    def _bucket_maxima(self, df: DataFrame) -> dict[tuple, int]:
        """(stream or None, bucket) -> max event time over one pane."""
        t = F.col("event_time")
        bucket = (t - F.pmod(t, F.lit(self._gcd))).cast("long")
        rows = (
            df.groupBy(bucket.alias("b"))
            .agg(F.max(t).alias("mx"), *self._stream_maxima())
            .collect()
        )
        occ: dict[tuple, int] = {}
        for r in rows:
            occ[(None, r["b"])] = r["mx"]
            for i, s in enumerate(self._streams):
                if r[f"m{i}"] is not None:
                    occ[(s, r["b"])] = r[f"m{i}"]
        return occ

    def _evict(self) -> None:
        """Raise the horizon to the current marks and drop every pane at
        or below it: nothing older than any window can still need — under
        per-stream firing the slowest window's OWN hwm governs, so a held
        window's events survive other streams' progress."""
        horizon = min(self._hwm_for(w) - (w.width + w.slide) for w in self.query.windows)
        if self.watermark is not None:
            horizon = max(horizon, self.hwm - self.watermark)
        self._horizon = horizon
        self._retired += [p for p in self._panes if p.hi <= horizon]
        self._panes = [p for p in self._panes if p.hi > horizon]

    def _release(self) -> None:
        """Unpersist the dropped panes that no held frame reads any more."""
        held = set().union(*self._held.values())
        for p in self._retired:
            if p not in held:
                _unpersist(p.ckpt)
        self._retired = [p for p in self._retired if p in held]

    # ------------------------------------------------------------ batches
    def process_batch(self, events: DataFrame) -> list:
        batch = events.select(
            "s", "p", "o", "stream", F.col("event_time").cast("long").alias("event_time")
        )
        # pre-batch snapshot: report-gated specs judge candidates on the
        # PRE-event window contents (s2r.rs judges and emits the originals
        # while filling clones)
        prev_hwm, pre_panes, pre_horizon = self.hwm, list(self._panes), self._horizon
        stats = self._add_pane(batch)
        if stats is None:
            return []
        hi, smax = stats
        self.hwm = max(self.hwm, hi)
        self._step = self.hwm - prev_hwm
        for s, v in smax.items():
            self._stream_hwm[s] = max(self._stream_hwm.get(s, -1), v)
        self._evict()

        pre_flush = self._timeout_preflush()
        fired = self._closes(prev_hwm, pre_panes, pre_horizon)
        out = pre_flush + self._advance(fired, {w.iri for w in self.query.windows})
        self._release()
        return out

    def _fire(self, w, close: int) -> None:
        """Evaluate window ``w`` closing at ``close`` over the live panes."""
        open_ = close - w.width
        self._fired_until[w.iri] = close
        content = self._read(self._panes, self._horizon, open_, close, w.stream)
        self._last_window_results[w.iri] = self._eval_window(w, content)
        self._held[w.iri] = set(_overlapping(self._panes, open_, close))

    def _closes(
        self, prev_hwm: int, pre_panes: list[_Pane], pre_horizon: int | None
    ) -> set:
        """Fire every spec whose latest closed window moved: default-report
        specs from the panes' occupancy, with no Spark job; report-gated
        specs judge their candidates on the pre-batch panes.

        For an event t under governing mark H, the largest fireable close
        is arithmetic: the largest open o ≡ 0 (mod slide) with
        o <= lim = min(t, H - width) is o = lim - lim mod slide, and a
        smaller multiple of slide covers t only if o does, so t's close
        is o + width when lim >= 0 and o > t - width, else none.
        The bucket divides width and slide, so a bucket [b, b + bucket)
        lies inside one slide bucket, o is the same for each of its
        events, and o > t - width holds for all of them or none: the rule
        applied to b gives every event's value. A (stream, bucket) is
        occupied iff its newest event in some live pane is above the
        horizon, i.e. iff the horizon-filtered state still holds one of
        its events."""
        occupied: dict[str | None, set[int]] = {}
        for p in self._panes:
            for (s, b), mx in p.occ.items():
                if mx > self._horizon:
                    occupied.setdefault(s, set()).add(b)
        fired: set[str] = set()
        for w in self.query.windows:
            strategies = list(getattr(w, "report", None) or [])
            if strategies and strategies != [ReportStrategy.ON_WINDOW_CLOSE]:
                # non-default REPORT clause: the event-at-a-time report
                # semantics at batch granularity
                pre_events = self._read(pre_panes, pre_horizon, stream=w.stream)
                close = self._report_fire(w, strategies, pre_events, prev_hwm)
                if close is None:
                    continue
                open_ = max(0, close - w.width)
                content = (
                    self._read(pre_panes, pre_horizon, open_, close, w.stream)
                    .select("s", "p", "o")
                    .distinct()  # Content keys items: set semantics
                )
                self._last_window_results[w.iri] = self._eval_window(w, content)
                self._held[w.iri] = set(_overlapping(pre_panes, open_, close))
                fired.add(w.iri)
                continue
            # latest window of this spec closed under the governing mark
            # (this stream's own, under per_stream_hwm)
            H = self._hwm_for(w)
            best = -1
            for b in occupied.get(w.stream, ()):
                lim = min(b, H - w.width)
                o = lim - lim % w.slide
                if lim >= 0 and o > b - w.width:
                    best = max(best, o + w.width)
            if best <= self._fired_until.get(w.iri, -1):
                continue
            self._fire(w, best)
            fired.add(w.iri)
        return fired

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
        over the pre-batch state, in ONE aggregate job."""
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
        store = self._window_stores[w.iri]
        store.quads = content.select("s", "p", "o", F.lit(None).cast("string").alias("g"))
        out = Compiler(store).compile_group(w.group, DatasetView(store, [], []), None)
        _phase("eval", _t0)
        return out

    def _static_bindings(self) -> Bindings:
        """The static side, compiled once per version of the static store:
        its quads, graphs and quoted frames are replaced on every change."""
        st = self.static_store
        key = (st.quads, st.graphs, st.quoted)
        if self._static_key is None or any(a is not b for a, b in zip(key, self._static_key)):
            self._static = Compiler(st).compile_group(
                self.query.static_group, DatasetView(st, [], []), active_graph=None
            )
            self._static_key = key
        return self._static

    def _emit(self) -> list:
        joined: Bindings | None = None
        for w in self.query.windows:
            b = self._last_window_results[w.iri]
            joined = b if joined is None else join_bindings(joined, b)
        if self.query.static_group.elements and self.static_store is not None:
            sb = self._static_bindings()
            joined = sb if joined is None else join_bindings(joined, sb)
        df = joined.df
        if not self.query.select.star:
            keep = [v.name for v in self.query.select.select if isinstance(v, ast.Var)]
            df = df.select(
                *[(F.col(k) if k in df.columns else F.lit("")).alias(k) for k in keep]
            )
        op = self.query.operator
        if op == "RSTREAM":
            out_df = df.dropDuplicates()
        else:
            # Set-dedup and set-diff are ONE aggregation: tag this
            # emission's rows and the state's, union, group by the binding
            # columns, and read membership off two flags. A group's rows
            # are all-new (never in state), all-old (deleted), or mixed
            # (present in both): ISTREAM emits the all-new groups, DSTREAM
            # the all-old ones. The first emission has no state, so
            # ISTREAM emits every binding and DSTREAM none.
            # The new state is a LAZY checkpoint of the binding frame: the
            # job that reads this emission fills it, so the next diff
            # reads it instead of recomputing the window plan.
            df = df.localCheckpoint(eager=False)
            cols = list(df.columns)
            tagged = df.select(*cols, F.lit(True).alias("__new"))
            if self._r2s_state is not None:
                tagged = tagged.unionByName(
                    self._r2s_state.select(*cols, F.lit(False).alias("__new"))
                )
            flags = tagged.groupBy(*cols).agg(
                F.max("__new").alias("__hn"), F.min("__new").alias("__mn")
            )
            keep = (
                (F.col("__hn") & F.col("__mn"))
                if op == "ISTREAM"
                else (~F.col("__hn") & ~F.col("__mn"))
            )
            out_df = flags.filter(keep).select(*cols)
            old, self._r2s_state = self._r2s_state, df
        _t0 = perf_counter()
        if self.sink is not None:
            # scale path: hand the emission DataFrame to the sink inside
            # the batch — no driver-side materialization of result rows
            self.sink(out_df)
            rows = []
        else:
            rows = [sorted(r.asDict().items()) for r in out_df.collect()]
            self.emissions.extend(rows)
        _phase("emit", _t0)
        if op != "RSTREAM":
            if old is not None:
                _unpersist(old)  # only this emission read it
            # A sink that reads only part of its emission can leave the
            # state's checkpoint unfilled: the panes it reads are held
            # until the next emission replaces it.
            self._held["__r2s"] = set().union(
                *(self._held.get(w.iri, set()) for w in self.query.windows)
            )
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
