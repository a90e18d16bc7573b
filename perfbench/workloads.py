"""The benchmark workloads, driven through the engine's public entry
points only: ``streaming.pipeline.streaming_flagship`` and
``streaming.full_pipeline.streaming_flagship_full``, with the probes
of the traced run calling ``sources.cdc_json.decode_envelope``,
``functions.datetime_fns.parse_ts`` and
``operators.broadcast.hint_broadcast_if_small``.

Each workload builds its inputs and its oracle model before set-up,
warms the path it measures during set-up, then runs its timed phase
and returns the operations it checked.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field, replace

import feedgen
import oracle
from host import wait_until
from tracing import Spans, progress_wall

from flink_precisely_demo_spark.functions.datetime_fns import parse_ts
from flink_precisely_demo_spark.operators.broadcast import hint_broadcast_if_small
from flink_precisely_demo_spark.schemas import ORDERS_PAYLOAD
from flink_precisely_demo_spark.sources.cdc_json import decode_envelope
from flink_precisely_demo_spark.streaming.full_pipeline import streaming_flagship_full
from flink_precisely_demo_spark.streaming.pipeline import streaming_flagship

#: catch-ups of the backlog per cdc_tail run (the reported rate pools them:
#: their orders over their summed wall, steadier than the median of three)
CATCHUPS = 3
#: untimed catch-ups in set-up: a session's catch-up rate still climbs
#: over its first few big batches
WARM_CATCHUPS = 2
#: the first seconds of the live phase close windows that are not timed:
#: the triggers right after a catch-up run up to twice as long as later ones
SETTLE_S = 3.0
#: cdc_stateful replays per run at least (more while --seconds last)
MIN_REPLAYS = 2
#: untimed cdc_stateful replays in set-up: after a single one, the first
#: timed replay still ran 5-29% longer than the second
WARM_REPLAYS = 2

_ADDRESS_DDL = "AddressID int, StateProvinceID int"
_STATES_DDL = "StateProvinceID int, CountryRegionCode string, Name string"


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (the sample's own range)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


@dataclass
class Outcome:
    attempted: int
    failed: int
    problems: list[str]
    window: tuple[float, float]    # wall span of the timed phase
    ops: list[int]                 # span ids of timed operations run by the
                                   # benchmark (triggers are added from the trace)
    # metric name -> (value, unit, what it measures on this workload); the
    # names shared by every workload are run.E2E, the rest are printed only
    report: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)  # generator / feed facts


class _Sink:
    """foreachBatch sink: collects each batch's windows and stamps the
    wall time at which they were emitted."""

    def __init__(self):
        self.rows: list[tuple] = []      # (window_us, country, state, total)
        self.emitted: dict[int, float] = {}
        self.batch_end: dict[int, float] = {}
        self.lock = threading.Lock()

    def __call__(self, batch, batch_id: int) -> None:
        rows = batch.selectExpr("unix_micros(OrderPeriod)", "Country",
                                "State", "TotalDue").collect()
        now = time.time()
        with self.lock:
            self.batch_end[batch_id] = now
            for w, c, s, v in rows:
                self.rows.append((w, c, s, v))
                self.emitted.setdefault(w, now)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _dims(spark, feed):
    address = spark.read.schema(_ADDRESS_DDL).json(feed.address)
    states = spark.read.schema(_STATES_DDL).json(feed.states)
    return address, states


class CdcTail:
    """Open loop: backlog catch-up, then one live file per tick at a
    fixed offered rate, through ``streaming_flagship`` with stream-
    static dims and the default trigger."""

    name = "cdc_tail"

    def __init__(self, ctx):
        self.ctx = ctx
        base = feedgen.TailSize()
        # the timed part of the live phase lasts the run's seconds (the
        # catch-ups and SETTLE_S come on top); each live file closes one
        # window, and a run needs >= 100
        self.settle_files = round(SETTLE_S / base.tick_s)
        live = max(100, round(ctx.seconds / base.tick_s)) + self.settle_files
        self.feed = feedgen.tail_feed(ctx.cache, ctx.seed, replace(base, live_files=live))
        self.model = oracle.tail_model(self.feed, self.feed.backlog + self.feed.live)

    def warm(self, spark) -> None:
        """Untimed catch-ups of the run's own backlog: the first batch of
        a session runs at about half the speed of later ones."""
        for r in range(WARM_CATCHUPS):
            q, *_ = self._catch_up(spark, Spans(), f"tail-warm{r}", _Sink())
            q.stop()

    def baseline(self, spark) -> float:
        """Single-threaded baseline on a fresh ``local[1]`` session: a
        catch-up over 2 backlog files warms the path, then a fresh query
        catches up over the next 4. Returns orders per second."""
        rate = 0.0
        for tag, files in (("warm", self.feed.backlog[:2]), ("base", self.feed.backlog[2:6])):
            work = _fresh(os.path.join(self.ctx.work, f"tail-{tag}1"))
            watch = _fresh(os.path.join(work, "in"))
            for src in files:
                os.link(src, os.path.join(watch, os.path.basename(src)))
            address, states = _dims(spark, self.feed)
            df = streaming_flagship(spark, watch, address, states)
            t0 = time.time()
            q = (df.writeStream.outputMode("append").foreachBatch(_Sink())
                 .option("checkpointLocation", os.path.join(work, "ck"))
                 .trigger(availableNow=True).start())
            if not q.awaitTermination(60):
                q.stop()
                raise TimeoutError("baseline catch-up did not finish in 60 s")
            p0 = next(p for p in q.recentProgress if p["numInputRows"] > 0)
            rate = p0["numInputRows"] / (progress_wall(p0)[1] - t0)
        return rate

    def _catch_up(self, spark, spans: Spans, tag: str, sink: _Sink):
        """Start the query over a directory holding the backlog and wait
        for its first batch. Returns (query, watched dir, start time,
        catch-up end time, build span id)."""
        work = _fresh(os.path.join(self.ctx.work, tag))
        watch = _fresh(os.path.join(work, "in"))
        for src in self.feed.backlog:
            os.link(src, os.path.join(watch, os.path.basename(src)))
        address, states = _dims(spark, self.feed)
        with spans.span("build", "operation", group=f"perfbench-build-{tag}") as build:
            self.ctx.job_group(f"perfbench-build-{tag}", "streaming_flagship plan build")
            df = streaming_flagship(spark, watch, address, states)
        with spans.span("catch-up", "phase") as span:
            t_start = time.time()
            q = (df.writeStream.outputMode("append").foreachBatch(sink)
                 .option("checkpointLocation", os.path.join(work, "ck"))
                 .queryName(f"perfbench_{tag}").start())
            deadline = t_start + 60
            while 0 not in sink.batch_end:
                if not q.isActive:
                    raise RuntimeError(f"tail query died: {q.exception()}")
                if time.time() > deadline:
                    q.stop()
                    raise TimeoutError("catch-up did not finish in 60 s")
                time.sleep(0.01)
        spans.spans[span]["end"] = sink.batch_end[0]
        return q, watch, t_start, sink.batch_end[0], build

    def run(self, spark, spans: Spans) -> Outcome:
        size = self.feed.size
        total_rows = size.backlog_orders + size.live_files * size.orders_per_file
        due: list[float] = []
        late: list[float] = []

        def release(t0: float, watch: str) -> None:
            for i, src in enumerate(self.feed.live):
                d = t0 + i * size.tick_s
                wait_until(d)
                os.link(src, os.path.join(watch, os.path.basename(src)))
                due.append(d)
                late.append(time.time() - d)

        walls, builds = [], []
        with spans.span("timed", "phase") as timed:
            # the backlog is caught up CATCHUPS times, each by a fresh
            # query; the last one goes on to the live phase
            for r in range(CATCHUPS):
                sink = _Sink()
                q, watch, t_start, t_live, build = self._catch_up(
                    spark, spans, f"tail{r}", sink)
                walls.append(t_live - t_start)
                builds.append(build)
                if r < CATCHUPS - 1:
                    q.stop()
            with spans.span("tail", "phase"):
                gen = threading.Thread(target=release, args=(t_live, watch))
                gen.start()
                gen.join()
                deadline = time.time() + 60
                must_windows = {k[0] for k in self.model.must}
                while time.time() < deadline:
                    done_rows = sum(p["numInputRows"] for p in q.recentProgress)
                    with sink.lock:
                        covered = must_windows <= sink.emitted.keys()
                    if done_rows >= total_rows and covered:
                        break
                    if not q.isActive:
                        break
                    time.sleep(0.05)
                progress = list(q.recentProgress)
                q.stop()
        window = (spans.spans[timed]["start"], spans.spans[timed]["end"])

        check = oracle.compare_rows(sink.rows, self.model.must, self.model.may)
        # emit latency per closed window: sink wall time minus the due
        # time of the live file whose events first pass window end plus
        # the watermark delay (windows closed by the backlog are catch-up,
        # those closed in the first SETTLE_S of the live phase are left out)
        w_us = feedgen.WINDOW_S * feedgen.US
        live_max = [self.model.file_max_us.get(p, -1) for p in self.feed.live]
        backlog_max = max(self.model.file_max_us.get(p, -1) for p in self.feed.backlog)
        latencies = []
        for ws, t_emit in sink.emitted.items():
            closes_at = ws + w_us + feedgen.WATERMARK_S * feedgen.US
            if closes_at <= backlog_max:
                continue
            idx = next((i for i, m in enumerate(live_max) if m >= closes_at), None)
            if idx is not None and self.settle_files <= idx < len(due):
                latencies.append(t_emit - due[idx])
        cum, t_done = 0, None
        for p in progress:
            cum += p["numInputRows"]
            if cum >= total_rows:
                t_done = progress_wall(p)[1]
                break
        live_orders = size.live_files * size.orders_per_file
        live_triggers = [b - a for a, b in map(progress_wall, progress)
                         if a >= t_live + SETTLE_S]
        tail_rate = live_orders / (t_done - t_live) if t_done else 0.0
        catchup = size.backlog_orders * len(walls) / sum(walls)
        problems = list(check.problems)
        if not t_done:
            problems.append("live files not all processed")
        if not latencies:
            problems.append("no window closed in the live phase")
        return Outcome(
            attempted=check.attempted + 1,     # + the live phase itself
            failed=check.failed + len(problems) - len(check.problems),
            problems=problems, window=window, ops=builds,
            report={
                "throughput_per_s": (catchup, "1/s", "catchup_orders_per_s: backlog "
                                     f"orders x {len(walls)} catch-ups / their wall: "
                                     + ", ".join(f"{w:.2f}" for w in walls)),
                "latency_p50_s": (quantile(latencies, 0.5) if latencies else 0.0, "s",
                                  f"emit_latency_p50_s over {len(latencies)} windows "
                                  f"after the first {SETTLE_S:g} s, "
                                  f"{len(live_triggers)} triggers of p50 "
                                  f"{quantile(live_triggers, 0.5) if live_triggers else 0:.3f} s"),
                "latency_p90_s": (quantile(latencies, 0.9) if latencies else 0.0, "s",
                                  f"emit_latency_p90_s over {len(latencies)} windows"),
                "tail_orders_per_s": (tail_rate, "orders/s", "live orders / live-phase "
                                      f"wall, offered {size.orders_per_file / size.tick_s:g}"),
            },
            context={
                "generator.late_max_s": max(late) if late else 0.0,
                "generator.offered_orders_per_s": size.orders_per_file / size.tick_s,
            })

    def probe_files(self) -> tuple[list[str], str]:
        return self.feed.backlog, self.feed.address


class CdcStateful:
    """Replay to completion of the all-streaming topology with both
    enrichment hops stateful, repeated for the run's seconds."""

    name = "cdc_stateful"

    def __init__(self, ctx):
        self.ctx = ctx
        self.feed = feedgen.stateful_feed(ctx.cache, ctx.seed, feedgen.StatefulSize())
        self.model = oracle.stateful_model(self.feed)

    def _replay(self, spark, feed, tag: str, timeout: int = 60) -> list[tuple]:
        work = _fresh(os.path.join(self.ctx.work, f"stateful-{tag}"))
        df = streaming_flagship_full(spark, feed.orders_dir, feed.address_dir,
                                     feed.states_dir, work, timeout=timeout)
        rows = df.selectExpr("unix_micros(OrderPeriod)", "Country", "State",
                             "TotalDue").collect()
        stuck = spark.streams.active
        for q in stuck:
            q.stop()
        if stuck:
            # full_pipeline._run_stage ignores awaitTermination's result,
            # so a stage timeout would otherwise pass as a fast run
            raise TimeoutError(f"{len(stuck)} replay stage(s) still running after the call")
        return rows

    def warm(self, spark) -> None:
        """Untimed replays of the run's own feed."""
        for _ in range(WARM_REPLAYS):
            self._replay(spark, self.feed, "warm")

    # no single-threaded baseline: a local[1] session and a cold replay
    # would push the traced run past its time limit
    baseline = None

    def run(self, spark, spans: Spans) -> Outcome:
        walls, ops, attempted, failed, problems = [], [], 0, 0, []
        with spans.span("timed", "phase") as timed:
            t_end = time.time() + self.ctx.seconds
            while len(walls) < MIN_REPLAYS or (time.time() < t_end and len(walls) < 10):
                i = len(walls)
                with spans.span(f"replay {i}", "operation",
                                group=f"perfbench-replay-{i}") as op:
                    self.ctx.job_group(f"perfbench-replay-{i}", "stateful replay")
                    t0 = time.time()
                    try:
                        rows = self._replay(spark, self.feed, "run")
                    except TimeoutError as exc:
                        rows, problems = [], problems + [str(exc)]
                        failed += 1
                    walls.append(time.time() - t0)
                ops.append(op)
                check = oracle.compare_rows(rows, self.model, self.model)
                attempted += check.attempted
                failed += check.failed
                problems += check.problems
        n = self.feed.n_rows
        rate = n * len(walls) / sum(walls)
        return Outcome(
            attempted=attempted, failed=failed, problems=problems[:20],
            window=(spans.spans[timed]["start"], spans.spans[timed]["end"]), ops=ops,
            report={"throughput_per_s": (rate, "1/s", f"changes_per_s: {n} input rows "
                                         f"x {len(walls)} replays / their wall"),
                    "latency_p50_s": (quantile(walls, 0.5), "s",
                                      f"replay wall p50 over {len(walls)} replays"),
                    "latency_p90_s": (quantile(walls, 0.9), "s",
                                      f"replay wall p90 over {len(walls)} replays: "
                                      + ", ".join(f"{w:.2f}" for w in walls))},
            context={"generator.late_max_s": 0.0,
                     "generator.offered_orders_per_s": 0.0})

    def probe_files(self) -> tuple[list[str], str]:
        d = self.feed.envelopes_dir
        return [os.path.join(d, f) for f in sorted(os.listdir(d))], \
            os.path.join(self.feed.address_dir, "*.json")


def probes(spark, envelope_files: list[str], address_path: str) -> dict:
    """Per-layer probes over the workload's own feed, each into noop:
    envelope decode, parseTs, and the broadcast enrichment join."""
    from pyspark.sql import functions as F

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    raw = spark.read.text(envelope_files).localCheckpoint()
    n = raw.count()
    t0 = time.time()
    noop(decode_envelope(raw, ORDERS_PAYLOAD))
    decode_s = time.time() - t0
    env = decode_envelope(raw, ORDERS_PAYLOAD)
    nulls = env.where(F.col("after_image").isNull()
                      | F.col("sv_op_timestamp").isNull()).count()
    ts = env.select("sv_op_timestamp", "after_image.ShipToAddressId",
                    "after_image.TotalDue").localCheckpoint()
    t0 = time.time()
    noop(ts.select(parse_ts("sv_op_timestamp").alias("t")))
    parse_s = time.time() - t0
    address = spark.read.schema(_ADDRESS_DDL).json(address_path) \
        .select(F.col("AddressID").alias("ShipToAddressId")).distinct()
    t0 = time.time()
    joined = ts.join(hint_broadcast_if_small(address), "ShipToAddressId")
    matched = joined.count()
    broadcast_s = time.time() - t0
    return {
        "sources.decode_rows_per_s": n / decode_s,
        "sources.decode_null_share": nulls / max(n, 1),
        "functions.parse_ts_rows_per_s": n / parse_s,
        "operators.enrich_match_ratio": matched / max(n, 1),
        "operators.broadcast_s": broadcast_s,
    }


WORKLOADS = {w.name: w for w in (CdcTail, CdcStateful)}
