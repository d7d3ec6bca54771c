"""The streaming spine workloads: signals -> 5-min window -> decision ->
orders + outbox, driven through the engine's public functions.

- ``spine_live``: open loop. A separate generator process writes a parquet
  file every quarter second, 2,000 signals per wall second; the query runs
  a 1 s processing-time trigger. The event-time phase puts one window close in
  the middle of every run.
- ``spine_replay``: closed loop. A seeded backlog at 5 signals/s of event
  time, 30 minutes per file, is released one file per trigger: the sink
  releases the next file as its batch ends, so the pipeline runs as fast as
  it will go.

Both start with WARM closed-loop batches that are not measured: on a fresh
JVM the trigger time falls from ~10 s to near its plateau over the first ~5 batches
as code is generated and compiled, and a run measured on that slope spreads
with the speed of compilation. Their files are released one per batch, in
event-time order, so a zero-grace watermark drops none of them.

The sink is the program's own: ``decisions_to_orders`` ->
``parquet_orders_outbox_writer``, with nothing added to the measured path.
The output check reads what the run left behind: the outbox table, the
progress of every batch and the consumed files.

The lag of a file is the commit wall time of the trigger that read it minus
the file's creation stamp: the time it was due (live) or released (replay).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time

import feed
import measure

WARM = 5  # closed-loop batches before the measured ones
LIVE_LEAD = 8  # live files between the warm-up and the measured ones
LIVE_RATE = 2000  # signals per wall second
LIVE_FILES_PER_S = 4  # the generator writes a file every quarter second
LIVE_PREFILL_FILES = 2  # warm-up files in window W itself
LIVE_PREFILL_S = 100  # event seconds of window W they fill, at LIVE_RATE
REPLAY_SPAN_S = 6 * feed.WINDOW_S  # event time per backlog file
REPLAY_PER_FILE = 5 * REPLAY_SPAN_S  # 5 signals/s of event time
REPLAY_FILES = 60  # 30 hours of event time, more than a run consumes
EVENT_EPOCH_S = 1_704_067_200  # 2024-01-01 UTC, a multiple of the window
# Stream/batch order parity: confidences within tests/test_streaming.py's
# decision tolerance; qty is rounded to 2 dp from the confidence, so it may
# differ by one rounding step.
EXACT_COLS = ("client_order_id", "symbol", "side", "price", "status", "created_at_s")
FLOAT_TOLS = {"confidence": 1e-5, "adj_confidence": 1.2e-5, "qty": 0.0100001}


def _epoch_of(outbox_file: str) -> int:
    """The outbox writer names its files epoch<id>_<i>_<part>.parquet."""
    return int(os.path.basename(outbox_file)[len("epoch"):].split("_")[0])


class Run:
    """One workload run: the session, its directories and what it recorded."""

    def __init__(self, workload: str, seed: int, seconds: int, tracer, run_dir: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.dir = run_dir
        self.spark = None
        self.prices = None
        self.jvm_pid = None
        self.rss_peak_mb = 0.0
        self.workers_mb = 0.0
        self._stop_sampler = threading.Event()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # -- session and memory ---------------------------------------------------
    def start_session(self) -> float:
        from futures_eos_cdc_spark.operators.order_pipeline import market_prices_df
        from futures_eos_cdc_spark.session import get_spark

        local = self.path("spark-local", "")
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": local,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                },
            )
        start_s = time.perf_counter() - t0
        self.prices = market_prices_df(self.spark)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer.enabled:
            threading.Thread(target=self._sample_rss, daemon=True).start()
        return start_s

    def _sample_rss(self) -> None:
        """Peak resident memory of the JVM tree, for the traced run only."""
        while not self._stop_sampler.wait(0.5):
            self.rss_peak_mb = max(self.rss_peak_mb, measure.tree_rss_mb(self.jvm_pid))

    def retained_mb(self) -> float:
        """JVM heap and non-heap in use once full collections stop freeing
        memory (objects behind finalizers and cleaners need more than one).
        Resident memory is not used: it follows the collector's heap sizing
        and ran from 2.6 to 5.5 GB over five identical replay runs; the
        PySpark workers (reported per layer) come and go with scheduling."""
        jvm = self.spark._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = None
        for _ in range(6):
            jvm.java.lang.System.gc()
            time.sleep(0.1)
            now = mx.getHeapMemoryUsage().getUsed()
            if heap is not None and now > 0.98 * heap:
                break
            heap = now
        if self.tracer.enabled:
            self.workers_mb = sum(
                measure.rss_mb(p) for p in measure.python_workers(self.jvm_pid))
        return (heap + mx.getNonHeapMemoryUsage().getUsed()) / 2**20

    def stop(self) -> None:
        """Stop the session, then end the JVM and wait for it: the gateway
        JVM exits when its stdin closes."""
        from pyspark import SparkContext

        self._stop_sampler.set()
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- the pipeline ---------------------------------------------------------
    def _sink(self, name: str, on_end):
        """foreachBatch: decisions_to_orders -> parquet_orders_outbox_writer,
        as the program's own sink runs them. The writer's single action runs
        the stateful plan, the order projection and the write."""
        from futures_eos_cdc_spark.operators.order_pipeline import decisions_to_orders
        from futures_eos_cdc_spark.streaming.outbox import parquet_orders_outbox_writer

        writer = parquet_orders_outbox_writer(self.path(name, "outbox", ""))
        tr = self.tracer

        def sink(batch_df, epoch_id: int) -> None:
            with tr.span("sink.foreach_batch", attrs={"batch": epoch_id}) as fb:
                with tr.span("order_pipeline.decisions_to_orders", fb.id):
                    orders = decisions_to_orders(batch_df, self.prices)
                with tr.span("outbox.write", fb.id):
                    writer(orders, epoch_id)
            on_end(epoch_id)

        return sink

    def _start_query(self, name: str, src: str, on_end, live: bool):
        from futures_eos_cdc_spark.streaming.pipeline import (
            read_signal_stream_files,
            streaming_decide,
        )

        with self.tracer.span("streaming.build_query"):
            decisions = streaming_decide(read_signal_stream_files(self.spark, src))
            w = (
                decisions.writeStream.outputMode("append")
                .foreachBatch(self._sink(name, on_end))
                .option("checkpointLocation", self.path(name, "checkpoint"))
                .queryName(name)
            )
            if live:
                w = w.trigger(processingTime="1 second")
            return w.start()

    def replay(self, name: str, staged: list[str]) -> dict:
        """Closed loop: release staged[0], then one more file each time a
        batch ends, until the files run out or the run's seconds have passed
        since the warm-up batches ended."""
        src = self.path(name, "in", "")
        state = {"next": 0, "deadline": None, "start": None}
        done = threading.Event()

        def release() -> None:
            k = state["next"]
            os.rename(staged[k], os.path.join(src, feed.file_name(k, time.time())))
            state["next"] = k + 1

        def on_end(epoch_id: int) -> None:
            if epoch_id == WARM - 1:
                state["start"] = time.time()
                state["deadline"] = state["start"] + self.seconds
            in_time = state["deadline"] is None or time.time() < state["deadline"]
            if state["next"] < len(staged) and in_time:
                release()
            else:
                done.set()

        release()
        q = self._start_query(name, src, on_end, live=False)

        def wait() -> None:
            while not done.wait(0.2) and q.isActive:
                pass

        res = self._finish(q, wait, name)
        res["measure_start"] = state["start"]
        return res

    def live(self, name: str, warm: list[str]) -> dict:
        """Open loop. The WARM warm-up files (windows of event time before
        window W) are released one per batch; then the generator process
        writes LIVE_LEAD + seconds * LIVE_FILES_PER_S files on a fixed
        schedule, whatever the query is doing. Live file k holds the k-th
        slice of event time, laid out so that window W closes in the middle
        of the measured files."""
        src = self.path(name, "in", "")
        state = {"next": 0}
        warm_done = threading.Event()

        def on_end(epoch_id: int) -> None:
            k = state["next"]
            if k < len(warm):
                os.rename(warm[k], os.path.join(src, feed.file_name(k, time.time(), "warm")))
                state["next"] = k + 1
            else:
                warm_done.set()

        on_end(-1)
        q = self._start_query(name, src, on_end, live=True)
        while not warm_done.wait(0.2) and q.isActive:
            pass
        # Processing-time triggers fire on whole seconds of wall time; files
        # due at fixed fractions of a second keep the trigger/file phase the
        # same in every run.
        period = 1.0 / LIVE_FILES_PER_S
        start_wall = math.floor(time.time()) + 1.0 + period / 2
        files = LIVE_LEAD + self.seconds * LIVE_FILES_PER_S
        close_at_s = (LIVE_LEAD + self.seconds * LIVE_FILES_PER_S // 2) * period
        log = self.path(name, "gen.jsonl")
        gen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "feed.py"),
                "--out", src, "--seed", str(self.seed), "--rate", str(LIVE_RATE),
                "--period-s", repr(period), "--files", str(files),
                "--event-start-s", repr(_live_window_start() + feed.WINDOW_S - close_at_s),
                "--start-wall", repr(start_wall), "--log", log,
            ]
        )

        def wait_gen() -> None:
            try:
                gen.wait(timeout=files * period + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()

        res = self._finish(q, wait_gen, name)
        if gen.returncode != 0:
            raise RuntimeError(f"live generator exited with {gen.returncode}")
        with open(log) as fh:
            res["gen_late_ms"] = [json.loads(line)["late_ms"] for line in fh]
        res["measure_start"] = start_wall + LIVE_LEAD * period
        return res

    def _finish(self, q, wait, name: str) -> dict:
        try:
            wait()
            if q.exception() is None:
                q.processAllAvailable()
        finally:
            progress = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"query {name} failed: {q.exception()}")
        # Measured once the query has stopped, so no batch is in flight.
        retained = self.retained_mb()
        return {
            "name": name,
            "progress": progress,
            "source_log": measure.read_source_log(self.path(name, "checkpoint", "")),
            "outbox": self.path(name, "outbox", "orders", ""),
            "retained_mb": retained,
        }

    # -- output check ---------------------------------------------------------
    def check(self, res: dict, triggers: list[dict]) -> tuple[int, int]:
        """The run's outputs against the batch path on the same consumed
        signals. Returns (attempted, failed), counting one operation per
        (symbol, window) decision the batch path makes, one per order id in
        either outbox, and one per row the watermark dropped.

        - Decisions: the stream emits a window when the watermark passes its
          end, evicting the window's state row, so the evictions of all
          committed batches must equal the number of (symbol, window) groups
          in the consumed files whose window closed, which is the number of
          decisions batch ``decide`` makes; each one missing or extra fails.
        - Orders: the outbox rows of committed batches against batch
          ``decisions_to_orders`` on those decisions, by id, column by
          column; a missing, extra, unequal or duplicate order fails.
        """
        from pyspark.sql import functions as F

        from futures_eos_cdc_spark.operators.order_pipeline import decisions_to_orders
        from futures_eos_cdc_spark.operators.signal_pipeline import decide
        from futures_eos_cdc_spark.streaming.pipeline import SIGNAL_STREAM_SCHEMA

        spark = self.spark
        progress = res["progress"]
        committed = {p["batchId"] for p in progress}
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        emitted = sum(op.get("numRowsRemoved", 0) for op in ops)
        dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
        # Append mode emits a window once the watermark reaches its end.
        closed_before = max(
            (measure.epoch_s(p["eventTime"]["watermark"])
             for p in progress if "watermark" in p.get("eventTime", {})),
            default=0.0,
        )
        files = sorted({f for t in triggers for f in t["files"]})
        n_batch = feed.closed_windows(files, closed_before)
        sig = spark.read.schema(SIGNAL_STREAM_SCHEMA).parquet(*files)
        with self.tracer.span("signal_pipeline.decide"):
            batch = decide(sig).where(
                F.col("window_start_s") + feed.WINDOW_S <= F.lit(closed_before)
            )
            expected = {
                r.id: r.asDict() for r in decisions_to_orders(batch, self.prices).collect()
            }
        attempted = max(n_batch, emitted) + dropped
        failed = abs(emitted - n_batch) + dropped

        order_files = [
            os.path.join(res["outbox"], f)
            for f in (os.listdir(res["outbox"]) if os.path.isdir(res["outbox"]) else [])
            if f.endswith(".parquet") and _epoch_of(f) in committed
        ]
        got: dict[str, list[dict]] = {}
        if order_files:
            for r in spark.read.parquet(*order_files).collect():
                got.setdefault(r.id, []).append(r.asDict())
        dup_ids = sum(len(v) - 1 for v in got.values())
        attempted += len(set(expected) | set(got)) + dup_ids
        failed += dup_ids
        for oid in set(expected) | set(got):
            b, s = expected.get(oid), got.get(oid, [None])[0]
            ok = (
                b is not None
                and s is not None
                and all(s[c] == b[c] for c in EXACT_COLS)
                and all(abs(s[c] - b[c]) <= tol for c, tol in FLOAT_TOLS.items())
            )
            failed += not ok
        res["decisions"] = emitted
        return attempted, failed


def _live_window_start() -> int:
    """Window W of the live workload: the one after the light warm-up windows."""
    return EVENT_EPOCH_S + (WARM - LIVE_PREFILL_FILES) * feed.WINDOW_S


def live_warm_files(out_dir: str, seed: int) -> list[str]:
    """Warm-up files of the live workload, in event-time order: one light
    file per window before W, then LIVE_PREFILL_FILES files that fill the
    start of window W, so the state holds a loaded window when live files
    arrive."""
    light = WARM - LIVE_PREFILL_FILES
    files = feed.write_backlog(
        out_dir, seed, light, LIVE_RATE, EVENT_EPOCH_S, feed.WINDOW_S,
        first_index=feed.WARM_INDEX,
    )
    span = LIVE_PREFILL_S // LIVE_PREFILL_FILES
    files += feed.write_backlog(
        out_dir, seed, LIVE_PREFILL_FILES, span * LIVE_RATE, _live_window_start(), span,
        first_index=feed.WARM_INDEX + light,
    )
    return files


def run(workload: str, seed: int, seconds: int, tracer, run_dir: str) -> dict:
    """Set up, measure, check. Returns the metrics and counts.

    Set-up time runs from process start to the start of the measured phase:
    session start, input generation and the warm-up batches.
    """
    t0 = time.time()
    r = Run(workload, seed, seconds, tracer, run_dir)
    try:
        session_s = r.start_session()
        with tracer.span("run.measure"):
            if workload == "spine_live":
                with tracer.span("sources.generate"):
                    warm = live_warm_files(r.path("staged", ""), seed)
                res = r.live("live", warm)
            else:
                with tracer.span("sources.generate"):
                    staged = feed.write_backlog(
                        r.path("staged", ""), seed, REPLAY_FILES, REPLAY_PER_FILE,
                        EVENT_EPOCH_S, REPLAY_SPAN_S,
                    )
                res = r.replay("replay", staged)
        triggers = measure.trigger_rows(res["progress"], res["source_log"], feed.stamp_of)
        t_check = time.time()
        with tracer.span("run.check"):
            attempted, failed = r.check(res, triggers)
        res["check_s"] = time.time() - t_check
        lead = LIVE_LEAD if workload == "spine_live" else WARM
        return summarize(r, res, triggers, lead, session_s, res["measure_start"] - t0,
                         attempted, failed)
    finally:
        r.stop()


def summarize(r: Run, res, triggers, lead, session_s, setup_s, attempted, failed) -> dict:
    # Measured: triggers that read only live or backlog files past the lead.
    meas = [
        t for t in triggers
        if all(os.path.basename(f).startswith("sig-") and feed.index_of(f) >= lead
               for f in t["files"])
    ]
    if not meas:
        raise RuntimeError("no measured trigger")
    lags = measure.file_lags_ms(meas, feed.stamp_of)
    rows = sum(t["rows"] for t in meas)
    out = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "mem_retained_mb": (res["retained_mb"], "MB"),
            "lag_p50_ms": (measure.percentile(lags, 50), "ms"),
            "signals_per_s": (measure.phase_rate(meas, feed.stamp_of), "1/s"),
        },
        "detail": {
            "measured_triggers": len(meas),
            "lag_samples": len(lags),
            "lag_p90_ms": measure.percentile(lags, 90),
            "trigger_ms": [round((t["commit"] - t["start"]) * 1000) for t in meas],
            "lead_ms": [round((t["commit"] - t["start"]) * 1000) for t in triggers
                        if t not in meas],
            "measured_rows": rows,
            "session_s": session_s,
            "check_s": res["check_s"],
            "decisions": res["decisions"],
        },
    }
    if r.tracer.enabled:
        out["per_layer"] = per_layer(r, res, meas, session_s, out)
    return out


_COMPONENTS = (
    # (durationMs key, span name), in the order a micro-batch runs them
    ("latestOffset", "streaming.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "streaming.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)
# Spans with children, or timed by the benchmark itself; the self time of
# a progress phase without children is its durationMs sum.
SELF_TIMED = (
    "streaming.trigger",
    "streaming.add_batch",
    "sink.foreach_batch",
    "order_pipeline.decisions_to_orders",
)


def per_layer(r: Run, res, meas, session_s, out) -> dict:
    """Per-layer numbers of the traced run, from progress and spans.

    The trigger spans and their phases come from progress: each phase's
    duration is laid end to end from the trigger start, in execution order.
    The sink's own spans hang under the add_batch phase of their batch. The
    root covers the measured phase, from the first measured file's stamp to
    the last measured commit; its self time is time no trigger was running.
    """
    tr = r.tracer
    progress = {p["batchId"]: p for p in res["progress"]}
    lo, hi = min(t["oldest_stamp"] for t in meas), max(t["commit"] for t in meas)
    root_id = tr.add("run.measured", lo, hi)
    add_batch_of: dict[int, int] = {}
    for t in meas:
        p = progress[t["batch_id"]]
        tid = tr.add("streaming.trigger", t["start"], t["commit"], root_id)
        cur = t["start"]
        for key, name in _COMPONENTS:
            d = p["durationMs"].get(key, 0) / 1000.0
            sid = tr.add(name, cur, cur + d, tid)
            if key == "addBatch":
                add_batch_of[t["batch_id"]] = sid
            cur += d
    for s in tr.spans:
        if s["name"] == "sink.foreach_batch" and s["attrs"]["batch"] in add_batch_of:
            s["parent"] = add_batch_of[s["attrs"]["batch"]]

    in_run = _subtree(tr.spans, root_id)
    selfs = measure.self_times(in_run)
    self_by_name: dict[str, float] = {}
    for s in in_run:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + selfs[s["id"]]

    mp = [progress[t["batch_id"]] for t in meas]
    ops = [op for p in mp for op in p.get("stateOperators", [])]
    trig_ms = [p["durationMs"]["triggerExecution"] for p in mp]
    writes = [s for s in in_run if s["name"] == "outbox.write"]
    write_ms = [1000.0 * (s["end"] - s["start"]) for s in writes]
    table = res["outbox"]
    table_files = [f for f in os.listdir(table) if f.endswith(".parquet")] if os.path.isdir(table) else []
    measured_batches = {t["batch_id"] for t in meas}
    measured_files = [os.path.join(table, f) for f in table_files if _epoch_of(f) in measured_batches]
    orders_out = r.spark.read.parquet(*measured_files).count() if measured_files else 0
    # A window's decision is emitted as its state row is evicted.
    decisions_in = sum(op.get("numRowsRemoved", 0) for op in ops)
    e2e = out["end_to_end"]
    m = {
        "session.start_s": (session_s, "s"),
        "sources.gen_late_ms_max": (max(res.get("gen_late_ms", [0.0])), "ms"),
        "streaming.triggers": (len(mp), "count"),
        "streaming.input_rows": (sum(p["numInputRows"] for p in mp), "count"),
        "streaming.late_rows_dropped": (
            sum(op.get("numRowsDroppedByWatermark", 0) for op in ops), "count"),
        "streaming.trigger_ms_p50": (measure.percentile(trig_ms, 50), "ms"),
        "streaming.trigger_ms_p90": (measure.percentile(trig_ms, 90), "ms"),
        "streaming.trigger_lag_p50_ms": (
            measure.percentile([t["lag_ms"] for t in meas], 50), "ms"),
        "streaming.lag_p90_ms": (out["detail"]["lag_p90_ms"], "ms"),
        "streaming.state_rows_peak": (max(op.get("numRowsTotal", 0) for op in ops), "count"),
        "streaming.state_bytes_peak": (
            max(op.get("memoryUsedBytes", 0) for op in ops), "bytes"),
        "streaming.state_update_ms_sum": (
            sum(op.get("allUpdatesTimeMs", 0) + op.get("allRemovalsTimeMs", 0) for op in ops),
            "ms"),
        "streaming.state_commit_ms_sum": (sum(op.get("commitTimeMs", 0) for op in ops), "ms"),
        "outbox.write_ms_p50": (measure.percentile(write_ms, 50), "ms"),
        "outbox.write_s_sum": (sum(write_ms) / 1000.0, "s"),
        "outbox.epochs": (len(writes), "count"),
        "outbox.table_files": (len(table_files), "count"),
        "order_pipeline.decisions_in": (decisions_in, "count"),
        "order_pipeline.orders_out": (orders_out, "count"),
        "process.peak_rss_mb": (r.rss_peak_mb, "MB"),
        "process.python_workers_mb": (r.workers_mb, "MB"),
        "run.failed_share": (measure.failed_share(out["failed"], out["attempted"]), "ratio"),
        "trace.spans": (len(tr.spans), "count"),
        "trace.record_ms": (1000.0 * tr.cost_s, "ms"),
        "trace.attributed_share": (1.0 - selfs[root_id] / (hi - lo), "ratio"),
        "trace.lag_p50_ms": e2e["lag_p50_ms"],
        "trace.signals_per_s": e2e["signals_per_s"],
    }
    for key, name in _COMPONENTS:
        m[f"{name}_ms_sum"] = (sum(p["durationMs"].get(key, 0) for p in mp), "ms")
    for name in SELF_TIMED:
        m[f"self.{name}_s"] = (self_by_name.get(name, 0.0), "s")
    m["self.idle_s"] = (selfs[root_id], "s")
    return m


def _subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
