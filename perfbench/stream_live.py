"""``stream_live``: the aggregate personality as a live service.

A separate generator process (landing.py) lands the sf0.1 events as
fixed-size parquet files on an open-loop schedule; the repo's standing
query ``start_counters_to_parquet(events_file_stream(...))`` consumes them
with its default trigger. Freshness is measured at the sink: from a
file's landing to the commit of the micro-batch whose source-log entry
lists it.
"""

from __future__ import annotations

import json
import re
import statistics
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

from perfbench.common import Result, median_or_zero, summarize

EVENTS_SF = 0.1  # scale factor of the replayed events fixture
RATE = 1600  # events per second, about half of the measured capacity
FILE_EVENTS = 200  # events per landed file
WARMUP_FILES = 2  # consumed while the query starts, during set-up
WARMUP_S = 3  # the open loop's first seconds, not measured
BURSTS = 5  # capacity: files landed at once, drained at full speed
BURST_FILES = 20
WRITTEN_FILES = "number of written files"
DRAIN_TIMEOUT_S = 60

STREAM_LAYERS = (
    "sources.latest_offset_ms_p50", "sources.get_batch_ms_p50",
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.query_planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.no_data_batch_share",
    "streaming.state_rows", "streaming.state_memory_bytes",
    "streaming.state_commit_ms_p50", "streaming.rows_dropped_by_watermark",
    "streaming.sink_files_per_batch", "streaming.backlog_files_max",
    "load.generator_late_ms_max",
)


def source_log_batches(source_dir: Path) -> dict[str, int]:
    """File name → the file source's own log id for the listing that found
    it, from ``<checkpoint>/sources/0`` (plain and ``N.compact`` files, a
    version line then one JSON entry per file). These ids count listings
    that found new files, not micro-batches."""
    out: dict[str, int] = {}
    for f in sorted(source_dir.iterdir()):
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                entry = json.loads(line)
                name = entry["path"].rsplit("/", 1)[-1]
                out[name] = min(entry["batchId"], out.get(name, entry["batchId"]))
    return out


_LOG_OFFSET = re.compile(r"logOffset['\"]?\s*:\s*(\d+)")


def batch_commits(progress: list) -> list[tuple[int, int, float]]:
    """(micro-batch id, source log id it read up to, commit time) for every
    batch that read data; the commit ends the batch's trigger."""
    out = []
    for p in progress:
        if p.numInputRows and p.sources and p.sources[0].endOffset:
            # PySpark renders the offset as JSON or as a Python dict repr
            log_id = int(_LOG_OFFSET.search(p.sources[0].endOffset).group(1))
            start = datetime.fromisoformat(p.timestamp).timestamp()
            out.append((p.batchId, log_id,
                        start + p.durationMs.get("triggerExecution", 0) / 1000))
    return sorted(out)


def file_commits(file_log: dict[str, int],
                 commits: list[tuple[int, int, float]]) -> dict[str, tuple[int, float]]:
    """File name → (micro-batch id, commit time) of the first committed
    batch whose source offset covers the file's source log id."""
    out = {}
    for name, log_id in file_log.items():
        for batch, upto, at in commits:
            if upto >= log_id:
                out[name] = (batch, at)
                break
    return out


def freshness_s(landings: list[dict],
                committed: dict[str, tuple[int, float]]) -> tuple[list[float], int]:
    """Seconds from each file's landing to the commit of its batch, and how
    many landed files never reached a committed batch."""
    out, missing = [], 0
    for rec in landings:
        if rec["file"] in committed:
            out.append(committed[rec["file"]][1] - rec["landed"])
        else:
            missing += 1
    return out, missing


def backlog_max(landings: list[dict], committed: dict[str, tuple[int, float]]) -> int:
    """Most files landed but not yet committed at any commit instant."""
    done = sorted(committed[r["file"]][1] for r in landings if r["file"] in committed)
    landed = [r["landed"] for r in landings]
    return max((sum(1 for x in landed if x <= t) - sum(1 for d in done if d < t)
                for t in done), default=0)


def _progress_layers(measured: list, sink_files: float, everything: list) -> dict:
    """Per-layer numbers from StreamingQueryProgress over the open-loop
    batches (``measured``); state size is read after the last batch."""
    data = [p for p in measured if p.numInputRows > 0]
    nodata = [p for p in measured if p.numInputRows == 0]

    def dur(key):
        return median_or_zero(p.durationMs.get(key, 0) for p in data)

    total = sum(p.durationMs.get("triggerExecution", 0) for p in measured)
    idle = sum(p.durationMs.get("triggerExecution", 0) for p in nodata)
    ops = [p.stateOperators[0] for p in data if p.stateOperators]
    last = everything[-1].stateOperators[0]
    return {
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "sources.get_batch_ms_p50": dur("getBatch"),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "streaming.no_data_batch_share": idle / total if total else 0.0,
        "streaming.state_rows": last.numRowsTotal,
        "streaming.state_memory_bytes": last.memoryUsedBytes,
        "streaming.state_commit_ms_p50": median_or_zero(o.commitTimeMs for o in ops),
        "streaming.rows_dropped_by_watermark": sum(
            p.stateOperators[0].numRowsDroppedByWatermark
            for p in everything if p.stateOperators),
        "streaming.sink_files_per_batch": sink_files / len(data) if data else 0.0,
    }


class _Stream:
    """One standing counters query over a landing directory."""

    def __init__(self, spark, landing: Path, out: Path) -> None:
        from pleiades_spark.streaming.pipeline import (
            events_file_stream,
            start_counters_to_parquet,
        )

        self.sink, self.ckpt = out / "sink", out / "checkpoint"
        self.query = start_counters_to_parquet(
            spark, events_file_stream(spark, str(landing)),
            str(self.sink), str(self.ckpt))

    def stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination()


def _batch_recompute(spark, landing_root: Path):
    """The authoritative per-day counters over every landed event."""
    from pyspark.sql import functions as F

    from pleiades_spark.catalog import load
    from pleiades_spark.functions.counters import aggregate_counters

    events = load(spark, str(landing_root), "events")
    return aggregate_counters(events).filter(F.col("day").isNotNull())


def _wait_idle(query, after_batch: int, timeout_s: float = DRAIN_TIMEOUT_S) -> int:
    """Block until a batch after ``after_batch`` has run and the query has
    gone idle (no trigger running, no data waiting); return the last id."""
    deadline = time.time() + timeout_s
    quiet = 0
    while time.time() < deadline:
        time.sleep(0.05)
        last = query.lastProgress
        status = query.status
        busy = status["isTriggerActive"] or status["isDataAvailable"]
        quiet = quiet + 1 if last and last.batchId > after_batch and not busy else 0
        if quiet >= 3:
            return last.batchId
    raise RuntimeError("stream did not go idle")


def run(ctx) -> Result:
    from pyspark.sql import functions as F

    from pleiades_spark.streaming.pipeline import reconcile_counters
    from perfbench.sparkstats import SqlStore

    res = Result()
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    events = ctx.base_fixture(EVENTS_SF) / "events.parquet"
    landing_root = work / "landing"
    landing = landing_root / "events.parquet"
    cfg = {"events": str(events), "seed": ctx.seed, "rate": RATE,
           "file_events": FILE_EVENTS, "warmup_files": WARMUP_FILES,
           "bursts": BURSTS, "burst_files": BURST_FILES, "warmup_seconds": WARMUP_S,
           "seconds": ctx.seconds, "staging": str(work / "landing_tmp"),
           "landing": str(landing)}
    with ctx.setup_step("load.generator_start"):
        gen = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("landing.py")),
             json.dumps(cfg)], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        ctx.children.append(gen)
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("event generator failed to start")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def stage(i: int) -> _Stream:
        """Start the standing query and let it consume the warm-up files."""
        with tracer.span("streaming.start", rep=i):
            s = _Stream(spark, landing, work / f"stream{i}")
            s.query.processAllAvailable()
        return s

    stream = ctx.setup_reps(stage, discard=lambda s: s.stop())
    query = stream.query
    sql = SqlStore(spark)
    sql_before = sql.last_id()
    idle_at = _wait_idle(query, -1)
    source_dir = stream.ckpt / "sources" / "0"

    gen.stdin.write("go\n")
    gen.stdin.flush()
    with tracer.span("stream_live.open_loop"):
        while True:  # the schedule's record line arrives when it ends
            line = gen.stdout.readline()
            if line:
                break
            if gen.poll() is not None:
                raise RuntimeError("event generator failed")
        landings = json.loads(line)
    open_last = _wait_idle(query, idle_at)

    bursts = []
    with tracer.span("stream_live.bursts"):
        before = open_last
        for _ in range(BURSTS):
            gen.stdin.write("burst\n")
            gen.stdin.flush()
            landings_b = json.loads(gen.stdout.readline())
            last = _wait_idle(query, before)
            bursts.append((before, last, len(landings_b) * FILE_EVENTS))
            before = last
    gen.stdin.write("stop\n")
    gen.stdin.flush()
    gen.wait()
    progress = query.recentProgress
    stream.stop()

    committed = file_commits(source_log_batches(source_dir), batch_commits(progress))
    _, missing = freshness_s(landings, committed)
    t_measure = landings[0]["due"] + WARMUP_S
    measured_files = [r for r in landings if r["due"] >= t_measure]
    fresh, _ = freshness_s(measured_files, committed)
    for rec, f in zip(measured_files, fresh):
        tracer.add("stream.file", rec["landed"], rec["landed"] + f, file=rec["file"])
    res.attempted = len(measured_files) + BURSTS
    res.failed = missing
    res.check(missing == 0, f"{missing} landed files never committed")
    f_ms = summarize(x * 1000 for x in fresh)
    by_id = {p.batchId: p for p in progress}
    capacity = []
    for lo, hi, n in bursts:
        batches = [by_id[b] for b in range(lo + 1, hi + 1) if b in by_id]
        rows = sum(p.numInputRows for p in batches)
        res.check(rows == n, f"a burst of {n} events was read as {rows}")
        ms = sum(p.durationMs.get("triggerExecution", 0) for p in batches)
        capacity.append(rows / ms * 1000 if ms else 0.0)
    res.e2e.update({"latency_p50_ms": f_ms["p50"], "latency_tail_ms": f_ms["tail"],
                    "throughput_per_s": statistics.median(capacity)})
    res.notes["freshness_ms"] = f_ms
    res.notes["capacity_events_per_s"] = capacity
    first_measured = committed[measured_files[0]["file"]][0]
    measured = [p for p in progress if first_measured <= p.batchId <= open_last]
    res.notes["open_loop_batches"] = {
        kind: [len(ps), sum(p.durationMs.get("triggerExecution", 0) for p in ps)]
        for kind, ps in (("data", [p for p in measured if p.numInputRows]),
                         ("no_data", [p for p in measured if not p.numInputRows]))}

    with tracer.span("streaming.reconcile"):
        sink = spark.read.parquet(str(stream.sink))
        drift = reconcile_counters(sink, _batch_recompute(spark, landing_root))
        bad = drift.filter(F.col("n_drift") != 0).count()
        n_sink = sink.filter(F.col("counter") == "pleiades_total").agg(
            F.sum("events")).collect()[0][0]
    expected = (WARMUP_FILES + len(landings) + BURSTS * BURST_FILES) * FILE_EVENTS
    res.check(bad == 0, f"{bad} days drift from the batch recompute")
    res.check(n_sink == expected, f"sink counts {n_sink} events, landed {expected}")
    dropped = sum(p.stateOperators[0].numRowsDroppedByWatermark
                  for p in progress if p.stateOperators)
    res.check(dropped == 0, f"{dropped} rows dropped by the watermark")
    if ctx.trace:
        files = sum(e.get(WRITTEN_FILES, 0.0)
                    for e in sql.executions_after(sql_before, (WRITTEN_FILES,)))
        res.layers.update(_progress_layers(measured, files, progress))
        res.layers["streaming.backlog_files_max"] = backlog_max(measured_files, committed)
        res.layers["load.generator_late_ms_max"] = 1000 * max(
            r["landed"] - r["due"] for r in measured_files)
    return res
