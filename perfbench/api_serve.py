"""``api_serve``: the frontend personality under a closed loop.

Set-up drains the sf0.1 events through ``drain_counters_to_parquet`` (the
table layout the stream writes) and builds ``cli.make_handler`` on a
loopback ``ThreadingHTTPServer``. A separate client process (client.py)
runs a few connections in a closed loop over a seeded request mix and
checks each response against payloads precomputed from the batch
recompute.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import threading
import time
from http.server import ThreadingHTTPServer
from pathlib import Path

from perfbench.client import route_of
from perfbench.common import Result, median_or_zero, percentile, summarize

CONNECTIONS = 4
WARMUP_S = 3
ROUTES = ("stats", "stats_day", "days", "metrics")
CLI_LAYERS = (
    "cli.handler_ms_p50", "cli.handler_ms_p99", "cli.http_overhead_ms_p50",
    "cli.sql_executions_per_request", "cli.sql_ms_per_request",
) + tuple(f"cli.route.{r}.latency_p50_ms" for r in ROUTES)


def expected_payloads(spark, events_path: Path) -> dict:
    """What every route must answer, from the batch recompute."""
    from pleiades_spark.catalog import load
    from pleiades_spark.functions.counters import aggregate_counters

    rows = aggregate_counters(
        load(spark, str(events_path.parent), "events")).collect()
    per_day: dict[int, list] = {}
    alltime = {}
    for r in rows:
        if r["day"] is None:
            alltime[r["counter"]] = r["events"]
        else:
            per_day.setdefault(r["day"], []).append(
                {"Name": r["counter"], "Value": r["events"], "Growth": r["growth"]})
    stats = {f"/api/stats/{d}": {"Since": d * 86400, "Counters": c}
             for d, c in per_day.items()}
    latest = max(per_day)
    stats["/api/stats"] = stats[f"/api/stats/{latest}"]
    return {"stats": stats, "days": {"Days": sorted(per_day, reverse=True)},
            "metrics": alltime}


def _serve(handler) -> tuple[ThreadingHTTPServer, threading.Thread]:
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def run(ctx) -> Result:
    from pleiades_spark.cli import make_handler
    from pleiades_spark.streaming.pipeline import (
        drain_counters_to_parquet,
        events_file_stream,
    )
    from perfbench.sparkstats import SqlStore

    res = Result()
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    events = ctx.base_fixture(0.1) / "events.parquet"

    sink = work / "serve" / "sink"
    with ctx.setup_step("streaming.drain"):
        drain_counters_to_parquet(spark, events_file_stream(spark, str(events)),
                                  str(sink), str(work / "serve" / "checkpoint"))

    def stage(i: int):
        """Build the serving handler (it caches the counters table)."""
        with tracer.span("cli.make_handler", rep=i):
            return make_handler(spark, str(sink))

    handler = ctx.setup_reps(stage, discard=lambda h: spark.catalog.clearCache())
    expected = expected_payloads(spark, events)
    exp_path = work / "expected.json"
    exp_path.write_text(json.dumps(expected))

    if ctx.trace:
        base = handler

        class Handler(base):
            def do_GET(self):  # noqa: N802 (stdlib API)
                start = time.perf_counter()
                try:
                    super().do_GET()
                finally:
                    tracer.add("cli.handler", start, time.perf_counter(),
                               route=route_of(self.path))
        handler = Handler

    server, thread = _serve(handler)
    sql = SqlStore(spark)
    sql_before = sql.last_id()
    cfg = {"port": server.server_port, "seed": ctx.seed, "seconds": ctx.seconds,
           "warmup_seconds": WARMUP_S, "connections": CONNECTIONS, "expected": str(exp_path)}
    try:
        with tracer.span("api_serve.measure"):
            client = subprocess.Popen(
                [sys.executable, str(Path(__file__).with_name("client.py")),
                 json.dumps(cfg)], stdout=subprocess.PIPE, text=True)
            ctx.children.append(client)
            out, _ = client.communicate()
        if client.returncode != 0:
            raise RuntimeError("load client failed")
    finally:
        server.shutdown()
        server.server_close()
        thread.join()
    report = json.loads(out)
    records = report["records"]

    verdicts = [r[2] for r in records] + report["warmup"]
    res.attempted = len(verdicts)
    res.failed = verdicts.count(False)
    res.check(res.failed == 0, f"{res.failed} wrong or failed responses")
    # a failed response misses any latency limit: count it as the whole run
    lat_ms = [r[1] * 1000 if r[2] else ctx.seconds * 1000.0 for r in records]
    s = summarize(lat_ms)
    good = sum(1 for r in records if r[2])
    res.e2e.update({"latency_p50_ms": s["p50"], "latency_tail_ms": s["tail"],
                    "throughput_per_s": good / ctx.seconds})
    res.notes["latency_ms"] = s

    if ctx.trace:
        served = res.attempted  # warm-up requests ran SQL since sql_before too
        n_exec = sql.last_id() - sql_before
        execs = sql.executions_after(sql_before)
        handler_ms = [(sp["end"] - sp["start"]) * 1000 for sp in tracer.spans
                      if sp["name"] == "cli.handler" and sp["start"] >= report["start"]]
        res.layers.update({
            "cli.handler_ms_p50": median_or_zero(handler_ms),
            "cli.handler_ms_p99": percentile(handler_ms, 99) if handler_ms else 0.0,
            "cli.http_overhead_ms_p50": s["p50"] - median_or_zero(handler_ms),
            "cli.sql_executions_per_request": n_exec / served,
            # only the last 1000 executions are retained: scale their mean
            "cli.sql_ms_per_request": statistics.fmean(
                e["ms"] for e in execs) * n_exec / served if execs else 0.0,
        })
        for route in ROUTES:
            res.layers[f"cli.route.{route}.latency_p50_ms"] = median_or_zero(
                r[1] * 1000 for r in records if r[0] == route)
    return res
