"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Prints notes, then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (whose spans go
to ``.perfbench_traces/``). Exits 1 when a correctness check fails and 2
when the checkout lacks the program.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))

WORKLOADS = ("stream_live", "api_serve", "batch_queries")
E2E = ("setup_s", "throughput_per_s", "latency_p50_ms", "latency_tail_ms")
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
         "latency_tail_ms": "ms"}
SETUP_REPS = 3
CPUS = 4
DRIVER_MEM = "4g"


def layer_names() -> tuple[str, ...]:
    from perfbench.api_serve import CLI_LAYERS
    from perfbench.batch_queries import plan_layers
    from perfbench.stream_live import STREAM_LAYERS

    return (("session.start_s", "session.peak_rss_mb", "catalog.stage_s")
            + STREAM_LAYERS + CLI_LAYERS + plan_layers())


def layer_unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    return "ratio" if name.endswith("_share") else "count"


class Context:
    """What a workload gets: session, directories, seed, tracer, and
    helpers for the cached fixtures and repeated set-up."""

    def __init__(self, seed: int, seconds: int, work: Path, tracer, cache: Path) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, tracer.enabled
        self.work, self.tracer, self.cache = work, tracer, cache
        self.children: list[subprocess.Popen] = []
        self.spark = None
        self.setup_s = 0.0
        self.stage_s = 0.0

    def start_session(self) -> None:
        from pleiades_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=min(CPUS, os.cpu_count() or CPUS))
        self.setup_s += time.perf_counter() - t0

    def base_fixture(self, sf: float) -> Path:
        from perfbench.fixture import base_fixture

        return base_fixture(self.cache, sf)

    def scaled_fixture(self, sf: float, copies: int) -> Path:
        from perfbench.fixture import scaled_fixture

        return scaled_fixture(self.spark, self.cache, self.base_fixture(sf), copies, ROOT)

    def cached(self, name: str, compute) -> dict:
        from perfbench.fixture import cached_json

        return cached_json(self.cache / name, compute)

    @contextmanager
    def setup_step(self, name: str):
        """Time a one-off set-up step into ``setup_s`` (and a span)."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup_s += time.perf_counter() - t0

    def setup_reps(self, stage, discard=None):
        """Run ``stage(i)`` SETUP_REPS times and keep the last result; the
        median time counts toward ``setup_s``."""
        times, out = [], None
        for i in range(SETUP_REPS):
            if out is not None and discard is not None:
                discard(out)
            t0 = time.perf_counter()
            out = stage(i)
            times.append(time.perf_counter() - t0)
        self.stage_s = statistics.median(times)
        self.setup_s += self.stage_s
        return out

    def close_children(self) -> None:
        for child in self.children:
            if child.poll() is None:
                child.kill()
            child.wait()

    def close(self) -> None:
        self.close_children()
        if self.spark is not None:
            proc = getattr(self.spark.sparkContext._gateway, "proc", None)
            self.spark.stop()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and the queries write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["PLEIADES_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile

    tempfile.tempdir = None


def _sweep_stale(parent: Path) -> None:
    """Remove work directories left by runs that were killed."""
    if not parent.is_dir():
        return
    for d in parent.iterdir():
        pid = d.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "pleiades_spark" / "__init__.py").is_file() or not (
            ROOT / "tools" / "gen_scale_fixture.py").is_file():
        print(f"{ROOT} holds no pleiades_spark checkout; run from its root",
              file=sys.stderr)
        return 2

    import importlib

    from perfbench.common import Tracer, peak_rss_mb

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work_parent = ROOT / ".perfbench_work"
    _sweep_stale(work_parent)
    work = work_parent / run_id
    _isolate(work)
    tracer = Tracer(run_id, bool(args.trace))
    ctx = Context(args.seed, args.seconds, work, tracer, ROOT / ".perfbench_cache")
    try:
        ctx.start_session()
        with tracer.span("inputs.prepare"):  # cached after a checkout's first run
            importlib.import_module("perfbench.batch_queries").prepare(ctx)
        res = importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        res.e2e["setup_s"] = ctx.setup_s
        res.notes["peak_rss_mb"] = peak_rss_mb(ctx.spark)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = layer_names()
        layers = {n: 0.0 for n in names}
        layers["session.start_s"] = sum(tracer.durations("session.start"))
        layers["session.peak_rss_mb"] = sum(res.notes["peak_rss_mb"].values())
        layers["catalog.stage_s"] = ctx.stage_s
        layers.update(res.layers)
        extra = set(layers) - set(names)
        if extra:
            raise RuntimeError(f"undeclared layer metrics: {sorted(extra)}")
        tracer.dump(ROOT / ".perfbench_traces" / f"{run_id}.jsonl")
        metrics = {n: {"value": float(layers[n]), "unit": layer_unit(n)} for n in names}
    else:
        metrics = {n: {"value": float(res.e2e[n]), "unit": UNITS[n]} for n in E2E}
    correct = not res.checks_failed
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "end_to_end": res.e2e, "notes": res.notes,
                      "checks_failed": res.checks_failed}))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
