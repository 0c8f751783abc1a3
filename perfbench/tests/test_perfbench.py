"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from types import SimpleNamespace

import pytest

from perfbench.common import Tracer, summarize, tail_pct
from perfbench.stream_live import (
    backlog_max,
    batch_commits,
    file_commits,
    freshness_s,
    source_log_batches,
)

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.mark.parametrize("n,pct", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (50, 80.0),
    (99, 80.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert tail_pct(n) == pct
    if pct is not None:
        assert round(n * (100 - pct) / 100, 6) >= 10


def test_summary_without_a_qualifying_tail_reports_the_maximum():
    s = summarize([5.0, 1.0, 3.0])
    assert (s["n"], s["p50"], s["tail_pct"], s["tail"]) == (3, 3.0, 100.0, 5.0)
    s = summarize(range(1, 101))
    assert s["tail_pct"] == 90.0 and s["tail"] == pytest.approx(90.1)


def _write_log(path: Path, entries: list[tuple[str, int]]) -> None:
    lines = ["v1"] + [json.dumps({"path": f"file:///land/{f}", "timestamp": 0,
                                  "batchId": b}) for f, b in entries]
    path.write_text("\n".join(lines) + "\n")


def _progress(batch: int, rows: int, log_offset: int, start: str, ms: int):
    src = SimpleNamespace(endOffset=json.dumps({"logOffset": log_offset}))
    return SimpleNamespace(batchId=batch, numInputRows=rows, sources=[src],
                           timestamp=start, durationMs={"triggerExecution": ms})


def test_landed_file_maps_to_the_batch_that_committed_it(tmp_path):
    src = tmp_path / "sources"
    src.mkdir()
    # a compacted log repeats earlier entries; the plain file adds log id 3
    _write_log(src / "1.compact", [("a.parquet", 0), ("b.parquet", 1),
                                   ("c.parquet", 1)])
    _write_log(src / "3", [("d.parquet", 3)])
    (src / ".3.crc").write_text("ignored")
    file_log = source_log_batches(src)
    assert file_log == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1,
                        "d.parquet": 3}
    # source log ids are not micro-batch ids: batch 1 read no data, and the
    # file source's listing 2 found nothing new, so batch 3 reads up to 3
    t0 = 1_700_000_000.0
    progress = [_progress(0, 10, 0, "2023-11-14T22:13:20.000Z", 500),
                _progress(1, 0, 0, "2023-11-14T22:13:20.500Z", 100),
                _progress(2, 20, 1, "2023-11-14T22:13:21.000Z", 250),
                _progress(3, 10, 3, "2023-11-14T22:13:22.000Z", 1000)]
    commits = batch_commits(progress)
    assert commits == [(0, 0, t0 + 0.5), (2, 1, t0 + 1.25), (3, 3, t0 + 3.0)]
    committed = file_commits(file_log, commits[:2])  # batch 3 never committed
    assert committed == {"a.parquet": (0, t0 + 0.5), "b.parquet": (2, t0 + 1.25),
                         "c.parquet": (2, t0 + 1.25)}
    landings = [{"file": f, "landed": t0 + t} for f, t in
                (("a.parquet", 0.0), ("b.parquet", 0.75), ("c.parquet", 0.9),
                 ("d.parquet", 1.5))]
    fresh, missing = freshness_s(landings, committed)
    assert fresh == pytest.approx([0.5, 0.5, 0.35]) and missing == 1
    assert backlog_max(landings, committed) == 2


def test_metric_and_workload_names_match_the_declared_file():
    from perfbench import run

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = ([w["name"] for w in bench["workloads"]]
             + [m["name"] for m in bench["end_to_end"]]
             + [m["name"] for m in bench["per_layer"]])
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E)
    assert [m["unit"] for m in bench["end_to_end"]] == [run.UNITS[n] for n in run.E2E]
    assert [m["name"] for m in bench["per_layer"]] == list(run.layer_names())
    assert [m["unit"] for m in bench["per_layer"]] == [
        run.layer_unit(n) for n in run.layer_names()]


def test_tracer_records_only_when_enabled():
    on, off = Tracer("r", True), Tracer("r", False)
    for t in (on, off):
        with t.span("outer") as outer:
            t.add("inner", 1.0, 2.0, parent=None)
        t.add("child", 0.0, 0.5, parent=outer["id"])
    assert off.spans == []
    assert [s["name"] for s in on.spans] == ["inner", "outer", "child"]
    assert on.spans[2]["parent"] == on.spans[1]["id"]
    assert all(s["run"] == "r" for s in on.spans)


@pytest.fixture(scope="module")
def spark():
    from pleiades_spark.session import get_spark

    return get_spark("perfbench_tests", cpus=2)


def _smoke(spark, tmp_path, monkeypatch):
    from perfbench import run, stream_live

    for name, value in (("EVENTS_SF", 0.001), ("RATE", 400), ("FILE_EVENTS", 50),
                        ("BURSTS", 1), ("BURST_FILES", 2), ("WARMUP_S", 0)):
        monkeypatch.setattr(stream_live, name, value)
    ctx = run.Context(seed=7, seconds=1, work=tmp_path / "work",
                      tracer=Tracer("smoke", True), cache=tmp_path / "cache")
    ctx.spark = spark
    try:
        return stream_live.run(ctx)
    finally:
        ctx.close_children()


def test_stream_smoke_run_is_correct(spark, tmp_path, monkeypatch):
    res = _smoke(spark, tmp_path, monkeypatch)
    assert res.checks_failed == [] and res.failed == 0
    assert res.attempted == 8 + 1
    assert res.e2e["latency_p50_ms"] > 0 and res.e2e["throughput_per_s"] > 0
    assert res.layers["streaming.rows_dropped_by_watermark"] == 0


def test_stream_smoke_run_fails_loudly_when_the_sink_drifts(spark, tmp_path,
                                                           monkeypatch):
    from pyspark.sql import functions as F

    from perfbench import stream_live

    recompute = stream_live._batch_recompute

    def one_more_event(spark, landing_root):
        df = recompute(spark, landing_root)
        extra = (F.col("counter") == "pleiades_bot").cast("long")
        return df.withColumn("events", F.col("events") + extra)

    monkeypatch.setattr(stream_live, "_batch_recompute", one_more_event)
    res = _smoke(spark, tmp_path, monkeypatch)
    assert any("drift" in c for c in res.checks_failed)
