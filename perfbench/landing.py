"""Open-loop event generator for the ``stream_live`` workload.

Runs as its own process. It replays the fixture's events in ``ts`` order,
shuffled only within each hour by the seed, as fixed-size parquet files.
Each file is written under a staging directory and published into the
landing directory by an atomic rename, so the stream never lists a
half-written file.

Protocol: the first ``warmup_files`` land at once and ``ready`` is printed;
after a ``go`` line on stdin the next ones land on a fixed schedule for
``warmup_seconds + seconds``, one file every ``file_events / rate``
seconds, whether or not the stream keeps up, and one JSON line then lists each scheduled file with its due and
landing times (``time.time()`` seconds). Each later ``burst`` line lands
``burst_files`` more files at once and answers with their JSON list; a
``stop`` line or end of input ends the process.

    python3 perfbench/landing.py '<json config>'
"""

from __future__ import annotations

import io
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HOUR_US = 3_600 * 10**6


def hour_shuffled(events: pa.Table, seed: int) -> pa.Table:
    """Events in hour order, permuted by ``seed`` inside each hour."""
    hours = pc.divide(events["ts"].cast(pa.int64()), HOUR_US).to_numpy()
    rng = np.random.default_rng(seed)
    order = np.lexsort((rng.random(len(hours)), hours))
    return events.take(pa.array(order))


def file_bytes(events: pa.Table, file_events: int, n_files: int) -> list[bytes]:
    """The first ``n_files`` chunks of ``file_events`` rows as parquet."""
    out = []
    for i in range(n_files):
        buf = io.BytesIO()
        pq.write_table(events.slice(i * file_events, file_events), buf)
        out.append(buf.getvalue())
    return out


def publish(blobs: dict[str, bytes], staging: str, landing: str) -> float:
    """Write every file under ``staging``, then rename them all into
    ``landing`` back to back, so a burst is listed whole."""
    for name, data in blobs.items():
        with open(os.path.join(staging, name), "wb") as fh:
            fh.write(data)
    for name in blobs:
        os.rename(os.path.join(staging, name), os.path.join(landing, name))
    return time.time()


def main(cfg: dict) -> int:
    events = hour_shuffled(pq.read_table(cfg["events"]), cfg["seed"])
    per_file = cfg["file_events"]
    n_warm = cfg["warmup_files"]
    n_sched = math.ceil((cfg["warmup_seconds"] + cfg["seconds"]) * cfg["rate"] / per_file)
    n_total = n_warm + n_sched + cfg["bursts"] * cfg["burst_files"]
    if n_total * per_file > events.num_rows:
        raise SystemExit("not enough events for this rate and duration")
    blobs = file_bytes(events, per_file, n_total)
    os.makedirs(cfg["staging"], exist_ok=True)
    os.makedirs(cfg["landing"], exist_ok=True)

    def land(first: int, n: int, due: float) -> list[dict]:
        names = {i: f"events-{i:06d}.parquet" for i in range(first, first + n)}
        landed = publish({names[i]: blobs[i] for i in names},
                         cfg["staging"], cfg["landing"])
        return [{"file": f, "due": due, "landed": landed, "events": per_file}
                for f in names.values()]

    land(0, n_warm, time.time())
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return 1
    interval = per_file / cfg["rate"]
    start = time.time()
    records = []
    for j in range(n_sched):
        due = start + j * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        records += land(n_warm + j, 1, due)
    print(json.dumps(records), flush=True)
    nxt = n_warm + n_sched
    for line in sys.stdin:
        if line.strip() != "burst" or nxt >= n_total:
            break
        burst = land(nxt, cfg["burst_files"], time.time())
        nxt += cfg["burst_files"]
        print(json.dumps(burst), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(json.loads(sys.argv[1])))
